package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkEntry

/** How `Catalog.Mix` was chosen, as a program: times every
  * `SparkEntry.benchQueries` member that needs no provisioning step on the
  * generated sf0.01 tables (one cold pass, then `passes` warm passes in
  * seeded orders, Bench's span), and picks the mix by [[pick]]. Prints one
  * line per query (warm median seconds, Spark jobs per execution) and the
  * latency median and p75 of the whole catalog next to the mix's.
  *
  *   MixSurvey --seed <n> --passes <warm passes> --work <dir>
  */
object MixSurvey {

  /** One query per latency decile: sort by warm median latency, cut the
    * ranks into ten runs of equal count, take the query at the middle rank
    * of each. The slowest decile's pick is the catalog's p95 query.
    */
  def pick(latency: Seq[(String, Double)], n: Int = 10): Seq[String] = {
    val sorted = latency.sortBy(_._2).map(_._1).toIndexedSeq
    (0 until n).map { d =>
      val lo = d * sorted.size / n
      val hi = (d + 1) * sorted.size / n
      sorted((lo + hi - 1) / 2)
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val seed = kv("seed").toLong
    val passes = kv.getOrElse("passes", "3").toInt
    val work = kv("work")
    val data = s"$work/data"
    Harness.step("generate inputs")(Gen.tables(data, Catalog.Sf, seed))
    val spark = Harness.step("start session")(Harness.session(work))
    val tracer = new Tracer(spark)
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val names = SparkEntry.benchQueries.filterNot(SparkEntry.provisions.contains)
    val lat = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val jobCount = scala.collection.mutable.Map.empty[String, Int]
    (0 to passes).foreach { pass =>
      new scala.util.Random(seed * 31L + pass).shuffle(names).foreach { n =>
        val j0 = jobs.get
        try {
          val s = Catalog.execute(spark, tracer, "survey", n, data)
          if (pass > 0) lat(n) += s
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $n failed: $e")
        }
        if (pass > 0) jobCount(n) = jobs.get - j0
      }
    }
    val warm = names.filter(lat(_).nonEmpty).map(n => n -> Stats.median(lat(n).toSeq))
    val chosen = pick(warm).toSet
    warm.sortBy(_._2).foreach { case (n, s) =>
      println(f"$n%-28s $s%8.3f s ${jobCount(n)}%4d jobs" + (if (chosen(n)) "  *" else ""))
    }
    def line(label: String, xs: Seq[Double]) =
      println(f"$label%-8s ${xs.size}%3d queries  median ${Stats.median(xs)}%.3f s  " +
        f"p75 ${Stats.quantile(xs, 0.75)}%.3f s  pass ${xs.sum}%.2f s")
    line("catalog", warm.map(_._2))
    line("mix", warm.filter(w => chosen(w._1)).map(_._2))
    println("mix: " + pick(warm).mkString(" "))
    spark.stop()
  }
}
