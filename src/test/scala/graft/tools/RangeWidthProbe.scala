package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.Tables
import graft.operators.Joins

/** Measures the range-lookup bucket-width tradeoff rangeLookupJoinAuto
  * decides on (r14, fifth adaptive operator): NARROW buckets replicate
  * each dim interval len/width times through the broadcast; WIDE
  * buckets hand every fact row all bucket-sharing intervals as
  * candidates for the residual filter. Sweeps width = median/16 … 16×
  * median over a seeded 1000-interval dim against the derived-corpus
  * events (value ∈ [0, 500]) and prints the auto's pick alongside.
  *
  * Usage: sbt "Test/runMain graft.tools.RangeWidthProbe [factsDir]"
  * (default target/scaledata/sf10 — 10 M fact rows).
  */
object RangeWidthProbe {

  private def force(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scaledata/sf10")
    val spark = graft.Sessions.local()
    import spark.implicits._

    val facts = Tables.events(spark, dir).select(col("event_id"), col("value"))
    // seeded dim: 1000 intervals over the value domain, lengths mixed
    // 2/5/20 (median 5) — the tiered-config shape with realistic spread
    val rnd = new java.util.Random(19)
    val dim = (0 until 1000).map { i =>
      val lo = rnd.nextDouble() * 495
      val len = Seq(2.0, 5.0, 20.0)(rnd.nextInt(3))
      (lo, lo + len, s"tier$i")
    }.toDF("lo", "hi", "tier")

    graft.Sessions.clearEstimates()
    val auto = Joins.rangeBucketWidth(dim, "lo", "hi")
    println(f"[rangewidth] auto width (median interval length) = $auto%.2f")
    force(Joins.rangeLookupJoin(facts, "value", dim, "lo", "hi", auto)) // warm
    for (mult <- Seq(1.0 / 16, 1.0 / 4, 1.0, 4.0, 16.0)) {
      val w = auto * mult
      val t = force(Joins.rangeLookupJoin(facts, "value", dim, "lo", "hi", w))
      println(f"[rangewidth] $dir width=${w}%8.2f (${mult}%6.3fx median)  $t%7.2f s")
    }
    spark.stop()
  }
}
