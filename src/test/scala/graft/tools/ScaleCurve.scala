package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Growth-curve harness (VERDICT r11 #1): measures t(big)/t(small) for
  * the suite's cost-driving queries so the 100 TB design claims get a
  * measured curve instead of sf0.1-only evidence.
  *
  * Methodology matches ProfileQuery (what the judge measures): one
  * JVM, per-query sf0.001 codegen warmup, then `reps` timed noop-sink
  * runs per SF, best-of kept. Additionally records the result-row
  * count per SF (untimed extra execution) so super-linear time ratios
  * can be attributed to output growth vs plan defects.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.ScaleCurve [--small=DIR] [--big=DIR]
  *        [--reps=N] [--shuffle=N] [--no-rows] [query...]"
  * defaults: small=/root/testdata/sf0.1  big=target/scaledata/sf1
  * (build the big dir first with graft.tools.ScaleCorpus). Output:
  * per-query table on stdout + JSON lines at target/scale_curve.jsonl.
  */
object ScaleCurve {

  /** The round-11 verdict's top cost drivers + the q_mad watchlist
    * entry. Oracle-twin all-pairs queries (q_winnow_overlap_exact,
    * q_dedup_delta_exact) are deliberately absent: they are harnesses
    * whose output is quadratic by contract, not production paths.
    */
  val DefaultQueries: Seq[String] = Seq(
    "q_hopping_pivot", "q_sessionize", "q_histogram_equidepth",
    "q_mad", "q_asof_broadcast", "q_asof_auto", "q_bucketed_join",
    "q_fuzzy_match",
    "q_bm25", "q_embed_covariance", "q_dedup_minhash", "q_dedup_delta",
    "q_winnow_overlap")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") =>
        a.drop(name.length + 3) }
    val small = opt("small").getOrElse("/root/testdata/sf0.1")
    val big = opt("big").getOrElse("target/scaledata/sf1")
    val reps = opt("reps").map(_.toInt).getOrElse(2)
    // --shuffle overrides; default is byte-derived from each QUERY's
    // own input stats (graft.Sessions — the DEPLOY third-decade lesson,
    // so sf10/sf100 curves run the no-knob production posture)
    val shuffleOverride = opt("shuffle").map(_.toInt)
    val countRows = !args.contains("--no-rows")
    val names0 = args.filterNot(_.startsWith("--")).toSeq
    val names = if (names0.nonEmpty) names0 else DefaultQueries

    require(new java.io.File(big).isDirectory,
      s"big dir $big missing — run graft.tools.ScaleCorpus first")

    val spark = graft.Sessions.local()

    val out = new java.io.PrintWriter(
      new java.io.FileWriter("target/scale_curve.jsonl", /*append=*/ false))
    def sizeFor(q: (SparkSession, String) => DataFrame, dir: String): Unit =
      shuffleOverride match {
        case Some(n) =>
          spark.conf.set("spark.sql.shuffle.partitions", n.toString)
          spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
        case None =>
          val n = graft.Sessions.autosizeFor(q(spark, dir))
          println(s"[curve] shuffle partitions autosized to $n for $dir")
      }
    def measure(q: (SparkSession, String) => DataFrame, dir: String)
        : (Double, Long) = {
      sizeFor(q, dir)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        force(q(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      val rows = if (countRows) q(spark, dir).count() else -1L
      (times.min, rows)
    }

    println(f"${"query"}%-28s ${"t(small)"}%9s ${"t(big)"}%9s ${"ratio"}%7s ${"rows(small)"}%12s ${"rows(big)"}%12s ${"rowsx"}%7s")
    for (name <- names) {
      val q = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — see SparkEntry.queries"))
      force(q(spark, "/root/testdata/sf0.001")) // codegen warmup
      val (tS, rS) = measure(q, small)
      val (tB, rB) = measure(q, big)
      val ratio = tB / tS
      val rowsx = if (rS > 0) rB.toDouble / rS else Double.NaN
      println(f"$name%-28s $tS%9.3f $tB%9.3f $ratio%7.2f $rS%12d $rB%12d $rowsx%7.2f")
      out.println(
        s"""{"query":"$name","t_small":$tS,"t_big":$tB,"ratio":$ratio,""" +
        s""""rows_small":$rS,"rows_big":$rB,"small":"$small","big":"$big","reps":$reps}""")
      out.flush()
    }
    out.close()
    spark.stop()
  }
}
