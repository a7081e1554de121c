package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Measures what z-order clustering actually buys at the scan: rows
  * surviving parquet's pushed-filter pruning (row-group min/max +
  * column-index page skipping) and wall time, for the same box / x-only
  * / y-only range predicates over three layouts of the same lineitem
  * rows:
  *
  *   natural  — repartition(n): hash-scattered, the no-clustering floor
  *   xsort    — range-partitioned + sorted on l_partkey: classic 1-D sort
  *   zorder   — ZOrder.zorderWrite on (l_partkey, l_suppkey)
  *
  * The signal is the FileSourceScanExec's numOutputRows: with record-
  * level filtering off (Spark default), the vectorized reader emits all
  * rows of the pages its pushed predicate could not prune, so scan
  * output ≈ rows the layout forced it to READ — the 100 TB quantity. A
  * 1-D sort prunes x-predicates and nothing else; the z-layout must
  * prune BOTH dimensions (neither as deeply as a dedicated sort on that
  * one dimension — interleaving splits the locality budget).
  *
  * AQE off: plain scan→filter→agg plans, so the scan node is directly
  * addressable and metrics are unambiguous.
  *
  * Usage: sbt "Test/runMain graft.tools.ZOrderProbe [sfDir] [numFiles]"
  * — or  "Test/runMain graft.tools.ZOrderProbe synthetic:N [numFiles]"
  * for N rows with hash-derived INDEPENDENT uniform (x, y): the derived
  * scale corpora remap fact keys with correlated replica offsets, so a
  * box predicate there selects the same rows as either single-dim
  * predicate and 2-D pruning cannot be observed on them; layout physics
  * needs independent dimensions, which the fixture only provides up to
  * sf0.1 volume.
  * — or  "Test/runMain graft.tools.ZOrderProbe skew:N [numFiles]"
  * for N rows with independent LOG-UNIFORM (x, y) over [1, 2^40] — the
  * heavy-tailed regime where min/max scaling collapses (60 % of the
  * mass lands below 2^24, i.e. in scaled bucket range [0, 256) of
  * 16.7 M at bits=24, so z's high bits are constant for most rows and
  * file min/max can no longer discriminate the mass region). This mode
  * adds the zrank layout (zorderWriteRanked) and draws the range
  * predicates at the 40th–45th PERCENTILE of each dimension
  * (analytically 2^(40·q) under log-uniformity) instead of 40–45 % of
  * max — a max-anchored predicate would sit in the outlier tail and
  * select nothing.
  */
object ZOrderProbe {

  def scanRows(df: DataFrame): Long =
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.metrics("numOutputRows").value
    }.sum

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val numFiles = args.lift(1).map(_.toInt).getOrElse(16)
    // skew-mode predicate band start, in PERCENTILES (band is q0..q0+5):
    // 40 sits at the min/max-scaling resolution knee (scaled buckets
    // 1–4); 20 sits deep inside scaled bucket 0 — the 40 %-of-rows blob
    // where min/max z is constant and only the rank layout can prune
    val q0 = args.lift(2).map(_.toInt).getOrElse(40)
    val spark = graft.Sessions.local("spark.sql.adaptive.enabled" -> "false")

    val skewMode = dir.startsWith("skew:")
    val src =
      if (dir.startsWith("synthetic:")) {
        val n = dir.stripPrefix("synthetic:").toLong
        spark.range(n).select(
          col("id").as("l_orderkey"),
          pmod(xxhash64(col("id")), lit(1L << 20)).as("l_partkey"),
          pmod(xxhash64(col("id"), lit(1)), lit(1L << 20)).as("l_suppkey"),
          (col("id") % 50).cast("double").as("l_quantity"),
          (col("id") % 10000).cast("double").as("l_extendedprice"))
      } else if (skewMode) {
        val n = dir.stripPrefix("skew:").toLong
        // log-uniform over [1, 2^40): v = 2^(40u) with u uniform in
        // [0,1) from a million-bucket hash — P(v ≤ 2^(40q)) = q exactly
        def logUniform(salt: Int) = floor(pow(lit(2.0),
          (pmod(xxhash64(col("id"), lit(salt)), lit(1000000L)) / 1e6) * 40.0))
          .cast("long") + 1L
        spark.range(n).select(
          col("id").as("l_orderkey"),
          logUniform(0).as("l_partkey"),
          logUniform(1).as("l_suppkey"),
          (col("id") % 50).cast("double").as("l_quantity"),
          (col("id") % 10000).cast("double").as("l_extendedprice"))
      } else spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice")
    val total = src.count()
    val maxPart = src.agg(max("l_partkey")).head.getLong(0)
    val maxSupp = src.agg(max("l_suppkey")).head.getLong(0)
    // ~5 % per dimension → box selects ~0.25 % under independence.
    // Uniform data: 40–45 % of max IS the 40th–45th percentile; the
    // log-uniform tail needs the analytic percentile instead.
    val (x0, x1) =
      if (skewMode) (math.pow(2, 40 * q0 / 100.0).toLong,
        math.pow(2, 40 * (q0 + 5) / 100.0).toLong)
      else (maxPart * q0 / 100, maxPart * (q0 + 5) / 100)
    val (y0, y1) =
      if (skewMode) (math.pow(2, 40 * q0 / 100.0).toLong,
        math.pow(2, 40 * (q0 + 5) / 100.0).toLong)
      else (maxSupp * q0 / 100, maxSupp * (q0 + 5) / 100)

    val base = "/tmp/zorder_probe"
    src.repartition(numFiles)
      .write.mode("overwrite").parquet(s"$base/natural")
    src.repartitionByRange(numFiles, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(s"$base/xsort")
    // bits=24 covers partkey domains far past sf100 (16.7 M keys);
    // 2·24 = 48 ≤ 62 keeps z positive
    graft.functions.ZOrder.zorderWrite(
      src, "l_partkey", "l_suppkey", s"$base/zorder",
      bits = 24, numFiles = numFiles)
    if (skewMode) graft.functions.ZOrder.zorderWriteRanked(
      src, "l_partkey", "l_suppkey", s"$base/zrank",
      bits = 24, numFiles = numFiles)

    val preds = Seq(
      "box" -> (col("l_partkey").between(x0, x1) &&
        col("l_suppkey").between(y0, y1)),
      "x_only" -> col("l_partkey").between(x0, x1),
      "y_only" -> col("l_suppkey").between(y0, y1))

    println(s"[zorder] rows=$total maxPart=$maxPart maxSupp=$maxSupp " +
      s"files=$numFiles box=[$x0,$x1]x[$y0,$y1]" +
      (if (skewMode) " (log-uniform skew mode, percentile predicates)" else ""))
    println(f"${"layout"}%-8s ${"pred"}%-7s ${"scanned"}%12s " +
      f"${"scan%"}%7s ${"result"}%10s ${"best_s"}%8s")
    val layouts =
      if (skewMode) Seq("natural", "xsort", "zorder", "zrank")
      else Seq("natural", "xsort", "zorder")
    for (layout <- layouts;
         (pname, p) <- preds) {
      var best = Double.MaxValue; var n = 0L; var scanned = 0L
      for (_ <- 1 to 3) {
        val q = spark.read.parquet(s"$base/$layout").filter(p)
          .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
        val t0 = System.nanoTime()
        // collect(), not head(): head runs a NEW limited plan, leaving
        // q's own scan metrics unpopulated (the one-row agg is tiny)
        n = q.collect()(0).getLong(0)
        best = best.min((System.nanoTime() - t0) / 1e9)
        scanned = scanRows(q)
      }
      println(f"$layout%-8s $pname%-7s $scanned%12d " +
        f"${100.0 * scanned / total}%6.2f%% $n%10d $best%8.3f")
    }
    spark.stop()
  }
}
