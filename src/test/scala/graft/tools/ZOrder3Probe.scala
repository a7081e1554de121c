package graft.tools

import org.apache.spark.sql.functions._

/** 3-D companion of [[ZOrderProbe]]: measures what zorderWriteN buys
  * when documents are clustered on THREE independent dimensions
  * (source × length-bucket × quality-bucket is the training-data
  * shape; synthetic uniform keys here for the same reason as the 2-D
  * probe's synthetic mode). Layouts: hash-scattered, 1-D sort on x,
  * 3-column z-order. Predicates: ~10 % range on each single dimension
  * and the 3-D box. Expectation shape: the 1-D sort serves x only; the
  * z-layout serves all three at ~cube-root locality each, and the box
  * multiplies the per-dimension prunes.
  *
  * Usage: sbt "Test/runMain graft.tools.ZOrder3Probe [rows] [numFiles]"
  */
object ZOrder3Probe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(60000000L)
    val numFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = graft.Sessions.local("spark.sql.adaptive.enabled" -> "false")

    val dom = 1L << 20
    val src = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(dom)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(dom)).as("y"),
      pmod(xxhash64(col("id"), lit(2)), lit(dom)).as("w"),
      (col("id") % 10000).cast("double").as("v"))
    val base = "/tmp/zorder3_probe"
    src.repartition(numFiles)
      .write.mode("overwrite").parquet(s"$base/natural")
    src.repartitionByRange(numFiles, col("x"))
      .sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$base/xsort")
    graft.functions.ZOrder.zorderWriteN(
      src, Seq("x", "y", "w"), s"$base/zorder3", numFiles = numFiles)

    val (lo, hi) = (dom * 40 / 100, dom * 50 / 100) // 10 % per dim
    val preds = Seq(
      "box3" -> (col("x").between(lo, hi) && col("y").between(lo, hi) &&
        col("w").between(lo, hi)),
      "x_only" -> col("x").between(lo, hi),
      "y_only" -> col("y").between(lo, hi),
      "w_only" -> col("w").between(lo, hi))

    println(s"[zorder3] rows=$n files=$numFiles range=[$lo,$hi] of $dom")
    println(f"${"layout"}%-8s ${"pred"}%-7s ${"scanned"}%12s " +
      f"${"scan%"}%7s ${"result"}%10s ${"best_s"}%8s")
    for (layout <- Seq("natural", "xsort", "zorder3");
         (pname, p) <- preds) {
      var best = Double.MaxValue; var cnt = 0L; var scanned = 0L
      for (_ <- 1 to 3) {
        val q = spark.read.parquet(s"$base/$layout").filter(p)
          .agg(count(lit(1)).as("c"), sum("v").as("s"))
        val t0 = System.nanoTime()
        cnt = q.collect()(0).getLong(0)
        best = best.min((System.nanoTime() - t0) / 1e9)
        scanned = ZOrderProbe.scanRows(q)
      }
      println(f"$layout%-8s $pname%-7s $scanned%12d " +
        f"${100.0 * scanned / n}%6.2f%% $cnt%10d $best%8.3f")
    }
    spark.stop()
  }
}
