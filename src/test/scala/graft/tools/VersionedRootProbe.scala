package graft.tools

import org.apache.spark.sql.functions._

/** Cost side of the r18 versioned-root adoption decision (DEPLOY.md):
  * the same rebuild through the in-place Swap protocol vs the
  * generation-publish + pointer-flip, plus the per-query overhead a
  * reader pays to resolve `_CURRENT`. Run:
  *
  *   sbt "Test/runMain graft.tools.VersionedRootProbe [--sf=DIR]"
  *
  * The two rebuilds move identical bytes (both re-cluster base +
  * appends into a fresh layout); the delta isolates the protocol cost —
  * swap: displace-all + move-in renames; versioned: one marker flip +
  * deferred prune. Resolve cost is one small-file read + two listings.
  */
object VersionedRootProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.collectFirst { case a if a.startsWith("--sf=") =>
      a.drop(5) }.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    import graft.functions.ZOrder

    val li = graft.model.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .localCheckpoint()
    val rows = li.count()
    def t[A](body: => A): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val scratch = java.nio.file.Files
      .createTempDirectory("vroot_probe").toString

    // flat + swap: write once, then timed rebuild reps (each rebuild
    // re-clusters current rows and swaps in place)
    val flat = s"$scratch/flat"
    ZOrder.zorderWriteRanked(li, "l_partkey", "l_suppkey", flat, 16)
    val swapReps = (1 to 3).map(_ => t(ZOrder.zorderRebuildRanked(spark, flat)))

    // versioned: same content, timed generation-publish rebuilds
    val root = s"$scratch/versioned"
    ZOrder.zorderWriteRankedVersioned(li, "l_partkey", "l_suppkey", root, 16)
    val verReps = (1 to 3).map(_ => t(ZOrder.zorderRebuildVersioned(spark, root)))

    // reader-side: plan-time resolution overhead (marker read + listing)
    val warm = ZOrder.zorderResolve(spark, root)
    require(warm.nonEmpty)
    val n = 500
    val resolveSec = t((1 to n).foreach(_ => ZOrder.zorderResolve(spark, root)))
    // and the end-to-end query delta: count() on the resolved path vs flat
    val qFlat = (1 to 5).map(_ => t(spark.read.parquet(flat).count()))
    val qVer = (1 to 5).map(_ =>
      t(spark.read.parquet(ZOrder.zorderResolve(spark, root)).count()))

    def f(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("/")
    println(f"[vroot] rows=$rows sf=$sfDir")
    println(f"[vroot] rebuild swap      reps ${f(swapReps)} s  best ${swapReps.min}%.2f")
    println(f"[vroot] rebuild versioned reps ${f(verReps)} s  best ${verReps.min}%.2f")
    println(f"[vroot] resolve x$n = $resolveSec%.3f s  (${resolveSec / n * 1000}%.2f ms/resolve)")
    println(f"[vroot] count() flat ${f(qFlat)} s  versioned ${f(qVer)} s")
    spark.stop()
  }
}
