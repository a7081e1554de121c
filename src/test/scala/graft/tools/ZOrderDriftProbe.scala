package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures what append-under-drift does to a ranked z-order table's
  * pruning — the decay table behind [[graft.functions.ZOrder.zorderAppendAuto]]'s
  * thresholds (r15 VERDICT #5; the z-layout sibling of IvfDriftProbe).
  *
  * Base: N rows, independent uniform (x, y) over [0, 2^20), written
  * with zorderWriteRanked. Two ingest regimes, appended in cumulative
  * slices via zorderAppendRanked (no auto — the probe measures what
  * the auto DECIDES from):
  *  - `same`: slices drawn from the build distribution — the frozen
  *    anchor map places them correctly; decay should be row-group-
  *    granularity mild at any share;
  *  - `shift`: slices from an uncovered region [2^30, 2^30 + 2^20) —
  *    every value clamps to the top frozen anchor, the appended files
  *    carry a CONSTANT z (no internal order at all), and a box query
  *    in the new region must scan the entire appended mass.
  * After each slice: the auto's signal (share, skew, product, would-
  * fire), and scanned-row % for a ~5 %/dim box predicate inside the
  * affected region on (a) the STALE table vs (b) a scratch REBUILD of
  * the same rows — the recoverable gap the trigger must close.
  *
  * Usage: sbt "Test/runMain graft.tools.ZOrderDriftProbe [baseN] [sliceN]"
  */
object ZOrderDriftProbe {
  def main(args: Array[String]): Unit = {
    val nums = args.filterNot(_.startsWith("--"))
    val baseN = nums.headOption.map(_.toLong).getOrElse(2000000L)
    val sliceN = nums.lift(1).map(_.toLong).getOrElse(250000L)
    val spark = graft.Sessions.local("spark.sql.adaptive.enabled" -> "false")
    import graft.functions.ZOrder

    val W = 1L << 20
    def gen(n: Long, idOff: Long, off: Long) = spark.range(n)
      .select((col("id") + idOff).as("rid"),
        (pmod(xxhash64(col("id") + idOff), lit(W)) + off).as("x"),
        (pmod(xxhash64(col("id") + idOff, lit(1)), lit(W)) + off).as("y"))

    def scanPct(path: String, x0: Long, x1: Long): Double = {
      val q = spark.read.parquet(path)
        .filter(col("x").between(x0, x1) && col("y").between(x0, x1))
        .agg(count(lit(1)))
      q.collect()
      val scanned = ZOrderProbe.scanRows(q)
      100.0 * scanned / spark.read.parquet(path).count()
    }

    if (args.contains("--sweep")) {
      // ——— maxAppendFiles crossover sweep (r16 VERDICT #5): every other
      // adaptive threshold in the repo is probe-derived; 16 was
      // calibrated by eye from the drip decay table. The trade priced
      // here: a LOWER threshold rebuilds more often (compaction cost =
      // re-clustering the whole table, growing with every slice) but
      // holds the box-query scan share near the rebuilt baseline; a
      // HIGHER one amortizes rebuilds but lets a drip of one-file
      // batches (each spanning the FULL z range) pile unprunable file
      // candidates onto every point query. 32 one-file drip slices per
      // threshold, the auto making its own decisions; per slice the
      // probe records the box-scan share, per rebuild its wall cost.
      val sliceRows = 50000L
      println(f"${"maxFiles"}%8s ${"rebuilds"}%9s ${"rebuild_s"}%10s " +
        f"${"append_s"}%9s ${"mean_scan%"}%11s ${"p95_scan%"}%10s ${"end_scan%"}%10s")
      for (t <- Seq(4L, 8L, 16L, 32L)) {
        val dir = s"/tmp/zdrift_sweep_$t/t"
        val root = new java.io.File(s"/tmp/zdrift_sweep_$t")
        if (root.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(root)
        }
        ZOrder.zorderWriteRanked(gen(baseN, 0, 0), "x", "y", dir,
          bits = 16, numFiles = 32)
        val (sq0, sq1) = ((W * 40) / 100, (W * 45) / 100)
        var rebuilds = 0
        var rebuildSecs = 0.0
        var appendSecs = 0.0
        val scans = Array.newBuilder[Double]
        for (slice <- 1 to 32) {
          val t0 = System.nanoTime()
          val pick = ZOrder.zorderAppendAuto(
            gen(sliceRows, baseN + slice * 100000000L, 0), dir,
            maxAppendFiles = t)
          val secs = (System.nanoTime() - t0) / 1e9
          if (pick.startsWith("rebuild")) { rebuilds += 1; rebuildSecs += secs }
          else appendSecs += secs
          scans += scanPct(dir, sq0, sq1)
        }
        val raw = scans.result()
        val s = raw.sorted
        println(f"$t%8d $rebuilds%9d $rebuildSecs%10.1f $appendSecs%9.1f " +
          f"${s.sum / s.length}%10.2f%% ${s((s.length * 95) / 100 - 1)}%9.2f%% " +
          f"${raw.last}%9.2f%%")
      }
      spark.stop(); return
    }

    println(f"${"mode"}%-6s ${"share"}%6s ${"skew"}%7s ${"signal"}%7s " +
      f"${"fires"}%6s ${"stale%"}%8s ${"rebuilt%"}%9s ${"gap"}%6s")
    for (mode <- Seq("same", "shift")) {
      val off = if (mode == "shift") 1L << 30 else 0L
      val dir = s"/tmp/zdrift_probe_$mode/t"
      val base = gen(baseN, 0, 0)
      ZOrder.zorderWriteRanked(base, "x", "y", dir, bits = 16,
        numFiles = 32)
      // box predicate inside the affected region, ~5 % per dimension
      val (q0, q1) = (off + (W * 40) / 100, off + (W * 45) / 100)
      for (slice <- 1 to 4) {
        ZOrder.zorderAppendRanked(
          gen(sliceN, baseN + slice * 10000000L, off), dir)
        // the auto's own arithmetic, from the metadata ledgers
        val app = spark.read.parquet(s"$dir/_zmeta/appendbuckets")
          .groupBy("zb").agg(sum(col("rows")).as("rows"))
          .agg(sum(col("rows")), max(col("rows"))).head()
        val b = spark.read.parquet(s"$dir/_zmeta/basebuckets")
          .agg(sum(col("base_rows")), count(lit(1))).head()
        val share = app.getLong(0).toDouble / b.getLong(0)
        val skew = app.getLong(1).toDouble / (app.getLong(0).toDouble / b.getLong(1))
        val signal = share * skew
        val fires = signal >= 2.0 || (skew >= 4.0 && share >= 0.05)
        // scratch rebuild of the same rows = the recoverable layout
        val twin = s"/tmp/zdrift_probe_${mode}_twin/t"
        ZOrder.zorderWriteRanked(spark.read.parquet(dir).drop("z"),
          "x", "y", twin, bits = 16, numFiles = 32 + slice * 4)
        val stale = scanPct(dir, q0, q1)
        val rebuilt = scanPct(twin, q0, q1)
        println(f"$mode%-6s $share%6.2f $skew%7.1f $signal%7.2f " +
          f"$fires%6s $stale%7.2f%% $rebuilt%8.2f%% ${stale / rebuilt}%6.1f")
      }
    }

    // COMPACTION axis: a drip of tiny same-dist batches (each writing
    // ONE file spanning the full z range) decays pruning by file COUNT
    // long before the share×skew product prices it — the
    // maxAppendFiles=16 trigger's measured justification
    val dripDir = "/tmp/zdrift_probe_drip/t"
    ZOrder.zorderWriteRanked(gen(baseN, 0, 0), "x", "y", dripDir,
      bits = 16, numFiles = 32)
    val (dq0, dq1) = ((W * 40) / 100, (W * 45) / 100)
    println(f"${"drip"}%-6s ${"slice"}%6s ${"files"}%6s ${"stale%"}%8s")
    for (slice <- 1 to 20) {
      ZOrder.zorderAppendRanked(
        gen(50000L, baseN + slice * 100000000L, 0), dripDir)
      if (slice % 4 == 0) {
        val files = spark.read.parquet(s"$dripDir/_zmeta/appendlog")
          .agg(sum(col("files"))).head().getLong(0)
        println(f"${"drip"}%-6s $slice%6d $files%6d " +
          f"${scanPct(dripDir, dq0, dq1)}%7.2f%%" +
          (if (files >= 16) "  <- maxAppendFiles trigger point" else ""))
      }
    }
    spark.stop()
  }
}
