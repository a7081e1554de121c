package graft.functions

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Straight-line reference interleave for cross-checking the
    * expression fold.
    */
  private def zRef(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zValue2 matches the bit-reference on corner and random values") {
    val cases = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L), (43690L, 21845L),
      (12345L, 54321L), (1L, 65535L), (32768L, 32768L))
    val out = cases.toDF("x", "y")
      .withColumn("z", ZOrder.zValue2(col("x"), col("y"), 16))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (x, y, z) =>
      assert(z == zRef(x, y, 16), s"z($x,$y)")
    }
  }

  test("zValue2 masks out-of-range inputs to their low bits") {
    val out = Seq((65536L + 7L, (1L << 40) + 3L)).toDF("x", "y")
      .withColumn("z", ZOrder.zValue2(col("x"), col("y"), 16))
      .head().getLong(2)
    assert(out == zRef(7L, 3L, 16))
  }

  test("zValue2 is monotone in each coordinate within a fixed other") {
    // Not globally monotone (that's the point of the curve), but for a
    // fixed y, increasing x never decreases the interleaved x-bits'
    // contribution at equal y-bits — check via direct enumeration.
    val rows = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
    val got = rows.toDF("x", "y")
      .withColumn("z", ZOrder.zValue2(col("x"), col("y"), 6))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (y <- 0L until 64L; x <- 0L until 63L)
      assert(got((x, y)) < got((x + 1, y)))
    for (x <- 0L until 64L; y <- 0L until 63L)
      assert(got((x, y)) < got((x, y + 1)))
  }

  test("zorderWrite produces disjoint per-file z ranges (pruning guarantee)") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    ZOrder.zorderWrite(Tables.lineitem(spark, sf0001),
      "l_partkey", "l_suppkey", dir, bits = 16, numFiles = 4)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("z").as("lo"), max("z").as("hi"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"overlapping file z-ranges: $hi1 > $lo2")
    }
  }

  test("zorderWrite clusters BOTH dimensions under unequal key domains " +
    "(the scaling fix)") {
    // lineitem's l_partkey spans ~8× the bits of l_suppkey at this SF.
    // Raw interleaving put only partkey bits in z's high bits, so every
    // file spanned the full suppkey domain (measured: 99 % scanned for a
    // 5 % y-predicate, SCALE.md "Round 14: z-order clustering"). With
    // min/max scaling, z cuts alternate dimensions and each file's
    // y-extent must be a fraction of the domain.
    val dir = java.nio.file.Files.createTempDirectory("zorder2").toString
    val li = Tables.lineitem(spark, sf0001)
    ZOrder.zorderWrite(li, "l_partkey", "l_suppkey", dir,
      bits = 16, numFiles = 16)
    val dom = li.agg((max("l_suppkey") - min("l_suppkey")).cast("double"))
      .head.getDouble(0)
    val extents = spark.read.parquet(dir)
      .groupBy(input_file_name())
      .agg((max("l_suppkey") - min("l_suppkey")).cast("double").as("ext"))
      .collect().map(_.getAs[Double]("ext"))
    assert(extents.length > 4)
    val meanExt = extents.sum / extents.length
    // raw interleave: every file ≈ full domain (mean ≈ 1.0 · dom);
    // scaled: 16 files = 2 quadtree levels per dim → ~0.25–0.5 · dom
    assert(meanExt < 0.5 * dom,
      s"mean per-file y-extent $meanExt vs domain $dom — y not clustered")
  }

  /** N-ary reference: bit i of column j → position i·n + j. */
  private def zRefN(vs: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (j <- vs.indices; i <- 0 until bits)
      z |= ((vs(j) >> i) & 1L) << (i * vs.length + j)
    z
  }

  test("zValueN(2 cols) ≡ zValue2; zValueN(3 cols) matches the bit-reference") {
    val rnd = new scala.util.Random(7)
    val triples = Seq.fill(64)(
      (rnd.nextInt(1 << 12).toLong, rnd.nextInt(1 << 12).toLong,
        rnd.nextInt(1 << 12).toLong))
    val df = triples.toDF("x", "y", "w")
    val got = df.select(
      ZOrder.zValue2(col("x"), col("y"), 12).as("z2"),
      ZOrder.zValueN(Seq(col("x"), col("y")), 12).as("zn2"),
      ZOrder.zValueN(Seq(col("x"), col("y"), col("w")), 12).as("zn3"),
      col("x"), col("y"), col("w")).collect()
    got.foreach { r =>
      assert(r.getAs[Long]("z2") == r.getAs[Long]("zn2"))
      assert(r.getAs[Long]("zn3") ==
        zRefN(Seq(r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Long]("w")), 12))
    }
  }

  test("zorderWriteN(3 cols) gives every dimension sub-domain file extents") {
    // 64 files over 3 scaled dims = 2 quadtree levels per dim: each
    // file's extent in EVERY dimension must be a fraction of its domain
    // (the n-ary generalization of the 2-D scaling-fix spec).
    val dir = java.nio.file.Files.createTempDirectory("zorderN").toString
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20000)(
      (rnd.nextInt(1000000).toLong, rnd.nextInt(977).toLong,
        rnd.nextInt(31).toLong))
    ZOrder.zorderWriteN(rows.toDF("a", "b", "c"), Seq("a", "b", "c"), dir,
      numFiles = 64)
    val out = spark.read.parquet(dir)
    for (d <- Seq("a", "b", "c")) {
      val dom = out.agg((max(d) - min(d)).cast("double")).head.getDouble(0)
      val exts = out.groupBy(input_file_name())
        .agg((max(d) - min(d)).cast("double").as("ext"))
        .collect().map(_.getAs[Double]("ext"))
      val meanExt = exts.sum / exts.length
      assert(meanExt < 0.6 * dom,
        s"dim $d: mean per-file extent $meanExt vs domain $dom")
    }
  }

  test("rankMap is the exact 0-based dense rank, distributed") {
    val df = Seq(50L, 7L, 7L, -3L, 1000000L, 50L, 0L).toDF("v")
      .repartition(4)
    val got = ZOrder.rankMap(df, "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(-3L -> 0L, 0L -> 1L, 7L -> 2L, 50L -> 3L, 1000000L -> 4L))
    // equals the ANSI window the oracle uses, on the fixture key
    val li = Tables.lineitem(spark, sf0001)
    val win = org.apache.spark.sql.expressions.Window.orderBy(col("_v"))
    val viaWindow = li.select(col("l_suppkey").cast("long").as("_v")).distinct()
      .withColumn("_r", dense_rank().over(win).cast("long") - 1)
    assert(ZOrder.rankMap(li, "l_suppkey").exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(ZOrder.rankMap(li, "l_suppkey")).isEmpty)
  }

  test("withRankedZ reduces to the min/max-scaled key on a contiguous domain") {
    // ranks == values when the domain is exactly 0..n-1, so the ranked
    // key must equal zValue2 over scaleTo'd raw values bit-for-bit
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(4000)((rnd.nextInt(64).toLong, rnd.nextInt(256).toLong))
    val df = rows.toDF("x", "y")
    val ranked = ZOrder.withRankedZ(df, "x", "y", bits = 10, zName = "zr")
    val direct = df.withColumn("zm", ZOrder.zValue2(
      ZOrder.scaleTo(col("x"), 0L, 63L, 10),
      ZOrder.scaleTo(col("y"), 0L, 255L, 10), 10))
    val joined = ranked.join(direct, Seq("x", "y"))
      .filter(col("zr") =!= col("zm")).count()
    assert(joined == 0L)
  }

  test("ranked write keeps BOTH dimensions clustered under a heavy-tailed " +
    "domain where min/max scaling collapses") {
    // one 2^40 outlier over a 2^10-wide mass: scaleTo maps the entire
    // mass to bucket 0 (z identical for 99.9 % of rows), so the min/max
    // layout degenerates to arrival order; ranks are distribution-free
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(20000)(
      (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong)) :+
      ((1L << 40, 1L << 40))
    val df = rows.toDF("x", "y")
    val dirM = java.nio.file.Files.createTempDirectory("zmm").toString
    val dirR = java.nio.file.Files.createTempDirectory("zrk").toString
    ZOrder.zorderWrite(df, "x", "y", dirM, bits = 16, numFiles = 16)
    ZOrder.zorderWriteRanked(df, "x", "y", dirR, bits = 16, numFiles = 16)
    def meanXExtent(dir: String): Double = {
      val out = spark.read.parquet(dir).filter(col("x") < 1024)
      val exts = out.groupBy(input_file_name())
        .agg((max("x") - min("x")).cast("double").as("ext"))
        .collect().map(_.getAs[Double]("ext"))
      exts.sum / exts.length
    }
    val (mm, rk) = (meanXExtent(dirM), meanXExtent(dirR))
    // min/max: every mass row has z=0 → files span ~the full 1024 mass
    // domain; ranked: 16 files = 2 quadtree levels/dim → fraction of it
    assert(mm > 0.8 * 1024, s"min/max unexpectedly clustered: $mm")
    assert(rk < 0.6 * 1024, s"ranked failed to cluster the mass: $rk")
  }

  test("zorderAppendRanked: frozen-anchor appends join the live table and " +
    "land in the base's occupied signal cells for same-dist batches") {
    val rnd = new scala.util.Random(23)
    def batch(n: Int, lo: Int, width: Int) = Seq.fill(n)(
      (rnd.nextInt(width).toLong + lo, rnd.nextInt(width).toLong + lo))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zapp").toString + "/t"
    val gen = ZOrder.zorderWriteRankedVersioned(batch(20000, 0, 4096),
      "x", "y", dir, bits = 16, numFiles = 8)
    val baseRows = spark.read.parquet(gen).count()
    ZOrder.zorderAppendRanked(batch(2000, 0, 4096), dir)
    assert(spark.read.parquet(gen).count() == baseRows + 2000)
    // appended cells ⊆ occupied base cells (same distribution): the
    // appendbuckets ledger against basebuckets
    val baseCells = spark.read.parquet(s"$gen/_zmeta/basebuckets")
      .select("zb").collect().map(_.getLong(0)).toSet
    val appCells = spark.read.parquet(s"$gen/_zmeta/appendbuckets")
      .select("zb").collect().map(_.getLong(0)).toSet
    assert(appCells.subsetOf(baseCells),
      s"same-dist append left the base cells: ${appCells -- baseCells}")
    // and the auto decision stays append, skew ≈ 1
    graft.Sessions.clearDecisions()
    assert(ZOrder.zorderAppendAuto(batch(2000, 0, 4096), dir) == "append")
    val d = graft.Sessions.decisions.filter(_.op == "zorderAppendAuto").last
    assert(d.estimate < 1.0, s"same-dist signal ${d.estimate} too hot")
  }

  test("zorderAppendAuto: an uncovered-region batch clamps into few cells, " +
    "fires the rebuild, and the rebuilt table restores disjoint pruning") {
    val rnd = new scala.util.Random(29)
    def batch(n: Int, lo: Long, width: Int) = Seq.fill(n)(
      (rnd.nextInt(width).toLong + lo, rnd.nextInt(width).toLong + lo))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zdrift").toString + "/t"
    ZOrder.zorderWriteRankedVersioned(batch(20000, 0, 4096), "x", "y", dir,
      bits = 16, numFiles = 8)
    // drifted: a region far past the build max — every value clamps to
    // the top frozen anchor
    graft.Sessions.clearDecisions()
    assert(ZOrder.zorderAppendAuto(batch(4000, 1L << 30, 4096), dir)
      == "rebuild")
    val d = graft.Sessions.decisions.filter(_.op == "zorderAppendAuto").last
    assert(d.choice.startsWith("rebuild"), d.choice)
    // post-rebuild: per-file z ranges disjoint again (the pruning
    // guarantee) over the FULL corpus incl. the drifted region, and the
    // append ledger reset
    val live = ZOrder.zorderResolve(spark, dir)
    val ranges = spark.read.parquet(live)
      .groupBy(input_file_name().as("f"))
      .agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    // (the rebuild auto-sizes files — at fixture volume that may be a
    // single 128 MiB-target file, which is trivially disjoint)
    if (ranges.length > 1)
      ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping file z-ranges after rebuild: $hi1 > $lo2")
      }
    assert(spark.read.parquet(live).count() == 24000L)
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$live/_zmeta/appendbuckets")) ||
      spark.read.parquet(s"$live/_zmeta/appendbuckets").count() == 0,
      "rebuild must reset the append ledger")
    // a same-dist append AFTER the rebuild sees the refreshed anchors
    assert(ZOrder.zorderAppendAuto(batch(1000, 1L << 30, 4096), dir) == "append")
  }

  test("zorderAppendAuto compaction axis: a drip of tiny same-dist batches " +
    "fires the file-count trigger, never the drift signal") {
    val rnd = new scala.util.Random(37)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zdrip").toString + "/t"
    ZOrder.zorderWriteRankedVersioned(batch(20000), "x", "y", dir, bits = 16,
      numFiles = 8)
    graft.Sessions.clearDecisions()
    // each tiny batch writes ONE file spanning the full z range; the
    // drift signal stays cold (same distribution) while appended file
    // count climbs to the compaction bound
    val picks = (1 to 16).map(_ => ZOrder.zorderAppendAuto(batch(500), dir))
    assert(picks.take(15).forall(_ == "append"),
      s"drift trigger fired on same-dist drip: $picks")
    assert(picks.last == "rebuild", s"file-count trigger never fired: $picks")
    val d = graft.Sessions.decisions.filter(_.op == "zorderAppendAuto").last
    assert(d.choice.startsWith("rebuild(files"), d.choice)
    assert(spark.read.parquet(ZOrder.zorderResolve(spark, dir)).count() ==
      20000L + 16 * 500)
    // the rebuild reset the ledgers: the next tiny append is file 1/16
    assert(ZOrder.zorderAppendAuto(batch(500), dir) == "append")
  }

  test("zorderAppendRanked degenerate inputs: empty and all-null batches " +
    "are no-ops, a single-value dimension writes and appends") {
    val rnd = new scala.util.Random(41)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zedge").toString + "/t"
    val gen = ZOrder.zorderWriteRankedVersioned(batch(2000), "x", "y", dir,
      bits = 16, numFiles = 4)
    val before = spark.read.parquet(gen).count()
    // empty batch: appends nothing, the auto has nothing to decide
    ZOrder.zorderAppendRanked(batch(0), dir)
    assert(spark.read.parquet(gen).count() == before)
    assert(ZOrder.zorderAppendAuto(batch(0), dir) == "append")
    // all-null batch: dropped entirely (matches the write's non-null rule)
    val nulls = Seq.fill(5)((Option.empty[Long], Option.empty[Long]))
      .toDF("x", "y")
    ZOrder.zorderAppendRanked(nulls, dir)
    assert(spark.read.parquet(gen).count() == before)
    // single-distinct-value dimension: one anchor, constant scaled —
    // the frozenScaled < 2-boundary path
    val dir2 = java.nio.file.Files.createTempDirectory("zedge1").toString + "/t"
    val const = spark.range(500).selectExpr("7L as x", "id as y")
    val gen2 = ZOrder.zorderWriteRankedVersioned(const, "x", "y", dir2,
      bits = 16, numFiles = 2)
    ZOrder.zorderAppendRanked(
      spark.range(50).selectExpr("9L as x", "(id + 1000) as y"), dir2)
    assert(spark.read.parquet(gen2).count() == 550)
    // appended x=9 clamps to the single x anchor; y maps normally
    assert(spark.read.parquet(gen2).filter(col("x") === 9).count() == 50)
  }

  test("append sizing: an RDD-backed batch with NO leaf stats writes " +
    "micro-batch-sized files, not the 65536-file ceiling (r16 ADVICE)") {
    // a foreachBatch micro-batch arrives as a LogicalRDD with no
    // Catalyst stats; pre-fix the unknown sentinel mapped to 65536
    // requested files AND poisoned the appendlog so the very next
    // zorderAppendAuto fired a full rebuild on every batch
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def rows(n: Int) = Seq.fill(n)(
      (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zrdd").toString + "/t"
    val gen = ZOrder.zorderWriteRankedVersioned(rows(2000), "x", "y", dir,
      bits = 16, numFiles = 4)
    val base = rows(300)
    val rddBacked = spark.createDataFrame(base.rdd, base.schema) // stats-less leaf
    assert(rddBacked.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
    ZOrder.zorderAppendRanked(rddBacked, dir)
    val logged = spark.read.parquet(s"$gen/_zmeta/appendlog")
      .agg(max(col("files"))).head().getLong(0)
    assert(logged <= 4,
      s"stats-less batch logged $logged files — sentinel leaked into sizing")
    assert(spark.read.parquet(gen).count() == 2300)
    // and the compaction trigger is NOT poisoned: the next auto appends
    val more = rows(200)
    assert(ZOrder.zorderAppendAuto(
      spark.createDataFrame(more.rdd, more.schema), dir) == "append")
  }

  test("append and auto-rebuild refuse a flat root before any write, " +
    "naming the versioned writer") {
    val rnd = new scala.util.Random(31)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(2048).toLong, rnd.nextInt(2048).toLong)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zflat").toString + "/t"
    ZOrder.zorderWriteRanked(batch(5000), "x", "y", dir, bits = 16, numFiles = 4)
    // the same refusal covers a flat root an older binary left mid-swap
    val swapped = java.nio.file.Files.createTempDirectory("zflatswap").toString + "/t"
    ZOrder.zorderWriteRanked(batch(500), "x", "y", swapped, bits = 16, numFiles = 2)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(swapped, "_rebuild"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(swapped, "_rebuild", "_COMMIT"))
    for (root <- Seq(dir, swapped)) {
      val before = treeListing(root)
      val errs = Seq(
        intercept[IllegalArgumentException](ZOrder.zorderAppendRanked(batch(100), root)),
        intercept[IllegalArgumentException](ZOrder.zorderAppendAuto(batch(100), root)))
      errs.foreach(e => assert(e.getMessage.contains("zorderWriteRankedVersioned"),
        e.getMessage))
      assert(treeListing(root) == before, s"a refused call wrote under $root")
    }
    // readers are unchanged: a flat table resolves to itself
    assert(ZOrder.zorderResolve(spark, dir) == dir)
  }

  test("numFiles=0 derives file count from leaf stats at 128 MiB/file") {
    // the sf0.001 fixture is ~hundreds of KB → exactly one output file
    val dir = java.nio.file.Files.createTempDirectory("zorder3").toString
    ZOrder.zorderWrite(Tables.lineitem(spark, sf0001),
      "l_partkey", "l_suppkey", dir)
    val files = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 auto-sized file, got $files")
  }

  // ——— generation-versioned roots: reader-atomic rebuilds (r17 #7) ———

  test("versioned root: write/resolve parity, in-place append, " +
    "reader-ATOMIC rebuild (pinned generation survives), prune retires") {
    val rnd = new scala.util.Random(47)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong)).toDF("x", "y")
    val root = java.nio.file.Files
      .createTempDirectory("zver").toString + "/t"
    val g1 = ZOrder.zorderWriteRankedVersioned(
      batch(20000), "x", "y", root, bits = 16, numFiles = 8)
    assert(g1.endsWith("/v00001"))
    assert(ZOrder.zorderResolve(spark, root) == g1)
    assert(spark.read.parquet(g1).count() == 20000)
    // appends land INSIDE the live generation
    ZOrder.zorderAppendRanked(batch(2000), root)
    assert(spark.read.parquet(ZOrder.zorderResolve(spark, root))
      .count() == 22000)
    // the atomicity claim itself: a reader pinned to the live
    // generation is untouched by a rebuild landing under it
    val pinned = spark.read.parquet(g1)
    val g2 = ZOrder.zorderRebuildVersioned(spark, root)
    assert(g2.endsWith("/v00002"))
    assert(ZOrder.zorderResolve(spark, root) == g2)
    assert(pinned.count() == 22000,
      "the superseded generation must stay fully readable (no displace)")
    assert(spark.read.parquet(g2).count() == 22000)
    // per-file disjoint z ranges hold in the rebuilt generation
    val ranges = spark.read.parquet(g2)
      .groupBy(input_file_name().as("f"))
      .agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    if (ranges.length > 1)
      ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping z-ranges in new generation")
      }
    // retention: prune to 1 retires the superseded generation
    graft.sources.DimStore.prune(spark, root, keep = 1)
    assert(!new java.io.File(g1).exists(), "pruned generation must be gone")
    assert(spark.read.parquet(ZOrder.zorderResolve(spark, root))
      .count() == 22000)
  }

  test("versioned root: the compaction drip fires a reader-atomic " +
    "rebuild — new generation, fresh ledgers, appends continue") {
    val rnd = new scala.util.Random(53)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong)).toDF("x", "y")
    val root = java.nio.file.Files
      .createTempDirectory("zverdrip").toString + "/t"
    ZOrder.zorderWriteRankedVersioned(batch(20000), "x", "y", root,
      bits = 16, numFiles = 8)
    graft.Sessions.clearDecisions()
    val picks = (1 to 16).map(_ => ZOrder.zorderAppendAuto(batch(500), root))
    assert(picks.take(15).forall(_ == "append"), picks.toString)
    assert(picks.last == "rebuild", picks.toString)
    val live = ZOrder.zorderResolve(spark, root)
    assert(live.endsWith("/v00002"),
      s"auto-rebuild must publish the next generation, live=$live")
    assert(spark.read.parquet(live).count() == 20000L + 16 * 500)
    // a new generation starts with fresh ledgers (no appendlog at all)
    assert(!new java.io.File(s"$live/_zmeta/appendlog").exists(),
      "new generation must not inherit the append ledger")
    assert(ZOrder.zorderAppendAuto(batch(500), root) == "append")
  }

  test("versioned root: a reader RACING rebuilds never sees a partial " +
    "layout — the atomicity claim under actual concurrency") {
    // the exact scenario an in-place rebuild cannot survive
    // (displace/move-in exposes a partial, momentarily empty file set —
    // DimStore's scaladoc): a reader loop resolving + scanning while
    // rebuilds land under it. With generation dirs every resolve pins
    // one immutable directory, and keep=2 retention outlives any scan
    // that started within the previous rebuild cycle.
    //
    // SCOPE (r18 ADVICE): the atomicity claim is REBUILD-only. Appends
    // mutate the live generation in place — tolerated ADDITIVE
    // visibility, same as appending files to any flat parquet table —
    // so a reader racing an APPEND can see the batch partially
    // committed, and this test's fixed-row-count assertion would be
    // wrong with concurrent appends in the loop. Rebuilds are the only
    // operation the generation protocol promises atomicity for; that
    // is what this test races.
    val rnd = new scala.util.Random(61)
    val root = java.nio.file.Files
      .createTempDirectory("zverrace").toString + "/t"
    ZOrder.zorderWriteRankedVersioned(
      Seq.fill(20000)((rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
        .toDF("x", "y"), "x", "y", root, bits = 16, numFiles = 8)
    @volatile var stop = false
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val scans = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      try while (!stop) {
        val n = spark.read.parquet(ZOrder.zorderResolve(spark, root)).count()
        if (n != 20000) throw new AssertionError(s"partial read: $n rows")
        scans.incrementAndGet(); ()
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try (1 to 3).foreach(_ => ZOrder.zorderRebuildVersioned(spark, root))
    finally { stop = true; reader.join(30000) }
    assert(failure.get() == null,
      s"racing reader failed: ${Option(failure.get()).map(_.toString)}")
    assert(scans.get() >= 3, s"reader only completed ${scans.get()} scans")
    assert(ZOrder.zorderResolve(spark, root).endsWith("/v00004"))
  }

  test("versioned root crash matrix: a torso generation is never " +
    "served, its number is reused, and a lost flip falls back") {
    val rnd = new scala.util.Random(59)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong)).toDF("x", "y")
    val root = java.nio.file.Files
      .createTempDirectory("zvercrash").toString + "/t"
    val g1 = ZOrder.zorderWriteRankedVersioned(batch(20000), "x", "y",
      root, bits = 16, numFiles = 8)
    // a rebuild killed mid-build: data landed, _zmeta never written —
    // _SUCCESS exists (parquet wrote it) but the LAYER completeness
    // (zComplete) correctly rejects the gutted generation
    batch(10).write.parquet(s"$root/v00002")
    assert(ZOrder.zorderResolve(spark, root) == g1,
      "a generation without _zmeta must never be served")
    // the next rebuild REUSES the torso's number and completes it
    val g2 = ZOrder.zorderRebuildVersioned(spark, root)
    assert(g2.endsWith("/v00002"))
    assert(spark.read.parquet(g2).count() == 20000)
    // lost flip: marker gone — resolve falls back to the highest
    // COMPLETE generation, which is the one the flip was publishing
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      root, graft.sources.DimStore.Marker), false)
    assert(ZOrder.zorderResolve(spark, root) == g2)
  }

  test("versioned root: a build crashed between the data write and the " +
    "last _zmeta sidecar — structurally 'complete' to an existence " +
    "gate — is rejected by the terminal marker (r18 ADVICE)") {
    val rnd = new scala.util.Random(67)
    def batch(n: Int) = Seq.fill(n)(
      (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong)).toDF("x", "y")
    val root = java.nio.file.Files
      .createTempDirectory("zvergut").toString + "/t"
    val g1 = ZOrder.zorderWriteRankedVersioned(batch(5000), "x", "y",
      root, bits = 16, numFiles = 4)
    // the crash state the r18 ADVICE named: data parquet landed and
    // `_zmeta` exists (meta written, xbounds/ybounds/basebuckets jobs
    // never finished) — the structural check alone would pass this, and appends
    // against it would fail on the missing sidecars
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    batch(100).write.parquet(s"$root/v00002")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v00002/_zmeta"))
    assert(ZOrder.zorderResolve(spark, root) == g1,
      "a marker-less generation must never be served")
    fs.delete(new org.apache.hadoop.fs.Path(
      root, graft.sources.DimStore.Marker), false)
    assert(ZOrder.zorderResolve(spark, root) == g1,
      "lost-marker fallback must skip a marker-less generation too")
    // the next rebuild reuses the torso's number and completes it
    val g2 = ZOrder.zorderRebuildVersioned(spark, root)
    assert(g2.endsWith("/v00002"))
    assert(spark.read.parquet(g2).count() == 5000)
  }
}
