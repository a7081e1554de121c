package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Z-order (Morton) interleaving — multi-dimensional data clustering so
  * ONE sort order serves range predicates on BOTH dimensions.
  *
  * Why it matters at 100 TB: parquet min/max skipping only prunes on
  * the physical sort key. Sorting by x makes y predicates unprunable;
  * sorting by z(x, y) keeps rows close in BOTH coordinates inside each
  * file, so a rectangle query prunes files on either (or both) columns.
  * This is the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`,
  * re-expressed here as a pure column expression plus a range-
  * partitioned write.
  *
  * The interleave is a static fold of shift/mask terms — whole-stage
  * codegen'd integer ops, no UDF, no shuffle — and identical integer
  * arithmetic is expressible in ANSI SQL, so the z-value itself is
  * oracle-checkable.
  */
object ZOrder {

  /** Interleave the low `bits` bits of two non-negative integral
    * columns: bit i of `x` lands at position 2i, bit i of `y` at
    * 2i + 1. Values are masked to `bits` bits first, so out-of-range
    * inputs degrade to their low bits instead of colliding the high
    * ones. 2·bits ≤ 62 keeps the result positive in a signed long.
    */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xs = x.cast("long").bitwiseAND(lit((1L << bits) - 1))
    val ys = y.cast("long").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      val xb = shiftleft(xs.bitwiseAND(lit(1L << i)), i)
      val yb = shiftleft(ys.bitwiseAND(lit(1L << i)), i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)
  }

  /** N-column Morton interleave: bit i of column j lands at position
    * i·n + j, so `zValueN(Seq(x, y), bits)` ≡ [[zValue2]] exactly
    * (spec-pinned). n·bits ≤ 62 keeps the result positive in a signed
    * long — the budget the caller splits across dimensions (3 cols →
    * ≤ 20 bits each), which is also the honest statement of z-order's
    * limit: each added dimension costs every other dimension locality,
    * so cluster on the 2–4 columns range queries actually filter by,
    * not everything.
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2 && cols.size <= 8,
      s"zValueN takes 2..8 columns, got ${cols.size}")
    require(bits >= 1 && cols.size * bits <= 62,
      s"need n*bits <= 62, got ${cols.size} * $bits")
    val n = cols.size
    cols.zipWithIndex.map { case (c, j) =>
      val m = c.cast("long").bitwiseAND(lit((1L << bits) - 1))
      (0 until bits).map { i =>
        shiftleft(m.bitwiseAND(lit(1L << i)), i * (n - 1) + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Affine-scale a column to the full [0, 2^bits) range. Z-ordering
    * RAW values only clusters both dimensions when their domains have
    * comparable bit widths: with x spanning 15 bits and y spanning 10,
    * z's high bits are x's alone (y's bits 10-14 are constant zero), so
    * range-partitioning on z degenerates to partitioning on x and the
    * y-dimension gets no locality at all — measured: 99 % of rows
    * scanned for a 5 % y-range predicate under raw interleaving
    * (SCALE.md "Round 14: z-order clustering").
    * Scaling both dimensions to the same width restores the alternating
    * quadtree cuts that make BOTH dimensions prunable. (Min/max scaling
    * assumes roughly uniform domains — the fixture's and TPC-H's shape;
    * for heavily skewed columns use [[zorderWriteRanked]], which maps
    * values to exact ranks first and interleaves those.)
    */
  def scaleTo(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val width = math.max(1L, hi - lo)
    ((c.cast("double") - lo) * (((1L << bits) - 1).toDouble / width))
      .cast("long")
  }

  /** Cluster-write: min/max-scale both dimensions to `bits` width (see
    * [[scaleTo]]), compute z, range-partition on it (disjoint z
    * intervals per output file — that disjointness IS the pruning
    * guarantee), sort within partitions so parquet row-group min/max
    * stays tight, and write. `numFiles` sizes output files; pass 0 (the
    * default) to derive it from the input's Catalyst leaf stats at a
    * 128 MiB-per-file target — the bytes-per-file sizing a real table
    * layout uses, same stats source as the shuffle-width autosizing
    * (`graft.Sessions`), clamped to [1, 65536]. The min/max pass is one
    * cheap two-column agg; at 100 TB use table-level stats instead.
    */
  val TargetBytesPerFile: Long = 128L << 20

  /** Stats at or above this are Catalyst's unknown-size sentinel
    * (`defaultSizeInBytes` = Long.MaxValue, possibly summed with real
    * leaf bytes), not a measurement — no real aggregate reaches 2.3 EB.
    */
  private val UnknownStatsFloor: Long = Long.MaxValue / 4

  /** Bytes → output-file count at [[TargetBytesPerFile]], clamped to
    * [1, 65536]. An UNKNOWN stat (an uncached RDD-backed input — e.g. a
    * foreachBatch micro-batch with no file leaves to clamp against)
    * must NOT map to the 65536-file ceiling: in the append path that
    * would both request a 65536-way range shuffle per micro-batch and
    * poison the appendlog so the very next [[zorderAppendAuto]] fires a
    * full rebuild on every batch (r16 ADVICE). Unknown → the caller's
    * fallback: 1 file for an append micro-batch, the session shuffle
    * width for a one-shot write.
    */
  private def filesFor(bytes: Long, unknownFallback: => Int): Int =
    if (bytes >= UnknownStatsFloor) math.max(1, unknownFallback)
    else math.max(1L, math.min(65536L,
      (bytes + TargetBytesPerFile - 1) / TargetBytesPerFile)).toInt

  private def shuffleWidth(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  def zorderWrite(
      df: DataFrame,
      xCol: String,
      yCol: String,
      path: String,
      bits: Int = 16,
      numFiles: Int = 0): Unit = {
    val r = df.agg(
      min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    require(!r.anyNull, s"zorderWrite: empty input or null keys in $xCol/$yCol")
    val files =
      if (numFiles > 0) numFiles
      else filesFor(graft.Sessions.statsBytes(df), shuffleWidth(df))
    val zx = scaleTo(col(xCol), r.getLong(0), r.getLong(1), bits)
    val zy = scaleTo(col(yCol), r.getLong(2), r.getLong(3), bits)
    df.withColumn("z", zValue2(zx, zy, bits))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(path)
  }

  /** Exact 0-based dense rank of the DISTINCT non-null values of `c`:
    * returns the two-column relation (_v: long, _r: long) with `_r` =
    * position of `_v` in ascending order. Distributed exact rank, no
    * single-task window: distinct → range-repartition → sort within
    * partitions → `zipWithIndex` (partition-ordered, so the index IS
    * the global rank; range boundaries are sampled but any boundary
    * placement yields the same value→rank mapping, so the result is
    * deterministic). Cost: one distinct shuffle + one range shuffle
    * over the DOMAIN, which is ≪ rows for any real cluster key.
    */
  def rankMap(df: DataFrame, c: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.select(col(c).cast("long").as("_v"))
      .filter(col("_v").isNotNull).distinct()
      .repartitionByRange(col("_v")).sortWithinPartitions("_v")
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) => Row(r.getLong(0), i) }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("_v", LongType, nullable = false),
      StructField("_r", LongType, nullable = false))))
  }

  /** Rank-preprocessed z column: both dimensions mapped to their exact
    * dense rank, the ranks min/max-scaled (lo = 0, hi = maxRank — the
    * same [[scaleTo]] affine step, now over a domain that is contiguous
    * BY CONSTRUCTION), then interleaved. This is the skew-proof layout
    * key: min/max scaling of raw values collapses under heavy-tailed
    * domains — one 2⁴⁰ outlier over a 2²⁰-wide mass maps the entire
    * mass to scaled bucket 0, silently degenerating the layout the same
    * way the unequal-domain bug did (r14, 99.15 % scanned)
    * — while ranks are distribution-free: exactly ⌈n/2^bits⌉ distinct
    * values per bucket for ANY input distribution. Rows with a null in
    * either dimension are dropped (no rank exists for them), matching
    * [[zorderWrite]]'s non-null requirement.
    *
    * Scale shape: two rank-map joins on the key columns — AQE
    * broadcasts a small domain's map, a 10⁸-key domain goes SMJ; either
    * way the cost is borne once at WRITE time, which is where layout
    * belongs. On a contiguous 0..n−1 domain ranks equal values, so this
    * reduces to exactly the min/max-scaled key (spec-pinned).
    */
  def withRankedZ(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int = 16,
      zName: String = "z"): DataFrame =
    rankedZParts(df, xCol, yCol, bits, zName).zdf

  /** The ranked-z construction with its intermediates exposed, so the
    * cluster-write can derive the `_zmeta` anchor boundaries from the
    * SAME rank maps it sorts by instead of recomputing them — two
    * domain shuffles saved per write, and the frozen append boundaries
    * are BY CONSTRUCTION the write's own mapping. `materialize` is the
    * write path's flag: there each map feeds both the fact join and
    * the boundary aggregation, so the zipWithIndex lineage would
    * re-execute per consumer; the pure-query path (q_zorder_ranked's
    * oracle) keeps the lazy single-consumer plan untouched.
    */
  private final case class RankedZ(
      zdf: DataFrame, rx: DataFrame, ry: DataFrame, nx: Long, ny: Long)

  private def rankedZParts(
      df: DataFrame, xCol: String, yCol: String,
      bits: Int, zName: String = "z",
      materialize: Boolean = false): RankedZ = {
    // cache, not localCheckpoint: the write path UNPERSISTS after the
    // metadata lands — a long-lived ingest JVM must not accumulate a
    // checkpointed copy per write (r16 review)
    def m(d: DataFrame) = if (materialize) d.cache() else d
    val rxBase = m(rankMap(df, xCol))
    val ryBase = m(rankMap(df, yCol))
    val rx = rxBase
      .withColumnRenamed("_v", "_xv").withColumnRenamed("_r", "_xr")
    val ry = ryBase
      .withColumnRenamed("_v", "_yv").withColumnRenamed("_r", "_yr")
    val nx = rx.agg(max(col("_xr"))).head()
    val ny = ry.agg(max(col("_yr"))).head()
    require(!nx.isNullAt(0) && !ny.isNullAt(0),
      s"withRankedZ: empty input or all-null keys in $xCol/$yCol")
    val zdf = df.join(rx, col(xCol).cast("long") === col("_xv"))
      .join(ry, col(yCol).cast("long") === col("_yv"))
      .withColumn(zName, zValue2(
        scaleTo(col("_xr"), 0L, nx.getLong(0), bits),
        scaleTo(col("_yr"), 0L, ny.getLong(0), bits), bits))
      .drop("_xv", "_xr", "_yv", "_yr")
    RankedZ(zdf, rxBase, ryBase, nx.getLong(0), ny.getLong(0))
  }

  /** Cluster-write over RANK-scaled dimensions (see [[withRankedZ]]) —
    * the operator the [[scaleTo]] scaladoc used to delegate to caller
    * knowledge ("for heavily skewed columns, map values to ranks
    * first"). Same range-partitioned, within-sorted, bytes-sized write
    * as [[zorderWrite]]; only the key preprocessing differs. Measured
    * on log-uniform heavy-tailed keys: the min/max layout collapses
    * while this one prunes like the uniform case — SCALE.md "Round 15:
    * z-order under heavy-tailed domains".
    */
  def zorderWriteRanked(
      df: DataFrame,
      xCol: String,
      yCol: String,
      path: String,
      bits: Int = 16,
      numFiles: Int = 0): Unit = {
    val spark = df.sparkSession
    val files =
      if (numFiles > 0) numFiles
      else filesFor(graft.Sessions.statsBytes(df), shuffleWidth(df))
    val parts = rankedZParts(df, xCol, yCol, bits, "z", materialize = true)
    try {
      parts.zdf
        .repartitionByRange(files, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(path)
      writeZMeta(spark, parts, xCol, yCol, path, bits)
    } finally {
      parts.rx.unpersist(); parts.ry.unpersist(); ()
    }
  }

  // ——— append-under-drift layer (r15 VERDICT #5: the NINTH adaptive
  // element; [[zorderAppendAuto]] is the decision) ———————————————————

  /** Anchor resolution for the frozen append mapping: boundaries are
    * kept for the top `AnchorBits` bits of each dimension (≤ 4096
    * anchors — driver-bounded at ANY corpus size; a full 2^bits=2^24
    * boundary table would not be). Appended rows are therefore placed
    * at anchor resolution (low bits zero) — files are far coarser than
    * 12-bit cells, so footer pruning loses nothing.
    */
  val AnchorBits = 12

  /** Coarse z cell for the staleness signal: top [[SignalBits]] bits of
    * each dimension → ≤ 64 cells, the z-layout analogue of the IVF
    * index's coarse cells (nlist ≈ 16 there). Deliberately COARSE: the
    * skew statistic is max-cell ÷ uniform-share, and with thousands of
    * cells multinomial noise alone drives the max several × the mean at
    * realistic batch sizes; at 64 cells same-distribution appends
    * measure skew ≈ 1 (the ranked layout makes base z-mass uniform BY
    * CONSTRUCTION — equal rank counts per bucket) while an uncovered
    * region clamping into one anchor still reads skew ≈ 64.
    */
  val SignalBits = 3

  private def zCell(z: Column, bits: Int): Column = {
    val s = math.max(0, 2 * (bits - math.min(SignalBits, bits)))
    shiftright(z, s)
  }

  /** Persist the layout's frozen metadata under `$path/_zmeta`
    * (underscore prefix: hidden from parquet file discovery, so table
    * reads never see it):
    *  - `meta`: (xcol, ycol, bits) — rebuild recovers its own params;
    *  - `xbounds`/`ybounds`: per occupied [[AnchorBits]]-bit rank
    *    bucket, the smallest value mapping into it — the FROZEN
    *    value→rank-bucket boundaries appends are encoded against;
    *  - `basebuckets`: per coarse z cell ([[zCell]]), rows written at
    *    build time — the drift baseline, mirroring ivfPqWriteIndex's
    *    `basecells` (one z-column-only scan of the fresh table).
    */
  private def writeZMeta(
      spark: org.apache.spark.sql.SparkSession,
      parts: RankedZ, xCol: String, yCol: String,
      path: String, bits: Int): Unit = {
    val a = math.min(bits, AnchorBits)
    def bounds(rm: DataFrame, n: Long): DataFrame =
      rm.groupBy(scaleTo(col("_r"), 0L, n, a).as("b"))
        .agg(min(col("_v")).as("lo"))
    import spark.implicits._
    Seq((xCol, yCol, bits)).toDF("xcol", "ycol", "bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_zmeta/meta")
    bounds(parts.rx, parts.nx).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zmeta/xbounds")
    bounds(parts.ry, parts.ny).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zmeta/ybounds")
    spark.read.parquet(path).groupBy(zCell(col("z"), bits).as("zb"))
      .agg(count(lit(1)).as("base_rows"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_zmeta/basebuckets")
  }

  /** Frozen-boundary bucket mapping for one dimension of an append
    * batch: binary-search the stored anchor boundaries (a bounded
    * ≤ 4096-row table → driver array → `ml.feature.Bucketizer`, which
    * is a per-row binary search with no shuffle), then left-shift the
    * anchor index to `bits` resolution. Values below the first
    * boundary clamp to the lowest anchor, values past the last to the
    * highest — exactly the degradation mode the staleness signal
    * watches: an uncovered region's appends all clamp into one or few
    * cells.
    */
  private def frozenScaled(
      batch: DataFrame, valueCol: String, boundsPath: String,
      bits: Int, outCol: String): DataFrame = {
    val spark = batch.sparkSession
    val bs = spark.read.parquet(boundsPath).orderBy("lo")
      .collect().map(r => (r.getAs[Long]("b"), r.getAs[Long]("lo")))
    val a = math.min(bits, AnchorBits)
    // Bucketizer compares in DOUBLE space: boundary longs past 2^53 can
    // collide after the cast (double ulp at 9e18 is 2048) and splits
    // must be strictly increasing — collapse each equal-double run to
    // its FIRST anchor (values between collapsed anchors floor to it,
    // the same semantics every unseen value already gets)
    val paired = bs.map { case (b, lo) => (lo.toDouble, b << (bits - a)) }
      .foldLeft(Vector.empty[(Double, Long)]) {
        case (acc, (d, _)) if acc.nonEmpty && acc.last._1 == d => acc
        case (acc, p) => acc :+ p
      }
    val scaledVals = paired.map(_._2).toArray
    if (paired.length < 2) // degenerate single-anchor dimension: constant
      return batch.withColumn(outCol, lit(scaledVals.headOption.getOrElse(0L)))
    val splits = Double.NegativeInfinity +:
      paired.drop(1).map(_._1).toArray :+ Double.PositiveInfinity
    val tmpIn = s"__${outCol}_in"
    val tmpIdx = s"__${outCol}_idx"
    val bucketed = new org.apache.spark.ml.feature.Bucketizer()
      .setInputCol(tmpIn).setOutputCol(tmpIdx).setSplits(splits)
      .transform(batch.withColumn(tmpIn, col(valueCol).cast("double")))
    bucketed.withColumn(outCol,
      element_at(typedLit(scaledVals.toSeq), col(tmpIdx).cast("int") + 1))
      .drop(tmpIn, tmpIdx)
  }

  /** Append a batch to a [[zorderWriteRankedVersioned]] root under the
    * FROZEN write-time layout: both dimensions mapped through the live
    * generation's stored anchor boundaries (never re-ranked —
    * re-ranking would silently shear new files' z space against old
    * files'), z interleaved at the table's bits, the batch
    * range-partitioned and sorted on z and written as new files beside
    * the existing ones, INSIDE the live generation (additive — readers
    * tolerate new files the same way they do on any parquet table).
    * Per-batch coarse cell counts are appended to
    * `_zmeta/appendbuckets`, so the staleness decision
    * ([[zorderAppendAuto]]) is metadata-only. Rows with a null in
    * either dimension are dropped, matching the write. The batch must
    * carry the table's data columns. A flat root is refused before any
    * write.
    */
  def zorderAppendRanked(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    requireVersioned(spark, path, "zorderAppendRanked")
    val live = graft.sources.DimStore.currentPath(spark, path, zComplete)
    val meta = spark.read.parquet(s"$live/_zmeta/meta").head()
    val (xCol, yCol, bits) =
      (meta.getString(0), meta.getString(1), meta.getInt(2))
    val clean = batch
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // empty (or fully null-filtered) batches are a no-op: ledger rows
    // for them would let a quiet stream's idle micro-batches alone
    // drive the compaction trigger into a pointless full rebuild
    if (clean.isEmpty) return
    // cache + unpersist, not localCheckpoint: withZ feeds the bucket
    // ledger AND the data write, but a streaming ingest JVM appending
    // per micro-batch must not accumulate a materialized copy per
    // batch (r16 review)
    val withZ = frozenScaled(
      frozenScaled(clean, xCol, s"$live/_zmeta/xbounds", bits, "__zx"),
      yCol, s"$live/_zmeta/ybounds", bits, "__zy")
      .withColumn("z", zValue2(col("__zx"), col("__zy"), bits))
      .drop("__zx", "__zy")
      .cache()
    try {
      // MATERIALIZE the cache before sizing: a foreachBatch/LogicalRDD
      // micro-batch has no leaf stats at all, and the unknown sentinel
      // used to land on the 65536-file ceiling — a 65536-way shuffle
      // per micro-batch plus an appendlog row that fired a full rebuild
      // on the very next batch (r16 ADVICE). Once the cached batch is
      // materialized, statsBytes reads the InMemoryRelation's ACTUAL
      // cached bytes; if even that is unavailable, one file is the
      // right micro-batch posture (the compaction trigger prices the
      // accumulation).
      withZ.count()
      val files = filesFor(graft.Sessions.statsBytes(withZ), 1)
      val fs = new org.apache.hadoop.fs.Path(live)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def partCount: Long = fs.listStatus(new org.apache.hadoop.fs.Path(live))
        .count(_.getPath.getName.endsWith(".parquet")).toLong
      val before = partCount
      // DATA FIRST, ledgers second: a crash between the two leaves the
      // signals UNDER-counting (conservative — a stale-signal append is
      // re-priced by the next batch), whereas ledger-first would count
      // rows that never landed and could fire a spurious full rebuild
      withZ.repartitionByRange(files, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("append").parquet(live)
      withZ.groupBy(zCell(col("z"), bits).as("zb"))
        .agg(count(lit(1)).as("rows"))
        .coalesce(1).write.mode("append").parquet(s"$live/_zmeta/appendbuckets")
      // one ledger row per append: how many files this batch ACTUALLY
      // added — a before/after root listing, not the requested
      // partition count, so empty range partitions (which write no
      // file) and any sizing fallback can't inflate the COMPACTION
      // axis (see zorderAppendAuto's MaxAppendFiles; r16 ADVICE)
      import spark.implicits._
      Seq(math.max(1L, partCount - before)).toDF("files")
        .coalesce(1).write.mode("append").parquet(s"$live/_zmeta/appendlog")
    } finally { withZ.unpersist(); () }
  }

  /** [[zorderAppendAuto]]'s staleness triggers, calibrated there. */
  private val RebuildThreshold = 2.0
  private val SkewThreshold = 4.0
  private val MinShare = 0.05
  private val MaxAppendFiles = 16L

  /** Append + staleness decision — the NINTH adaptive element,
    * mirroring [[graft.llm.Similarity.ivfPqAppendAuto]] (the IVF
    * codebook and the rank map freeze the SAME kind of write-time
    * distribution knowledge). Appends under the frozen anchor map are
    * exactly right while the batch looks like the build distribution
    * and exactly wrong once it doesn't: an uncovered value region
    * clamps whole batches into one or few coarse z cells, the files
    * written there overlap in z-space, and footer pruning for queries
    * in that region decays as the appended mass grows — measured, not
    * asserted (SCALE.md "Round 16: z-order append staleness").
    *
    * The trigger must be computable without re-scanning the table:
    * signal = appendedShare × cellSkew, both from the `_zmeta` bucket
    * ledgers (metadata-only);
    *  - appendedShare = appended rows ÷ build rows;
    *  - cellSkew = max appended-cell count ÷ uniform share over the
    *    build's occupied cells (1.0 = appends spread like the build,
    *    the cell count = everything crammed into one cell).
    * Dual rule as calibrated for IVF and re-measured here: rebuild on
    * signal ≥ [[RebuildThreshold]], OR on skew ≥ [[SkewThreshold]] once
    * share clears [[MinShare]] (a drifted sliver's product under-fires while its
    * skew is unambiguous; same-distribution skew stays ≈ 1).
    *
    * THIRD trigger, the COMPACTION axis: every appended batch small
    * enough to write one file spans the FULL z range (the batch is
    * range-partitioned over its OWN rows), so a point query's file
    * candidates grow by ~1 per such batch — a decay the share × skew
    * product only prices once appends reach 2× the base VOLUME, while
    * a drip of tiny batches gets there in file COUNT long before
    * (measured: 2–5× stale-vs-rebuilt gap at share ≤ 0.5 under 1-file
    * slices, flat under production 128 MiB slices — SCALE.md "Round 16:
    * z-order append staleness"). The `_zmeta/appendlog` ledger counts
    * files per append; total appended files ≥ [[MaxAppendFiles]] fires a
    * rebuild — the OPTIMIZE cadence every production table format
    * schedules. `MaxAppendFiles = 16` is swept (r17, 4/8/16/32;
    * SCALE.md "Round 17: maxAppendFiles probe-swept"): each halving
    * doubles rebuild spend and halves mean scan amplification; 16
    * bounds a point query's extra file opens at ~16 — a
    * table-size-independent latency bound —
    * while rebuild cost grows WITH table size, which at 100 TB pushes
    * the crossover toward higher thresholds (read-heavy medium tables
    * want 8). A fired rebuild is [[zorderRebuildVersioned]]: the next
    * generation, published beside the live one. Returns "append" |
    * "rebuild".
    */
  def zorderAppendAuto(
      batch: DataFrame,
      path: String): String = {
    val spark = batch.sparkSession
    requireVersioned(spark, path, "zorderAppendAuto")
    // resolve the generation ONCE: the append below lands in it, the
    // ledgers are read from it, and a fired rebuild publishes the NEXT
    // generation
    val live = graft.sources.DimStore.currentPath(spark, path, zComplete)
    def rebuildNow(): Unit = { zorderRebuildVersioned(spark, path); () }
    zorderAppendRanked(batch, path)
    // ledgers may not exist yet when every append so far was empty
    // (empty batches are no-ops and write nothing)
    val lgP = new org.apache.hadoop.fs.Path(s"$live/_zmeta/appendlog")
    val lgFs = lgP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!lgFs.exists(lgP)) {
      graft.Sessions.recordDecision("zorderAppendAuto", 0.0,
        RebuildThreshold, "append")
      return "append"
    }
    val appendedFiles = spark.read.parquet(s"$live/_zmeta/appendlog")
      .agg(sum(col("files"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    if (appendedFiles >= MaxAppendFiles) {
      graft.Sessions.recordDecision("zorderAppendAuto",
        appendedFiles.toDouble, MaxAppendFiles.toDouble,
        s"rebuild(files $appendedFiles)")
      rebuildNow()
      return "rebuild"
    }
    val base = spark.read.parquet(s"$live/_zmeta/basebuckets")
    val app = spark.read.parquet(s"$live/_zmeta/appendbuckets")
      .groupBy("zb").agg(sum(col("rows")).as("rows"))
    val r = app.agg(sum(col("rows")), max(col("rows"))).head()
    if (r.isNullAt(0)) { // empty batch ledger: nothing to decide
      graft.Sessions.recordDecision("zorderAppendAuto", 0.0,
        RebuildThreshold, "append")
      return "append"
    }
    val appended = r.getLong(0)
    val maxCell = r.getLong(1)
    val b = base.agg(sum(col("base_rows")), count(lit(1))).head()
    val baseRows = math.max(1L, b.getLong(0))
    val baseCells = math.max(1L, b.getLong(1))
    val share = appended.toDouble / baseRows
    val skew = maxCell.toDouble / (appended.toDouble / baseCells)
    val signal = share * skew
    val rebuild = signal >= RebuildThreshold ||
      (skew >= SkewThreshold && share >= MinShare)
    val choice =
      if (!rebuild) "append"
      else if (signal >= RebuildThreshold) "rebuild"
      else f"rebuild(skew $skew%.1f)"
    graft.Sessions.recordDecision("zorderAppendAuto", signal,
      RebuildThreshold, choice)
    if (rebuild) { rebuildNow(); "rebuild" } else "append"
  }

  // ——— GENERATION-VERSIONED roots: the one maintained layout (r17 #7) ———
  //
  // A maintained z-order table is a versioned root, the DimStore way:
  // each rebuild publishes a complete new GENERATION (`$root/vNNNNN/…`
  // with its own `_zmeta`) beside the live one and flips
  // `$root/_CURRENT`; readers resolve the pointer at plan time and scan
  // one immutable generation end to end, so a rebuild landing mid-query
  // changes the NEXT query, never a running scan, and no reader ever
  // quiesces. Appends stay IN-PLACE inside the live generation —
  // additive file writes readers tolerate exactly as on any parquet
  // table — and every generation's fresh `_zmeta` resets the append
  // ledgers on rebuild for free. Cost: the superseded generation
  // lingers until [[graft.sources.DimStore.prune]] (a retention window
  // for pinned readers — bounded extra disk, the price of atomicity).
  // A flat [[zorderWriteRanked]] table still reads through
  // [[zorderResolve]], but it is write-once: append and rebuild refuse it.

  /** z-order completeness as a [[graft.sources.DimStore.Complete]]:
    * a servable generation has its `_zmeta`, ≥ 1 data file, AND the
    * terminal [[graft.sources.DimStore.GenMarker]]. The marker is
    * load-bearing: writeZMeta lands meta/xbounds/ybounds/basebuckets
    * as four separate jobs after the data write, so a crash after the
    * data + `meta` jobs leaves a generation that an existence-only
    * gate judges complete but whose appends/auto-decisions fail on
    * the missing sidecars (r18 ADVICE — same class as the IVF gate).
    * Build closures stamp the marker after ALL `_zmeta` children land.
    */
  private val zComplete: graft.sources.DimStore.Complete =
    graft.sources.DimStore.stamped((fs, dir) =>
      fs.exists(new org.apache.hadoop.fs.Path(dir, "_zmeta")) &&
        fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet")))

  /** The maintenance entry points' first step: a flat table — including
    * one an older binary left mid-swap — is refused here, before any
    * write, with the one-time migration named.
    */
  private def requireVersioned(
      spark: org.apache.spark.sql.SparkSession, root: String, op: String): Unit =
    require(graft.sources.DimStore.isVersionedRoot(spark, root),
      s"$op: $root is not a generation-versioned root — append and rebuild " +
        "maintain versioned roots only; migrate a flat z-order table once " +
        "by writing its rows (without `z`) with zorderWriteRankedVersioned")

  /** The live data directory of a z-order root: versioned roots
    * resolve through `_CURRENT` (mid-flip crash falls back to the
    * highest complete generation), flat write-once tables resolve to
    * themselves. Call PER QUERY (plan-time resolution = per-scan
    * immutability).
    */
  def zorderResolve(
      spark: org.apache.spark.sql.SparkSession, root: String): String =
    if (graft.sources.DimStore.isVersionedRoot(spark, root))
      graft.sources.DimStore.currentPath(spark, root, zComplete)
    else root

  /** [[zorderWriteRanked]] into a fresh generation of a versioned root
    * (creating the root on first call); returns the generation's
    * immutable path. The flip is the publish's last step, so a crash
    * anywhere in the build leaves the previous generation live.
    */
  def zorderWriteRankedVersioned(
      df: DataFrame,
      xCol: String,
      yCol: String,
      root: String,
      bits: Int = 16,
      numFiles: Int = 0): String =
    graft.sources.DimStore.publishWith(df.sparkSession, root, zComplete) {
      dir =>
        zorderWriteRanked(df, xCol, yCol, dir, bits, numFiles)
        graft.sources.DimStore.stamp(df.sparkSession, dir) // terminal
    }

  /** Reader-atomic rebuild: re-cluster the live generation's current
    * rows (base + appends) into the NEXT generation and flip. Readers
    * never quiesce; two generations are retained for readers pinned
    * to a superseded path (retire with prune's retention contract).
    */
  def zorderRebuildVersioned(
      spark: org.apache.spark.sql.SparkSession,
      root: String): String = {
    val live = graft.sources.DimStore.currentPath(spark, root, zComplete)
    val meta = spark.read.parquet(s"$live/_zmeta/meta").head()
    val (xCol, yCol, bits) =
      (meta.getString(0), meta.getString(1), meta.getInt(2))
    // NO checkpoint of `current`: materializing the FULL table to
    // executor storage is exactly what cannot happen at 100 TB, and the
    // build's scans re-read the live generation's files, which nothing
    // renames or deletes before prune
    val current = spark.read.parquet(live).drop("z")
    val out = graft.sources.DimStore.publishWith(spark, root, zComplete) {
      dir =>
        zorderWriteRanked(current, xCol, yCol, dir, bits)
        graft.sources.DimStore.stamp(spark, dir) // terminal artifact
    }
    graft.sources.DimStore.prune(spark, root, 2, zComplete)
    out
  }

  /** N-column cluster-write ([[zValueN]] over min/max-scaled
    * dimensions) — the training-data layout shape: cluster documents on
    * (source, length-bucket, quality-bucket) so per-dimension range
    * filters all prune. Each column gets its share of the 62-bit
    * budget; everything else as [[zorderWrite]].
    */
  def zorderWriteN(
      df: DataFrame,
      cols: Seq[String],
      path: String,
      numFiles: Int = 0): Unit = {
    require(cols.size >= 2 && cols.size <= 8,
      s"zorderWriteN takes 2..8 columns, got ${cols.size}")
    val b = 62 / cols.size
    val r = df.agg(
      min(col(cols.head)).cast("long"),
      max(col(cols.head)).cast("long") +:
        cols.tail.flatMap(c =>
          Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))): _*)
      .head()
    require(!r.anyNull, s"zorderWriteN: empty input or null keys in $cols")
    val files =
      if (numFiles > 0) numFiles
      else filesFor(graft.Sessions.statsBytes(df), shuffleWidth(df))
    val scaled = cols.zipWithIndex.map { case (c, j) =>
      scaleTo(col(c), r.getLong(2 * j), r.getLong(2 * j + 1), b)
    }
    df.withColumn("z", zValueN(scaled, b))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(path)
  }
}
