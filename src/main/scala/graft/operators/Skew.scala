package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling aggregation (SCALE.md): two-stage salted aggregation
  * for hot keys. Stage 1 aggregates on (key, salt) — a hot key's rows
  * spread over 16 salt buckets — stage 2 combines the partials on
  * the key alone. Semantically identical to the direct aggregation for
  * any commutative+associative aggregate (verified against the plain
  * GROUP BY oracle).
  *
  * AQE's skew-join splitting covers joins; this covers aggregations
  * whose partial-agg map-side combine isn't enough (e.g. high-cardinality
  * secondary grouping or giant per-key value sets).
  */
object Skew {

  /** Deterministic per-row salt: hash of row content. A salt from
    * `rand()` or `monotonically_increasing_id()` changes when a
    * task recomputes (upstream shuffle order is not stable across
    * retries), and a shuffle KEY that changes on recompute silently
    * duplicates or drops rows when only some reducers refetch
    * (SPARK-23207 class). Content-derived salt is retry-stable;
    * fully identical salt inputs sharing a bucket is harmless — for
    * aggregation, map-side partial aggregation collapses them anyway.
    *
    * `saltOn` picks WHICH content the salt hashes. Empty (the default)
    * hashes every column — always safe, but it makes the salt reference
    * the whole row, which DEFEATS COLUMN PRUNING: the scan must read
    * every column, including ones the query never touches (the plan
    * audit caught q_salted_agg scanning all six events columns for a
    * two-column aggregate — 2× the bytes on the fixture, worse on
    * corpora with heavy payload columns). Callers that know a compact
    * high-entropy column (an
    * event id, a source offset) should pass it; the requirements are
    * (a) deterministic row content — retry-stability — and (b) enough
    * entropy WITHIN a hot key to spread its rows, which a
    * constant-per-key or low-cardinality column does not provide.
    */
  private def rowSalt(
      df: DataFrame, saltBuckets: Int, saltOn: Seq[Column]): Column = {
    val cols = if (saltOn.nonEmpty) saltOn else df.columns.map(col).toSeq
    pmod(xxhash64(cols: _*), lit(saltBuckets.toLong))
  }

  /** Salted two-stage sum/count. `sums` maps output column name → value
    * expression to sum. `saltOn`: see [[rowSalt]].
    */
  def saltedAgg(
      df: DataFrame,
      key: String,
      sums: Map[String, Column],
      saltOn: Seq[Column] = Nil): DataFrame = {
    val salted = df.withColumn("_salt", rowSalt(df, 16, saltOn))
    val partial = salted
      .groupBy(col(key), col("_salt"))
      .agg(
        sums.head match { case (n, c) => sum(c).as(n) },
        (sums.tail.map { case (n, c) => sum(c).as(n) }.toSeq :+
          count(lit(1)).as("_n")): _*)
    partial
      .groupBy(col(key))
      .agg(
        sums.head match { case (n, _) => sum(col(n)).as(n) },
        (sums.tail.map { case (n, _) => sum(col(n)).as(n) }.toSeq :+
          sum(col("_n")).as("n_rows")): _*)
  }

  /** Salted equi-join for a skewed fact side against a
    * small-but-not-broadcastable dimension: the fact side gets a
    * per-row salt in [0, saltBuckets), the dimension is replicated once
    * per salt value, and the join runs on (key, salt) — a hot key's rows
    * land on `saltBuckets` reducers instead of one. Result ≡ the
    * unsalted join (each fact row meets exactly one replica of its
    * dimension row; oracle-gated by q_salted_join).
    *
    * This is the manual fallback for shapes AQE's skew-join splitting
    * does not cover (AQE splits oversized SMJ partitions only after
    * materializing the map side — and only past its 256 MB/5× split
    * thresholds, leaving moderate skew untouched; salting declares the
    * spread up front and also helps the preceding exchange). Inner and
    * left joins only: a right/full join would emit unmatched dimension
    * rows once per replica.
    *
    * Measured guidance (SCALE.md §"Join skew, measured", derived sf10,
    * 1.5 M-row dim): salting reaches parity at a ~20 %-hot key and wins
    * 1.6× at 50 % hot — with saltBuckets = 4, not 16. The dominant cost
    * is replicating the dim `saltBuckets`× through the exchange, so
    * size the bucket count to the hot key's row share over the uniform
    * per-task share (4-way spread already took a 50 %-hot key from
    * 16× the average partition to 4×); a generous default pays for
    * spread the sort no longer needs. The uniform-corpus insurance
    * price of salted(4) measured 1.30×.
    *
    * Limitation: the salt is content-derived (see [[rowSalt]]), so rows
    * identical on the salt columns share one salt bucket. If a hot key's
    * rows are exact duplicates, all of them still land on one reducer and the
    * spread is defeated. That degenerate shape needs a pre-shuffle stable
    * row discriminator mixed into the salt — e.g. a source offset /
    * line-number column when the source provides one (rand() or
    * monotonically_increasing_id() are NOT retry-stable and would
    * corrupt the join on task retry, SPARK-23207 class). For
    * [[saltedAgg]] identical rows are harmless: map-side combine
    * collapses them before the exchange.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      // 4, not 16: join salting replicates the DIM per bucket, so the
      // default follows the measured optimum (salted(4) dominated
      // salted(16) on every corpus incl. 50 % hot — SCALE.md round 13);
      // saltedAgg keeps 16, its buckets cost only partial-agg rows
      saltBuckets: Int = 4,
      joinType: String = "inner",
      saltOn: Seq[Column] = Nil): DataFrame = {
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"saltedJoin supports inner/left joins, got $joinType")
    val saltedFact =
      fact.withColumn("_salt", rowSalt(fact, saltBuckets, saltOn))
    val replicatedDim = dim.withColumn("_salt",
      explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    saltedFact.join(replicatedDim,
      saltedFact(factKey) === replicatedDim(dimKey) &&
        saltedFact("_salt") === replicatedDim("_salt"),
      joinType)
      .drop("_salt")
  }

  /** Skew factor of a join key: (rows of the hottest key) / (rows per
    * task under uniform hashing) = hot-key row SHARE × shuffle width.
    * The share comes from a seeded row sample (share estimation is
    * unbiased under row sampling, unlike group-size estimation —
    * contrast WindowOps.hoppingMultiplicity, which must sample whole
    * keys) over a BOUNDED file subset (`Sessions.boundedFileSample`,
    * default ≤128 MiB): `sample()` prunes rows after the scan, so
    * without the file bound the probe still streams one column of the
    * entire fact — the same O(corpus) estimator I/O r14 removed from
    * the hopping estimator. A hash-spread file subset estimates the
    * share unbiasedly for row-scattered and time-partitioned layouts
    * (the normal fact/event shapes); a fact CLUSTERED by the join key
    * confines hot keys to few files and the subset can miss them —
    * raise `maxSampleBytes` (or pass Long.MaxValue) for key-clustered
    * layouts. Mis-estimation is performance-only either way: both picks
    * are result-identical (SkewSpec). Returns 0 on an empty sample
    * (reads as "no skew").
    */
  def factSkewFactor(
      fact: DataFrame,
      factKey: String,
      sampleFraction: Double = 0.01,
      maxSampleBytes: Long = 128L << 20): Double = {
    val spark = fact.sparkSession
    // Width from the FACT's own byte-derived autosize target, not the
    // session conf: the harnesses autosize AFTER query construction, so
    // the conf here still holds the PREVIOUS query's width — a leftover
    // 65536 from a capped query would inflate skewFactor = share × width
    // and flip a uniform corpus to the salted plan, making the pick
    // query-order-dependent (r13 ADVICE). shufflePartitionsFor(statsBytes)
    // is exactly what Sessions.autosizeFor will set for this query when
    // the fact dominates its input — deterministic per query, no conf read.
    val width = graft.Sessions.shufflePartitionsFor(
      graft.Sessions.statsBytes(fact),
      spark.sparkContext.defaultParallelism)
    // the memo stores the width-INDEPENDENT share (width is derived,
    // not measured — no reason to pin it into the cached value);
    // memoized per (plan, input size) — see Sessions.memoEstimate
    val share = graft.Sessions.memoEstimate(fact,
      s"skewshare|$factKey|$sampleFraction|$maxSampleBytes") {
      val (src, _, _) =
        graft.Sessions.boundedFileSample(fact, Seq(factKey), maxSampleBytes)
      val sampled =
        if (sampleFraction >= 1.0) src.select(col(factKey))
        else src.select(col(factKey)).sample(sampleFraction, 7L)
      val row = sampled.groupBy(col(factKey)).count()
        .agg(max(col("count")).as("mx"), sum(col("count")).as("tot"))
        .head()
      if (row.isNullAt(1) || row.getAs[Long]("tot") == 0L) 0.0
      else row.getAs[Long]("mx").toDouble / row.getAs[Long]("tot")
    }
    share * width
  }

  /** Adaptive skewed join — the third of the round-13 adaptive triple
    * (with hoppingPivotAuto and asOfJoinAuto): measures the fact key's
    * skew factor and picks the direct join below `skewThreshold`, the
    * salted join above it, sizing `saltBuckets` from the measurement
    * instead of a generous constant.
    *
    * Calibration is the measured table in SCALE.md §"Join skew,
    * measured": salting reached parity at skew factor ~6.4
    * (20 % hot × 32 tasks) and won 1.6× at 16 (50 % hot), with 4
    * buckets dominating 16 everywhere — so the default threshold is 8
    * (just past measured parity) and buckets = ceil(skewFactor / 4)
    * clamped to [2, 16]: enough spread to bring the hot key within ~4×
    * of the uniform per-task share, never paying for dim replication
    * the sort no longer needs. Estimator cost: one sampled
    * single-column scan of the fact side.
    */
  def saltedJoinAuto(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      joinType: String = "inner",
      skewThreshold: Double = 8.0,
      sampleFraction: Double = 0.01,
      saltOn: Seq[Column] = Nil): DataFrame = {
    // Validate up front, not only on the salted branch: an unsupported
    // joinType that happens to measure uniform would work today and then
    // throw at plan time the day the data skews — a data-dependent
    // runtime failure (r13 ADVICE). Same set saltedJoin accepts.
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"saltedJoinAuto supports inner/left joins, got $joinType")
    val s = factSkewFactor(fact, factKey, sampleFraction)
    if (s < skewThreshold) {
      graft.Sessions.recordDecision("saltedJoinAuto", s, skewThreshold, "direct")
      fact.join(dim, fact(factKey) === dim(dimKey), joinType)
    } else {
      val buckets = math.ceil(s / 4.0).toInt.max(2).min(16)
      graft.Sessions.recordDecision("saltedJoinAuto", s, skewThreshold,
        s"salted(buckets=$buckets)")
      saltedJoin(fact, dim, factKey, dimKey, buckets, joinType, saltOn)
    }
  }
}
