package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / data-mixing / sequence-packing operators for
  * training-data pipelines (driver north star; run on the `documents`
  * fixture).
  *
  * Everything here keys off an md5-derived hex sampling key instead of
  * `rand()`: the sample is reproducible across runs, engines, cluster
  * sizes, AND incremental re-runs (a doc's keep/drop decision never
  * depends on what else is in the corpus), which is what a 100 TB corpus
  * refresh actually needs — re-sampling must not churn previously
  * selected documents. rand()-based sampling has none of those
  * properties; it is also unverifiable, while every operator in this file
  * is DuckDB-oracle-checked bit-for-bit.
  *
  * Scale shapes: [[deterministicSample]] / [[stratifiedSample]] are pure
  * filters (scan-speed, no shuffle, pushdown-friendly);
  * [[tokenBudgetSample]] / [[packSequences]] shuffle once on the group
  * column and sort within group — the canonical window shape whose
  * parallelism is the number of groups (domains/sources), which is
  * exactly the unit a mixing policy is written in.
  */
object Sampling {

  /** 32-bit sampling key as 8 lowercase hex chars: the first 8 hex digits
    * of md5 of the key's string form. Lexicographic comparison on the hex
    * IS numeric comparison on the top 32 bits — portable to any engine
    * with md5 (DuckDB oracle compares the identical string).
    */
  def samplingKey(key: Column): Column =
    substring(md5(key.cast("string")), 1, 8)

  /** Hex threshold such that P[key < threshold] = fraction under a
    * uniform 32-bit key. fraction >= 1 returns "g" (above every hex
    * string — keep all); fraction <= 0 returns "" (below — keep none).
    */
  def hexThreshold(fraction: Double): String =
    if (fraction >= 1.0) "g"
    else if (fraction <= 0.0) ""
    else f"${(fraction * 4294967296.0).toLong}%08x"

  /** Keep a deterministic `fraction` of rows by hash of `key`. Pure
    * filter: no shuffle, no state, no seed to thread — the same row set
    * at any scale, on any engine, in any run.
    */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(samplingKey(key) < lit(hexThreshold(fraction)))

  /** Per-group sampling fractions (domain mixing by rate): each group in
    * `fractions` keeps its own deterministic fraction, everything else
    * keeps `defaultFraction`. Still a pure filter — the policy compiles
    * to a CASE chain over the group column, so there is no join and no
    * shuffle; this is how "oversample curated, downsample crawl" runs at
    * corpus scale.
    */
  def stratifiedSample(
      df: DataFrame,
      key: Column,
      group: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    val threshold = fractions.foldLeft(lit(hexThreshold(defaultFraction))) {
      case (acc, (g, f)) => when(group === g, lit(hexThreshold(f))).otherwise(acc)
    }
    df.filter(samplingKey(key) < threshold)
  }

  /** Quality-weighted deterministic sampling: keep each row with its
    * OWN probability — a column, e.g. a quality score mapped to [0, 1]
    * — decided against the same md5 sampling key as
    * [[deterministicSample]]. This is the importance-sampling step of
    * quality-weighted corpus curation ("sample documents proportional
    * to quality", à la the DCLM/FineWeb quality-classifier pipelines),
    * with the file's reproducibility contract intact: no rand(), no
    * seed, a row's keep/drop never churns as the corpus grows, and the
    * decision is a pure codegen'd filter (no shuffle, scan-speed).
    * The per-row hex threshold is built with the identical
    * floor(p · 2³²) arithmetic as [[hexThreshold]], so the DuckDB
    * oracle compares the very same strings.
    */
  def weightedSample(df: DataFrame, key: Column, prob: Column): DataFrame = {
    val p = least(greatest(prob.cast("double"), lit(0.0)), lit(1.0))
    val thr = lpad(lower(hex(floor(p * 4294967296.0).cast("long"))), 8, "0")
    // p = 1 makes the hex threshold 9 chars ("100000000") which lpad
    // would truncate — the disjunct keeps those rows unconditionally
    df.filter(p >= 1.0 || samplingKey(key) < thr)
  }

  /** Embargoed temporal split (purged time-series split): train is
    * strictly before `trainEnd`, test at or after `trainEnd` +
    * `embargoSec` (a row exactly at the embargo end is test — the
    * oracled `>=` boundary), and rows inside the embargo window are assigned
    * "embargo" (to be DROPPED by the caller) — the gap prevents
    * look-ahead leakage when features aggregate trailing windows (a
    * test row just after the boundary would otherwise see train-period
    * events inside its feature horizon; the embargo must be ≥ the
    * longest feature lookback). Pure projection: no shuffle, no state,
    * pushdown-friendly — the split predicate prunes partitions when
    * the table is date-partitioned.
    */
  def temporalSplit(
      df: DataFrame,
      tsCol: String,
      trainEnd: String,
      embargoSec: Long): DataFrame = {
    require(embargoSec >= 0, s"embargoSec must be >= 0, got $embargoSec")
    val cut = to_timestamp(lit(trainEnd))
    val ts = col(tsCol)
    df.withColumn("split",
      when(ts < cut, "train")
        .when(ts >= cut + expr(s"INTERVAL $embargoSec SECONDS"), "test")
        .otherwise("embargo"))
  }

  /** Deterministic train/val/test split assignment: each row gets the
    * first split whose cumulative hash threshold its key falls under
    * (fractions must sum to 1; the last split is the catch-all, so hash
    * boundary rounding never drops a row). Same hash as
    * [[deterministicSample]] — a row's split never changes as the corpus
    * grows, which is what keeps eval sets stable across refreshes.
    */
  def splitAssign(
      df: DataFrame,
      key: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least 2 splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val hk = samplingKey(key)
    val assigned = splits.init.zip(cum.init)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), c)) =>
        val cond = hk < lit(hexThreshold(c))
        Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
      }.get.otherwise(lit(splits.last._1))
    df.withColumn("split", assigned)
  }

  /** Temperature-scaled mixture weights per group (the multilingual-LM
    * data-mixing rule): w_g ∝ n_g^alpha, normalized over groups.
    * alpha = 1 reproduces natural proportions; alpha → 0 flattens toward
    * uniform, up-weighting small sources relative to their natural share.
    * Output one row per group: n_rows, the normalized weight, and the
    * per-row keep fraction that hits `targetRows` in expectation, capped
    * at 1 (a group cannot emit more rows than it has).
    *
    * Shape: one partial-agg groupBy over the corpus, then a global window
    * over the GROUP relation — |groups| = sources/domains, a handful of
    * rows, so the single-partition window is free at any corpus size.
    * weight is rounded to 6 places BEFORE frac is derived from it (and
    * frac rounded again), so an engine summing the group powers in a
    * different order (the DuckDB oracle) lands on identical values.
    *
    * CONTRACT: `groupCol` must be a LOW-CARDINALITY domain column
    * (sources, languages, domains — thousands at most), because the
    * global window's input is one row per group. Do NOT pass a
    * high-cardinality key (doc id, user id): that turns the window into
    * a single-task sort of the keyspace — the q_auc round-7 hazard.
    * SamplingSpec plan-asserts the window input is the
    * post-aggregation relation, never the corpus.
    */
  def temperatureWeights(
      df: DataFrame,
      groupCol: String,
      alpha: Double,
      targetRows: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val all = Window.partitionBy()
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("weight",
        round(pow(col("n_rows"), alpha) / sum(pow(col("n_rows"), alpha)).over(all), 6))
      .withColumn("frac",
        round(least(lit(1.0), lit(targetRows.toDouble) * col("weight") / col("n_rows")), 6))
  }

  /** Temperature sampling (data mixing by temperature): keep each row
    * deterministically with its group's [[temperatureWeights]] fraction —
    * the "flatten the source distribution with T = 1/alpha" sampler from
    * multilingual/multi-domain training recipes, as a pure filter against
    * a broadcast |groups|-row threshold relation. Same portable md5 key
    * as [[deterministicSample]]: a row's keep decision only changes if
    * its group's fraction changes, so corpus refreshes don't churn the
    * sample.
    */
  def temperatureSample(
      df: DataFrame,
      key: Column,
      groupCol: String,
      alpha: Double,
      targetRows: Long): DataFrame = {
    val thr = temperatureWeights(df, groupCol, alpha, targetRows)
      .select(col(groupCol),
        when(col("frac") >= 1.0, lit("g"))
          .otherwise(format_string("%08x",
            floor(col("frac") * lit(4294967296.0)).cast("long"))).as("_thr"))
    df.join(broadcast(thr), Seq(groupCol))
      .filter(samplingKey(key) < col("_thr"))
      .drop("_thr")
  }

  /** Whitespace token count — counts [[TextOps.tokens]] itself so the
    * budget/packing arithmetic can never diverge from the tokenization
    * the chunking/stats operators use.
    */
  private def nTokens(textCol: String): Column =
    size(TextOps.tokens(col(textCol)))

  /** Deterministic total order within a group: hash order (uniform,
    * content-independent) with the unique id as tiebreak.
    */
  private def hashOrder(idCol: String): Seq[Column] =
    Seq(samplingKey(col(idCol)), col(idCol))

  /** Deterministic per-group cap: keep at most `k` rows per group, chosen
    * by sampling-key order — the "max docs per domain" guardrail of a
    * mixing policy, in count form rather than [[stratifiedSample]]'s rate
    * form. Hash order makes the kept subset reproducible and
    * engine-portable, and stable under corpus growth: a new doc can
    * displace at most the highest-keyed survivor of its own group, never
    * reshuffle the selection.
    *
    * Scale: one shuffle on the group column; parallelism = group count
    * (domains — large by construction). The rank window sorts one group
    * per task; a pathological single mega-group should be pre-thinned
    * with [[deterministicSample]] before an exact cap.
    */
  def capPerGroup(
      df: DataFrame, key: Column, groupCol: String, k: Int): DataFrame = {
    require(k >= 1, s"capPerGroup needs k >= 1, got $k")
    df.withColumn("_rk",
      row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(samplingKey(key), key)))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** Token-budget sampling (domain mixing by budget): walk each group in
    * deterministic hash order, keep documents while the group's running
    * token total stays within `budgetTokens`. This is the "N billion
    * tokens per source" form of a data-mixture spec, as opposed to the
    * rate form in [[stratifiedSample]].
    *
    * One shuffle on the group column + one in-group sort (window with
    * running sum). Group count = source/domain count, so at 100 TB the
    * sort is per-domain and domains are independent tasks; a pathological
    * single-domain corpus degrades to one sorted partition — the price of
    * an exact budget (the rate form stays scan-speed if that matters
    * more).
    */
  def tokenBudgetSample(
      docs: DataFrame,
      budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(hashOrder("doc_id"): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"), nTokens("text").cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** Sequence packing (concat-and-chunk): lay each group's documents out
    * on a token tape in deterministic hash order and assign every doc the
    * context-window bin its first token lands in — the standard "pack
    * short docs into fixed-length training sequences" preprocessing.
    * `crosses_boundary` marks docs straddling a bin edge (the ones a
    * tokenizer-side splitter would cut).
    *
    * Same single-shuffle window shape as [[tokenBudgetSample]]; the bin
    * arithmetic is pure integer math on the running sum, so the whole
    * assignment is exact, reproducible, and oracle-checkable (no greedy
    * driver-side bin packing, which could never run at corpus scale).
    */
  def packSequences(
      docs: DataFrame,
      contextLen: Int): DataFrame = {
    require(contextLen >= 1, s"contextLen must be >= 1 (got $contextLen)")
    val w = Window.partitionBy(col("source"))
      .orderBy(hashOrder("doc_id"): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = col("cum_tokens") - col("n_tokens")
    // non-negative longs far below 2^52: double floor-div is exact
    def binOf(tokenIdx: Column): Column =
      floor(tokenIdx / contextLen).cast("long")
    docs
      .select(col("doc_id"), col("source"), nTokens("text").cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        start.as("start_offset"),
        binOf(start).as("bin_id"),
        (col("n_tokens") > 0 && binOf(start) =!= binOf(col("cum_tokens") - 1))
          .as("crosses_boundary"))
  }
  /** Leakage-safe train/val/test assignment: duplicates (or near-
    * duplicates) of the same document must never straddle a split — the
    * classic train/test-contamination bug in LLM data prep. Every doc is
    * keyed by its dedup-cluster representative (survivor) and the WHOLE
    * cluster hashes to one split; docs outside any cluster key on
    * themselves.
    *
    * Scale: one left join of the corpus against the (small) cluster
    * relation, then the same pure-filter hash assignment as
    * [[splitAssign]] — no shuffle beyond the join.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      clusters: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val keyed = docs.join(
      clusters.select(col("doc_id"), col("survivor")), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("survivor"), col("doc_id")))
      .drop("survivor")
    splitAssign(keyed, col("split_key"), splits)
  }

  /** Exact-proportion stratified split: within every stratum, EXACTLY
    * floor(cum_fraction · n) rows fall below each boundary (the hash
    * threshold of [[splitAssign]] only hits proportions in expectation).
    * Rows are ranked by their sampling hash (then key, so the order is
    * total) and cut at the exact boundaries — deterministic,
    * engine-portable, and still unbiased w.r.t. content.
    *
    * Scale: one window (rank + count) per stratum — a single exchange on
    * the stratum key; the heavy text column can be projected away before
    * the window and joined back if width matters.
    */
  def exactSplitAssign(
      df: DataFrame,
      key: Column,
      strataCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least 2 splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(samplingKey(key), key)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val base = df
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(strataCol))))
    val assigned = splits.init.zip(cum.init)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), c)) =>
        val cond = col("_rn") <= floor(lit(c) * col("_n"))
        Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
      }.get.otherwise(lit(splits.last._1))
    base.withColumn("split", assigned).drop("_rn", "_n")
  }

  /** Deterministic GLOBAL training order without a global sort: every
    * row gets a dense 1-based ordinal `ord` in (md5-hash, key) order —
    * the reproducible corpus shuffle a training run reads, stable
    * across engines, partitionings, and re-runs (same md5 key
    * discipline as [[deterministicSample]]).
    *
    * This is the scale-safe replacement for
    * `row_number().over(Window.orderBy(...))`, which plans a
    * SINGLE-TASK sort of the whole table (the q_auc hazard class).
    * Two-level instead: rows bucket by the first two hex chars of
    * their hash (256 buckets, uniform by construction); bucket
    * COUNTS — a bounded 256-row relation — get cumulative
    * offsets from one window over that aggregate; each bucket then
    * ranks internally with a PARTITIONED window and adds its bucket's
    * offset. No task ever sorts more than ~n/256 rows, and the
    * only unpartitioned window consumes the bounded count relation.
    *
    * `key` must be unique (it is the tiebreak that makes the order
    * total — duplicate keys would make `ord` nondeterministic within
    * the tie). Downstream: `shardAssign` turns `ord` into round-robin
    * data-parallel shards.
    */
  def globalOrderIndex(
      df: DataFrame,
      key: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .withColumn("_gk", samplingKey(key))
      .withColumn("_gb", substring(col("_gk"), 1, 2))
    // bounded relation: one row per hex-prefix bucket; the running
    // offset window is over ≤ 256 rows BY CONSTRUCTION (the
    // aggregate precedes it — SamplingSpec plan-asserts this shape)
    val offsets = keyed.groupBy(col("_gb")).agg(count(lit(1)).as("_bn"))
      .withColumn("_off",
        coalesce(
          sum(col("_bn")).over(
            Window.orderBy(col("_gb"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("_bn")
    keyed
      .join(broadcast(offsets), "_gb")
      .withColumn("ord",
        row_number().over(
          Window.partitionBy(col("_gb")).orderBy(col("_gk"), key))
          .cast("long") + col("_off"))
      .drop("_gk", "_gb", "_off")
  }

  /** Dense global ordinal by an arbitrary NUMERIC sort column —
    * curriculum ordering ("train short-to-long", "easy-to-hard by
    * quality score") — with the same no-global-sort discipline as
    * [[globalOrderIndex]], but bucketing by VALUE RANGE instead of hash
    * prefix (a hash prefix would scramble the value order): equi-width
    * buckets over the observed [min, max] extent (one broadcast scalar
    * row, the [[graft.ml.Metrics.aucExact]] pattern), bucket counts →
    * bounded running offsets, within-bucket PARTITIONED ranking by
    * (value, key). Ties order by `key`, so the ordinal is total and
    * reproducible. NULL values order FIRST (their own bucket below all
    * others).
    *
    * Caveat (documented, same as equi-width histograms): value buckets
    * inherit the value distribution — a spike (half the corpus at one
    * length) concentrates its bucket. For heavy spikes, rank on a
    * continuous tiebroken value (e.g. `len + hash/2³²` jitter) or use
    * the equi-depth boundaries from `Stats`.
    */
  def orderIndexByValue(
      df: DataFrame,
      valueCol: Column,
      key: Column,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"orderIndexByValue: buckets >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val v = valueCol.cast("double")
    val ext = df.agg(min(v).as("_mn"), max(v).as("_mx"))
    val keyed = df
      .crossJoin(broadcast(ext))
      .withColumn("_vv", v)
      .withColumn("_vb",
        when(col("_vv").isNull, lit(-1))
          .when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(lit(buckets - 1),
            floor((col("_vv") - col("_mn")) /
              ((col("_mx") - col("_mn")) / buckets)).cast("int"))))
      .drop("_mn", "_mx")
    val offsets = keyed.groupBy(col("_vb")).agg(count(lit(1)).as("_bn"))
      .withColumn("_off",
        coalesce(
          sum(col("_bn")).over(
            Window.orderBy(col("_vb"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("_bn")
    keyed
      .join(broadcast(offsets), "_vb")
      .withColumn("ord",
        row_number().over(
          Window.partitionBy(col("_vb")).orderBy(col("_vv"), key))
          .cast("long") + col("_off"))
      .drop("_vv", "_vb", "_off")
  }

  /** Round-robin shard assignment on top of [[globalOrderIndex]]: shard
    * s reads rows `ord ≡ s (mod nShards)` — every shard sees an
    * identical-size (±1), content-unbiased, reproducible slice in a
    * deterministic read order, which is exactly the data-parallel
    * loader contract (rank r of world size W trains on shard r).
    */
  def shardAssign(
      df: DataFrame,
      key: Column,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"shardAssign: nShards >= 1, got $nShards")
    globalOrderIndex(df, key)
      .withColumn("shard", ((col("ord") - 1) % nShards).cast("int"))
  }

}
