package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed aggregation operators (SURVEY.md §2.4).
  *
  * The flagship is the reference's hopping-window pivot aggregation
  * (README.md:41-50): `GROUP BY user_id WINDOW HOPPING (SIZE 10 MINUTES,
  * ADVANCE BY 2 MINUTES)` with `SUM(CASE WHEN event=… THEN 1 ELSE 0)`
  * pivot counts and `min/max(ROWTIME)` formatted as HH:mm:ss.
  */
object WindowOps {

  /** A1 + A2 + A3 — hopping-window pivot aggregation.
    *
    * Spark's `window(ts, size, slide)` generates the identical
    * epoch-aligned hop set as ksqlDB's `WINDOW HOPPING` (each event lands
    * in size/slide windows; for 10 min / 2 min that is exactly 5).
    *
    * Semantics preserved exactly (SURVEY.md §7.2 #3): the reference emits
    * `window_start`/`window_end` as the **observed** min/max event time in
    * the window (README.md:43-44), NOT the nominal window bounds. We emit
    * both: `w_start` (nominal, epoch seconds — the group key) and the
    * formatted observed bounds.
    *
    * Scale — two plans, chosen by `preShuffle`, because the winning
    * shape depends on KEY MULTIPLICITY (events per key per hop):
    *
    *  - `preShuffle = false` (Spark's default plan): expand 5× map-side,
    *    partial-aggregate, shuffle the partials. Wins when multiplicity
    *    is high — the partial agg collapses many events per (key,
    *    window) before the wire.
    *  - `preShuffle = true`: ONE exchange of the compact un-expanded
    *    events on `keyCol` first; hop replication then runs as a
    *    partitioning-PRESERVING Generate (explicit explode of the
    *    epoch-aligned hop starts — see the in-body comment for why
    *    `window()`'s Expand can't be used here) and the aggregate runs
    *    exchange-free on top (`HashPartitioning(key)` satisfies the
    *    agg's clustered distribution — partitioning keys are a subset
    *    of the grouping keys). Wins when multiplicity is ~1 and the
    *    default plan's partial agg reduces nothing, shuffling ≈
    *    5 × |events| WIDE partial rows (measured on the derived sf10
    *    corpus: 12+ GB of partials vs ~0.6 GB of events — see SCALE.md's
    *    second-decade table). Partition count is pinned to the session's
    *    shuffle parallelism so AQE cannot coalesce the exchange into few
    *    giant agg partitions.
    *
    * Results are identical; both stay whole-stage-codegen'd. Batch-only:
    * the streaming pivot keeps the default plan — `window()` carries the
    * event-time metadata watermarking needs, and micro-batch inputs are
    * small enough that partial aggregation is never the bottleneck.
    *
    * @param eventTypes pivot value set (fixture: click/view/purchase/…)
    */
  /** Interval string → microseconds (calendar months rejected: hop
    * arithmetic needs a fixed-length unit).
    */
  private def intervalUs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"calendar-month hops unsupported: $s")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Σ over input files of the file's distinct (`_k`, `_ws`) groups
    * (`_g`), and the row count (`_n`). Each file's count is estimated
    * from its rows alone: the file name only groups, so the same rows in
    * the same files give the same sums when a rewrite renames the files.
    */
  private def perFileGroups(keyed: DataFrame): DataFrame =
    keyed.groupBy(input_file_name())
      .agg(count(lit(1)).as("_n"),
        approx_count_distinct(struct(col("_k"), col("_ws"))).as("_g"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("_n"),
        coalesce(sum(col("_g")), lit(0L)).as("_g"))

  /** Measured WITHIN-MAP-PARTITION (key, hop-window) multiplicity — the
    * default plan's partial-aggregation reduction factor — from a
    * deterministic KEY sample over a BOUNDED file subset.
    *
    * Two sampling rules, each load-bearing:
    *  - Whole keys are kept or dropped (`pmod(xxhash64(key),
    *    keySampleMod) == 0`), so group sizes are observed exactly, not
    *    thinned the way a row sample would thin them (a p-row-sample
    *    shrinks every group ~p× and reads as multiplicity ~1 regardless
    *    of the true regime).
    *  - Whole FILES are read or skipped ([[graft.Sessions.boundedFileSample]],
    *    default ≤64 MiB), bounding estimator I/O to O(sample bytes)
    *    instead of O(corpus) — the r13 shape pruned ROWS but still
    *    streamed two columns of everything through the scan (~3 s at
    *    sf100; a real 100 TB table would make the probe the bottleneck).
    *
    * The file bound is unbiased BECAUSE the statistic is per-partition:
    * groups are counted per (key, hop, FILE) — `input_file_name()` — not
    * globally. Partial aggregation runs per scan partition, so the
    * reduction it can achieve is exactly the within-partition group
    * size: a key with 8 rows spread across 8 files reduces NOTHING
    * map-side (preShuffle regime) even though its global multiplicity is
    * 8, while 8 duplicates inside one file reduce 8×. A whole-file
    * sample observes within-file group sizes exactly, for ANY layout —
    * clustered or row-scattered — with no correction factor; a global
    * multiplicity over a file subset would need an unknowable
    * spread-correction. (Files larger than
    * `spark.sql.files.maxPartitionBytes` span a few scan partitions, so
    * per-FILE multiplicity can read ≤~2× high near the threshold; the
    * 3× pick margin absorbs it.) The sampled rows replay the same
    * epoch-aligned hop expansion the default plan performs. Returns 1.0
    * (the conservative worst-case-for-default regime) on an empty
    * sample.
    */
  def hoppingMultiplicity(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      keySampleMod: Int = 64,
      maxSampleBytes: Long = 64L << 20): Double = {
    val sizeUs = intervalUs("10 minutes")
    val slideUs = intervalUs("2 minutes")
    // memoized per (plan, input size): repeated pivots over the same
    // corpus pay the estimator scan once (~0.3 s at sf0.1; bounded to
    // the file subset at derived SFs); changed data re-estimates via
    // the stats key. Stale-estimate harmlessness is spec-pinned
    // (WindowOpsSpec "stale memo"): a wrong estimate only picks the
    // other plan, both of which are result-identical.
    graft.Sessions.memoEstimate(events,
      s"hopmult|$tsCol|$keyCol|$sizeUs|$slideUs|$keySampleMod|$maxSampleBytes") {
      val (src, _, _) =
        graft.Sessions.boundedFileSample(events, Seq(keyCol, tsCol), maxSampleBytes)
      val ts =
        if (src.schema(tsCol).dataType == org.apache.spark.sql.types.TimestampType) col(tsCol)
        else col(tsCol).cast("timestamp")
      val e = unix_micros(ts)
      val aligned = e - pmod(e, lit(slideUs))
      val row = perFileGroups(src
        .filter(pmod(xxhash64(col(keyCol)), lit(keySampleMod.toLong)) === 0)
        .select(col(keyCol).as("_k"), explode(
          sequence(aligned - lit(sizeUs - slideUs), aligned, lit(slideUs))).as("_ws")))
        .head()
      val n = row.getAs[Long]("_n")
      val g = row.getAs[Long]("_g")
      if (n == 0L || g == 0L) 1.0 else n.toDouble / g
    }
  }

  /** Estimated UPPER BOUND on the hopping pivot's live state rows —
    * distinct (key, hop-window) groups — from the same bounded file
    * sample the multiplicity estimator reads. The STREAMING sizing
    * input: the state-store provider choice
    * ([[graft.streaming.Streaming.stateProviderFor]]) needs the live
    * entry count BEFORE the query starts, and over-estimating is the
    * safe direction there (pay the measured RocksDB tax) while
    * under-estimating is an OOM, so this deliberately estimates a
    * bound, not the expectation.
    *
    * Two components, take the smaller:
    *  - `rows × hops` — every expanded (event, hop) pair its own group;
    *    exact worst case, O(footers) to compute (parquet count).
    *  - per-file distinct (key, hop, file) scaled from the bounded
    *    sample by file count — Σ over files of within-file groups
    *    counts a globally-shared group once per file it touches, so the
    *    full-corpus statistic is ≥ the true group count; much tighter
    *    than `rows × hops` whenever duplicates cluster. The distinct
    *    count is exact (one shuffle over the bounded sample), so over
    *    ALL files the statistic is ≥ truth DETERMINISTICALLY — a
    *    per-file `approx_count_distinct` could sum below it. A file
    *    sample of it is unbiased with between-file variance either way
    *    (spec-pinned: a 2-of-8 clustered sample can sit well under the
    *    mean); the decision's heap-fraction margin (not this estimator)
    *    absorbs that, same division of labor as the multiplicity
    *    estimator's 3× pick margin. The default sample is 128 MiB —
    *    twice the multiplicity estimator's — because this estimate feeds
    *    an OOM-guard, and doubling the file count halves the wobble for
    *    a still-bounded probe.
    *
    * Memoized like every plan-choice estimate (stale values pick a
    * provider, never enter a result).
    */
  def hoppingStateUpperBound(
      events: DataFrame,
      maxSampleBytes: Long = 128L << 20): Long = {
    val sizeUs = intervalUs("10 minutes")
    val slideUs = intervalUs("2 minutes")
    val hops = sizeUs / slideUs
    graft.Sessions.memoEstimate(events,
      s"hopstate|ts|user_id|$sizeUs|$slideUs|$maxSampleBytes") {
      val trivial = events.count().toDouble * hops
      val (src, total, read) =
        graft.Sessions.boundedFileSample(events, Seq("user_id", "ts"), maxSampleBytes)
      val ts =
        if (src.schema("ts").dataType == org.apache.spark.sql.types.TimestampType) col("ts")
        else col("ts").cast("timestamp")
      val e = unix_micros(ts)
      val aligned = e - pmod(e, lit(slideUs))
      // exact distinct (file, key, hop) count: an approximate per-file
      // count can sum below the truth, and this value is read as a bound
      val perFile = src
        .select(input_file_name().as("_f"), col("user_id").as("_k"), explode(
          sequence(aligned - lit(sizeUs - slideUs), aligned, lit(slideUs))).as("_ws"))
        .distinct().count()
      math.min(trivial, perFile.toDouble * total / read).max(1.0)
    }.toLong
  }

  /** Estimated UPPER BOUND on a session-window aggregation's live state
    * rows — merged (key, session) entries — from the same bounded file
    * sample as [[hoppingStateUpperBound]]. Sessions are a DIFFERENT
    * growth law than hops (state is data-dependent: events < gap apart
    * merge, so rows×hops has no analog), which is why
    * [[graft.streaming.Streaming.autoStateSession]] could not size the
    * session pipeline (r14 VERDICT #5).
    *
    * Statistic: session STARTS counted per (key, FILE) — a row opens a
    * session iff it has no predecessor within `gap` in its own file —
    * summed and scaled by file count. Σ-per-file ≥ the true session
    * count DETERMINISTICALLY over all files: sessionizing a SUBSET of a
    * key's events can only split sessions, never merge them (any two
    * events from different true sessions are > gap apart — the last
    * event of the earlier session and the first of the later are, and
    * all other cross-pairs are farther), so each file counts ≥ the
    * true sessions it touches, and a globally-shared session is counted
    * once per file it spans. A file SAMPLE of the Σ statistic is
    * unbiased with between-file variance either way — absorbed by the
    * provider decision's heap-fraction margin, the same division of
    * labor as the hopping bound. Capped above by the trivial bound
    * (every event its own session = the row count, O(footers)).
    * Memoized; over-estimating pays the RocksDB tax, under-estimating
    * is an OOM, so bounding upward is the safe direction.
    */
  def sessionStateUpperBound(
      events: DataFrame,
      gap: String = "30 minutes"): Long = {
    val gapUs = intervalUs(gap)
    graft.Sessions.memoEstimate(events,
      s"sessstate|ts|user_id|$gapUs") {
      val trivial = events.count().toDouble
      val (src, total, read) =
        graft.Sessions.boundedFileSample(events, Seq("user_id", "ts"), 128L << 20)
      val ts =
        if (src.schema("ts").dataType == org.apache.spark.sql.types.TimestampType) col("ts")
        else col("ts").cast("timestamp")
      val w = Window.partitionBy(col("_f"), col("_k")).orderBy(col("_e"))
      val starts = src
        .select(col("user_id").as("_k"), unix_micros(ts).as("_e"),
          input_file_name().as("_f"))
        .withColumn("_prev", lag(col("_e"), 1).over(w))
        .filter(col("_prev").isNull || col("_e") - col("_prev") > gapUs)
        .count()
      math.min(trivial, starts.toDouble * total / read).max(1.0)
    }.toLong
  }

  private val MultiplicityThreshold = 3.0

  /** Adaptive hopping pivot — picks the plan from the measured key
    * multiplicity, so the regime split SCALE.md measured (second
    * decade: default plan wins when the partial agg genuinely reduces,
    * preShuffle wins at multiplicity ~1 where partials are pure
    * overhead — ~20× the shuffle payload) is engine behavior, not a
    * caller knob. Streaming inputs always take the default `window()`
    * plan: preShuffle is batch-only (no event-time metadata) and an
    * estimator job can't run on an unbounded source anyway.
    *
    * [[MultiplicityThreshold]] = the reduction factor below which the
    * partial-agg pass stops paying for itself. The measured endpoints
    * (SCALE.md: ~1 → preShuffle 2× better; tumbling's high-multiplicity
    * contrast flat for default) bracket the crossover loosely; 3.0 sits
    * between them — at ≥3× reduction the default plan ships ≤⅓ the
    * rows wide, which beats preShuffle's full-width event exchange.
    */
  def hoppingPivotAuto(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      eventCol: String = "event_type",
      eventTypes: Seq[String],
      keySampleMod: Int = 64): DataFrame = {
    val streamingIn = events.isStreaming
    val mult = if (streamingIn) -1.0
      else hoppingMultiplicity(events, tsCol, keyCol, keySampleMod = keySampleMod)
    val pre = !streamingIn && mult < MultiplicityThreshold
    graft.Sessions.recordDecision("hoppingPivotAuto", mult, MultiplicityThreshold,
      if (pre) "preShuffle"
      else if (streamingIn) "default(streaming)" else "default")
    hoppingPivot(events, tsCol, keyCol, eventCol = eventCol, eventTypes = eventTypes,
      preShuffle = pre)
  }

  def hoppingPivot(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      eventCol: String = "event_type",
      eventTypes: Seq[String],
      preShuffle: Boolean = false): DataFrame = {
    // keep the original attribute when already a timestamp: a cast
    // expression would strip event-time/watermark metadata in streaming
    val ts =
      if (events.schema(tsCol).dataType == org.apache.spark.sql.types.TimestampType) col(tsCol)
      else col(tsCol).cast("timestamp")
    val pivots = eventTypes.map { v =>
      sum(Relational.indicator(col(eventCol), v)).as(s"${v}_views")
    }
    val aggCols = min(ts).as("_min_ts") +: max(ts).as("_max_ts") +: pivots
    val grouped =
      if (!preShuffle)
        events
          .groupBy(window(ts, "10 minutes", "2 minutes").as("w"), col(keyCol))
          .agg(aggCols.head, aggCols.tail: _*)
          .withColumn("w_start", col("w.start").cast("long"))
      else {
        // preShuffle drops window()'s event-time metadata and groups on
        // a plain column — on a stream that means no watermark eviction
        // and unbounded keyed state, failing obscurely far downstream.
        require(!events.isStreaming,
          "hoppingPivot(preShuffle = true) is batch-only; streaming keeps " +
            "the window() plan for its event-time metadata")
        // The exchange-free shape needs the hop replication to PRESERVE
        // the pre-shuffle partitioning. `window()` lowers to an Expand,
        // and ExpandExec reports UnknownPartitioning — the planner would
        // re-shuffle the partials right back (measured; see SCALE.md).
        // explode(sequence(...)) lowers to Generate, which preserves its
        // child's partitioning, so the same epoch-aligned hop set keeps
        // the agg exchange-free above the one compact-events exchange.
        val sizeUs = intervalUs("10 minutes")
        val slideUs = intervalUs("2 minutes")
        val e = unix_micros(ts)
        val aligned = e - pmod(e, lit(slideUs))
        // The pinned width is derived from the EVENTS' own scan stats
        // (8 MiB on-disk per task, floored at core count) rather than
        // the session conf: pinning keeps AQE from coalescing the
        // exchange into few giant agg partitions, and self-sizing keeps
        // a session sized for a different table from mis-sizing this
        // one (measured at sf100: the dir-wide conf said 1671 where the
        // events-derived 257 ≈ the hand-tuned optimum 256; at bench SF
        // both floor to the core count — identical plan).
        val nPart = graft.Sessions.shufflePartitionsFor(
          graft.Sessions.statsBytes(events),
          events.sparkSession.sparkContext.defaultParallelism)
        events
          .repartition(nPart, col(keyCol))
          .withColumn("_ws", explode(
            sequence(aligned - lit(sizeUs - slideUs), aligned, lit(slideUs))))
          .groupBy(col(keyCol), col("_ws"))
          .agg(aggCols.head, aggCols.tail: _*)
          // FLOOR division micros → seconds in pure long arithmetic:
          // subtracting the (always non-negative) pmod makes _ws an
          // exact multiple of 1e6, so integral `div` — which truncates
          // toward zero — equals the floor even for pre-1970 hop
          // starts. `div` is exact for the FULL long range with no
          // analysis needed; the double `/` this replaces was exact
          // only because the subtracted value is divisible by 2^6
          // (keeping it double-representable to 2^59 µs) AND the
          // quotient stays under 2^53 — correct, but a proof obligation
          // every reader must re-derive. WindowOpsSpec pins a year-2500
          // (> 2^53 µs) and a pre-1970 edge against the default plan.
          .withColumn("w_start",
            expr("(_ws - pmod(_ws, 1000000)) div 1000000"))
      }
    grouped
      .select(
        Seq(
          col(keyCol),
          col("w_start"),
          Relational.timestampToString(col("_min_ts")).as("window_start"),
          Relational.timestampToString(col("_max_ts")).as("window_end")
        ) ++ eventTypes.map(v => col(s"${v}_views")): _*
      )
  }

  /** A4 — per-event rolling time-range counts (training-side analog of the
    * hopping window; reference train.py:260-274: per-user rolling
    * [t-600s, t] sum over event indicators, one output row per input row).
    *
    * `rangeBetween(-600, 0)` over epoch seconds — a window
    * *function*, not a groupBy: Spark sorts within each user partition
    * (one shuffle + per-partition sort). At 100 TB this is the right
    * shape: state is bounded by the range frame and skew is bounded by
    * the hottest single user.
    */
  def rollingCounts(
      events: DataFrame,
      eventTypes: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_sec"))
      .rangeBetween(-600L, 0)
    eventTypes.foldLeft(events) { (d, v) =>
      d.withColumn(
        s"${v}s_last_600s",
        sum(Relational.indicator(col("event_type"), v)).over(w)
      )
    }
  }

  /** Tumbling window — the ADVANCE=SIZE special case of A1 (ksql's
    * `WINDOW TUMBLING`): epoch-aligned, each event in exactly one window.
    */
  def tumblingAgg(
      events: DataFrame,
      aggs: Seq[Column],
      extraKeys: Seq[String] = Nil): DataFrame = {
    val ts =
      if (events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType) col("ts")
      else col("ts").cast("timestamp")
    events
      .groupBy(window(ts, "10 minutes").as("w") +: extraKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", col("w.start").cast("long"))
      .drop("w")
  }

  /** Session window (extension beyond the reference, which has hopping
    * only): gap-based sessions per key via Spark's session_window —
    * sessions merge while consecutive events are < gap apart; the window
    * ends at last_event + gap.
    *
    * Output bounds are derived from the min/max(ts) AGGREGATES, not
    * from the `session_window` grouping struct, to close a measured
    * soundness hazard (r15, caught by StreamScale --session's
    * prefix-closure check — 4 phantom sessions at sf0.1): Catalyst
    * pushes a filter on a grouping column below the aggregate, and for
    * `session_window` that substitutes the PER-ROW pre-merge window
    * (`ts + gap`) for the merged one — so
    * `sessionAgg(df).filter(session_end <= X)` silently dropped a
    * merged session's later events BEFORE the merge and emitted the
    * unmerged prefix as a phantom session (plan-verified: the pushed
    * predicate appears under the Aggregate as
    * `cast(ts + 30 minutes as bigint) <= X`). min(ts)/max(ts)+gap are
    * the same values by session semantics (start = first event, end =
    * last event + gap; the cast truncation commutes with adding a
    * whole-second gap), but as aggregate outputs no predicate on them
    * can cross the merge.
    */
  def sessionAgg(
      events: DataFrame,
      gap: String = "30 minutes"): DataFrame = {
    val gapUs = intervalUs(gap)
    require(gapUs % 1000000L == 0, s"sessionAgg needs a whole-second gap: $gap")
    val ts =
      if (events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType) col("ts")
      else col("ts").cast("timestamp")
    events
      .groupBy(session_window(ts, gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(ts).as("_first"), max(ts).as("_last"))
      .select(
        col("user_id"),
        col("_first").cast("long").as("session_start"),
        (col("_last").cast("long") + lit(gapUs / 1000000L)).as("session_end"),
        col("n_events"))
  }

  /** A5 — distinct keys (reference train.py:257). */
  def distinctKeys(df: DataFrame, keyCol: String): DataFrame =
    df.select(keyCol).distinct()

  /** Cohort retention matrix: users grouped by first-active day
    * (cohort), counted by days-since-cohort offset — the product
    * analytics staple over an activity stream. Emits
    * (cohort_day, day_offset, n_users).
    *
    * Scale shape: the event stream first collapses to DISTINCT
    * (user, day) — a map-side-combinable reduction that shrinks a
    * 100 TB clickstream to ≤ users×days rows BEFORE any windowing.
    * The per-user first day is a window min over the user partition
    * (one shuffle on user), and the final count-distinct groups by
    * (cohort, offset) — at that point the data is tiny. No join, two
    * exchanges total, both on already-reduced relations.
    */
  def retentionCohorts(
      events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id").as("u"), to_date(col("ts")).as("d"))
      .distinct()
    val byUser = Window.partitionBy(col("u"))
    days
      .withColumn("cohort_day", min(col("d")).over(byUser))
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("u")).as("n_users"))
  }

  /** Ordered funnel analysis: for each user, the first time each stage
    * event occurs STRICTLY AFTER the previous stage's first occurrence
    * and within `maxGapSec` of it — the product-analytics conversion
    * funnel, computed without self-joins. Emits one row per user with
    * the per-stage first-completion epochs (micros, null = never) and
    * the furthest stage index reached.
    *
    * Execution shape: stage k's timestamp is a conditional window MIN
    * over the user partition, referencing stage k−1's column — the
    * whole chain is N stacked window aggregates over ONE partitioning,
    * so Catalyst plans a single exchange+sort on user for all stages
    * (vs the naive N-way self-join that shuffles the event table N
    * times). Gap arithmetic is integer micros on both engines — no
    * floating-point epoch.
    */
  def funnelStages(
      events: DataFrame,
      stages: Seq[String],
      maxGapSec: Long): DataFrame = {
    require(stages.nonEmpty)
    val w = Window.partitionBy(col("u"))
    var df = events.select(col("user_id").as("u"),
      col("ts").as("ts"), col("event_type").as("et"))
    stages.zipWithIndex.foreach { case (s, i) =>
      val cond =
        if (i == 0) col("et") === lit(s)
        else col("et") === lit(s) &&
          unix_micros(col("ts")) > unix_micros(col(s"t$i")) &&
          unix_micros(col("ts")) - unix_micros(col(s"t$i")) <= maxGapSec * 1000000L
      df = df.withColumn(s"t${i + 1}", min(when(cond, col("ts"))).over(w))
    }
    val stageCols = stages.indices.map(i => s"t${i + 1}")
    df.groupBy(col("u").as("user_id"))
      .agg(min(col(stageCols.head)).as(stageCols.head),
        stageCols.tail.map(c => min(col(c)).as(c)): _*)
      .select(col("user_id") +:
        stageCols.map(c => unix_micros(col(c)).as(s"${c}_us")) :+
        // fold ascending so the LAST-built when() checks the DEEPEST
        // stage first (when-chains evaluate outermost-first)
        stages.indices.foldLeft(lit(0)) { (acc, i) =>
          when(col(s"t${i + 1}").isNotNull, lit(i + 1)).otherwise(acc)
        }.as("stage_reached"): _*)
  }

  /** Time-series gap-fill resampling: bucket each user's observations to
    * a fixed step, take the bucket MAX, then emit EVERY step in the
    * user's [first, last] bucket span with missing buckets forward-
    * filled from the last observed value — the regularization step
    * before any sequence model sees the series.
    *
    * Scale shape: the raw stream first collapses to (user, bucket)
    * aggregates (map-side combinable), the dense grid is GENERATED with
    * `sequence`/`explode` (no second scan of the facts), and the fill
    * is a running `last(ignoreNulls)` over the user partition — one
    * exchange for the agg, one sort for join+window, nothing
    * proportional to the raw event count afterwards.
    */
  def resampleFill(
      events: DataFrame,
      stepSec: Long): DataFrame = {
    val obs = events
      .select(col("user_id").as("u"),
        expr(s"unix_micros(ts) DIV 1000000 DIV $stepSec").as("bucket"),
        col("value").as("v"))
      .groupBy(col("u"), col("bucket"))
      .agg(max(col("v")).as("v_obs"))
    val grid = obs.groupBy(col("u"))
      .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
      .select(col("u"), explode(sequence(col("mn"), col("mx"))).as("bucket"))
    val filled = Window.partitionBy(col("u")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(obs, Seq("u", "bucket"), "left")
      .select(col("u").as("user_id"), col("bucket"),
        last(col("v_obs"), ignoreNulls = true).over(filled).as("v_filled"))
  }

  /** Extension — top-k per group via ranking window (absent from the
    * reference but a staple the engine should provide; deterministic via
    * tie-break columns).
    */
  def topKPerGroup(
      df: DataFrame,
      partitionBy: Seq[String],
      orderBy: Seq[Column],
      k: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("rank_in_group", row_number().over(w))
      .filter(col("rank_in_group") <= k)
  }

  /** Trailing activity counts over SEVERAL horizons in one pass — the
    * feature-engineering staple (events in the last 1 h / 24 h / 7 d per
    * user, per event). All frames share one `(partition, order)` spec:
    * Spark plans a single Exchange + single Sort and evaluates every
    * horizon in the same Window operator, so adding a horizon costs one
    * running accumulator, not another shuffle.
    */
  def multiTrailingCounts(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      horizonsSec: Seq[Long]): DataFrame = {
    val epoch = unix_micros(col(tsCol).cast("timestamp"))
    val base = df.withColumn("_ep", epoch)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_ep"))
    horizonsSec.foldLeft(base) { (acc, h) =>
      acc.withColumn(s"n_last_${h}s",
        count(lit(1)).over(w.rangeBetween(-h * 1000000L, 0)))
    }.drop("_ep")
  }

  /** Trailing DISTINCT count — `COUNT(DISTINCT x) OVER (RANGE ...)`,
    * which Spark's window operator does not accept directly: composed as
    * `size(collect_set(x))` over the same frame, which IS the distinct
    * count with identical frame semantics.
    *
    * Scale note: per-row state is the set of distinct values inside the
    * trailing horizon (bounded by the horizon's content, not the
    * partition) — the exact-answer shape. For very-high-cardinality
    * values inside one horizon, swap the set for an HLL sketch partial
    * ([[graft.operators.Sketches]]) and accept the approximation.
    */
  def trailingDistinct(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      horizonSec: Long): DataFrame = {
    val base = df.withColumn("_ep", unix_micros(col(tsCol).cast("timestamp")))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_ep"))
      .rangeBetween(-horizonSec * 1000000L, 0)
    base
      .withColumn(s"n_distinct_${horizonSec}s",
        size(collect_set(col(valCol)).over(w)).cast("long"))
      .drop("_ep")
  }

  /** Sketch-backed trailing distinct — the huge-frame variant
    * [[trailingDistinct]]'s scaladoc prescribes, as code: the same
    * trailing range frame evaluated as an HLL sketch
    * (DataSketches, ~1.6 % relative error at the default lgK) instead
    * of a materialized `collect_set`. Per-row state is a kilobyte
    * sketch REGARDLESS of how many distinct values the horizon holds —
    * the exact operator's set grows with content and is the part that
    * breaks first when one key's horizon spans millions of values.
    * Rows-only (estimate), with an error-bound spec vs the exact
    * operator.
    */
  def trailingDistinctApprox(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      horizonSec: Long): DataFrame = {
    val base = df.withColumn("_ep", unix_micros(col(tsCol).cast("timestamp")))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_ep"))
      .rangeBetween(-horizonSec * 1000000L, 0)
    base
      .withColumn(s"n_distinct_${horizonSec}s",
        hll_sketch_estimate(hll_sketch_agg(col(valCol)).over(w)).cast("long"))
      .drop("_ep")
  }

  /** Sketch-backed rolling quantile — [[rollingQuantile]]'s huge-frame
    * variant: a KLL(double) sketch built over the identical trailing
    * row frame and queried at rank `p` (~1.65 % rank error at the
    * default k). Bounded per-row state where the exact operator
    * collects and sorts the frame's full contents. Below the sketch's
    * retained-items threshold KLL is EXACT, so small frames agree with
    * the exact operator bit-for-bit (spec-asserted); rows-only at
    * registration because large-frame estimates are
    * implementation-seeded.
    */
  def rollingQuantileApprox(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      valCol: String,
      p: Double,
      nRows: Int,
      outCol: String = "rolling_q"): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"p must be in [0,1], got $p")
    require(nRows >= 1, s"nRows must be >= 1, got $nRows")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(-(nRows - 1), 0)
    // kll_sketch_agg_double ignores NULLs like collect_list, but an
    // all-NULL/empty frame produces an EMPTY sketch buffer that
    // get_quantile rejects at runtime — guard on the frame's non-null
    // count (CaseWhen is lazy, so the probe never sees the empty
    // buffer) and emit NULL, the exact operator's contract
    df.withColumn(outCol,
      when(count(col(valCol)).over(w) === 0, lit(null).cast("double"))
        .otherwise(round(
          call_function("kll_sketch_get_quantile_double",
            call_function("kll_sketch_agg_double",
              col(valCol).cast("double")).over(w),
            lit(p)), 6)))
  }

  /** Rolling EXACT quantile over a trailing row frame (rolling median /
    * p95 latency — the SRE/feature-engineering staple). Spark has no
    * `quantile_cont(...) OVER`, so the frame's values are collected and
    * sorted per row and the interpolated order statistic computed
    * explicitly — the same lo + frac·(hi − lo) formula DuckDB's windowed
    * `quantile_cont` evaluates, and being an ORDER statistic (selection,
    * not summation) it is immune to the float-add-order divergence that
    * makes windowed stddev/avg non-portable.
    *
    * Scale: per-row state is the frame's contents (nRows values) — the
    * exact-answer bound; the partition sort is the usual single
    * exchange. Use a KLL sketch column instead when frames are huge.
    */
  def rollingQuantile(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      valCol: String,
      p: Double,
      nRows: Int,
      outCol: String = "rolling_q"): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"p must be in [0,1], got $p")
    require(nRows >= 1, s"nRows must be >= 1, got $nRows")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(-(nRows - 1), 0)
    val arr = sort_array(collect_list(col(valCol).cast("double")).over(w))
    val n = size(arr)
    val h = (n - 1).cast("double") * lit(p)
    val lo = floor(h).cast("int")
    val exact = element_at(arr, lo + 1)
    val interp = exact + (h - lo.cast("double")) *
      (element_at(arr, lo + 2) - exact)
    // integral h: the upper neighbor may not exist (end of frame) and
    // 0 · NULL is NULL, not 0 — select the exact element directly.
    // collect_list drops NULLs, so an all-NULL frame is EMPTY: n = 0
    // would index element_at(arr, 0) (a runtime error) — emit NULL,
    // which is also what quantile_cont returns for an empty frame
    df.withColumn(outCol,
      when(n === 0, lit(null).cast("double"))
        .otherwise(round(
          when(lo.cast("double") === h, exact).otherwise(interp), 6)))
  }

  /** Row-level sessionization: assign each event its per-user session
    * ordinal (1-based), where a new session starts after an inactivity
    * gap ≥ `gapSec`. The primitive `session_window` aggregates away —
    * here every ROW keeps its session id, so downstream ops can group,
    * join, or sequence WITHIN sessions (funnels per session, session
    * paths, first/last touch per session).
    *
    * One lag + one running sum over the same (user, ts) window — single
    * exchange, single sort. Gap arithmetic in integer micros.
    */
  def sessionize(
      df: DataFrame,
      gapSec: Long = 1800L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ep = unix_micros(col("ts").cast("timestamp"))
    df
      .withColumn("_new_session",
        when(ep - lag(ep, 1).over(w) >= gapSec * 1000000L || // NULL lag =
          lag(ep, 1).over(w).isNull, 1).otherwise(0))        // first row
      .withColumn("session_no",
        sum(col("_new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .drop("_new_session")
  }

  /** The analytic-function suite over a per-key ordered sequence:
    * row_number / lag / lead / ntile / percent_rank / cume_dist plus the
    * step delta — the standard "order history" projection every
    * warehouse derives.
    *
    * All seven functions share one `(partition, order)` spec, so Spark
    * plans a single Exchange + single Sort and evaluates the whole suite
    * in one Window operator — scaling with the per-key sequence length,
    * never the table. percent_rank/cume_dist stay unrounded: both
    * engines compute the identical integer-derived IEEE division, so the
    * bits match without rounding.
    */
  def sequenceStats(
      df: DataFrame,
      partitionCol: String,
      orderCols: Seq[String],
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(partitionCol)).orderBy(orderCols.map(col): _*)
    df.select(
      col(partitionCol), orderCols.map(col).last, col(valueCol),
      row_number().over(w).as("seq_no"),
      lag(col(valueCol), 1).over(w).as("prev_value"),
      lead(col(valueCol), 1).over(w).as("next_value"),
      (col(valueCol) - lag(col(valueCol), 1).over(w)).as("delta"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** Exact trailing EWMA feature (adjust=true / truncated form): per
    * key, ordered by (ts, id), the exponentially-weighted mean of the
    * trailing `w` values with decay d = 7/10 per step —
    * ewma_t = Σⱼ x_{t−j}·d^j / Σⱼ d^j over the last min(t, w) rows.
    *
    * Exactness across engines, with NO runtime `pow`: the decay is a
    * RATIONAL d = 7/10, so weight_j · 10^(w−1) =
    * 7^j · 10^(w−1−j) is an exact 64-bit integer computed
    * once at plan time and embedded as a literal array. Values quantize
    * to integer micros, the weighted sum folds in pure integer
    * arithmetic, and the single FP step is the final division — two
    * engines' libm `pow` (the usual 1-ulp divergence source) never
    * runs. Overflow headroom is `require`d at plan time.
    *
    * Scale: one shuffle on the key; the trailing frame is a bounded
    * rows-window (`collect_list` over ≤ w rows — bounded state by
    * construction, the same contract as the other trailing features).
    */
  def ewma(
      df: DataFrame,
      w: Int = 8): DataFrame = {
    require(w >= 1 && w <= 20, s"ewma: 1 <= w <= 20, got $w")
    // weight_j scaled by 10^(w-1): exact longs, newest (j=0) first
    val weights: Seq[Long] = (0 until w).map { j =>
      (BigInt(7).pow(j) * BigInt(10).pow(w - 1 - j)).toLong
    }
    require(weights.forall(_ <= Long.MaxValue / (w * 2000000000L)),
      "ewma: weight scale leaves no headroom for micro-quantized values")
    val win = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(w - 1), 0)
    val wts = array(weights.map(lit(_)): _*)
    val lst = reverse(collect_list(round(col("value") * 1e6).cast("long")).over(win))
    df.select(col("event_id"), col("user_id"), col("ts"), col("value"), lst.as("_lst"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        round(
          aggregate(zip_with(col("_lst"), slice(wts, lit(1), size(col("_lst"))),
            (x, wt) => x * wt), lit(0L), (acc, t) => acc + t).cast("double")
            / aggregate(slice(wts, lit(1), size(col("_lst"))), lit(0L),
                (acc, t) => acc + t)
            / 1e6,
          6).as("ewma"))
  }
}
