package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.3).
  *
  * J1 — the flagship stream-table LEFT OUTER equi-join enriching
  * aggregated events with the current user row (README.md:56-58,69-70).
  * J2 — the batch inner equi-join attaching user dims to windowed
  * features (train.py:275).
  *
  * Scale stance: dimension tables (users/customer) are small relative to
  * the fact side at any scale factor — broadcast them explicitly so the
  * 100 TB fact side never shuffles for the join. ksqlDB instead forces a
  * repartition topic (the manual `PARTITION BY` rekey); Spark's broadcast
  * hash join removes that entire exchange.
  */
object Joins {

  /** J1 — left-enrich facts with a (already latest-by-key) dimension.
    * Unmatched fact rows keep nulls, per reference LEFT JOIN semantics.
    */
  def leftEnrich(
      facts: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String): DataFrame =
    facts.join(broadcast(dim), facts(factKey) === dim(dimKey), "left")

  /** J2 — inner-enrich (training-side join). */
  def innerEnrich(
      facts: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String): DataFrame =
    facts.join(broadcast(dim), facts(factKey) === dim(dimKey), "inner")

  /** Interval (range) equi+band join: rows of `left` matched to rows of
    * `right` with the same key and right.ts ∈ [left.ts + lowerSec,
    * left.ts + upperSec] — the attribution-join shape (e.g. clicks in
    * the 10 minutes before each purchase).
    *
    * Scale: the equi-key makes this a hash-partitioned join with the
    * band as a post-join filter — Catalyst plans SortMergeJoin on the
    * key with the range predicate pushed into the join condition. For
    * stream-stream, the same expression with watermarks on both sides
    * bounds join state (see Streaming tests).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTsSec: String,
      rightTsSec: String,
      lowerSec: Long,
      upperSec: Long,
      joinType: String = "inner"): DataFrame = {
    val cond = left(leftKey) === right(rightKey) &&
      right(rightTsSec) >= left(leftTsSec) + lowerSec &&
      right(rightTsSec) <= left(leftTsSec) + upperSec
    left.join(right, cond, joinType)
  }

  /** As-of join (a left join Spark lacks natively): each left row picks
    * up the payload of the LATEST right row with right.ts <= left.ts for
    * the same key; left rows before any right row keep nulls.
    *
    * Spark-first formulation: instead of an interval join (whose match
    * set is unbounded — every earlier right row joins every later left
    * row before the reduction), tag and UNION both sides, sort each key
    * partition once by (ts, side) with right rows first on ties, and
    * carry the right payload forward with last(_, ignoreNulls) over an
    * unbounded-preceding frame. One shuffle on the key, one
    * per-partition sort, zero join blowup — the classic merge-join
    * formulation expressed in declarative Spark.
    *
    * Precondition for determinism: the right side has at most one row
    * per (key, ts) — pre-reduce with [[Relational.latestByKey]].
    *
    * All payload columns are carried in ONE struct filled by a single
    * last(_, ignoreNulls) — filling each column independently would mix
    * values from different right rows whenever the as-of match has a NULL
    * in one payload column (it would silently inherit an older row's
    * non-null value for that column only).
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTsSec: String,
      rightTsSec: String,
      rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val payloadType = org.apache.spark.sql.types.StructType(
      rightPayload.map(c => right.schema(c).copy(nullable = true)))
    val lPart = left.select(
      leftCols.map(col) ++
        Seq(lit(1).as("_side"), col(leftKey).as("_k"), col(leftTsSec).as("_t"),
          // the whole struct is NULL on left rows, so ignoreNulls skips
          // them; a struct of per-column NULLs would NOT be skipped
          lit(null).cast(payloadType).as("_r")): _*)
    val rPart = right.select(
      leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(lit(0).as("_side"), col(rightKey).as("_k"), col(rightTsSec).as("_t"),
          struct(rightPayload.map(col): _*).cast(payloadType).as("_r")): _*)
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_side")) // right (0) before left (1) on ties → <= semantics
      .rowsBetween(Window.unboundedPreceding, 0)
    // Deliberately NOT pinned to a width here (contrast hoppingPivot's
    // preShuffle exchange): this exchange carries the full union with
    // no post-shuffle amplification, so AQE's byte-based coalescing
    // sizes it correctly from a well-set initialPartitionNum — which
    // graft.Sessions provides per query (measured at sf100: a
    // stats-pinned 165 ran 64 s while the conf-sized plan runs ~45 s;
    // the conf path also lets deployments tune without a code change).
    lPart.unionByName(rPart)
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) ++
        rightPayload.map(c => col("_r").getField(c).as(c)): _*)
  }

  /** Broadcast as-of join — [[asOfJoin]]'s zero-fact-shuffle variant
    * for the common case where the right side is a broadcastable
    * DIMENSION HISTORY (SCD2 dims: versions per key × keys ≪ facts).
    * The dim compacts to one per-key time-sorted history array (one
    * small shuffle of the dim only), broadcasts, and each fact row
    * picks the LAST history entry with ts ≤ its own — a broadcast hash
    * join plus a codegen'd array probe, so the 100 TB fact side is
    * never exchanged or sorted at all (plan-asserted). [[asOfJoin]]
    * remains the big-right-side path (one fact shuffle, merge-join
    * shaped).
    *
    * Same semantics as [[asOfJoin]]: ≤ on ties, NULL payloads before a
    * key's first version or for unmatched keys, the whole payload
    * struct selected atomically (no cross-version column mixing). One
    * semantic STRENGTHENING over [[asOfJoin]]: duplicate (key, ts)
    * versions are allowed — the history sorts totally on
    * (ts, payload…) and the probe picks the sort-order-LAST entry ≤ ts,
    * so ties resolve deterministically to the max payload tuple (with a
    * unique version id as the first payload column, that is "the
    * latest version", exactly what a latestByKey pre-pass would keep —
    * minus its shuffle+window). [[asOfJoin]] still REQUIRES
    * one-row-per-(key, ts): its window tie order among duplicate right
    * rows is unspecified. The per-fact
    * probe is a BINARY SEARCH over the key's sorted version-timestamp
    * array (native codegen'd expression) — O(log |history|); the
    * filter()-HOF formulation it replaced scanned the whole history
    * per fact row in interpreted mode and measured 2.3× the SHUFFLING
    * as-of at sf0.1, inverting the variant's whole point.
    */
  def asOfJoinBroadcast(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTsSec: String,
      rightTsSec: String,
      rightPayload: Seq[String]): DataFrame = {
    // The probe compares LONGS (sorted_last_leq_idx is typed
    // array<bigint> × bigint): a fractional ts would silently truncate
    // and could match a version whose true ts exceeds the fact ts, so
    // reject non-integral ts types up front — asOfJoin keeps the
    // native-type comparison for those.
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
    for ((df, c) <- Seq((left, leftTsSec), (right, rightTsSec)))
      require(integral(df.schema(c).dataType),
        s"asOfJoinBroadcast requires an integral ts column; '$c' is " +
          s"${df.schema(c).dataType.simpleString} — use asOfJoin for " +
          "fractional/timestamp types")
    val leftCols = left.columns.toSeq
    // _ts (sorted version times) is derived ONCE per dim key at
    // broadcast-build time; the per-row probe touches only it and the
    // matched element — never walks _hist. Null-ts versions are DROPPED
    // here (asOfJoin's native `<=` can never match them either; left in,
    // they'd sort first and read as 0 through ArrayData.getLong).
    val hist = right.filter(col(rightTsSec).isNotNull)
      .groupBy(col(rightKey).as("_k"))
      .agg(sort_array(collect_list(struct(
        (col(rightTsSec).as("_t") +: rightPayload.map(col)): _*))).as("_hist"))
      .withColumn("_ts", transform(col("_hist"), e => e("_t").cast("long")))
    left.join(broadcast(hist), left(leftKey) === hist("_k"), "left")
      .withColumn("_i", graft.functions.VecExpressions
        .sorted_last_leq_idx(col("_ts"), col(leftTsSec).cast("long")))
      // _i = 0 (no version at-or-before) and _i = null (unmatched key)
      // both yield a NULL payload struct
      .withColumn("_m", when(col("_i") > 0, element_at(col("_hist"), col("_i"))))
      .select(leftCols.map(col) ++
        rightPayload.map(c => col("_m")(c).as(c)): _*)
  }

  /** Adaptive as-of join — picks [[asOfJoinBroadcast]] vs [[asOfJoin]]
    * from the measured history size, so the crossover SCALE.md settled
    * at three points (broadcast wins ≤ ~1.5 M history entries, parity
    * ~3–4 M, shuffle decisively beyond — 15 M measured 7.17 vs 4.98 s)
    * is engine behavior instead of a caller decision. The probe is ONE
    * cheap count of the dim side (narrow scan + count, no shuffle; the
    * dim is by definition the small side — the 100 TB fact side is
    * never touched by the estimate). `historyThreshold` defaults to
    * 2 M: inside the measured broadcast-wins region, comfortably below
    * the parity band, and a 2 M-entry sorted-array history broadcasts
    * in tens of MB.
    *
    * Non-integral ts columns always take the shuffle path —
    * [[asOfJoinBroadcast]] rejects them (its probe compares longs).
    * Same precondition as [[asOfJoin]] when the shuffle path can be
    * chosen: at most one right row per (key, ts). Under that
    * precondition the two variants are result-identical (property- and
    * oracle-tested), so the pick is invisible to callers.
    */
  def asOfJoinAuto(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTsSec: String,
      rightTsSec: String,
      rightPayload: Seq[String],
      historyThreshold: Long = 2000000L): DataFrame = {
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
    val bothIntegral = integral(left.schema(leftTsSec).dataType) &&
      integral(right.schema(rightTsSec).dataType)
    val hist = if (bothIntegral) asOfHistorySize(right, rightTsSec) else -1L
    val useBroadcast = bothIntegral && hist <= historyThreshold
    graft.Sessions.recordDecision("asOfJoinAuto", hist.toDouble,
      historyThreshold.toDouble,
      if (useBroadcast) "broadcast"
      else if (bothIntegral) "shuffle" else "shuffle(nonIntegralTs)")
    if (useBroadcast)
      asOfJoinBroadcast(left, right, leftKey, rightKey, leftTsSec, rightTsSec,
        rightPayload)
    else
      asOfJoin(left, right, leftKey, rightKey, leftTsSec, rightTsSec,
        rightPayload)
  }

  /** The size estimate [[asOfJoinAuto]] decides on: non-null-ts history
    * entries (exactly the rows the broadcast build would collect).
    * Public so specs can assert the decision boundary directly.
    */
  def asOfHistorySize(right: DataFrame, rightTsSec: String): Long =
    // memoized per (plan, input size) — see Sessions.memoEstimate
    graft.Sessions.memoEstimate(right, s"asofhist|$rightTsSec") {
      right.filter(col(rightTsSec).isNotNull).count().toDouble
    }.toLong

  /** Blocked fuzzy self-matching (entity resolution): candidate pairs
    * are generated within (blocking key × length bucket), scored with
    * exact Levenshtein edit distance, and kept under `maxDistance`.
    * Emits (block, left id/name, right id/name, distance) for
    * id₁ < id₂ — each unordered pair once.
    *
    * Scale design, two layers:
    *
    * 1. **Compare the distinct name domain, not the rows.** The DP runs
    *    once per distinct (block, name-pair); matches then expand back
    *    to id pairs with two narrow equi-joins. Real entity attributes
    *    are low-cardinality relative to row count (the fixture: 64
    *    distinct names across 20 000 parts ⇒ ~52 k DPs instead of 7 M),
    *    and when names ARE unique the distinct relation equals the
    *    input, so the fallback cost is the classic blocked join. The
    *    expensive kernel scales with the DOMAIN, only the cheap
    *    expansion scales with the data — measured 5.9 s → 0.9 s at
    *    sf0.1.
    * 2. **The length band is folded INTO the join key** — width-d
    *    buckets with a ±1 neighbor probe on one side (`|len(a)−len(b)|
    *    ≤ d` implies same-or-adjacent buckets; each name pair still
    *    joins exactly once, at the right name's single bucket) — so a
    *    fixed-cardinality block key (25 brands forever) cannot make the
    *    name-pair join quadratic when the domain has varied lengths.
    *    Exact band + bounded early-exit DP (O(d·min(len)) per pair,
    *    -1 on overflow) remain as residuals, so the result set is
    *    unchanged.
    *
    * `maxBlock` caps DISTINCT-NAME membership per (block × bucket) cell
    * (cf. [[graft.llm.Dedup.simhashNearDups]]'s `maxBucket`): names in
    * hotter cells are excluded from candidate generation — observable
    * spill, countable from the same window count — so one degenerate name
    * shape can never go quadratic at 100× data. Counting distinct names
    * rather than rows makes the cap a DOMAIN guard: duplicating the
    * corpus never trips it.
    */
  def fuzzyBlockedPairs(
      df: DataFrame,
      blockCol: String,
      idCol: String,
      nameCol: String,
      maxDistance: Int,
      maxBlock: Int = Int.MaxValue): DataFrame = {
    require(maxDistance >= 1, s"maxDistance must be >= 1, got $maxDistance")
    require(maxBlock >= 1, s"maxBlock must be >= 1, got $maxBlock")
    val ids = df.select(col(blockCol).as("block"),
      col(idCol).as("_id"), col(nameCol).as("_name"))
    val ndist = ids.select(col("block"), col("_name")).distinct()
      .withColumn("_lb",
        floor(length(col("_name")) / maxDistance).cast("long"))
    val capped =
      if (maxBlock == Int.MaxValue) ndist
      else {
        // window count, not groupBy+self-join: the cell size is counted
        // over the SAME shuffle that the filter consumes, so there is no
        // second relation and no build-side decision. (The previous
        // aggregate-then-rejoin shape left the build side to AQE; at SFs
        // where both sides are comparable the pick flapped run-to-run —
        // PlanAudit caught q_fuzzy_match alternating BuildLeft/BuildRight
        // — and neither side is safely broadcastable in general: the cell
        // list approaches |ndist| when every cell is a singleton.)
        val cell = org.apache.spark.sql.expressions.Window
          .partitionBy(col("block"), col("_lb"))
        ndist.withColumn("_n", count(lit(1)).over(cell))
          .filter(col("_n") <= maxBlock)
          .drop("_n")
      }
    val l = capped
      .withColumn("_probe",
        explode(array(col("_lb") - 1, col("_lb"), col("_lb") + 1)))
      .select(col("block"), col("_probe"), col("_name").as("na"))
    val r = capped.select(col("block"), col("_lb").as("_probe"),
      col("_name").as("nb"))
    // one row per unordered NAME pair (na <= nb; na = nb carries the
    // exact-duplicate ids of one name)
    val matched = l.join(r, Seq("block", "_probe"))
      .filter(col("na") <= col("nb"))
      .filter(abs(length(col("na")) - length(col("nb"))) <= maxDistance)
      .withColumn("distance", levenshtein(col("na"), col("nb"), maxDistance))
      .filter(col("distance") >= 0 && col("distance") <= maxDistance)
      .drop("_probe")
    // expansion: re-attach the id lists of both names; for equal names
    // keep i < j directly (the product contains both orientations), for
    // distinct names orient the single occurrence by id. The explicit
    // _ida =!= _idb guard matters when one id occurs under BOTH names
    // (two rows, same id, names within maxDistance): the name pair is a
    // real match but its expansion would otherwise emit a self-pair,
    // which the pair contract (left_id < right_id) excludes
    val la = ids.select(col("block").as("_ba"), col("_name").as("_na2"),
      col("_id").as("_ida"))
    val rb = ids.select(col("block").as("_bb"), col("_name").as("_nb2"),
      col("_id").as("_idb"))
    matched
      .join(la, col("block") === col("_ba") && col("na") === col("_na2"))
      .join(rb, col("block") === col("_bb") && col("nb") === col("_nb2"))
      .filter(col("_ida") =!= col("_idb") &&
        (col("na") =!= col("nb") || col("_ida") < col("_idb")))
      .select(col("block"),
        least(col("_ida"), col("_idb")).as("left_id"),
        when(col("_ida") < col("_idb"), col("na")).otherwise(col("nb"))
          .as("left_name"),
        greatest(col("_ida"), col("_idb")).as("right_id"),
        when(col("_ida") < col("_idb"), col("nb")).otherwise(col("na"))
          .as("right_name"),
        col("distance"))
  }

  /** Range-lookup join, equi-ized by bucketing: match each fact value to
    * the dim interval [lo, hi) containing it — the IP→geo / price→tier
    * lookup shape. A naive non-equi join plans BroadcastNestedLoop
    * (O(facts × dims) comparisons); here each dim interval is exploded
    * to the fixed-width buckets it covers and each fact hashes to ONE
    * bucket, so the plan is a plain (broadcast) hash join on the bucket
    * with the interval predicate as a residual filter. Dim blow-up is
    * len/width buckets per interval — pick `bucketWidth` near the
    * typical interval length so the exploded dim stays broadcast-sized.
    * Overlapping intervals are allowed (a fact then matches each).
    */
  def rangeLookupJoin(
      facts: DataFrame,
      valueCol: String,
      dim: DataFrame,
      loCol: String,
      hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val exploded = dim.withColumn("_bucket",
      explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    facts
      .withColumn("_bucket", floor(col(valueCol) / bucketWidth).cast("long"))
      .join(broadcast(exploded), Seq("_bucket"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("_bucket")
  }

  private val MaxReplication = 4096L

  /** The width [[rangeLookupJoinAuto]] decides on: the dim's MEDIAN
    * interval length (exact percentile — the dim is broadcast-sized by
    * the operator's own contract, so the probe is a tiny local job;
    * memoized per plan+size), CLAMPED so the WIDEST interval replicates
    * at most [[MaxReplication]] buckets: one open-ended catch-all tier in
    * an otherwise-narrow config (median 5, one [0, 1e9) row) would
    * otherwise explode 2×10^8 rows through the broadcast. The clamp
    * trades residual-filter work on the wide interval's buckets for a
    * bounded build side — the right side of the trade, since the
    * residual is a codegen'd comparison and the broadcast is memory.
    * Public so specs can pin the decision. Floors at a tiny epsilon
    * for degenerate all-point-interval dims.
    */
  def rangeBucketWidth(
      dim: DataFrame,
      loCol: String,
      hiCol: String): Double = {
    math.max(graft.Sessions.memoEstimate(dim,
      s"rangewidth|$loCol|$hiCol|$MaxReplication") {
      // exact interpolating median, not percentile_approx: the dim is
      // tiny by contract, and approx returns a lower-neighbor DATA value
      // at even counts where the interpolated midpoint is the honest
      // "typical length"
      val len = (col(hiCol) - col(loCol)).cast("double")
      val r = dim.agg(median(len).as("m"), max(len).as("mx")).head()
      if (r.isNullAt(0)) 1.0
      else math.max(r.getDouble(0), r.getDouble(1) / MaxReplication)
    }, 1e-9)
  }

  /** Adaptive range-lookup join — the fifth adaptive operator (after
    * hoppingPivotAuto / asOfJoinAuto / saltedJoinAuto / simTopKAuto):
    * derives `bucketWidth` from the dim's measured interval-length
    * median instead of the caller guess [[rangeLookupJoin]]'s scaladoc
    * asks for ("pick bucketWidth near the typical interval length").
    *
    * The width trades two costs that move in opposite directions:
    * NARROW buckets replicate each dim interval len/width times through
    * the broadcast (a 16× under-sized width = 16× broadcast rows and
    * build-side hash entries); WIDE buckets keep the dim compact but
    * hand every fact row all intervals sharing its bucket as
    * candidates, multiplying residual-filter evaluations. At the
    * median length, replication is ~2 rows per interval while a fact's
    * candidate set stays proportional to its LOCAL interval density —
    * both within a small constant of their floors (the measured sweep:
    * SCALE.md "Round 14: range-lookup bucket width, measured").
    * Result is width-invariant (the residual filter is exact), so
    * mis-estimation is performance-only — spec-asserted across a 256×
    * width sweep.
    */
  def rangeLookupJoinAuto(
      facts: DataFrame,
      valueCol: String,
      dim: DataFrame,
      loCol: String,
      hiCol: String): DataFrame = {
    val w = rangeBucketWidth(dim, loCol, hiCol)
    // parameter-deriving decision: the measured median IS the pick
    graft.Sessions.recordDecision("rangeLookupJoinAuto", w, 0.0, s"bucketWidth=$w")
    rangeLookupJoin(facts, valueCol, dim, loCol, hiCol, w)
  }

  /** Key-coercion helper for the reference's string/int key wrinkle
    * (SURVEY.md §2.3: events.user_id STRING vs users.id INTEGER — the
    * join works via stringified rekey). Engine convention: normalize to
    * the dimension's key type at the fact side, asserted in tests.
    */
  def coerceKey(df: DataFrame, key: String, toType: String): DataFrame =
    df.withColumn(key, col(key).cast(toType))
}
