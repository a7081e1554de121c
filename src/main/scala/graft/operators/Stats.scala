package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed percentiles via coarse-bucket localization + exact
  * rank refinement.
  *
  * Spark's built-in exact `percentile` is a TypedImperativeAggregate
  * holding a value→count map per group: memory grows with distinct
  * values and the whole map serializes between partial and final
  * aggregation — on near-unique doubles (prices) it is the slowest kind
  * of aggregate. The round-3 formulation here (value histogram + one
  * cumulative window per group) was exact but put EVERY distinct value
  * of a group through a single-task window sort — fine for 3 groups at
  * sf0.1, a scale-killer for a 100 TB fact table where one group's
  * distinct values don't fit one task.
  *
  * Plan shape: per-group (min, max, n) in one scan-agg, then a coarse
  * B-bucket count histogram (map-side combined, B rows per group) whose
  * tiny cumulative window pinpoints the buckets containing each
  * percentile's bracketing ranks and the exact rank offset below them.
  * Only rows inside those ≤ 2·|ps| kept buckets per group enter the
  * exact value-histogram window (which groups by value BEFORE the
  * window, so repeated values collapse for free).
  *
  * Worst case — (almost) all mass in one coarse bucket because an
  * outlier stretched the range — is handled by a CONDITIONAL second
  * localization: the kept-bucket relation (≤ 2·|ps| rows per group)
  * already carries each bucket's row count, so one tiny driver-side agg
  * decides whether any kept bucket exceeds `refineThreshold`. If none
  * does (the overwhelmingly common case), the exact pass runs directly —
  * three base scans total, nothing re-localized. If one does, the kept
  * rows are materialized once (localCheckpoint, ≈ 2·|ps|·n/B rows) and
  * the SAME localization runs again inside each kept bucket over its own
  * OBSERVED [min, max] — observed, not grid-subdivided, so a tight value
  * cluster inside a huge bucket still splits B ways. Either way no stage
  * holds per-group state larger than one (value, count) row, and every
  * exact-pass shuffle key includes the (sub-)bucket, so in-group
  * parallelism is the kept-bucket count, not 1.
  *
  * Interpolation matches `percentile`/DuckDB `quantile_cont`:
  * pos = p·(n−1); result = (⌈pos⌉−pos)·lo + (pos−⌊pos⌋)·hi with the
  * integer-position branch, where lo/hi are the values at 1-based ranks
  * ⌊pos⌋+1 / ⌈pos⌉+1 — bit-identical to the built-in (spec-asserted)
  * and oracle-gated in q_stats_profile.
  */
object Stats {

  /** One output column per (name, p) on top of the group column.
    * `refineThreshold` is the largest row count a kept bucket may have
    * before the second localization engages (≈ the most rows one exact
    * window task should ever sort).
    */
  def percentilesByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[(String, Double)],
      buckets: Int = 1024,
      refineThreshold: Long = 1L << 16): DataFrame =
    percentilesMulti(df, groupCol, Seq(valueCol -> ps), buckets, refineThreshold)

  /** Exact percentiles for SEVERAL measure columns in one localization
    * pipeline: the measures ride through pass 0/1/2 tagged with a
    * measure ordinal folded into the composite group key (_g, _m), so
    * profiling k columns costs the SAME three base scans as one column
    * instead of 3·k — per-measure semantics are untouched because every
    * stage partitions on the composite key. One output column per
    * (name, p) across all measures, one row per group.
    */
  def percentilesMulti(
      df: DataFrame,
      groupCol: String,
      measures: Seq[(String, Seq[(String, Double)])],
      buckets: Int = 1024,
      refineThreshold: Long = 1L << 16): DataFrame = {
    require(measures.nonEmpty, "percentilesMulti needs >= 1 measure")
    val names = measures.flatMap(_._2.map(_._1))
    require(names.distinct.size == names.size,
      s"duplicate output names across measures: $names")
    val ranked = localizedRanks(df, groupCol, measures, buckets, refineThreshold)
    val aggs = measures.zipWithIndex.flatMap { case ((_, ps), mi) =>
      ps.map { case (name, p) =>
        val m = col("_m") === mi
        val pos = lit(p) * (col("_n") - 1)
        val lo = min(when(m && col("_cum") >= floor(pos) + 1, col("_v")))
        val hi = min(when(m && col("_cum") >= ceil(pos) + 1, col("_v")))
        val posA = min(when(m, pos)) // per-(group, measure) constant
        // (ceil−pos)·lo + (pos−floor)·hi with the integer-position branch
        // — Spark's Percentile.getPercentile arithmetic exactly, so
        // results compare bit-identically with the built-in
        when(floor(posA) === ceil(posA), lo)
          .otherwise((ceil(posA) - posA) * lo + (posA - floor(posA)) * hi)
          .as(name)
      }
    }
    ranked.groupBy(col("_g")).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("_g", groupCol)
  }

  /** Exact GLOBAL percentiles (whole-table, no group column) — the same
    * coarse-bucket localization as [[percentilesByGroup]], but with the
    * bounded intermediate relations read to the DRIVER instead of
    * checkpoint/broadcast/re-joined: the coarse histogram is ≤ `buckets`
    * rows (bounded by the parameter, never by the data — the
    * nprobe-IN-list contract), and the kept-bucket descriptors are
    * ≤ 2·|ps| rows. The generic path stays mandatory whenever groups are
    * data-driven.
    *
    * Two fresh-JVM lessons are load-bearing here (rounds 8–11 chased
    * this operator's in-suite-fast / standalone-slow split):
    *  1. The extent never visits the driver — it rides the plan as a
    *     one-row broadcast relation the bucket expression cross-joins,
    *     and n falls out of the coarse counts. Driver-blocking rounds:
    *     coarse collect + rank collect, i.e. TWO, not the former four.
    *  2. NO dataset-specific constant may appear in generated code —
    *     extent, kept buckets, and ranks all enter as broadcast DATA.
    *     A `lit(mn)` would change the generated source per dataset and
    *     re-pay ~2 s of Janino after every warmup (the round-10
    *     when-chain lesson, now applied to the extent too).
    *
    * Numerics mirror [[localizedRanks]] operation-for-operation (bucket
    * width `(mx−mn)/buckets` then `floor((v−mn)/width)` evaluated by the
    * SAME Spark expression on executors; pos = p·(n−1) and the
    * (⌈pos⌉−pos)·lo + (pos−⌊pos⌋)·hi interpolation in driver doubles —
    * identical IEEE ops in identical order), so results are bit-identical
    * to the generic path and to Spark's built-in `percentile`. The
    * output is the exact value at each needed rank, so the internal
    * bucketing scheme cannot perturb results — it only localizes.
    *
    * Returns one un-rounded value per p, in `ps` order; NaN per p on
    * empty/all-NULL input. Worst-case skew (a kept bucket holding more
    * than `refineThreshold` rows because an outlier stretched the range)
    * triggers the same conditional second localization inside kept
    * buckets, over their OBSERVED extents.
    */
  def percentilesGlobal(
      df: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      buckets: Int = 1024,
      refineThreshold: Long = 1L << 16): Seq[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0,1]: $ps")
    require(buckets >= 2, s"need >= 2 coarse buckets, got $buckets")
    require(refineThreshold >= 1, s"refineThreshold must be >= 1: $refineThreshold")
    val rows = df.select(col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)

    // the SAME bucket arithmetic as localizedRanks.bucketOf, but with
    // the one-row extent cross-joined in as broadcast columns (lesson 2
    // above). Degenerate mn == mx collapses every row to bucket 0; the
    // exact pass's (value-grouped) fine relation then has one row, so
    // the long path stays cheap and returns mn at every rank.
    val extDf = rows.agg(min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
    val bucketed = rows.crossJoin(broadcast(extDf))
    val bCol = when(col("_mn") === col("_mx"), lit(0)).otherwise(
      least(lit(buckets - 1),
        floor((col("_v") - col("_mn")) /
          ((col("_mx") - col("_mn")) / lit(buckets))).cast("int")))

    // coarse pass: ≤ buckets rows to the driver; n = Σ counts (no
    // separate extent round — lesson 1 above)
    val coarse = bucketed.groupBy(bCol.as("_b"))
      .agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = coarse.map(_._2).sum
    if (n == 0L) return ps.map(_ => Double.NaN)

    // pos = p·(n−1) exactly as lit(p) * (col("_n") − 1) evaluates
    val pos = ps.map(p => p * (n - 1).toDouble)
    val rankPairs = pos.map(x =>
      (math.floor(x).toLong + 1L, math.ceil(x).toLong + 1L))
    val ranksNeeded = rankPairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted

    var running = 0L
    val cum = coarse.map { case (b, c) =>
      val before = running; running += c; (b, c, before)
    }
    def isNeeded(before: Long, cumV: Long): Boolean =
      ranksNeeded.exists(k => before < k && cumV >= k)
    val kept = cum.filter { case (_, c, before) => isNeeded(before, before + c) }

    // kept-bucket descriptors ride as broadcast LocalRelations, NOT as
    // literal IN-lists / when-chains: LocalRelation values live in the
    // broadcast DATA, so the generated code is value-independent — the
    // sf0.001 warmup's compiled classes are reused at every SF, and the
    // codegen units stay small (the round-10 profile showed the
    // when-chain formulation paying ~2 s of Janino per new dataset)
    val session = df.sparkSession
    import session.implicits._
    // literal-extent bucketing, used ONLY on the rare skew branch below
    // (it embeds per-dataset constants, so it recompiles — acceptable
    // for an adversarial-input fallback, never on the common path)
    def bucketOf(v: Column, lo: Double, hi: Double): Column =
      least(lit(buckets - 1),
        floor((v - lit(lo)) / lit((hi - lo) / buckets)).cast("int"))
    val exact =
      if (kept.forall(_._2 <= refineThreshold)) {
        // common case: every kept bucket fits one exact window task
        val keptDf = kept.toSeq
          .map { case (kb, _, kbefore) => (kb, kbefore) }.toDF("_b", "_before")
        bucketed.withColumn("_b", bCol)
          .join(broadcast(keptDf), Seq("_b"))
          .select(col("_b").cast("long").as("_part"), col("_before"), col("_v"))
      } else {
        // adversarial skew: localize AGAIN inside each kept bucket over
        // its OBSERVED extent. Sub-bucket counts are ≤ 2·|ps|·buckets
        // rows — still parameter-bounded.
        val keptBDf = kept.toSeq.map(_._1).toDF("_b")
        val keptRows = bucketed.withColumn("_b", bCol)
          .select(col("_v"), col("_b"))
          .join(broadcast(keptBDf), Seq("_b"))
          .localCheckpoint()
        val subExt = keptRows.groupBy(col("_b"))
          .agg(min(col("_v")).as("_smn"), max(col("_v")).as("_smx"))
          .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        val subB = subExt.foldLeft(lit(0)) { case (acc, (kb, smn, smx)) =>
          when(col("_b") === kb,
            if (smn == smx) lit(0) else bucketOf(col("_v"), smn, smx))
            .otherwise(acc)
        }
        val subCoarse = keptRows.withColumn("_sb", subB)
          .groupBy(col("_b"), col("_sb")).agg(count(lit(1)).as("_c"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2))
        val beforeOfB = kept.map { case (kb, _, kbefore) => kb -> kbefore }.toMap
        val subCum = subCoarse.groupBy(_._1).toSeq.flatMap { case (kb, scs) =>
          var r = beforeOfB(kb)
          scs.sortBy(_._2).map { case (_, sb, c) =>
            val before = r; r += c; (kb, sb, c, before)
          }
        }
        val kept2 = subCum.filter { case (_, _, c, before) => isNeeded(before, before + c) }
        val kept2Df = kept2
          .map { case (kb, sb, _, kbefore) => (kb, sb, kbefore) }
          .toDF("_b", "_sb", "_before")
        keptRows.withColumn("_sb", subB)
          .join(broadcast(kept2Df), Seq("_b", "_sb"))
          .select((col("_b").cast("long") * buckets + col("_sb")).as("_part"),
            col("_before"), col("_v"))
      }

    // exact pass: group by value first (ties collapse), rank window
    // partitioned by the kept (sub-)bucket — each partition ≤
    // refineThreshold rows by construction. Rank selection is a
    // CONTAINMENT join against the ≤ 2·|ps|-row rank relation (rank k
    // falls inside value-run (cum−c, cum]) — one row per rank, instead
    // of 2·|ps| separate min(when) aggregates whose generated code
    // would embed the ranks
    val fine = exact.groupBy(col("_part"), col("_before"), col("_v"))
      .agg(count(lit(1)).as("_c"))
    val wV = Window.partitionBy(col("_part")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = fine.withColumn("_cum", col("_before") + sum(col("_c")).over(wV))
    val ranksDf = ranksNeeded.toDF("_k")
    val valAt = ranked.join(broadcast(ranksDf),
        col("_k") > col("_cum") - col("_c") && col("_k") <= col("_cum"))
      .select(col("_k"), col("_v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

    pos.zip(rankPairs).map { case (x, (kLo, kHi)) =>
      val lo = valAt(kLo)
      val hi = valAt(kHi)
      val fl = math.floor(x)
      val cl = math.ceil(x)
      if (fl == cl) lo else (cl - x) * lo + (x - fl) * hi
    }
  }

  /** Robust per-group outlier filter: keep rows whose value lies inside
    * the group's [loP, hiP] EXACT percentile band — the
    * distribution-driven filter a pipeline derives from profiling (e.g.
    * drop documents outside each source's p05–p95 length band). Bounds
    * are rounded to 6 decimals before comparison on BOTH engines: the
    * DuckDB oracle's `quantile_cont` interpolates with lo + f·(hi−lo)
    * while Spark uses the weighted form, so an unrounded bound could
    * differ in the last ulp and flip a boundary row.
    *
    * Scale: percentile bounds via [[percentilesByGroup]] (bounded-state
    * localization), then one broadcast join of the one-row-per-group
    * bounds relation — the corpus never shuffles.
    */
  def outlierFilter(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      loP: Double = 0.05,
      hiP: Double = 0.95): DataFrame = {
    require(loP <= hiP, s"outlierFilter: loP $loP must be <= hiP $hiP")
    val b = percentilesByGroup(df, groupCol, valueCol,
      Seq("_lo" -> loP, "_hi" -> hiP))
      .select(col(groupCol),
        round(col("_lo"), 6).as("_lo"), round(col("_hi"), 6).as("_hi"))
    df.join(broadcast(b), groupCol)
      .filter(col(valueCol) >= col("_lo") && col(valueCol) <= col("_hi"))
      .drop("_lo", "_hi")
  }

  /** Winsorization: CLAMP each row's value into its group's
    * [loP, hiP] exact-percentile band — the keep-the-row companion of
    * [[outlierFilter]]'s drop semantics (feature engineering wants the
    * row with a tamed tail, not a smaller table). Same bounded-state
    * percentile localization, same one-row-per-group broadcast, same
    * 6-decimal bound rounding so the clamp decision is engine-identical;
    * the corpus never shuffles.
    */
  def winsorize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      loP: Double = 0.05,
      hiP: Double = 0.95): DataFrame = {
    require(loP <= hiP, s"winsorize: loP $loP must be <= hiP $hiP")
    val b = percentilesByGroup(df, groupCol, valueCol,
      Seq("_lo" -> loP, "_hi" -> hiP))
      .select(col(groupCol),
        round(col("_lo"), 6).as("_lo"), round(col("_hi"), 6).as("_hi"))
    df.join(broadcast(b), groupCol)
      .withColumn(s"${valueCol}_wins",
        least(greatest(col(valueCol).cast("double"), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** Equi-width histogram of a numeric column: `bins` buckets spanning
    * the observed [min, max], each row reporting its bucket edges, row
    * count, and observed value extent. The standard first-look profiling
    * relation (and the input a visual layer bins from).
    *
    * Bucket assignment is the explicit `floor((v − min) / width)`
    * clamped to `bins − 1` (so v = max lands in the last bucket) — the
    * same IEEE-double expression the DuckDB oracle evaluates, keeping
    * boundary rows engine-identical without rounding tricks.
    *
    * Scale: pass 0 is a single min/max agg (partial-aggregated, two
    * doubles of state); pass 1 broadcasts that one-row extent and
    * hash-aggregates on the bucket id — ≤ `bins` rows of state total.
    * Empty buckets are absent (sparse output), which is what you want at
    * 100 TB: the relation is bounded by `bins`, never by the data.
    */
  def histogramEquiWidth(
      df: DataFrame,
      valueCol: String,
      bins: Int = 20): DataFrame = {
    require(bins > 0, s"histogramEquiWidth: bins must be > 0, got $bins")
    val v = col(valueCol).cast("double")
    // NULLs are not part of a histogram (and least(NULL, b) would
    // otherwise silently bucket them as bins-1)
    val nonNull = df.filter(v.isNotNull)
    val ext = nonNull.agg(min(v).as("_mn"), max(v).as("_mx"))
    val width = (col("_mx") - col("_mn")) / lit(bins.toDouble)
    nonNull.crossJoin(broadcast(ext))
      .withColumn("bucket",
        // constant column: width 0 makes floor(0/0) NaN — all mass is
        // one bucket by definition
        when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(floor((v - col("_mn")) / width).cast("int"),
            lit(bins - 1))))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(v).as("bucket_min"),
        max(v).as("bucket_max"),
        min(col("_mn") + col("bucket") * width).as("edge_lo"),
        min(col("_mn") + (col("bucket") + 1) * width).as("edge_hi"))
  }

  /** Equi-DEPTH histogram: bucket boundaries are the column's exact
    * (i/bins)-percentiles, so buckets hold ≈ equal row counts (exactly
    * equal up to value ties) — the profiling/binning complement of
    * [[histogramEquiWidth]] for skewed distributions, and the standard
    * feature-discretization step. A row's bucket is the number of
    * boundaries strictly below its value, so boundary ties land in the
    * lower bucket on both engines; boundaries are rounded to 6 decimals
    * before comparison (same last-ulp discipline as [[outlierFilter]]).
    *
    * Scale: the textbook NTILE formulation is a GLOBAL single-partition
    * window sort — a non-starter. Here the boundaries come from the
    * bounded-state percentile localization and broadcast as ONE row;
    * assignment is a codegen'd array probe, the data never globally
    * sorts, and output is ≤ bins rows.
    *
    * Cost (profiled round 10, sf0.1, local[32], one JVM — ProfileHist
    * decomposition): the per-row probe was NEVER the cost (literal-bounds
    * assignment measured 0.25 s); the old generic-path bounds subtree was
    * (1.6–2.6 s, 17 AQE jobs even for ONE percentile — the per-group-safe
    * machinery's checkpoint/broadcast/join materializations are pure
    * scheduling overhead when the group is the whole table). Boundaries
    * now come from [[percentilesGlobal]] (same localization, bounded
    * relations read to the driver) and fold into the probe as a LITERAL
    * array: ~4 jobs total, measured 0.9–1.2 s at sf0.1 warm.
    */
  def histogramEquiDepth(
      df: DataFrame,
      valueCol: String,
      bins: Int = 20): DataFrame = {
    require(bins >= 2, s"histogramEquiDepth: bins must be >= 2, got $bins")
    val v = col(valueCol).cast("double")
    val nonNull = df.filter(v.isNotNull)
    val bs = percentilesGlobal(
      nonNull, valueCol, (1 until bins).map(_.toDouble / bins))
    if (bs.exists(_.isNaN)) {
      // empty input: keep the empty-result contract (and the schema)
      // without constant-folding round(NaN) — BigDecimal can't hold NaN
      nonNull.withColumn("bucket", lit(0))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(v).as("bucket_min"), max(v).as("bucket_max"))
    } else {
      // 6-decimal HALF_UP rounding on the driver — BigDecimal(x)
      // .setScale(6, HALF_UP) is exactly Spark round()'s DoubleType
      // arithmetic (the StatsSpec brute force proves the equivalence) —
      // and the bounds ride as ONE typedLit array reference, so the
      // generated probe code is identical across datasets (codegen
      // cache hit from the warmup SF)
      val bounds = typedLit(bs.map(x =>
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray)
      nonNull
        .withColumn("bucket", size(filter(bounds, b => b < v)))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          min(v).as("bucket_min"),
          max(v).as("bucket_max"))
    }
  }

  /** Median absolute deviation per group — the robust spread measure
    * (outlier detection that, unlike stddev, is not itself dragged by
    * the outliers): MAD = median(|x − median(x)|), both medians EXACT.
    *
    * Strategy is picked by ONE shared profiling scan (extent, count,
    * HLL distinct-values per group):
    *
    * **Quantized domains** (every group's distinct-value count ≤
    * `refineThreshold` — quantities, scores, token counts, the common
    * MAD inputs): MAD is pure histogram algebra. One base scan builds
    * the per-(group, value) count histogram; the median falls out of
    * its cumulative window, and the deviation histogram is the SAME
    * relation re-keyed by |v − med| — no second scan, no localization,
    * 3 Spark executions end-to-end (the round-12 rework target: the old
    * two-pass shape spent ~3.5 s at sf0.1 almost entirely on the
    * scheduling overhead of its ~12 executions, not on data).
    *
    * **High-cardinality domains** (near-unique doubles): ONE
    * localization round serves BOTH medians (vs the two sequential
    * [[percentilesByGroup]] passes of the old shape): the coarse
    * x-histogram additionally records each bucket's OBSERVED [min, max],
    * so once the median m is exact, every bucket yields a PROVABLY
    * correct closed interval for the deviations of its rows — a bucket
    * left of m's bucket holds devs in [m − bmax, m − bmin], right of it
    * [bmin − m, bmax − m], m's own bucket [0, max(m − bmin, bmax − m)]
    * (observed extents, so no edge-arithmetic ulp slop; floor-bucketing
    * monotonicity guarantees the side split). Sweeping the ≤ 2B interval
    * endpoints per group with two cumulative windows gives thresholds
    * t_lo (largest endpoint whose over-count < k_lo) and t_hi (smallest
    * whose under-count ≥ k_hi) bracketing the deviation median's ranks,
    * and the single deviation scan classifies each row below / inside
    * (t_lo, t_hi] in one pass — the below-class count anchors absolute
    * ranks exactly, so the usual value-histogram window + interpolation
    * finishes the job. 4 base scans total (extent, coarse, median-exact,
    * deviation-exact) vs the former 6, and two fewer driver barriers —
    * fresh-JVM 2.4 s → target ≤ 1.5 s at sf0.1.
    *
    * Adversarial mass concentration (a kept median bucket or the
    * deviation band exceeding `refineThreshold` rows) falls back to
    * [[madByGroupGeneric]], whose nested re-localization handles any
    * distribution — decided by two tiny driver reads of
    * parameter-bounded relations, like the generic path's own refine
    * decision. Rounded to 6 decimals on both engines: DuckDB's
    * `quantile_cont` interpolates lo + f·(hi−lo), which can differ from
    * the weighted form in the last ulp.
    */
  def madByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      buckets: Int = 1024,
      refineThreshold: Long = 1L << 16): DataFrame = {
    require(buckets >= 2, s"need >= 2 coarse buckets, got $buckets")
    val rows = df.select(col(groupCol).as("_g"),
        col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
    // shared by both strategies: interp is Percentile.getPercentile's
    // arithmetic exactly; both medians bracket the same ranks because
    // the deviation multiset has the same cardinality n as the values
    val pos = lit(0.5) * (col("_n") - 1)
    val kLo = floor(pos) + 1
    val kHi = ceil(pos) + 1
    def interp(posA: Column, lo: Column, hi: Column): Column =
      when(floor(posA) === ceil(posA), lo)
        .otherwise((ceil(posA) - posA) * lo + (posA - floor(posA)) * hi)

    // pass 0: per-group extent + count (+ approx distinct values, which
    // picks the strategy) — checkpointed, it feeds three downstream
    // scans on the localization path
    val bounds0 = rows.groupBy(col("_g")).agg(
      count(lit(1)).as("_n"), min(col("_v")).as("_mn"), max(col("_v")).as("_mx"),
      approx_count_distinct(col("_v")).as("_ad"))
      .localCheckpoint()
    val maxAd = bounds0.agg(coalesce(max(col("_ad")), lit(0L))).head().getLong(0)

    // QUANTIZED-DOMAIN fast path: when every group's value domain is
    // small (quantities, scores, token counts — the common MAD inputs),
    // MAD is pure histogram algebra: ONE base scan builds the per-value
    // histogram, the median falls out of its cumulative window, and the
    // deviation histogram is the same relation re-keyed by |v − med| —
    // no second scan, no localization, 3 executions total. The HLL
    // estimate errs ~2%, so the in-group window sorts ≤ ~1.05·threshold
    // distinct values — same task bound the localization path enforces.
    if (maxAd <= refineThreshold) {
      val hist = rows.groupBy(col("_g"), col("_v"))
        .agg(count(lit(1)).as("_c")).localCheckpoint()
      val wG = Window.partitionBy(col("_g"))
      val wCum = Window.partitionBy(col("_g")).orderBy(col("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = hist
        .withColumn("_n", sum(col("_c")).over(wG))
        .withColumn("_cum", sum(col("_c")).over(wCum))
      val med = ranked.groupBy(col("_g")).agg(
        interp(min(pos),
          min(when(col("_cum") >= kLo, col("_v"))),
          min(when(col("_cum") >= kHi, col("_v")))).as("_med"))
      // _med rides the group key through the re-key (functionally
      // dependent on _g), so the median subtree evaluates once and the
      // final projection needs no rejoin
      val wCumD = Window.partitionBy(col("_g")).orderBy(col("_dv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return hist.join(broadcast(med), Seq("_g"))
        .groupBy(col("_g"), col("_med"),
          abs(col("_v") - col("_med")).as("_dv"))
        .agg(sum(col("_c")).as("_c"))
        .withColumn("_n", sum(col("_c")).over(wG))
        .withColumn("_cum", sum(col("_c")).over(wCumD))
        .groupBy(col("_g"), col("_med")).agg(
          interp(min(pos),
            min(when(col("_cum") >= kLo, col("_dv"))),
            min(when(col("_cum") >= kHi, col("_dv")))).as("_mad"))
        .select(col("_g").as(groupCol),
          round(col("_med"), 6).as("median"),
          round(col("_mad"), 6).as("mad"))
    }

    val bounds = bounds0.drop("_ad")
    def bucketOf(v: Column): Column =
      when(col("_mx") === col("_mn"), lit(0))
        .otherwise(least(lit(buckets - 1),
          floor((v - col("_mn")) / ((col("_mx") - col("_mn")) / buckets)).cast("int")))

    // pass 1: ONE coarse histogram, carrying each bucket's observed
    // extent for the deviation brackets — checkpointed (read by the
    // median kept-selection, the skew decision, and the threshold sweep)
    val coarse = rows.join(broadcast(bounds), Seq("_g"))
      .groupBy(col("_g"), bucketOf(col("_v")).as("_b"))
      .agg(count(lit(1)).as("_bc"),
        min(col("_v")).as("_bmn"), max(col("_v")).as("_bmx"))
      .localCheckpoint()
    val wB = Window.partitionBy(col("_g")).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumB = coarse.select(col("_g"), col("_b"), col("_bc"))
      .withColumn("_cumb", sum(col("_bc")).over(wB))
      .withColumn("_beforeb", col("_cumb") - col("_bc"))
      .join(broadcast(bounds.select(col("_g"), col("_n"))), Seq("_g"))
    val kept = cumB.filter(
        (col("_beforeb") < kLo && col("_cumb") >= kLo) ||
          (col("_beforeb") < kHi && col("_cumb") >= kHi))
      .select(col("_g"), col("_b"), col("_beforeb"), col("_bc"))

    // skew decision 1: a kept median bucket too big for one exact task
    val maxBc = kept.agg(coalesce(max(col("_bc")), lit(0L))).head().getLong(0)
    if (maxBc > refineThreshold)
      return madByGroupGeneric(df, groupCol, valueCol, buckets)

    // median-exact pass (pass 2): value histogram + rank window inside
    // the ≤ 2 kept buckets per group, then the Percentile.getPercentile
    // interpolation — identical arithmetic to percentilesByGroup
    val wV = Window.partitionBy(col("_g"), col("_b")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val medFine = rows.join(broadcast(bounds), Seq("_g"))
      .withColumn("_b", bucketOf(col("_v")))
      .join(broadcast(kept.drop("_bc")), Seq("_g", "_b"))
      .groupBy(col("_g"), col("_b"), col("_beforeb"), col("_v"), col("_n"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cum", col("_beforeb") + sum(col("_c")).over(wV))
    // one-row-per-group medians, materialized once: iv, the threshold
    // sweep, AND the final projection all read it — unmaterialized, each
    // would re-run the median-exact scan
    val med = medFine.groupBy(col("_g")).agg(
      interp(min(pos),
        min(when(col("_cum") >= kLo, col("_v"))),
        min(when(col("_cum") >= kHi, col("_v")))).as("_med"))
      .localCheckpoint()

    // deviation brackets: per-bucket closed dev intervals from observed
    // extents, swept at their ≤ 2B endpoints per group by two cumulative
    // windows (events sort before the candidate at an equal threshold,
    // matching the ≤ in the count definitions)
    val iv = coarse.join(broadcast(med), Seq("_g"))
      .join(broadcast(bounds.drop("_n")), Seq("_g"))
      .withColumn("_bm", bucketOf(col("_med")))
      .select(col("_g"), col("_bc"),
        when(col("_b") < col("_bm"), col("_med") - col("_bmx"))
          .when(col("_b") > col("_bm"), col("_bmn") - col("_med"))
          .otherwise(lit(0.0)).as("_dlo"),
        when(col("_b") < col("_bm"), col("_med") - col("_bmn"))
          .when(col("_b") > col("_bm"), col("_bmx") - col("_med"))
          .otherwise(greatest(col("_med") - col("_bmn"),
            col("_bmx") - col("_med"))).as("_dhi"))
    val cand = iv.select(col("_g"), col("_dlo").as("_t"))
      .union(iv.select(col("_g"), col("_dhi").as("_t"))).distinct()
    def sweep(endCol: String, cntName: String): DataFrame = {
      val ev = iv.select(col("_g"), col(endCol).as("_t"),
        col("_bc").as("_w"), lit(0).as("_o"))
      val cd = cand.select(col("_g"), col("_t"), lit(0L).as("_w"), lit(1).as("_o"))
      val wS = Window.partitionBy(col("_g")).orderBy(col("_t"), col("_o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.union(cd).withColumn("_cnt", sum(col("_w")).over(wS))
        .filter(col("_o") === 1)
        .select(col("_g"), col("_t"), col("_cnt").as(cntName))
    }
    // over-count(t) = Σ bc with dlo ≤ t bounds count(dev ≤ t) above;
    // under-count(t) = Σ bc with dhi ≤ t bounds it below — so rank-k
    // dev ∈ (t_lo, t_hi] by construction
    val th = sweep("_dlo", "_over").join(sweep("_dhi", "_under"), Seq("_g", "_t"))
      .join(broadcast(bounds.select(col("_g"), col("_n"))), Seq("_g"))
      .groupBy(col("_g")).agg(
        coalesce(max(when(col("_over") < kLo, col("_t"))), lit(-1.0)).as("_tlo"),
        min(when(col("_under") >= kHi, col("_t"))).as("_thi"))
    // tiny (one row per group, all parents checkpointed) — materialized
    // so the band-bound read and the deviation scan don't re-run the
    // endpoint sweeps
    val loc = med.join(th, Seq("_g"))
      .join(bounds.select(col("_g"), col("_n")), Seq("_g"))
      .localCheckpoint()

    // skew decision 2: rows the deviation band can admit, bounded by the
    // coarse counts of intersecting buckets — one single-row driver read
    val bandBound = iv.join(broadcast(loc.select(col("_g"), col("_tlo"), col("_thi"))), Seq("_g"))
      .filter(col("_dhi") > col("_tlo") && col("_dlo") <= col("_thi"))
      .groupBy(col("_g")).agg(sum(col("_bc")).as("_m"))
      .agg(coalesce(max(col("_m")), lit(0L))).head().getLong(0)
    if (bandBound > refineThreshold)
      return madByGroupGeneric(df, groupCol, valueCol, buckets)

    // deviation-exact pass (pass 3, the last base scan): classify each
    // row below / inside (t_lo, t_hi] — the below-class total anchors
    // absolute deviation ranks exactly in the same scan
    val wD = Window.partitionBy(col("_g")).orderBy(col("_cls"), col("_dv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val devFine = rows.join(broadcast(loc), Seq("_g"))
      .withColumn("_dev", abs(col("_v") - col("_med")))
      .withColumn("_cls",
        when(col("_dev") <= col("_tlo"), 0).when(col("_dev") <= col("_thi"), 1))
      .filter(col("_cls").isNotNull)
      .groupBy(col("_g"), col("_cls"),
        when(col("_cls") === 1, col("_dev")).as("_dv"), col("_n"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(wD))
      .filter(col("_cls") === 1)
    val mad = devFine.groupBy(col("_g")).agg(
      interp(min(pos),
        min(when(col("_cum") >= kLo, col("_dv"))),
        min(when(col("_cum") >= kHi, col("_dv")))).as("_mad"))

    loc.select(col("_g"), col("_med")).join(mad, Seq("_g"))
      .select(col("_g").as(groupCol),
        round(col("_med"), 6).as("median"),
        round(col("_mad"), 6).as("mad"))
  }

  /** The pre-round-12 two-pass formulation — two full
    * [[percentilesByGroup]] localization pipelines (median, then median
    * of absolute deviations against the broadcast per-group medians).
    * Kept as [[madByGroup]]'s fallback for adversarial mass
    * concentration: its nested re-localization bounds every window task
    * on ANY distribution, where the one-round path's single-level
    * deviation band could exceed `refineThreshold`.
    */
  private[operators] def madByGroupGeneric(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      buckets: Int = 1024): DataFrame = {
    // materialize the one-row-per-group medians: the deviation relation
    // is re-scanned by every stage of the second localization pass, and
    // an unmaterialized median would re-run the ENTIRE first pass each
    // time (multiplicative re-evaluation — measured 41 s → 4 s at
    // sf0.1). localCheckpoint, not persist: method-local persist()
    // handles leak cache entries across invocations
    val med = percentilesByGroup(df, groupCol, valueCol,
      Seq("_med" -> 0.5), buckets).localCheckpoint()
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("_dev", abs(col(valueCol) - col("_med")))
    percentilesByGroup(dev, groupCol, "_dev", Seq("_mad" -> 0.5), buckets)
      .join(broadcast(med), groupCol)
      .select(col(groupCol),
        round(col("_med"), 6).as("median"),
        round(col("_mad"), 6).as("mad"))
  }

  /** The exact (value, absolute in-group rank) relation feeding percentile
    * selection. Package-private so the spec can assert the exact pass's
    * window partitions stay bounded on adversarial (all-mass-one-bucket)
    * distributions. Columns: _g, _v, _c (count of _v), _cum (absolute
    * 1-based rank of the last occurrence of _v in its group), _n (group
    * row count), _b/_sb (window partition keys).
    */
  private[operators] def localizedRanks(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[(String, Double)],
      buckets: Int,
      refineThreshold: Long): DataFrame =
    localizedRanks(df, groupCol, Seq(valueCol -> ps), buckets, refineThreshold)

  private[operators] def localizedRanks(
      df: DataFrame,
      groupCol: String,
      measures: Seq[(String, Seq[(String, Double)])],
      buckets: Int = 1024,
      refineThreshold: Long = 1L << 16): DataFrame = {
    require(measures.nonEmpty &&
      measures.forall(_._2.forall { case (_, p) => p >= 0.0 && p <= 1.0 }),
      s"percentiles must lie in [0,1]: $measures")
    require(measures.forall(_._2.nonEmpty), "every measure needs >= 1 percentile")
    require(buckets >= 2, s"need >= 2 coarse buckets, got $buckets")
    require(refineThreshold >= 1, s"refineThreshold must be >= 1: $refineThreshold")
    // composite localization key: (_g, _m) — each measure is its own
    // independent percentile problem riding the same scans
    val gm = Seq(col("_g"), col("_m"))
    val measureArr = array(measures.zipWithIndex.map { case ((vc, _), mi) =>
      struct(lit(mi).as("m"), col(vc).cast("double").as("v"))
    }: _*)
    val rows = df
      .select(col(groupCol).as("_g"), explode(measureArr).as("_mv"))
      .select(col("_g"), col("_mv.m").as("_m"), col("_mv.v").as("_v"))
      .filter(col("_v").isNotNull) // percentile semantics ignore nulls

    // pass 0: per-(group, measure) extent + count — checkpointed so the
    // refine decision below doesn't force a recompute of this scan
    val bounds = rows.groupBy(gm: _*).agg(
      count(lit(1)).as("_n"), min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
      .localCheckpoint()

    // identical expression wherever bucket ids are computed → identical
    // assignment across passes
    def bucketOf(v: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0))
        .otherwise(least(lit(buckets - 1),
          floor((v - mn) / ((mx - mn) / buckets)).cast("int")))

    // a bucket/sub-bucket is needed iff it contains a bracketing rank of
    // one of ITS OWN measure's ps: ranks ⌊pos⌋+1 / ⌈pos⌉+1, pos = p·(n−1)
    def needed(before: Column, cum: Column): Column =
      measures.zipWithIndex.flatMap { case ((_, ps), mi) =>
        ps.map { case (_, p) =>
          val pos = lit(p) * (col("_n") - 1)
          col("_m") === mi && (
            (before < floor(pos) + 1 && cum >= floor(pos) + 1) ||
              (before < ceil(pos) + 1 && cum >= ceil(pos) + 1))
        }
      }.reduce(_ || _)

    // pass 1: coarse per-bucket counts; the cumulative window runs over
    // ≤ B rows per (group, measure) — negligible at any data size
    val coarse = rows.join(broadcast(bounds), Seq("_g", "_m"))
      .groupBy(gm :+ bucketOf(col("_v"), col("_mn"), col("_mx")).as("_b"): _*)
      .agg(count(lit(1)).as("_bc"))
    val wB = Window.partitionBy(gm: _*).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumB = coarse
      .withColumn("_cumb", sum(col("_bc")).over(wB))
      .withColumn("_beforeb", col("_cumb") - col("_bc"))
      .join(bounds.select(col("_g"), col("_m"), col("_n")), Seq("_g", "_m"))
    // kept buckets, ≤ 2·|ps| rows per (group, measure) — tiny;
    // checkpointed because the refine decision reads it eagerly and the
    // exact pass reads it again (without the checkpoint the coarse scan
    // would run twice)
    val kept1 = cumB.filter(needed(col("_beforeb"), col("_cumb")))
      .select(col("_g"), col("_m"), col("_b"), col("_beforeb"), col("_bc"))
      .localCheckpoint()

    // refine decision: one tiny agg over the checkpointed kept relation —
    // deterministic (row counts, not timing), costs no extra base scan
    val maxBc = kept1.agg(coalesce(max(col("_bc")), lit(0L))).head().getLong(0)

    // (_g, _m, _b, _sb, _befores, _v) rows entering the exact pass
    val exact =
      if (maxBc <= refineThreshold) {
        // common case: every kept bucket fits one exact window task —
        // single-level plan, 3 base scans total
        rows.join(broadcast(bounds), Seq("_g", "_m"))
          .withColumn("_b", bucketOf(col("_v"), col("_mn"), col("_mx")))
          .join(broadcast(kept1.drop("_bc")), Seq("_g", "_m", "_b"))
          .select(col("_g"), col("_m"), col("_b"), lit(0).as("_sb"),
            col("_beforeb").as("_befores"), col("_v"))
      } else {
        // adversarial case: localize AGAIN inside each kept bucket, over
        // the bucket's own OBSERVED extent; kept rows are materialized
        // once so the three refinement passes don't re-scan the base
        val keptRows = rows.join(broadcast(bounds), Seq("_g", "_m"))
          .withColumn("_b", bucketOf(col("_v"), col("_mn"), col("_mx")))
          .drop("_n", "_mn", "_mx")
          .join(broadcast(kept1.drop("_bc")), Seq("_g", "_m", "_b"))
          .localCheckpoint()
        val gmb = Seq(col("_g"), col("_m"), col("_b"))
        val subBounds = keptRows.groupBy(gmb: _*)
          .agg(min(col("_v")).as("_smn"), max(col("_v")).as("_smx"))
        val subCoarse = keptRows.join(broadcast(subBounds), Seq("_g", "_m", "_b"))
          .groupBy(gmb :+ col("_beforeb") :+
            bucketOf(col("_v"), col("_smn"), col("_smx")).as("_sb"): _*)
          .agg(count(lit(1)).as("_sc"))
        val wSB = Window.partitionBy(gmb: _*).orderBy(col("_sb"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cumSB = subCoarse
          .withColumn("_cums", col("_beforeb") + sum(col("_sc")).over(wSB))
          .withColumn("_befores", col("_cums") - col("_sc"))
          .join(broadcast(bounds.select(col("_g"), col("_m"), col("_n"))),
            Seq("_g", "_m"))
        val kept2 = cumSB.filter(needed(col("_befores"), col("_cums")))
          .select(col("_g"), col("_m"), col("_b"), col("_sb"), col("_befores"))
        keptRows.join(broadcast(subBounds), Seq("_g", "_m", "_b"))
          .withColumn("_sb", bucketOf(col("_v"), col("_smn"), col("_smx")))
          .join(broadcast(kept2), Seq("_g", "_m", "_b", "_sb"))
          .select(col("_g"), col("_m"), col("_b"), col("_sb"),
            col("_befores"), col("_v"))
      }

    // exact pass: value histogram + rank window inside kept (sub-)buckets
    // only; _cum is the absolute in-(group, measure) rank (bucket offset
    // + local running count), so rank selection is unchanged semantics
    val fine = exact
      .groupBy(col("_g"), col("_m"), col("_b"), col("_sb"),
        col("_befores"), col("_v"))
      .agg(count(lit(1)).as("_c"))
    val wV = Window
      .partitionBy(col("_g"), col("_m"), col("_b"), col("_sb"))
      .orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fine
      .withColumn("_cum", col("_befores") + sum(col("_c")).over(wV))
      .join(broadcast(bounds.select(col("_g"), col("_m"), col("_n"))),
        Seq("_g", "_m"))
      .select(col("_g"), col("_m"), col("_v"), col("_c"), col("_cum"),
        col("_n"), col("_b"), col("_sb"))
  }

  /** Daily quantile drift — the distribution-shift monitor a training
    * pipeline runs over a metric column: per UTC day, exact p50/p90
    * (R-7 interpolation, the `percentile` aggregate both Spark and
    * DuckDB implement) plus the day-over-day deltas.
    *
    * Scale: one shuffle to per-day groups (each day's percentile is an
    * in-group exact aggregate — day cardinality bounds memory, and a
    * day of metrics is the natural localization unit); the lag window
    * runs UNPARTITIONED but consumes the post-aggregation #days-row
    * relation — the q_revenue_share contract.
    */
  def quantileDrift(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    df.groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"))
      .select(col("day"), col("n_events"), col("p50"), col("p90"),
        round(col("p50") - lag(col("p50"), 1).over(w), 6).as("d_p50"),
        round(col("p90") - lag(col("p90"), 1).over(w), 6).as("d_p90"))
  }
}
