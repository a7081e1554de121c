package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.Tables
import graft.operators.{History, Incremental, Joins, Relational, Stats, WindowOps}
import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextOps}
import graft.ml.{Registry, Scorer, Trainer}
import graft.streaming.Streaming

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) is
  * exposed as a named query in [[catalog]]; SQL-expressible ones carry a
  * DuckDB oracle there with column names/types aligned on both sides (the
  * driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  private val ET = Tables.EventTypes // click, view, purchase, signup, error

  /** Money arithmetic for oracle-compared sums: convert each term to
    * integer cents with FLOOR(x*100 + 0.5) — every step is a deterministic
    * IEEE-754 op that Spark and DuckDB evaluate bit-identically — sum the
    * BIGINTs exactly, divide by 100.0 at the end. Plain ROUND(SUM(..))
    * differs between engines at half-cent boundaries (summation order +
    * rounding-mode differences).
    */
  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(100) + lit(0.5)).cast("long")

  // ---- flagship --------------------------------------------------------

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The reference's full README.md:41-70 pipeline on fixtures:
    * hopping-window pivot features per user, left-enriched with the user
    * dimension, scored in-query with `predict(model, as_array(strings),
    * as_array(ints))` against a model trained+registered on the same
    * fixture (the reference's CDC→window→join→predict→sink flow,
    * batch-executed).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val reg = tempRegistry()
    Trainer.trainAndRegister(spark, dir, reg, useCv = false)
    Scorer.registerPredictUdf(spark, reg.rootDir, preload = Seq(Trainer.ModelName))
    scoredFlagship(spark,
      WindowOps.hoppingPivot(Tables.events(spark, dir), eventTypes = ET), dir)
  }

  /** Shared README.md:56-70 tail — the model's own feature relation
    * scored in-query with the predict UDF. The SAME expression serves
    * the batch flagship ([[entry]]) and the streaming flagship
    * (q_stream_flagship): the incremental-query principle.
    */
  private[graft] def scoredFlagship(
      spark: SparkSession, feats: DataFrame, dir: String): DataFrame =
    Trainer.withPrediction(Trainer.featureRelation(spark, feats, dir))

  // forwards for callers that materialize the static sides once
  private[graft] def flagshipDims(spark: SparkSession, dir: String): DataFrame =
    Trainer.userDims(spark, dir)

  private[graft] def flagshipOrderCounts(
      spark: SparkSession, dir: String): DataFrame =
    Trainer.orderCounts(spark, dir)

  private[graft] def scoredFlagshipWith(
      feats: DataFrame, dims: DataFrame, nbOrders: DataFrame): DataFrame =
    Trainer.withPrediction(Trainer.featureRelationWith(feats, dims, nbOrders))

  // ---- query implementations ------------------------------------------

  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate").cast("timestamp") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0)
          .as("sum_disc_price"),
        (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")))) / 100.0).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private def q3SegmentRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === lit("BUILDING"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("timestamp") < to_timestamp(lit("1998-01-01")))
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate").cast("timestamp") > to_timestamp(lit("1995-06-30")))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("o_epoch"))
      .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0)
        .as("revenue"))
  }

  /** TPC-H Q5 shape — the 6-table join-planning benchmark: two big
    * fact tables (lineitem ⋈ orders) shuffle on their keys while every
    * dimension (region→nation→supplier, customer) broadcasts; the
    * local-supplier condition (c_nationkey = s_nationkey) closes the
    * snowflake. This is the query that punishes a bad join order.
    */
  private def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === lit("ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("timestamp") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate").cast("timestamp") < to_timestamp(lit("1997-01-01")))
    Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0)
        .as("revenue"))
  }

  /** TPC-H Q18 shape (large-volume customers): orders whose lineitem
    * quantity total exceeds a threshold, enriched with the customer dim.
    * Scale: the HAVING subquery is a map-side-combinable agg on the
    * join key itself, so the orders probe arrives pre-filtered (874 of
    * 15 k orders at sf0.01) and the customer dim broadcasts — the 100 TB
    * lineitem side is touched once, at scan speed.
    */
  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 200)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
  }

  /** TPC-H Q10 shape (returned-item revenue): which customers returned
    * the most merchandise in a quarter. lineitem('R') ⋈ orders(quarter)
    * shuffle on the order key; customer and nation broadcast; the final
    * top-20 is TakeOrderedAndProject (per-partition heap, driver merges
    * 20/partition), with the customer key as deterministic tie-break.
    */
  private def q10ReturnedCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("timestamp") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate").cast("timestamp") < to_timestamp(lit("1996-04-01")))
    Tables.lineitem(s, dir).filter(col("l_returnflag") === lit("R"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** The analytic-function suite (WindowOps.sequenceStats) over each
    * customer's order history — one Exchange + one Sort for all seven
    * functions. percent_rank/cume_dist compared unrounded: identical
    * integer-derived IEEE division on both engines.
    */
  private def qWindowSuite(s: SparkSession, dir: String): DataFrame =
    WindowOps.sequenceStats(Tables.orders(s, dir),
      "o_custkey", Seq("o_orderdate", "o_orderkey"), "o_totalprice")

  /** GROUPING SETS ((flag), (status)) — the non-rollup grouping-set
    * shape (disjoint single-column sets), planned as ONE scan + Expand
    * rather than a union of two aggregations. q_rollup / q_cube cover
    * the hierarchical and power-set cases.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    // fixed name + createOrReplaceTempView: a per-call unique name
    // would leak one catalog entry per invocation in a bench loop
    val v = "lineitem_gs"
    Tables.lineitem(s, dir).createOrReplaceTempView(v)
    s.sql(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
         |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
         |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
         |  CAST(grouping(l_linestatus) AS INT) AS g_status,
         |  COUNT(*) AS n,
         |  ROUND(SUM(l_quantity), 2) AS sum_qty
         |FROM $v
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
  }

  /** Semi/anti join as the EXISTS / NOT EXISTS surface: every customer
    * flagged by whether they ever placed an urgent order. Both branches
    * are broadcast-able key-only probes (LeftSemi / LeftAnti) — no
    * row duplication from the many-orders side, which is the point of
    * semi join over inner-distinct at scale.
    */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === lit("1-URGENT"))
      .select(col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_urgent"))
      .unionAll(
        c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit(false).as("has_urgent")))
  }

  /** Per-status modal order priority (Relational.modePerGroup): two hash
    * aggs, no window — the oracle uses the row_number formulation to
    * prove the min_by struct-ordering tie-break is the same total order.
    */
  private def qModePriority(s: SparkSession, dir: String): DataFrame =
    Relational.modePerGroup(Tables.orders(s, dir),
      Seq("o_orderstatus"), "o_orderpriority")

  /** SCD Type-2 build (History.scd2) over each user's event-type
    * history: change-compacted validity intervals with an is_current
    * flag — the dimension a CDC consumer materializes.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    History.scd2(Tables.events(s, dir),
      entityCol = "user_id", attrCol = "event_type",
      tsCol = "ts", tieCol = "event_id")

  /** Last-touch attribution of purchases to the most recent preceding
    * non-purchase event within 24 h (History.lastTouchAttribution).
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    History.lastTouchAttribution(Tables.events(s, dir),
      conversionType = "purchase", maxGapSec = 86400L)

  /** 20-bin equi-width histogram of order totals
    * (Stats.histogramEquiWidth): min/max pass + one bucket agg.
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    Stats.histogramEquiWidth(Tables.orders(s, dir), "o_totalprice", bins = 20)

  /** 20-bin equi-DEPTH histogram (Stats.histogramEquiDepth): exact
    * percentile boundaries via the bounded-state localization, then one
    * broadcast array probe — never a global NTILE sort.
    */
  private def qHistogramEquidepth(s: SparkSession, dir: String): DataFrame =
    Stats.histogramEquiDepth(Tables.orders(s, dir), "o_totalprice", bins = 20)

  /** C4-style segment filter: drop sub-3-word segments (split on the
    * ' merge ' token — the fixture corpus has no newlines), rejoin in
    * order. Pure projection, no shuffle.
    */
  private def qSegmentFilter(s: SparkSession, dir: String): DataFrame =
    TextOps.segmentFilter(Tables.documents(s, dir), " merge ", minWords = 3)

  /** Boilerplate-segment removal: segments occurring in ≥ 2 distinct
    * docs stripped from every doc, order preserved. The Spark plan is
    * the exploded anti-join scale path; the oracle proves it equals the
    * per-doc list_filter semantics.
    */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    TextOps.removeBoilerplate(Tables.documents(s, dir), " merge ", minDocs = 2)

  /** SemDeDup over the embedding corpus (Dedup.semanticDedup):
    * cluster-confined cosine dedup, nlist=64 cells, maxCell salt guard.
    */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(s, dir),
      nlist = 64, threshold = 0.99, maxCell = 2048)

  /** TPC-H Q7 shape (volume shipping between a nation pair, by year):
    * the two-big-facts join (lineitem ⋈ orders) shuffles once; the
    * supplier/customer/nation dims broadcast; the nation-pair predicate
    * prunes before the fact join via the broadcast sides.
    */
  private def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate").cast("timestamp") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate").cast("timestamp") < to_timestamp(lit("1998-01-01")))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === "NATION_13" && col("cust_nation") === "NATION_19") ||
          (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_13"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate").cast("timestamp")).as("l_year"))
      .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0)
        .as("revenue"))
  }

  /** Intra-document segment dedup (TextOps.dedupSegments): first
    * occurrence of each segment survives; pure projection.
    */
  private def qDedupSegments(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupSegments(Tables.documents(s, dir), " merge ")

  /** Vocabulary coverage: top-500 token vocab, per-doc OOV rate
    * (TextOps.oovRate).
    */
  private def qOovRate(s: SparkSession, dir: String): DataFrame =
    TextOps.oovRate(Tables.documents(s, dir), vocabSize = 500)

  /** Exact per-group median absolute deviation (Stats.madByGroup) over
    * lineitem quantities — robust spread, oracled against nested
    * quantile_cont.
    */
  private def qMad(s: SparkSession, dir: String): DataFrame =
    Stats.madByGroup(Tables.lineitem(s, dir), "l_returnflag", "l_quantity")

  /** Stream-stream LEFT OUTER interval join run incrementally; the
    * oracle reproduces the watermark-eviction cutoff with a scalar
    * subquery (see Streaming.intervalJoinOuterStream).
    */
  private def qStreamOuterJoin(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s, Streaming.intervalJoinOuterStream(s, dir),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** One-pass numeric data-quality profile of the orders table
    * (Relational.profileNumeric).
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    Relational.profileNumeric(Tables.orders(s, dir),
      Seq("o_orderkey", "o_custkey", "o_totalprice"))

  /** Referential-integrity sweep over the star schema's four FK edges
    * (Relational.riCheck): orphan counts via broadcast anti joins.
    */
  private def qRiCheck(s: SparkSession, dir: String): DataFrame =
    Relational.riCheck(Seq(
      ("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey"),
      ("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      ("lineitem_supplier", Tables.lineitem(s, dir), "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"),
      ("orders_customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey")))

  /** Share-of-total (ratio-to-report): each nation's fraction of global
    * order revenue. The whole-relation window runs over the ALREADY
    * AGGREGATED 25-row relation (never the fact table), and the total is
    * summed in integer cents so the share is an exact-integer ratio on
    * both engines — no FP-summation-order divergence.
    *
    * CONTRACT: the window input must stay the post-aggregation group
    * relation (nation — fixed 25-row domain). EntrySpec plan-asserts
    * the Window sits above the aggregate, so a future re-parameterization
    * onto a high-cardinality key (the q_auc round-7 hazard) fails the
    * suite instead of shipping a single-task sort.
    */
  private def qRevenueShare(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("o_totalprice"))).as("_c"))
    rev.select(
      col("n_name"),
      (col("_c") / 100.0).as("revenue"),
      round(col("_c").cast("double") /
        sum(col("_c")).over(Window.partitionBy()).cast("double"), 6)
        .as("share"))
  }

  /** Trailing 1 h / 24 h / 7 d per-user activity counts in ONE window
    * pass (WindowOps.multiTrailingCounts) — single exchange + sort for
    * all three horizons.
    */
  private def qMultiWindow(s: SparkSession, dir: String): DataFrame =
    WindowOps.multiTrailingCounts(Tables.events(s, dir),
      "user_id", "ts", Seq(3600L, 86400L, 604800L))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("n_last_3600s"), col("n_last_86400s"), col("n_last_604800s"))

  /** PageRank over the customer↔supplier trade graph (who trades with
    * whom via lineitem ⋈ orders; bipartite, symmetrized). Source-
    * authority weighting, rows-only (float iteration) with a
    * tolerance-checked spec (GraphSpec).
    */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val trade = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val sym = trade.unionAll(trade.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Graph.pageRank(sym, iterations = 10)
      .select(col("node"), round(col("rank") * 1e6, 3).as("rank_ppm"))
  }

  /** The trade graph's PageRank in pure integer micro-units
    * (Graph.pageRankIntScaled, 3 iterations): identical edges to
    * q_pagerank, but every step floor-division integer algebra, so the
    * DuckDB CTE-chain oracle hash-matches bit-for-bit — the graph
    * family's driver-checked row. GraphSpec asserts the scaled ranks
    * track the float iteration.
    */
  private def qPagerankExact(s: SparkSession, dir: String): DataFrame = {
    val trade = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val sym = trade.unionAll(trade.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Graph.pageRankIntScaled(sym, iterations = 3)
  }

  /** Leakage-safe splits: whole dedup clusters (exact n-gram Jaccard
    * pairs → connected components) hash to one split, so near-dups can
    * never straddle train/test (Sampling.leakageSafeSplit).
    */
  private def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Sampling.leakageSafeSplit(docs,
      Dedup.resolveClusters(Dedup.ngramJaccardPairsExact(docs, threshold = 0.1)),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split_key"), col("split"))
  }

  /** The SAME leakage-safe split with banded MinHash-LSH pair
    * generation — the composition a 100 TB corpus actually runs (the
    * exact all-pairs path above is the oracle harness, deliberately
    * quadratic). Rows-only (seeded signature hashes); SamplingSpec
    * asserts split-key agreement with the exact path on the fixture,
    * riding the minhash≡exact cluster-equivalence proof in DedupSpec.
    */
  private def qSplitLeakageLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Sampling.leakageSafeSplit(docs,
      Dedup.resolveClusters(Dedup.minhashNearDups(docs, threshold = 0.3)),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split_key"), col("split"))
  }

  /** Exact ROC-AUC as relational algebra (ml.Metrics.aucExact): does
    * the event value rank purchases above non-purchases? Mann–Whitney
    * with tie correction over the score histogram — integer-count
    * algebra until one rounded division, so it hash-matches DuckDB.
    */
  private def qAuc(s: SparkSession, dir: String): DataFrame =
    graft.ml.Metrics.aucExact(Tables.events(s, dir),
      col("event_type") === "purchase", col("value"))

  /** Per-day exact AUC (ml.Metrics.aucByGroup): the drift-monitoring
    * relation — did yesterday's model degrade? Same label/score as
    * q_auc, grouped by event date; every stage of the bucket-localized
    * algebra carries the day key, so days evaluate independently in
    * parallel.
    */
  private def qAucDaily(s: SparkSession, dir: String): DataFrame =
    graft.ml.Metrics.aucByGroup(
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
      col("day"), col("event_type") === "purchase", col("value"),
      outGroup = "day")

  /** Reliability bins (ml.Metrics.calibrationBins): value scaled into
    * [0,1] as the score, purchase as the label — the calibration-curve
    * relation.
    */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ml.Metrics.calibrationBins(Tables.events(s, dir),
      col("event_type") === "purchase", col("value") / lit(500.0), bins = 10)

  /** The reference's model evaluation end-to-end (train.py:334-336):
    * train + register the bot detector, score the training frame with
    * the vectorized path, then exact Mann–Whitney AUC on the model's
    * P(bot) probabilities against the true label — the
    * areaUnderROC computation the reference runs, as ONE registered
    * relation (scoring never leaves the executors; the AUC is the
    * bucket-localized integer algebra of q_auc). Rows-only (model
    * probabilities are not SQL-expressible); MLSpec asserts equality
    * with MLlib's evaluator to 1e-6 on the same frame.
    */
  private def qAucModel(s: SparkSession, dir: String): DataFrame = {
    val reg = tempRegistry()
    Trainer.trainAndRegister(s, dir, reg, "Bot Detector", useCv = false)
    graft.ml.Metrics.aucExact(
      Scorer.withPositiveProbability(
        reg.load("Bot Detector"), Trainer.trainingFrame(s, dir), "bot", "p_bot"),
      col("label") === "bot", col("p_bot"))
  }

  /** Quality-weighted deterministic sampling
    * (Sampling.weightedSample): keep probability = the doc's
    * length-derived quality weight, decided by the corpus-stable md5
    * key — the importance-sampling step of quality-weighted curation.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(Tables.documents(s, dir), col("doc_id"),
      least(col("n_chars") / lit(3000.0), lit(1.0)))
      .select(col("doc_id"), col("n_chars"))

  /** Embargoed temporal split (Sampling.temporalSplit): time-ordered
    * train/test with a 1-day purge gap against trailing-window feature
    * leakage.
    */
  private def qTemporalSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.temporalSplit(Tables.events(s, dir), "ts",
      "2024-01-25 00:00:00", embargoSec = 86400L)
      .select(col("event_id"), col("ts"), col("split"))

  /** Exact-proportion stratified split by lang
    * (Sampling.exactSplitAssign): floor(cum·n) rows per boundary,
    * exactly.
    */
  private def qSplitExact(s: SparkSession, dir: String): DataFrame =
    Sampling.exactSplitAssign(Tables.documents(s, dir), col("doc_id"),
      "lang", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("split"))

  /** Trailing distinct event types per user over 1 h — COUNT(DISTINCT)
    * OVER RANGE, which Spark lacks natively, composed as
    * size(collect_set) over the identical frame
    * (WindowOps.trailingDistinct); the DuckDB oracle uses the native
    * windowed distinct.
    */
  private def qTrailingDistinct(s: SparkSession, dir: String): DataFrame =
    WindowOps.trailingDistinct(Tables.events(s, dir),
      "user_id", "ts", "event_type", horizonSec = 3600L)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("n_distinct_3600s"))

  /** Sketch-backed trailing distinct (WindowOps.trailingDistinctApprox)
    * — the huge-frame variant of q_trailing_distinct: per-row state is
    * a kilobyte HLL sketch instead of the frame's materialized distinct
    * set. Rows-only (estimate); WindowOpsSpec pins it to the exact
    * operator at enum cardinality and bounds the error at high
    * cardinality.
    */
  private def qTrailingDistinctApprox(s: SparkSession, dir: String): DataFrame =
    WindowOps.trailingDistinctApprox(Tables.events(s, dir),
      "user_id", "ts", "event_type", horizonSec = 3600L)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("n_distinct_3600s"))

  /** Sketch-backed rolling median (WindowOps.rollingQuantileApprox) —
    * q_rolling_median's huge-frame variant: a KLL sketch over the same
    * trailing frame, bounded per-row state. Rows-only;
    * rank-error-bounded in WindowOpsSpec.
    */
  private def qRollingMedianApprox(s: SparkSession, dir: String): DataFrame =
    WindowOps.rollingQuantileApprox(Tables.events(s, dir),
      "user_id", Seq("ts", "event_id"), "value", p = 0.5, nRows = 10,
      outCol = "med10")
      .select(col("event_id"), col("user_id"), col("ts"), col("med10"))

  /** CCNet/Gopher-style perplexity-band quality filter: score every doc
    * under the corpus's own unigram LM (LangModel.crossEntropy), keep
    * docs inside their language's exact [p05, p95] cross-entropy band
    * (Stats.outlierFilter) — the "drop the weird tails" filtering step,
    * as one composed relation.
    */
  private def qPplFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // localCheckpoint: outlierFilter's percentile localization re-scans
    // its input per stage, and each re-scan would otherwise re-run the
    // whole LM train+score chain (the q_mad lesson)
    val scored = graft.llm.LangModel.crossEntropy(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .localCheckpoint()
    graft.operators.Stats.outlierFilter(scored, "lang", "xent",
      loP = 0.05, hiP = 0.95)
      .select(col("doc_id"), col("lang"), col("xent"))
  }

  /** Point-in-time (temporal) join: enrich every purchase with the
    * SCD2 state (the user's last non-purchase event-type version) valid
    * AT the purchase's event time — the feature-store / dimension-
    * versioning lookup, composed from History.scd2 + the merge-join
    * shaped Joins.asOfJoin (one shuffle, zero join blowup). The oracle
    * proves it equals the interval BETWEEN join against the validity
    * ranges.
    */
  private def qTemporalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dim = History.scd2(ev.filter(col("event_type") =!= "purchase"),
      "user_id", "event_type", "ts", "event_id")
      // zero-length intervals (two changes at the same instant) can
      // never be "valid at" any time — dropping them also restores
      // asOfJoin's one-row-per-(key, ts) determinism precondition,
      // matching the oracle's valid_from <= ts < valid_to predicate
      .filter(col("valid_to").isNull || col("valid_to") =!= col("valid_from"))
      .withColumn("_ep", unix_micros(col("valid_from").cast("timestamp")))
      .withColumnRenamed("event_type", "state_type")
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("_ep", unix_micros(col("ts").cast("timestamp")))
    Joins.asOfJoin(facts, dim, "user_id", "user_id", "_ep", "_ep",
      rightPayload = Seq("state_type", "version"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("state_type"), col("version"))
  }

  /** PCA reduction of the embedding corpus to 8 dims
    * (EmbeddingOps.pcaProject) — rows-only; invariants in SimilaritySpec.
    */
  private def qEmbedPca(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.pcaProject(Tables.embeddings(s, dir), k = 8)
      .select(col("vec_id"), to_json(col("pca")).as("pca_json"))

  /** Rolling exact median of each user's last 10 event values
    * (WindowOps.rollingQuantile) — order-statistic windows stay
    * engine-portable where windowed avg/stddev would not.
    */
  private def qRollingMedian(s: SparkSession, dir: String): DataFrame =
    WindowOps.rollingQuantile(Tables.events(s, dir),
      "user_id", Seq("ts", "event_id"), "value", p = 0.5, nRows = 10,
      outCol = "med10")
      .select(col("event_id"), col("user_id"), col("ts"), col("med10"))

  /** The corpus-prep pipeline END TO END as one relation — quality
    * filter → exact dedup → benchmark decontamination → deterministic
    * split — every stage an already-oracled operator, composed exactly
    * the way a user would chain them; the stitched oracle replays the
    * whole chain in ANSI SQL. The capstone composability check.
    */
  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val quality = TextOps.qualityFilter(corpus)
      .filter(col("keep")).select(col("doc_id"))
    val kept = corpus.join(quality, "doc_id")
    val survivors = Dedup.exact(kept).select(col("doc_id"))
    val deduped = kept.join(survivors, "doc_id")
    val clean = TextOps.decontaminate(deduped, bench, threshold = 0.2)
    Sampling.splitAssign(clean, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("split"))
  }

  /** Bigram-LM cross-entropy per doc (LangModel.crossEntropyBigram) —
    * the word-order-sensitive refinement of q_lm_score.
    */
  private def qLmBigram(s: SparkSession, dir: String): DataFrame =
    graft.llm.LangModel.crossEntropyBigram(Tables.documents(s, dir))

  /** Empirical Markov transition matrix of the event stream — the
    * inverse of the reference's Markov event generator (SURVEY S11).
    */
  private def qMarkovTransitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Affinity.transitionMatrix(Tables.events(s, dir))

  /** Event-type co-occurrence per user with support ≥ 10
    * (market-basket affinity over the enum-like type domain; the
    * threshold holds rows at every fixture SF — sf0.001 supports are 15).
    */
  private def qCoOccurrence(s: SparkSession, dir: String): DataFrame =
    graft.operators.Affinity.coOccurrence(Tables.events(s, dir),
      "user_id", "event_type", minSupport = 10L)

  /** Row-level sessionization: per-user session ordinals with a 30 min
    * inactivity gap (WindowOps.sessionize) — the session-id primitive
    * session_window aggregates away.
    */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    WindowOps.sessionize(Tables.events(s, dir))
      .select(col("event_id"), col("user_id"), col("ts"), col("session_no"))

  /** Character-bigram entropy per doc (TextOps.charEntropy) — the
    * gibberish/randomness quality signal, integer-count algebra.
    */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    TextOps.charEntropy(Tables.documents(s, dir))

  /** Exact repeated-span trimming (Dedup.trimRepeatedSpans): every
    * 8-token span that re-occurs in the corpus survives only at its
    * globally-first occurrence.
    */
  private def qSpanTrim(s: SparkSession, dir: String): DataFrame =
    Dedup.trimRepeatedSpans(Tables.documents(s, dir), spanTokens = 8)

  /** Blocked fuzzy entity matching on part names within a brand block
    * (Joins.fuzzyBlockedPairs). The brand key is fixed-cardinality (25
    * values forever), so blocking alone goes quadratic at scale — the
    * operator runs the DP once per distinct (brand, name-pair) and
    * expands matches back to id pairs (5.7 s → 0.9 s at sf0.1: 64
    * distinct names across 20 000 rows), folds the length band into
    * the join key, and the registered cap bounds any hot
    * (brand × length-bucket) DOMAIN cell; at fixture SFs no cell nears
    * the cap, so the result set is bit-identical to the uncapped
    * oracle.
    */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame =
    Joins.fuzzyBlockedPairs(Tables.part(s, dir),
      "p_brand", "p_partkey", "p_name", maxDistance = 2, maxBlock = 10000)

  /** Cohort retention matrix over the event stream. */
  private def qRetentionCohort(s: SparkSession, dir: String): DataFrame =
    WindowOps.retentionCohorts(Tables.events(s, dir))

  /** Incremental MV maintenance: per-customer order profile maintained
    * as mergeable partial state over a base/delta date split, finalized
    * at read — oracled against the full recompute (merge ≡ recompute).
    */
  private def qIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val cutoff = to_timestamp(lit("1998-01-01"))
    val base = Incremental.orderState(orders.filter(col("o_orderdate") < cutoff))
    val delta = Incremental.orderState(orders.filter(col("o_orderdate") >= cutoff))
    Incremental.finalizeState(Incremental.mergeStates(Seq(base, delta)))
  }

  /** CDC-aware incremental MV maintenance
    * (Incremental.applyCdcDelta): the delta carries inserts AND deletes
    * (late cancellations of pre-cutoff orders), count/sum retract by
    * sign, max repairs via a key-pruned rescan of only the deleted
    * keys — oracled against the full recompute over the post-delete
    * corpus.
    */
  private def qIncrCdc(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val cutoff = to_timestamp(lit("1998-01-01"))
    val base = orders.filter(col("o_orderdate") < cutoff)
    val state = Incremental.orderState(base)
    val delta = orders.filter(col("o_orderdate") >= cutoff)
      .withColumn("op", lit("i"))
      .unionByName(base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("op", lit("d")))
    val postDelta = orders.filter(
      !(col("o_orderdate") < cutoff && col("o_orderkey") % 7 === 0))
    Incremental.finalizeState(
      Incremental.applyCdcDelta(state, delta, postDelta))
  }

  /** Streaming CDC aggregation with retractions
    * (Streaming.cdcAggStream): deletes fold into the signed streaming
    * hash agg — executed incrementally (state store, micro-batches),
    * oracled against the post-delete batch recompute.
    */
  private def qStreamCdcAgg(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s, Streaming.cdcAggStream(s, dir))

  /** Z-order (Morton) clustering key over lineitem's (partkey, suppkey)
    * — the multi-dimensional layout value itself, oracled bit-for-bit;
    * the range-partitioned write + file-level pruning guarantee is
    * spec-tested (ZOrderSpec).
    */
  private def qZorder(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      graft.functions.ZOrder.zValue2(col("l_partkey"), col("l_suppkey"), 16)
        .as("zvalue"))

  /** The clustering key zorderWrite actually sorts by: both dimensions
    * min/max-scaled to the full bits width, THEN interleaved (the
    * unequal-domain fix of SCALE.md "Round 14: z-order clustering" —
    * see ZOrder.scaleTo). The
    * min/max constants come from one Spark agg and are embedded as
    * literals; the oracle recomputes them in SQL, and the affine
    * scaling is the same double arithmetic in both engines, so the
    * truncated bucket indices — and therefore the interleave — match
    * bit-for-bit.
    */
  private def qZorderScaled(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrder
    val li = Tables.lineitem(s, dir)
    // cast the aggregates like ZOrder.zorderWrite does: getLong on an
    // un-cast MIN/MAX works for the int64 fixture but ClassCastExceptions
    // on an int32/decimal-keyed corpus (r14 ADVICE)
    val r = li.agg(
      min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
      min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long")).head
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      ZOrder.zValue2(
        ZOrder.scaleTo(col("l_partkey"), r.getLong(0), r.getLong(1), 16),
        ZOrder.scaleTo(col("l_suppkey"), r.getLong(2), r.getLong(3), 16),
        16).as("zvalue"))
  }

  /** The RANK-preprocessed clustering key ([[graft.functions.ZOrder.withRankedZ]]
    * — zorderWriteRanked's sort key): both dimensions mapped to their
    * exact dense rank over the distinct domain, the ranks min/max-scaled
    * and interleaved. The rank is distributed (range-repartition +
    * zipWithIndex, no single-task window) yet equals ANSI
    * `DENSE_RANK() OVER (ORDER BY v) - 1` exactly, and the affine
    * scaling is the same double arithmetic as q_zorder_scaled, so the
    * skew-proof layout key is oracle-checkable bit-for-bit.
    */
  private def qZorderRanked(s: SparkSession, dir: String): DataFrame =
    graft.functions.ZOrder.withRankedZ(
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
      "l_partkey", "l_suppkey", bits = 16, zName = "zvalue")
      .select(col("l_orderkey"), col("l_linenumber"), col("zvalue"))

  /** Write (once per process+dir) the generation-versioned z-order root
    * q_zorder_versioned reads — the ingest-time step, split out so
    * Bench provisions it untimed (same rationale as
    * [[provisionSimTopkAuto]]). Returns the root.
    */
  private[graft] def provisionZorderVersioned(s: SparkSession, dir: String): String = {
    val dirTag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_zver_fixture_${ProcessHandle.current().pid()}_$dirTag"
    if (!graft.sources.DimStore.isVersionedRoot(s, root))
      graft.functions.ZOrder.zorderWriteRankedVersioned(
        Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey", root, bits = 16)
    root
  }

  /** The VERSIONED-root read path on the bench ledger (r18 VERDICT #6):
    * resolve `_CURRENT` at plan time (0.72 ms/resolve, SCALE.md
    * "Round 18: versioned-root protocol cost" — now a ledger row, so a
    * resolve-cost regression lands in BENCH_HISTORY) and scan
    * the live generation. The generation stores zorderWriteRanked's
    * layout, whose z is bit-identical to q_zorder_ranked's — shared
    * oracle.
    */
  private def qZorderVersioned(s: SparkSession, dir: String): DataFrame = {
    val root = provisionZorderVersioned(s, dir)
    s.read.parquet(graft.functions.ZOrder.zorderResolve(s, root))
      .select(col("l_orderkey"), col("l_linenumber"), col("z").as("zvalue"))
  }

  /** Benchmark decontamination with the broadcast-Bloom prefilter —
    * same relation as q_decontaminate (shared oracle), ~1/contamination
    * of the shingle shuffle at scale.
    */
  private def qBloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.decontaminateBloom(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      threshold = 0.2)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Adaptive decontamination: at fixture scale the corpus's leaf stats
    * sit under the Bloom crossover, so the auto picks the exact shingle
    * join — and both plans are bit-identical anyway, so the auto shares
    * q_decontaminate's oracle at ANY pick. Flip + guard spec-asserted
    * (TextOpsSpec), crossover measured (SCALE.md "Round 14:
    * decontamination").
    */
  private def qDecontamAuto(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.decontaminateAuto(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      threshold = 0.2)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Streaming exact distinct on (user_id, event_type) — stateful dedup
    * whose key-only projection shares the batch DISTINCT oracle.
    */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s, Streaming.distinctKeysStream(s, dir),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** Conversion funnel signup →(≤1d)→ purchase →(≤1d)→ error over the
    * event stream: stacked conditional window-MINs, one exchange.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    WindowOps.funnelStages(Tables.events(s, dir),
      Seq("signup", "purchase", "error"), maxGapSec = 86400L)

  /** Hourly gap-filled resample of each user's value series. */
  private def qResample(s: SparkSession, dir: String): DataFrame =
    WindowOps.resampleFill(Tables.events(s, dir), stepSec = 3600L)

  /** Pivot → unpivot round trip: per-user event-type counts melted back
    * to long form (zero cells dropped, so the relation equals the plain
    * GROUP BY — which is exactly the oracle).
    */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(s, dir)
      .groupBy(col("user_id")).pivot("event_type", ET).agg(count(lit(1)))
    Relational.unpivot(wide, Seq("user_id"), ET, "event_type", "n")
      .filter(col("n") > 0)
  }

  /** Price-tier range lookup over events.value via the bucket-equi-ized
    * range join (hash join on bucket, no nested-loop).
    */
  private def qRangeLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiers = Seq(
      (0.0, 50.0, "low"), (50.0, 100.0, "mid"),
      (100.0, 200.0, "high"), (200.0, 500.0, "peak"))
      .toDF("lo", "hi", "tier")
    Joins.rangeLookupJoin(
      Tables.events(s, dir).select(col("event_id"), col("value")),
      "value", tiers, "lo", "hi", bucketWidth = 50L)
      .select(col("event_id"), col("value"), col("tier"))
  }

  /** Adaptive range lookup: the bucket width is DERIVED from the dim's
    * measured median interval length (here 75: lengths 50/50/100/300)
    * instead of the hand-picked 50 — result identical by construction
    * (the residual filter is exact), hash-matched against the same
    * BETWEEN-join oracle as q_range_lookup.
    */
  private def qRangeLookupAuto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiers = Seq(
      (0.0, 50.0, "low"), (50.0, 100.0, "mid"),
      (100.0, 200.0, "high"), (200.0, 500.0, "peak"))
      .toDF("lo", "hi", "tier")
    Joins.rangeLookupJoinAuto(
      Tables.events(s, dir).select(col("event_id"), col("value")),
      "value", tiers, "lo", "hi")
      .select(col("event_id"), col("value"), col("tier"))
  }

  /** CUBE over (status, priority) with ALL-coalesced subtotal rows —
    * the grouping-sets companion of q_rollup.
    */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))) / 100.0).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("total_price"))

  private def qRekey(s: SparkSession, dir: String): DataFrame =
    Relational.rekey(Tables.events(s, dir), "user_id")

  private def qLatestByKey(s: SparkSession, dir: String): DataFrame =
    Relational.latestByKey(Tables.orders(s, dir),
      key = Seq("o_custkey"), orderBy = Seq("o_orderdate", "o_orderkey"))

  private def qCaseIndicator(s: SparkSession, dir: String): DataFrame =
    Relational.withIndicators(Tables.events(s, dir), "event_type", ET)
      .select(col("event_id") +: col("user_id") +: col("event_type") +:
        ET.map(v => col(s"is_$v")): _*)

  private def qTimestampFmt(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      Relational.timestampToString(col("ts").cast("timestamp")).as("ts_hms"))

  /** The arrays are built by the real as_array operator; the comparison
    * view serializes them with to_json because the driver's pandas compare
    * cannot sort raw array columns (round-1 ERRORED row).
    */
  private def qAsArray(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      to_json(Relational.asArray(col("c_name"), col("c_mktsegment")))
        .as("dims_str"),
      to_json(Relational.asArray(col("c_custkey"), col("c_nationkey").cast("long")))
        .as("dims_int"))

  private def qCdcUnwrap(s: SparkSession, dir: String): DataFrame =
    Relational.cdcUnwrap(
      Relational.toCdcEnvelope(
        Tables.orders(s, dir),
        when(col("o_orderstatus") === lit("F"), lit("d")).otherwise(lit("c"))))

  /** S5 wire-format decode: each order serialized to the JSON Debezium
    * envelope a Connect topic carries, then decoded back with from_json —
    * both engines serialize AND parse, so a decode bug cannot cancel out
    * the way the struct round-trip of q_cdc_unwrap could hide it.
    */
  private def qCdcUnwrapJson(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    Relational.cdcUnwrapJson(
      Relational.toCdcJson(
        orders,
        when(col("o_orderstatus") === lit("F"), lit("d")).otherwise(lit("c")),
        col("o_orderdate").cast("timestamp").cast("long") * 1000),
      org.apache.spark.sql.types.StructType(
        orders.schema.fields.map(_.copy(nullable = true))))
  }

  /** Version-diff CDC generation (the write side of S5): two derived
    * snapshots of the customer dim — v2 drops every 97th key (deletes),
    * re-adds every 7th (inserts, absent from v1), and flips every 10th
    * segment (updates) — diffed into the flat changelog a Debezium
    * source would have emitted for the same transition. One full-outer
    * key join; the oracle mirrors it with IS DISTINCT FROM.
    */
  private def qDimChanges(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"))
    val before = base.filter(col("c_custkey") % 7 =!= 0)
    val after = base
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 0, lit("UPDATED"))
          .otherwise(col("c_mktsegment")))
      .filter(col("c_custkey") % 97 =!= 0)
    Relational.tableDiff(before, after, Seq("c_custkey"))
  }

  /** CDC loop CLOSED in batch (r17 VERDICT #3): the engine reproduces
    * v2 as `cdcApply(v1, tableDiff(v1, v2))` — diff generation and
    * application composed end to end, the full Debezium→store
    * transition — while the ORACLE derives v2 directly from the base
    * table. Hash equality therefore proves the whole loop (inserts
    * land, updates replace, tombstones retract, untouched rows
    * survive) with no engine-side shortcut possible.
    */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"))
    val before = base.filter(col("c_custkey") % 7 =!= 0)
    val after = base
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 0, lit("UPDATED"))
          .otherwise(col("c_mktsegment")))
      .filter(col("c_custkey") % 97 =!= 0)
    Relational.cdcApply(before,
      Relational.tableDiff(before, after, Seq("c_custkey")), Seq("c_custkey"))
  }

  private def qJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      Relational.jsonGet(col("props"), "$.k").as("k_str"),
      Relational.jsonGet(col("props"), "$.k").cast("long").as("k_num"))

  private def qDistinctUsers(s: SparkSession, dir: String): DataFrame =
    WindowOps.distinctKeys(Tables.events(s, dir), "user_id")

  /** Batch pivot is plan-ADAPTIVE (round-13): the measured key
    * multiplicity picks the plan, so the regime split SCALE.md measured
    * becomes engine behavior. On event streams (key, hop) multiplicity
    * is ~1, so the estimator lands on the preShuffle plan — the default
    * plan's partial agg reduces nothing there and shuffles 5x |events|
    * wide partial rows (preShuffle 2x better at sf10, equal-or-better
    * below); a replay-heavy corpus with real multiplicity flips back to
    * the default two-phase agg, spec-asserted
    * (WindowOpsSpec "auto plan pick"). Streaming keeps the window()
    * plan for its event-time metadata.
    */
  private def qHoppingPivot(s: SparkSession, dir: String): DataFrame =
    WindowOps.hoppingPivotAuto(Tables.events(s, dir), eventTypes = ET)

  private def qRolling600s(s: SparkSession, dir: String): DataFrame =
    WindowOps.rollingCounts(
      Tables.eventsWithEpoch(s, dir), eventTypes = ET)
      .select(col("event_id") +: col("user_id") +: col("ts_sec") +:
        ET.map(v => col(s"${v}s_last_600s")): _*)

  private def qTopkOrdersPerCust(s: SparkSession, dir: String): DataFrame =
    WindowOps.topKPerGroup(Tables.orders(s, dir),
      Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rank_in_group"))

  private def qLeftEnrich(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    Joins.leftEnrich(agg, Tables.customer(s, dir), "user_id", "c_custkey")
      .select(col("user_id"), col("n_events"), col("total_value"),
        col("c_name"), col("c_mktsegment"), col("c_acctbal"))
  }

  private def qInnerEnrich(s: SparkSession, dir: String): DataFrame =
    Joins.innerEnrich(Tables.orders(s, dir), Tables.customer(s, dir),
      "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("segment_value"))

  // ---- LLM-pipeline extensions ----------------------------------------

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir))

  private def qTextStats(s: SparkSession, dir: String): DataFrame =
    TextOps.textStats(Tables.documents(s, dir))

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(Tables.documents(s, dir))

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(Tables.documents(s, dir))

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(Tables.documents(s, dir))

  private def qLangIdNgram(s: SparkSession, dir: String): DataFrame =
    TextOps.langIdNgram(Tables.documents(s, dir))

  private def qTfidfKeywords(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfKeywords(Tables.documents(s, dir), k = 3)

  private def qQualityFilter(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityFilter(Tables.documents(s, dir))

  private def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    TextOps.piiScrub(Tables.documents(s, dir))

  private def qRepetitionStats(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(s, dir))

  /** Eval-set leakage check: every 10th doc plays the benchmark set. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.contamination(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0))
  }

  /** The contamination check executed incrementally over the ingest
    * stream (stream-static join + stateful agg); shares the batch oracle.
    */
  private def qStreamContamination(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s, Streaming.contaminationStream(s, dir))

  /** normalize() keeps its array-valued API; the comparison view explodes
    * to (vec_id, dim, val) scalar rows because the driver's pandas compare
    * cannot sort raw array columns (round-1 ERRORED row).
    */
  private def qEmbedNormalize(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.normalize(Tables.embeddings(s, dir))
      .select(col("vec_id"), posexplode(col("unit_vec")).as(Seq("dim", "val")))

  private def qEmbedDimStats(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.dimStats(Tables.embeddings(s, dir))

  /** The exact d×d sample covariance (upper triangle) of the embedding
    * corpus — the Gramian q_embed_pca eigendecomposes, as integer-micros
    * relational algebra, so the PCA family gains its driver-hash-checked
    * row (eigenvectors stay spec-side: sign-indeterminate across BLAS).
    */
  private def qEmbedCovariance(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.covarianceExact(Tables.embeddings(s, dir), dims = 64)

  /** Domain clustering for mixture balancing (EmbeddingOps
    * .corpusClusters): seeded k-means over the embedding corpus, then
    * per-cluster mixture stats (docs, token mass + corpus share,
    * distinct sources). Rows-only — k-means is iterative, not ANSI-SQL;
    * the fixed-centroid twin below hash-fences the shared
    * assignment/stats machinery and SimilaritySpec asserts this
    * variant's invariants.
    */
  private def qCorpusClusters(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.corpusClusters(
      Tables.documents(s, dir), Tables.embeddings(s, dir), k = 8)

  /** Exact-oracle twin: nearest-centroid assignment to the k lowest
    * vec_ids' embeddings (deterministic, SQL-expressible) + the same
    * cluster stats — DuckDB replays the squared-L2 argmin (rounded
    * before comparison, ties to the lower cell) and the k-key
    * aggregate verbatim.
    */
  private def qCorpusClustersFixed(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.corpusClustersFixed(
      Tables.documents(s, dir), Tables.embeddings(s, dir), k = 8)

  /** Tokenizer vocab selection (TextOps.vocabCoverage): top-20 corpus
    * tokens with rank + cumulative coverage share — the "what vocab
    * size covers X% of tokens" relation; the only unpartitioned window
    * consumes the post-limit ≤20-row relation.
    */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabCoverage(Tables.documents(s, dir), v = 20)

  /** Exact phrase search (Retrieval.phraseSearch): positional-index
    * intersection via one per-doc window over phrase-term occurrences —
    * no k-way self-join, one shuffle.
    */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    graft.llm.Retrieval.phraseSearch(
      Tables.documents(s, dir), phrase = Seq("table", "hash"))

  /** Count–Min term-frequency estimates (Sketches.cmsTermCounts):
    * per-source partials unioned by the executor-side CMS Aggregator,
    * probed for common + absent terms. Rows-only (sketch binary is not
    * SQL-expressible); SketchesSpec asserts estimate ≥ exact, the
    * eps·N upper bound, and partial/merge ≡ one-shot.
    */
  private def qCmsTermCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.cmsTermCounts(
      Tables.documents(s, dir),
      probes = Seq("table", "hash", "join", "nosuchterm"))

  /** Exact term-count twin of q_cms_term_counts: the same probe list,
    * same tokenization (split on ' ', empties included — the CMS feed),
    * plain filter+GROUP BY — the DuckDB-hash-matched truth row the
    * sketch's est_count is bounded against (SketchesSpec asserts
    * exact ≤ est ≤ exact + eps·N ROW-WISE between the two registered
    * compositions). Absent probes surface as 0 via the probe-relation
    * left join, mirroring CMS estimateCount's 0-for-unseen.
    */
  private def qCmsExactTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq("table", "hash", "join", "nosuchterm")
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isInCollection(probes))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    probes.toDF("term").join(counts, Seq("term"), "left")
      .select(col("term"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** TPC-H Q6 (forecasting revenue change): every predicate is
    * scan-side — the pushdown/pruning showcase (two columns read, no
    * shuffle before the scalar aggregate). Revenue quantizes each
    * price×discount product to 1e-4 before the sum (integer-cents
    * discipline at 4 decimals, since the product carries 4).
    */
  private def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg((sum(floor(col("l_extendedprice") * col("l_discount") * 1e4
        + 0.5).cast("long")) / 1e4).as("revenue"))

  /** TPC-H Q4 shape (priority check): EXISTS decorrelates to a LEFT
    * SEMI join — lineitem is touched once and never duplicated into
    * the aggregate (fixture variant: shipped-after-order predicate, as
    * the fixture has no commit/receipt dates).
    */
  private def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    o.join(l,
        o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q14 (promotion effect): one month of lineitem joined to the
    * broadcast part dim; both sums quantize products to 1e-4 before
    * aggregation so the percentage is a ratio of exact integers.
    */
  private def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val disc4 = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 1e4 + 0.5).cast("long")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type").startsWith("PROMO"), disc4).otherwise(0L))
          * 100.0 / sum(disc4), 6).as("promo_revenue_pct"))
  }

  /** TPC-H Q8 shape (national market share): of the PROMO-part revenue
    * sold into ASIA, what fraction per order year was supplied by
    * NATION_2. The fixture has no p_mfgr, so the part cut is p_type.
    * Scale: lineitem pre-filters through the broadcast part dim (the
    * scan never widens); orders shuffles once on the order key; every
    * other relation (ASIA nation keys, supplier→nation, customer)
    * broadcasts. The share is a ratio of 1e-4-quantized integer sums,
    * so engine summation order cannot move the percentage.
    */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val disc4 = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 1e4 + 0.5).cast("long")
    val asiaKeys = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === lit("ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val supNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_type") === lit("PROMO")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaKeys), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === lit("NATION_2"), disc4).otherwise(0L))
          * 100.0 / sum(disc4), 6).as("mkt_share_pct"))
  }

  /** TPC-H Q13 shape (customer order-count distribution): two-level
    * aggregation over a LEFT OUTER join — zero-order customers must
    * survive with count 0, so the priority predicate lives on the
    * orders side BEFORE the join (≡ the ON-clause placement; a WHERE
    * after the join would silently drop them). The fixture has no
    * o_comment, so the excluded class is '1-URGENT'. Scale: first agg
    * shuffles on c_custkey (map-side combinable); the second input is
    * one row per customer and the distribution fits anywhere.
    */
  private def q13CountDistribution(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= lit("1-URGENT"))
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15 shape (top supplier): max over a revenue view, kept as
    * a decorrelated 1-row aggregate broadcast back — never a global
    * sort and never a single-partition window. The aggregated view is
    * localCheckpoint'ed so the lineitem scan feeding both the view and
    * its max runs ONCE (same discipline as Stats.madByGroup); ties all
    * surface, as in the spec.
    */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rev_cents"))
      .localCheckpoint()
    rev
      .join(broadcast(rev.agg(max(col("rev_cents")).as("_max_cents"))),
        col("rev_cents") === col("_max_cents"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_cents") / 100.0).as("total_revenue"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated
    * per-part AVG decorrelates to ONE grouped window carrying the
    * partition key (l_partkey) — one scan, one shuffle, instead of the
    * textbook self-join's two lineitem scans. The brand cut (fixture
    * has no p_container) broadcasts before the shuffle, so window
    * state is only the brand's lineitems. l_quantity is
    * integer-valued, so the per-part mean is exact on both engines.
    */
  private def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") === lit("Brand#23")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .withColumn("_avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("_avg_qty"))
      .agg((sum(cents(col("l_extendedprice"))) / 700.0).as("avg_yearly"))
  }

  /** TPC-H Q19 shape (disjunctive predicate pushdown): an OR of
    * brand/size/quantity conjunctions (fixture variant — no
    * p_container/l_shipmode). What Catalyst must do, and `.explain`
    * confirms: extract the common `l_quantity <= 30` bound into the
    * lineitem scan's PushedFilters, push the brand/size disjunction
    * into the part scan before it broadcasts, and evaluate the
    * residual OR post-join inside one codegen stage.
    */
  private def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val disc4 = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 1e4 + 0.5).cast("long")
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === lit("Brand#12") && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === lit("Brand#23") && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === lit("Brand#15") && col("p_size").between(20, 30) &&
          col("l_quantity").between(20, 30)))
      .agg((sum(disc4) / 1e4).as("revenue"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    * EXISTS + NOT EXISTS self-correlation on the fact table, planned
    * as LEFT SEMI then LEFT ANTI — lineitem is never duplicated into
    * the aggregate. Fixture variant: "failed" = l_returnflag 'R' (no
    * commit/receipt dates); blame attaches to a supplier with an 'R'
    * line in a finished multi-supplier order where NO other supplier
    * has an 'R' line. Scale: both probe sides are projected to
    * (orderkey, suppkey) before the shuffles; supplier broadcasts.
    */
  private def q21BlameSupplier(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val l2 = l.select(col("l_orderkey").as("_o2"), col("l_suppkey").as("_s2"))
    val l3 = l.filter(col("l_returnflag") === lit("R"))
      .select(col("l_orderkey").as("_o3"), col("l_suppkey").as("_s3"))
    l.filter(col("l_returnflag") === lit("R"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderstatus") === lit("F")).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(l2, col("l_orderkey") === col("_o2") &&
        col("l_suppkey") =!= col("_s2"), "left_semi")
      .join(l3, col("l_orderkey") === col("_o3") &&
        col("l_suppkey") =!= col("_s3"), "left_anti")
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q22 shape (global-account-balance anti-join): customers in
    * a country-code set (fixture variant: c_nationkey — no c_phone)
    * whose balance beats the positive-balance mean and who placed no
    * order since 2000-01-01 (every fixture customer has SOME order, so
    * the spec's no-orders-ever test selects nothing; the recency cut
    * keeps the anti-join population real). The mean never becomes a
    * double: the filter cross-multiplies integer cents (bal·n >
    * Σcents) against the broadcast 1-row aggregate, so no
    * FP-summation-order boundary flips; the recency test is a LEFT
    * ANTI against the date-pruned, key-projected orders scan.
    */
  private def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9)
    val scope = Tables.customer(s, dir)
      .filter(col("c_nationkey").isin(codes: _*))
    val stats = scope.filter(col("c_acctbal") > 0.0)
      .agg(sum(cents(col("c_acctbal"))).as("_sum_cents"),
        count(lit(1)).as("_n"))
    scope
      .crossJoin(broadcast(stats))
      .filter(cents(col("c_acctbal")) * col("_n") > col("_sum_cents"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        (sum(cents(col("c_acctbal"))) / 100.0).as("totacctbal"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated MIN
    * subquery over the supplier-cost relation, decorrelated to a
    * grouped MIN joined back on (part, cost). The fixture has no
    * partsupp, so the cost relation derives from lineitem — a part's
    * cost at a supplier is the cheapest shipment observed (MIN of
    * integer cents, no division, so both engines agree exactly).
    * Scale: the part cut (size 15, SMALL) broadcasts INTO the cost
    * aggregation, so the shuffle only ever carries the selected
    * parts' lines — the textbook plan aggregates everything and
    * filters later; this one prunes first. EUROPE supplier keys and
    * the grouped-min relation both broadcast; lineitem shuffles once
    * on (partkey, suppkey).
    */
  private def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val eur = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === lit("EUROPE"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val keys = Tables.part(s, dir)
      .filter(col("p_size") === 15 && col("p_type") === lit("SMALL"))
      .select(col("p_partkey"))
    val cost = Tables.lineitem(s, dir)
      .join(broadcast(keys), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eur.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(cents(col("l_extendedprice"))).as("cost_cents"))
    val mn = cost.groupBy(col("l_partkey").as("_pk"))
      .agg(min(col("cost_cents")).as("_m"))
    cost
      .join(broadcast(mn),
        col("l_partkey") === col("_pk") && col("cost_cents") === col("_m"))
      .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"),
        (col("cost_cents") / 100.0).as("cost"))
  }

  /** TPC-H Q9 shape (product-type profit by nation and year): profit
    * per line = discounted revenue minus quantity × unit cost, summed
    * by supplier nation × order year. Fixture variant: no partsupp, so
    * the unit-cost basis is p_retailprice; the product cut is p_name
    * LIKE 'red%'. Both profit terms quantize to 1e-4 units before the
    * integer subtraction (l_quantity is integer-valued in the fixture),
    * so the sum is exact on both engines. Scale: part cut and
    * supplier→nation broadcast into the lineitem scan; the one real
    * shuffle is lineitem⋈orders on the order key, then a map-side
    * combinable two-key aggregate.
    */
  private def q9NationProfit(s: SparkSession, dir: String): DataFrame = {
    val amt4 = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 1e4 + 0.5).cast("long") -
      col("l_quantity").cast("long") *
        floor(col("p_retailprice") * 1e4 + 0.5).cast("long")
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").startsWith("red"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg((sum(amt4) / 1e4).as("profit"))
  }

  /** TPC-H Q11 shape (important inventory value): per-part value from
    * one nation's suppliers, kept where the part's share beats 0.1 % of
    * the national total — the scalar subquery decorrelated to a
    * broadcast 1-row aggregate, compared by integer cross-multiplication
    * (val·1000 > total) so no floating-point fraction exists anywhere.
    * Fixture variant: value = shipped extended price from lineitem
    * (no partsupp). The per-part relation is localCheckpoint'ed so the
    * lineitem scan feeding both the values and their total runs ONCE
    * (the q15/madByGroup discipline).
    */
  private def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val natKeys = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === lit("NATION_3"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = Tables.lineitem(s, dir)
      .join(broadcast(natKeys), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("_vc"))
      .localCheckpoint()
    v.crossJoin(broadcast(v.agg(sum(col("_vc")).as("_tot"))))
      .filter(col("_vc") * 1000 > col("_tot"))
      .select(col("l_partkey").as("p_partkey"), (col("_vc") / 100.0).as("value"))
  }

  /** TPC-H Q12 shape (late shipments by priority class): count
    * high-priority vs low-priority order lines that shipped late, per
    * line status. Fixture variant: no l_shipmode/commitdate/receiptdate,
    * so "late" = shipped more than 90 days after the order date and the
    * grouping key is l_linestatus. The late predicate needs both sides,
    * so it evaluates post-join — but both inputs are projected to three
    * columns each before the one orderkey shuffle, and the pivot-count
    * aggregate is map-side combinable into ≤ 2 rows.
    */
  private def q12LatePriority(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
  }

  /** TPC-H Q16 shape (supplier count by part attributes): distinct
    * suppliers per (brand, type, size) over the part–supplier pairs
    * observed in lineitem (fixture variant — no partsupp), excluding an
    * anti-joined supplier blacklist (negative account balance standing
    * in for the comment-pattern complaint filter). Scale: the blacklist
    * and the attribute-filtered part dim both broadcast before the
    * shuffle; COUNT(DISTINCT) plans as Spark's two-phase expand
    * aggregate keyed by (brand, type, size, suppkey) — bounded state,
    * no row ever carries more than one supplier.
    */
  private def q16SupplierCount(s: SparkSession, dir: String): DataFrame = {
    val bad = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= lit("Brand#45") &&
            col("p_type") =!= lit("PROMO") &&
            col("p_size").isin(1, 4, 9, 16, 25, 36, 49))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q20 shape (volume-dominant suppliers): suppliers who shipped
    * a strict majority of some red part's 1996 volume — the original's
    * "availqty > half of shipped quantity" correlated subquery,
    * restated on lineitem (no partsupp) and planned as aggregate →
    * integer cross-multiplied dominance filter → LEFT SEMI into the
    * supplier dim. The per-(part, supplier) quantity relation is
    * localCheckpoint'ed so the date+part-pruned lineitem scan feeding
    * both it and the per-part totals runs ONCE. Quantities sum as
    * BIGINTs (integer-valued fixture), so q·2 > total is exact.
    */
  private def q20DominantSupplier(s: SparkSession, dir: String): DataFrame = {
    val redKeys = Tables.part(s, dir)
      .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
    val sh = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .join(broadcast(redKeys), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("_q"))
      .localCheckpoint()
    val tot = sh.groupBy(col("l_partkey").as("_pk"))
      .agg(sum(col("_q")).as("_tq"))
    val dominant = sh
      .join(broadcast(tot), col("l_partkey") === col("_pk"))
      .filter(col("_q") * 2 > col("_tq"))
      .select(col("l_suppkey"))
    Tables.supplier(s, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
  }

  /** Subword vocabulary after k=3 BPE merges (Tokenizer.bpeVocab):
    * symbol, corpus frequency, merge-product flag — the tokenizer
    * capstone relation (merges → tokenized corpus → vocab).
    */
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.Tokenizer.bpeVocab(Tables.documents(s, dir), numMerges = 3)

  /** Duplicate-cluster-size profile (Dedup.dupProfile): the dedup
    * before/after histogram over exact fingerprints.
    */
  private def qDupProfile(s: SparkSession, dir: String): DataFrame =
    Dedup.dupProfile(Tables.documents(s, dir))

  /** Daily quantile drift (Stats.quantileDrift): exact per-day p50/p90
    * of event value + day-over-day deltas; the lag window consumes the
    * post-aggregation #days relation.
    */
  private def qQuantileDrift(s: SparkSession, dir: String): DataFrame =
    Stats.quantileDrift(Tables.events(s, dir))

  /** Cross-source shingle-overlap matrix (Dedup.sourceOverlap):
    * distinct shared 3-token shingles per source pair — aggregate-first
    * (per-shingle bounded source sets), never a shingle self-join.
    */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.documents(s, dir))

  /** Per-source dataset card (TextOps.corpusReport): docs/tokens/exact
    * dup-rate/lang-share/mean-length in one grouped aggregation.
    */
  private def qCorpusReport(s: SparkSession, dir: String): DataFrame =
    TextOps.corpusReport(Tables.documents(s, dir))

  /** Exact trailing EWMA (WindowOps.ewma, decay 7/10, window 8): the
    * integer-weight construction — no runtime pow, one final division.
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame =
    graft.operators.WindowOps.ewma(Tables.events(s, dir))
      .select(col("event_id"), col("user_id"), col("value"), col("ewma"))

  /** Per-language distinctive terms (TextOps.domainKeyness): add-one
    * log-odds of in-group vs rest-of-corpus odds, top-5 per language —
    * the mixture-design "what characterizes this bucket" relation.
    * Exact integer-count odds, one ln per (group, term).
    */
  private def qDomainKeyness(s: SparkSession, dir: String): DataFrame =
    TextOps.domainKeyness(Tables.documents(s, dir), groupCol = "lang", k = 5)

  /** DSIR importance weights (LangModel.dsirWeights): target-vs-corpus
    * unigram log-likelihood ratio per doc, target = English docs.
    * Per-token ratios integer-micro-quantized before the per-doc sum.
    */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.llm.LangModel.dsirWeights(
      Tables.documents(s, dir), targetPred = col("lang") === "en")

  /** BPE tokenizer training (Tokenizer.bpeTrain, k=3): the merge table
    * learned over the word-frequency relation — one corpus pass, then
    * vocabulary-sized iterations; the DuckDB oracle replays all three
    * iterations as repeated CTEs, so the hash-match proves the entire
    * training loop (pair counting, tie-breaking, merge application)
    * against an independent engine.
    */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.llm.Tokenizer.bpeMerges(s, Tables.documents(s, dir), numMerges = 3)

  /** BPE application (Tokenizer.bpeTrainTokenize, k=3): the learned
    * merges folded into chained literal REPLACEs inside a per-word
    * transform — shuffle-free scan-speed tokenization (plan-asserted in
    * TokenizerSpec); oracle = the same training CTEs plus the same
    * REPLACE chain per document.
    */
  private def qBpeTokenize(s: SparkSession, dir: String): DataFrame =
    graft.llm.Tokenizer.bpeTrainTokenize(Tables.documents(s, dir), numMerges = 3)

  /** Bounded-postings inverted index (Retrieval.invertedIndex): terms
    * over maxDf drop from a df-only aggregate BEFORE the posting-rank
    * window, so no task ever sorts a stopword's corpus-sized list. At
    * sf0.1 the 3000 cap actually fires (common plan-words exceed it);
    * at sf0.01 everything survives — same oracle either way.
    */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.llm.Retrieval.invertedIndex(Tables.documents(s, dir), maxDf = 3000L, k = 10)

  /** Okapi BM25 for a fixed query-term bag (rare + common terms) —
    * the retrieval-based decontamination / RAG-prep scoring relation;
    * per-term scores integer-micro-quantized before the per-doc sum.
    */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.llm.Retrieval.bm25(Tables.documents(s, dir), Seq("dup", "window", "merge"))

  private def qSimTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
  }

  /** Adaptive ANN: an IVF index IS provisioned (written first, as an
    * ingest pipeline would), but at 10 query vectors the volume-based
    * pick stays with the exact brute scan — so the auto hash-matches
    * the same exact oracle as q_sim_topk while exercising the full
    * decision path (index presence probe + memoized query count). The
    * flip to the index at high volume is spec-asserted
    * (SimilaritySpec) and measured (SCALE.md r14).
    *
    * Provisioning is once per (process, dir) — an ingest pipeline
    * writes the index at ingest, not per query, so the bench row times
    * decision + query rather than carrying a ~1.5 s per-run index write
    * forever (r14 VERDICT nit #1). The dir is part of the path because
    * Bench warms at sf0.001 then times at the bench SF in ONE process —
    * a dir-blind guard would serve the warmup corpus's index to the
    * timed query. The cold provision path stays covered: the first
    * invocation here writes it, and SimilaritySpec's auto tests write
    * fresh indexes per test dir.
    */
  /** Write (once per process+dir) the IVF index qSimTopkAuto queries —
    * the ingest-time step of the adaptive-ANN pipeline, split out so
    * Bench can run it UNTIMED before the timed row (r15 VERDICT #6: the
    * bench runs each query once, so the one-time ~1.5 s index write
    * dominated a ~0.8 s decision+query row; a real deployment pays the
    * write at ingest, amortized over every query after). Returns the
    * index path. The timed query still calls this (idempotent probe) so
    * Verify and ad-hoc callers stay self-contained.
    */
  private[graft] def provisionSimTopkAuto(s: SparkSession, dir: String): String = {
    val emb = Tables.embeddings(s, dir)
    val dirTag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_auto_fixture_${ProcessHandle.current().pid()}_$dirTag"
    val cp = new org.apache.hadoop.fs.Path(s"$idx/centroids")
    if (!cp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(cp))
      Similarity.ivfWriteIndex(emb, idx)
    idx
  }

  private def qSimTopkAuto(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val idx = provisionSimTopkAuto(s, dir)
    Similarity.simTopKAuto(emb.filter(col("vec_id") < 10), emb, k = 5,
      indexPath = Some(idx))
  }

  private def qMlFeatures(s: SparkSession, dir: String): DataFrame =
    Trainer.trainingFrame(s, dir)

  private def qTumblingAgg(s: SparkSession, dir: String): DataFrame =
    WindowOps.tumblingAgg(
      Tables.events(s, dir),
      aggs = Seq(
        count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("total_value")),
      extraKeys = Seq("event_type"))
      .select(col("w_start"), col("event_type"), col("n_events"), col("total_value"))

  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    WindowOps.sessionAgg(Tables.events(s, dir), gap = "30 minutes")

  /** The tumbling aggregation executed incrementally (micro-batches +
    * state store); shares the batch oracle: streaming ≡ batch.
    */
  private def qStreamTumbling(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s,
      WindowOps.tumblingAgg(
        Streaming.eventsStream(s, dir),
        aggs = Seq(
          count(lit(1)).as("n_events"),
          (sum(cents(col("value"))) / 100.0).as("total_value")),
        extraKeys = Seq("event_type"))
        .select(col("w_start"), col("event_type"), col("n_events"),
          col("total_value")))

  /** Gap-based session windows executed incrementally — Spark's
    * session_window MERGES open sessions in the state store as events
    * arrive, a genuinely stateful shape (unlike fixed windows, a
    * session's extent is data-dependent); shares the batch oracle.
    */
  private def qStreamSession(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s,
      WindowOps.sessionAgg(Streaming.eventsStream(s, dir), gap = "30 minutes"))

  /** The session pipeline on the session [[Streaming.autoStateSessionWindow]]
    * returns — the session-window leg of the state-provider adaptive
    * element (r14 VERDICT #5): live state estimated with the
    * session-specific bound (merging state follows a data-dependent
    * growth law the hopping bound can't price), provider picked, query
    * built on the isolated session, hash-checked against the same batch
    * oracle as q_session_window.
    */
  private def qStreamSessionAuto(s: SparkSession, dir: String): DataFrame = {
    val (s2, _) = Streaming.autoStateSessionWindow(s, dir)
    Streaming.runToMemory(s2,
      WindowOps.sessionAgg(Streaming.eventsStream(s2, dir), gap = "30 minutes"))
  }

  /** The changelog TABLE executed incrementally: latest order per
    * customer via mapGroupsWithState upserts over the order stream. The
    * Update-mode emissions form a changelog (re-emissions per key), so
    * the comparison view compacts them with the batch latestByKey —
    * exactly how a compacted Kafka topic or Mongo upsert sink is
    * consumed. Shares the batch q_latest_by_key oracle: incremental
    * TABLE state ≡ batch answer.
    */
  private def qStreamLatest(s: SparkSession, dir: String): DataFrame =
    Relational.latestByKey(
      Streaming.runToMemory(s,
        Streaming.latestByKeyStream(
          Streaming.ordersStream(s, dir), "o_custkey",
          Seq("o_orderdate", "o_orderkey")),
        org.apache.spark.sql.streaming.OutputMode.Update()),
      key = Seq("o_custkey"), orderBy = Seq("o_orderdate", "o_orderkey"))

  /** Token-budget admission executed incrementally — 8 bytes of state
    * per source. Serves two catalog rows. q_stream_token_budget is
    * rows-only: admission order is per-micro-batch hash order, not the
    * batch operator's global hash order (single-batch equivalence and
    * the budget invariant are spec-asserted). q_stream_token_budget_rel
    * applies the q_stream_flagship_rel trick: the same incremental run,
    * hash-checked against the BATCH operator's DuckDB oracle — legal
    * because the fixture replays as one micro-batch, where the stream's
    * per-batch md5-hash admission order coincides with the batch
    * window's global hash order (StreamingSpec's
    * single-batch-equivalence test is the in-repo proof; multi-batch
    * runs keep the budget invariant but not the order).
    */
  private def qStreamTokenBudget(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s,
      Streaming.tokenBudgetStream(
        Streaming.documentsStream(s, dir), budgetTokens = 700L),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** Interval join: clicks within the 600 s before each purchase. */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsWithEpoch(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_sec").as("p_sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_sec").as("c_sec"))
    Joins.intervalJoin(purchases, clicks,
      "p_user", "c_user", "p_sec", "c_sec", -600L, 0L, "left")
      .groupBy(col("purchase_id"), col("p_user").as("user_id"), col("p_sec"))
      .agg(count(col("c_sec")).as("clicks_before"))
  }

  /** As-of join: each event picks up the user's latest order at or
    * before the event time (state-at-event-time enrichment).
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.eventsWithEpoch(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_sec"))
    // project BEFORE latestByKey: its max_by(struct(payload)) is a
    // column-pruning barrier (see the operator's scaladoc), so feeding
    // it full orders made the scan read all 6 columns for these 4
    val r0 = Relational.latestByKey(
      Tables.orders(s, dir)
        .withColumn("o_sec", col("o_orderdate").cast("timestamp").cast("long"))
        .select(col("o_custkey"), col("o_sec"),
          col("o_orderkey"), col("o_totalprice")),
      key = Seq("o_custkey", "o_sec"), orderBy = Seq("o_orderkey"))
    val r = r0.select(col("o_custkey"), col("o_sec"),
      col("o_orderkey").as("last_order_key"),
      col("o_totalprice").as("last_order_price"))
    Joins.asOfJoin(l, r, "user_id", "o_custkey", "ts_sec", "o_sec",
      Seq("last_order_key", "last_order_price"))
  }

  /** The SAME as-of enrichment through the broadcast variant
    * (Joins.asOfJoinBroadcast): the dim history broadcasts as per-key
    * sorted arrays and the fact side never shuffles — shares
    * q_asof_join's oracle, so the driver proves the two plans agree.
    *
    * No explicit latestByKey pre-pass here (q_asof_join needs it for
    * the window variant's determinism): the broadcast history sorts by
    * (ts, orderkey, …) and the probe takes the LAST entry ≤ ts, so
    * same-(key, ts) duplicates resolve to the max orderkey — the
    * identical row latestByKey would keep, without its extra
    * shuffle+window pass over the dim.
    */
  private def qAsofBroadcast(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.eventsWithEpoch(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_sec"))
    val r = Tables.orders(s, dir)
      .withColumn("o_sec", col("o_orderdate").cast("timestamp").cast("long"))
      .select(col("o_custkey"), col("o_sec"),
        col("o_orderkey").as("last_order_key"),
        col("o_totalprice").as("last_order_price"))
    Joins.asOfJoinBroadcast(l, r, "user_id", "o_custkey", "ts_sec", "o_sec",
      Seq("last_order_key", "last_order_price"))
  }

  /** The as-of enrichment through the ADAPTIVE variant
    * (Joins.asOfJoinAuto): one cheap dim count picks broadcast vs
    * shuffle at the measured ~2 M-entry crossover (SCALE.md). Shares
    * q_asof_join's oracle — at the fixture's history size it must
    * choose broadcast AND still match, proving the pick is invisible;
    * the shuffle-side flip is spec-asserted (JoinsSpec).
    */
  private def qAsofAuto(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.eventsWithEpoch(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_sec"))
    // latestByKey pre-pass as in qAsofJoin: the auto variant may pick
    // EITHER path, and the shuffle path requires one row per (key, ts)
    // for determinism — the pre-reduced dim is valid for both. Projected
    // first, same pruning-barrier reason as qAsofJoin.
    val r0 = Relational.latestByKey(
      Tables.orders(s, dir)
        .withColumn("o_sec", col("o_orderdate").cast("timestamp").cast("long"))
        .select(col("o_custkey"), col("o_sec"),
          col("o_orderkey"), col("o_totalprice")),
      key = Seq("o_custkey", "o_sec"), orderBy = Seq("o_orderkey"))
    val r = r0.select(col("o_custkey"), col("o_sec"),
      col("o_orderkey").as("last_order_key"),
      col("o_totalprice").as("last_order_price"))
    Joins.asOfJoinAuto(l, r, "user_id", "o_custkey", "ts_sec", "o_sec",
      Seq("last_order_key", "last_order_price"))
  }

  /** Full-outer reconciliation (engine completeness): per-user event and
    * order counts stitched across both activity tables, keeping users
    * present on either side.
    */
  private def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val oc = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    ev.join(oc, col("user_id") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("user_id"), col("o_custkey")).as("id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  /** Salted-hash pseudonymization of the user id over the event log —
    * the PII-unlinking projection (stable within a salt, shredded by
    * rotating it).
    */
  private def qPseudonymize(s: SparkSession, dir: String): DataFrame =
    TextOps.pseudonymize(
      Tables.events(s, dir).select(col("event_id"), col("user_id")),
      "user_id", salt = "pepper")

  /** Per-source embedding centroids + each vector's cosine to its own
    * centroid — the semantic-outlier score of the embedding QA family.
    */
  private def qEmbedCentroid(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    graft.llm.EmbeddingOps.centroidCosine(emb, "source")
  }

  /** Set operations (engine completeness; absent from the reference). */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir).select(col("user_id"))
    val buyers = Tables.orders(s, dir).select(col("o_custkey").as("user_id"))
    active.intersect(buyers).withColumn("op", lit("both"))
      .union(active.except(buyers).withColumn("op", lit("events_only")))
      .union(buyers.except(active).withColumn("op", lit("orders_only")))
  }

  private def qDistinctCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))) / 100.0).as("total"))

  /** Salted fact⋈dim join ≡ plain join (skew path; the oracle is the
    * DIRECT join, proving the rewrite exact).
    */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedJoin(
      Tables.events(s, dir), Tables.customer(s, dir), "user_id", "c_custkey",
      saltOn = Seq(col("event_id")))
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))

  /** Adaptive skew join (Skew.saltedJoinAuto): the sampled skew factor
    * picks direct vs salted; on the uniform fixture it must land on the
    * DIRECT join and still match the same oracle (the salted flip is
    * spec-asserted in SkewSpec on a hot corpus).
    */
  private def qSkewJoinAuto(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedJoinAuto(
      Tables.events(s, dir), Tables.customer(s, dir), "user_id", "c_custkey",
      saltOn = Seq(col("event_id")))
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))

  /** Salted two-stage aggregation ≡ plain GROUP BY (skew path, SCALE.md).
    * The oracle is the DIRECT aggregation — proving the rewrite exact.
    */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedAgg(
      Tables.events(s, dir), "user_id",
      Map("value_cents" -> cents(col("value"))),
      // event_id: unique → full within-key spread, and the scan prunes
      // to 3 of 6 columns = 50% of events bytes on the fixture (ts is
      // 43% alone; more on corpora with heavy props payloads)
      saltOn = Seq(col("event_id")))
      .select(col("user_id"), col("value_cents"), col("n_rows"))

  // ---- deterministic sampling / mixing / packing (llm.Sampling) -------
  // all md5-keyed → bit-for-bit reproducible and fully oracle-checkable

  private def qSampleDet(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicSample(Tables.documents(s, dir), col("doc_id"), 0.25)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
      Tables.documents(s, dir), col("doc_id"), col("source"),
      Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.1),
      defaultFraction = 0.3)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  private def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetSample(Tables.documents(s, dir), budgetTokens = 700L)

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(Tables.documents(s, dir), contextLen = 128)

  private def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocs(Tables.documents(s, dir), chunkTokens = 32, stride = 16)

  private def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(Tables.documents(s, dir), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("source"), col("split"))

  /** Reproducible global training order + round-robin data-parallel
    * shards (Sampling.shardAssign over globalOrderIndex): every doc gets
    * a dense md5-order ordinal and a shard = (ord-1) mod 32 — the
    * loader contract for a 32-way data-parallel run, computed WITHOUT a
    * single-task global sort (two-level bucket-localized ranking; the
    * only unpartitioned window consumes the 256-row bucket-count
    * relation — SamplingSpec plan-asserts the shape).
    */
  private def qCorpusOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.shardAssign(
      Tables.documents(s, dir).select(col("doc_id")), col("doc_id"), nShards = 32)
      .select(col("doc_id"), col("ord"), col("shard"))

  /** Short-to-long curriculum order (Sampling.orderIndexByValue): a
    * dense corpus-wide ordinal by (char length, doc_id) — the classic
    * length-curriculum read order — computed with value-range bucket
    * localization instead of a single-task global sort. The DuckDB
    * oracle is the naive global ROW_NUMBER; the hash-match proves the
    * two-level plan realizes the identical total order.
    */
  private def qCurriculumOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.orderIndexByValue(
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("n_chars")),
      col("n_chars"), col("doc_id"))
      .select(col("doc_id"), col("n_chars"), col("ord"))

  /** Per-group deterministic cap — "max 50 docs per source", the count
    * form of a mixing policy guardrail.
    */
  private def qCapPerGroup(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(Tables.documents(s, dir), col("doc_id"), "source", 50)
      .select(col("doc_id"), col("source"), col("lang"))

  /** Distribution-driven outlier filter: keep docs inside each source's
    * exact p05–p95 length band (profiling → threshold → filter, the
    * standard quality-gate chain).
    */
  private def qOutlierFilter(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.outlierFilter(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", 0.05, 0.95)
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** Winsorization (Stats.winsorize): the clamp-don't-drop companion
    * of q_outlier_filter — every doc kept, tails tamed into the
    * source's exact p05–p95 band.
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.winsorize(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", 0.05, 0.95)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("n_chars_wins"))

  /** Decontamination applied: the corpus minus docs whose benchmark
    * contamination ratio reaches 0.2 (flag → anti-join).
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.decontaminate(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      threshold = 0.2)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Temperature mixture table: per-source sampling weights/fractions
    * for alpha = 0.5 targeting 300 rows.
    */
  private def qMixtureWeights(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureWeights(Tables.documents(s, dir), "source",
      alpha = 0.5, targetRows = 300L)

  /** The temperature-flattened sample itself (pure filter against the
    * broadcast weights relation).
    */
  private def qSampleTemperature(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(Tables.documents(s, dir), col("doc_id"),
      "source", alpha = 0.5, targetRows = 300L)
      .select(col("doc_id"), col("source"), col("lang"))

  /** Perplexity-filter signal: per-doc cross-entropy under the corpus's
    * own add-k unigram LM.
    */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    graft.llm.LangModel.crossEntropy(Tables.documents(s, dir))

  /** Corpus heavy hitters: top-20 bigrams (boilerplate report). */
  private def qTopNgrams(s: SparkSession, dir: String): DataFrame =
    TextOps.topNgrams(Tables.documents(s, dir), n = 2, k = 20)

  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    graft.llm.EmbeddingOps.quantize(Tables.embeddings(s, dir))

  /** Exact distribution profiling (percentiles / dispersion / correlation)
    * — the corpus-statistics pass a data pipeline runs before setting
    * filter thresholds. Exact `percentile` (not approx) so the DuckDB
    * quantile_cont oracle matches; rounding absorbs last-ulp FP
    * differences between the engines' streaming moment formulas.
    */
  private def qStatsProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // bucket-localized exact percentiles (operators.Stats) instead of the
    // built-in value-map percentile aggregate — same results (shared
    // oracle), bounded per-task state, in-group parallelism = buckets.
    // Both measures ride ONE localization pipeline (percentilesMulti):
    // the measure ordinal is part of every bucket key, so each keeps its
    // own ps and exact semantics while sharing the three base scans.
    // (The round-3 stacked experiment that measured 2x slower computed
    // ALL percentiles for BOTH measures; the measure-tagged keys fix
    // that.)
    val pcts = graft.operators.Stats.percentilesMulti(li, "l_returnflag",
      Seq(
        "l_quantity" -> Seq("p50_qty" -> 0.5, "p90_qty" -> 0.9),
        "l_extendedprice" -> Seq("p25_price" -> 0.25)))
    val moments = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        // + 0.0 normalizes IEEE −0.0 (a tiny negative covariance rounds
        // to −0.0, which string-compares unequal to the other engine's 0.0)
        (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0))
          .as("corr_qty_price"),
        (round(covar_samp(col("l_discount"), col("l_tax")), 6) + lit(0.0))
          .as("cov_disc_tax"))
    moments
      .join(pcts, "l_returnflag")
      .select(
        col("l_returnflag"), col("n"),
        round(col("p50_qty"), 4).as("p50_qty"),
        round(col("p90_qty"), 4).as("p90_qty"),
        round(col("p25_price"), 4).as("p25_price"),
        col("sd_price"), col("corr_qty_price"), col("cov_disc_tax"))
  }

  // rows-only (no SQL oracle: approximate / hash-seeded / stubbed ops)

  /** Mergeable-sketch distinct counts (rows-only: estimator-specific).
    * The companion SketchesSpec asserts merged partials ≡ one-shot.
    */
  private def qHllDistinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllMergeEstimate(
      graft.operators.Sketches.hllPartials(
        Tables.events(s, dir).withColumn("day", dayofmonth(col("ts"))),
        col("user_id"), col("event_type"), col("day")),
      col("event_type"))

  /** Mergeable quantile sketches: per-(flag, status) KLL partials merged
    * up to per-flag quantile estimates — the stored-sketch path beside
    * the exact q_stats_profile (rows-only: sketch estimates; rank-error
    * bound spec-asserted against the exact percentile).
    */
  private def qKllQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kllMergeQuantiles(
      graft.operators.Sketches.kllPartials(
        Tables.lineitem(s, dir), col("l_quantity"),
        col("l_returnflag"), col("l_linestatus")),
      Seq("p50_est" -> 0.5, "p90_est" -> 0.9),
      col("l_returnflag"))

  /** Theta-sketch distinct algebra: estimated count of users active in
    * BOTH segments (clickers ∩ purchasers) from per-segment sketches —
    * set intersection over distinct counts, which HLL cannot do
    * (rows-only; accuracy spec-asserted vs the exact intersect).
    */
  private def qThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def seg(t: String) = graft.operators.Sketches.thetaPartials(
      ev.filter(col("event_type") === t).withColumn("seg", lit("click_x_purchase")),
      col("user_id"), col("seg"))
    graft.operators.Sketches.thetaIntersectEstimate(
      seg("click"), seg("purchase"), "seg")
  }

  /** The exact set algebra behind q_theta_overlap: distinct-user
    * intersection/union of the click and purchase segments in ONE
    * groupBy(user) pass (per-user membership flags, then a bounded
    * 4-sum agg) — the in-driver truth row the theta sketch estimates.
    * SketchesSpec asserts the sketch's relative error against this
    * exact intersect; the DuckDB oracle hash-matches it, so the sketch
    * family's ground truth is itself driver-verified.
    */
  private def qThetaOverlapExact(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "click", 1).otherwise(0)).as("_c"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("_p"))
      .agg(
        sum(when(col("_c") === 1 && col("_p") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(col("_c").cast("long")).as("n_click"),
        sum(col("_p").cast("long")).as("n_purchase"),
        count(lit(1)).as("n_union"))

  /** Bounded-memory approximate heavy hitters over the same bigram
    * relation as the exact q_top_ngrams (rows-only; heavy-item agreement
    * with the exact top-k spec-asserted).
    */
  private def qApproxTopNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.approxTopK(
      TextOps.ngrams(Tables.documents(s, dir), n = 2), col("gram"), 20)

  /** Incremental dedup: odd-id docs (the "new batch") against the
    * even-id corpus index (rows-only: seeded hashes; delta ≡ full-corpus
    * equivalence is spec-asserted in DedupSpec).
    */
  private def qDedupDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // per-PROCESS fixed path + overwrite mode: repeated invocations within
    // one JVM reuse a single directory (no temp-dir leak per run), while
    // the pid suffix keeps concurrent Verify/Bench processes on the same
    // machine from overwriting each other's parquet mid-read
    val dir2 = s"${System.getProperty("java.io.tmpdir")}/graft_mh_idx_fixture_${ProcessHandle.current().pid()}"
    Dedup.minhashWriteIndex(docs.filter(col("doc_id") % 2 === 0), dir2)
    Dedup.minhashDeltaPairs(
      docs.filter(col("doc_id") % 2 === 1),
      s.read.parquet(s"$dir2/bands"),
      s.read.parquet(s"$dir2/sigs"),
      threshold = 0.3)
  }

  /** Delete a local file tree (a no-op when `x` does not exist) — the
    * per-process scratch dirs builders reset before re-running.
    */
  private def rmTree(x: java.io.File): Unit = {
    if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rmTree))
    x.delete(): Unit
  }

  /** SMB bucketed-layout join executed under the driver: both sides
    * written bucketed + sorted on the key once (Bucketed.writeBucketed,
    * per-process table names like the qDedupDelta index pattern), then
    * joined — the exchange-free plan BucketedJoinSpec plan-asserts,
    * here hash-verified by the driver against the plain-join oracle
    * (the layout must change the PLAN, never the rows).
    */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val (tE, tO) = (s"graft_smb_events_$pid", s"graft_smb_orders_$pid")
    val whUri = new java.net.URI(s.conf.get(
      "spark.sql.warehouse.dir", "spark-warehouse"))
    val whPath = if (whUri.getScheme == null) whUri.toString
      else java.nio.file.Paths.get(whUri).toString
    for (t <- Seq(tE, tO)) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      rmTree(new java.io.File(whPath, t))
    }
    graft.sources.Bucketed.writeBucketed(
      Tables.events(s, dir).select(col("event_id"), col("user_id")),
      tE, "user_id", buckets = 8)
    graft.sources.Bucketed.writeBucketed(
      Tables.orders(s, dir)
        .select(col("o_custkey").as("user_id"), col("o_orderkey")),
      tO, "user_id", buckets = 8)
    // merge hint: at fixture sizes AQE would broadcast the small side
    // and mark the bucketed scan "disabled by query planner" — the hint
    // keeps the SortMergeJoin so the registered plan actually exercises
    // the exchange-free bucketed layout the operator exists for
    s.table(tE).hint("merge").join(s.table(tO).hint("merge"), "user_id")
      .select(col("event_id"), col("user_id"), col("o_orderkey"))
  }

  /** Exact-shingle delta dedup (Dedup.ngramJaccardDeltaPairsExact) —
    * the DuckDB-oracled statement of the incremental contract
    * q_dedup_delta exercises with seeded minhash: batch = odd docs,
    * corpus = even docs, emit every pair involving ≥ 1 batch doc.
    */
  private def qDedupDeltaExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.ngramJaccardDeltaPairsExact(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      threshold = 0.1)
  }

  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))

  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
  }

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(s, dir), threshold = 0.3)

  /** Pairs → connected components → keep/drop decision per doc. */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.resolveClusters(
      Dedup.minhashNearDups(Tables.documents(s, dir), threshold = 0.3))

  /** Full dedup pipeline applied: the corpus minus dropped near-dups. */
  private def qDedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.applyDedup(docs,
      Dedup.resolveClusters(Dedup.minhashNearDups(docs, threshold = 0.3)))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashes(Tables.documents(s, dir))

  /** Exact-Hamming simhash truth twin (Dedup.simhashExactPairs): the
    * 32-bit explicit-31-polynomial signature pipeline, all-pairs,
    * DuckDB-hash-matched end to end — the oracle row for the simhash
    * family whose production signatures (xxhash64) no external engine
    * can recompute. maxHamming=2 of 32 bits: tight enough that the
    * Markov fixture's background similarity (median pairwise distance
    * ~5 of 32) stays excluded, while exact and truncation-level
    * near-dups still surface; the oracle SQL's `hamming <= 2` must move
    * in lockstep with this radius.
    */
  private def qSimhashExact(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashExactPairs(Tables.documents(s, dir), maxHamming = 2)

  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    // the 100 TB-safe parameterization: bands=8 keeps >= 5 guaranteed
    // collision bands per radius-3 pair (pigeonhole), so the finite
    // hot-bucket cap may legally engage (bands >= maxHamming+2) and a
    // degenerate band value (boilerplate corpus sharing an 8-bit chunk)
    // can no longer go quadratic — >= 2 guaranteed bands survive any
    // single hot bucket, so no true pair is lost (DedupSpec adversarial
    // boilerplate test)
    Dedup.simhashNearDups(Tables.documents(s, dir),
      maxHamming = 3, bands = 8, maxBucket = 1024)

  /** Partial-overlap (plagiarized-paragraph) pairs via winnowing
    * fingerprints (rows-only: seeded xxhash64).
    */
  private def qWinnowOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlapPairs(Tables.documents(s, dir))

  /** Oracle-grade winnowing: the same MOSS window-minimum selection with
    * lexicographic string minimization — every step ANSI-expressible, so
    * the winnowing family's SEMANTICS get a DuckDB hash-match, not just a
    * row count.
    */
  private def qWinnowOverlapExact(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlapPairsExact(Tables.documents(s, dir))

  /** The winnowing pipeline a real corpus runs: strip boilerplate
    * segments FIRST (TextOps.removeBoilerplate), then fingerprint what
    * remains at PARAGRAPH granularity — k = 25 chars (≈ 4 words),
    * w = 8, so only shared runs ≥ w + k − 1 = 32 chars fingerprint
    * together (the MOSS-realistic plagiarism setting). The unstripped
    * q_winnow_overlap / _exact pair keeps the k = 5 default, where a
    * "gram" is sub-word and the fixture's 40-word vocabulary makes
    * chance 8-char collisions ubiquitous — their pair set is quadratic
    * in corpus size by construction (measured 9.51 M pairs / 23.7 s at
    * sf0.1), measuring pair-dump I/O, not winnowing compute. This
    * composition is the benched scale path: measured 613 pairs / 1.7 s
    * at sf0.1 (28 at sf0.001 — subquadratic growth, the planted
    * overlaps plus a thin chance tail). DedupSpec asserts the pair
    * count drops orders of magnitude vs the unstripped run while a
    * planted post-strip duplicate still pairs. Rows-only (seeded
    * xxhash64 fingerprints are not SQL-expressible; the winnowing
    * semantics are oracled via q_winnow_overlap_exact).
    */
  private def qWinnowClean(s: SparkSession, dir: String): DataFrame =
    // localCheckpoint: winnowOverlapPairs consumes its input from FOUR
    // plan branches (hot agg + both self-join sides, r19 shape), and
    // without a materialization barrier the whole removeBoilerplate
    // pipeline (segment explode, two aggs, re-assembly join) replays in
    // every branch — measured 2.65 → 1.64 s at sf0.1 (r20 A/B: VERDICT.md
    // family 1, plans/r20/; the checkpointed relation is one narrow row
    // per doc, so the barrier is cheap where the r19 fps-checkpoint was
    // not). At 100 TB
    // the stripped corpus would be written once and winnowed from
    // storage — same barrier, durable form.
    Dedup.winnowOverlapPairs(
      TextOps.removeBoilerplate(Tables.documents(s, dir), " merge ", minDocs = 2)
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint(),
      k = 25, w = 8)

  /** Oracle twin of [[qWinnowClean]]: the SAME boilerplate-strip →
    * winnow composition (identical k = 25 / w = 8 parameters) with
    * lexicographic string minimization instead of seeded hashes, so the
    * whole clean-pipeline composition — not just its two halves — gets
    * a DuckDB hash-match (q_boilerplate oracles the strip,
    * q_winnow_overlap_exact the selection; this row fences their
    * composition: segment re-assembly order, empty-document survival,
    * and the stripped corpus's fingerprint pair set).
    */
  private def qWinnowCleanExact(s: SparkSession, dir: String): DataFrame =
    // same materialization barrier as qWinnowClean (two fps branches
    // here): 2.12 → 1.46 s at sf0.1 (r20 A/B, VERDICT.md family 1)
    Dedup.winnowOverlapPairsExact(
      TextOps.removeBoilerplate(Tables.documents(s, dir), " merge ", minDocs = 2)
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint(),
      k = 25, w = 8)

  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.1)

  // oracle-grade exact variants: candidate generation provably complete
  // (anchor on every shingle string), so DuckDB can reproduce the result
  // with LIST_INTERSECT + WITH RECURSIVE connected components

  private def qNgramJaccardExact(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsExact(Tables.documents(s, dir), threshold = 0.1)

  private def qNgramContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairsExact(Tables.documents(s, dir), threshold = 0.2)

  private def qDedupClustersExact(s: SparkSession, dir: String): DataFrame =
    Dedup.resolveClusters(
      Dedup.ngramJaccardPairsExact(Tables.documents(s, dir), threshold = 0.1))

  private def qDedupApplyExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.applyDedup(docs,
      Dedup.resolveClusters(Dedup.ngramJaccardPairsExact(docs, threshold = 0.1)))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  private def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
  }

  /** PQ-compressed ANN with exact re-rank (rows-only: seeded KMeans
    * codebook not SQL-expressible; recall-vs-exact asserted in
    * SimilaritySpec).
    */
  private def qSimPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, k = 5, m = 16)
  }

  /** Materialized IVF+PQ index query — partition pruning (cells) +
    * column pruning (codes vs raw vectors) on one parquet layout.
    * Rows-only; plan physics + recall asserted in SimilaritySpec.
    */
  private def qSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // per-process fixed path + overwrite (same rationale as qDedupDelta)
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_fixture_${ProcessHandle.current().pid()}"
    Similarity.ivfPqWriteIndex(emb, idx, m = 16)
    Similarity.ivfPqQueryIndex(emb.filter(col("vec_id") < 10), idx, k = 5)
  }

  private def qEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDups(Tables.embeddings(s, dir), threshold = 0.3)

  /** Real incremental execution (micro-batches + state store) of the
    * flagship hopping pivot — shares the batch oracle: streaming ≡ batch.
    */
  private def qStreamHoppingPivot(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s, Streaming.hoppingPivotStream(s, dir))

  /** The hopping pivot executed incrementally on the session
    * [[Streaming.autoStateSession]] returns — the sixth adaptive
    * element (state-store provider sized from the bounded live-state
    * bound) run through the full estimate → pick → isolated-session →
    * execute path, hash-checked against the same batch oracle as
    * q_stream_hopping_pivot: the provider choice may move cost, never
    * results. At fixture volume the estimate fits the heap so the pick
    * is the in-heap default; the RocksDB side of the flip is pinned in
    * StreamingSpec (forced-small heap) and measured at scale in
    * SCALE.md's third streaming decade.
    */
  private def qStreamAutoState(s: SparkSession, dir: String): DataFrame = {
    val (s2, _) = Streaming.autoStateSession(s, dir)
    Streaming.runToMemory(s2, Streaming.hoppingPivotStream(s2, dir))
  }

  /** Stream-STREAM interval join executed incrementally: both sides are
    * watermarked streams with two-sided join state (ksql `JOIN … WITHIN`),
    * not a stream-static enrich. Shares a plain-SQL oracle: the finite
    * replay must produce exactly the batch join.
    */
  private def qStreamIntervalJoin(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s, Streaming.intervalJoinStream(s, dir),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** The hopping pivot streamed through the Update-mode changelog parquet
    * SINK and recovered with readChangelogState — the CSAS → compacted
    * topic → consumer path with the SINK semantics inside the checked
    * query (q_stream_hopping_pivot only covers the memory-sink
    * materialization). Shares the batch hopping-pivot oracle: the
    * compacted changelog state must be exactly the batch answer.
    */
  private def qStreamChangelogPivot(s: SparkSession, dir: String): DataFrame = {
    // per-process fixed path (same rationale as qDedupDelta); wipe it
    // first: a second run in the same JVM starts a fresh checkpoint at
    // batch 0, and any higher batch_id directory the first run left
    // would win the compaction with stale rows
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_changelog_pivot_${ProcessHandle.current().pid()}"
    rmTree(new java.io.File(path))
    Streaming.runToEnd(
      Streaming.changelogWriter(Streaming.hoppingPivotStream(s, dir), path)())
    Streaming.readChangelogState(s, path, Seq("user_id", "w_start"))
  }

  /** The reference's headline continuously-emitting statement
    * (README.md:56-70): hopping pivot → user enrich → in-stream predict,
    * executed incrementally (state store + micro-batches) and sharing the
    * batch [[entry]] expression via [[scoredFlagship]]. Rows-only (model
    * output not SQL-expressible); batch ≡ streaming asserted in
    * StreamingSpec.
    */
  private def qStreamFlagship(s: SparkSession, dir: String): DataFrame = {
    val reg = tempRegistry()
    Trainer.trainAndRegister(s, dir, reg, useCv = false)
    Scorer.registerPredictUdf(s, reg.rootDir, preload = Seq(Trainer.ModelName))
    Streaming.runToMemory(s,
      scoredFlagship(s, Streaming.hoppingPivotStream(s, dir), dir))
  }

  /** The streaming flagship's relational prefix executed INCREMENTALLY
    * (state store + micro-batches) and hash-checked by the driver:
    * q_stream_flagship itself stays rows-only because the model column
    * is not SQL-expressible, but everything before the predict UDF —
    * hopping pivot, dim enrich, order counts — is plain ANSI, so this
    * variant shares that algebra with a DuckDB oracle. Streaming ≡
    * batch ≡ oracle on the finite replay.
    */
  private def qStreamFlagshipRel(s: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(s,
      Trainer.featureRelation(s, Streaming.hoppingPivotStream(s, dir), dir))

  private def tempRegistry(): Registry =
    new Registry(java.nio.file.Files.createTempDirectory("graft_reg").toString)

  /** M1–M14 + U-series end-to-end: train (seeded), register, score the
    * training frame with the vectorized path. Rows-only check (model
    * output is not ANSI-SQL-expressible).
    */
  private def qMlTrainScore(s: SparkSession, dir: String): DataFrame = {
    val reg = tempRegistry()
    Trainer.trainAndRegister(s, dir, reg, useCv = false)
    Scorer.scoreClean(reg.load("Bot Detector"), Trainer.trainingFrame(s, dir))
  }

  /** The reference's exact SQL surface: predict(model, as_array(strings),
    * as_array(ints)) as a registered scalar UDF (README.md:62-70).
    */
  private def qPredictUdf(s: SparkSession, dir: String): DataFrame = {
    val reg = tempRegistry()
    Trainer.trainAndRegister(s, dir, reg, "Bot Detector", useCv = false)
    Scorer.registerPredictUdf(s, reg.rootDir, preload = Seq("Bot Detector"))
    Trainer.trainingFrame(s, dir).createOrReplaceTempView("ml_features")
    s.sql("""SELECT user_id,
             predict('Bot Detector', array(country, platform),
                     array(product_views, listing_views, gallery_views, nb_orders))
               AS predicted_label
             FROM ml_features""")
  }

  /** decode() keeps its struct-valued API; the comparison view projects
    * the DETERMINISTIC decode fields — modality, byte count, channel
    * count, feature-vector arity — which are pure metadata arithmetic
    * and therefore DuckDB-oracle-able (the q_multimodal_frames trick).
    * The stub-hash payload fields (width/height/features, xxhash64-
    * derived) are excluded here and stay covered by MultimodalSpec's
    * determinism tests; a real codec swap changes those, not these.
    */
  private def qMultimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decode(Multimodal.asMedia(Tables.documents(s, dir)))
      .select(
        col("media_id"), col("modality"), col("n_bytes"),
        col("decoded.channels").as("channels"),
        size(col("decoded.features")).as("n_features"))

  private def qMultimodalPartitioned(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePartitioned(Multimodal.asMedia(Tables.documents(s, dir)))

  /** Video-modality frame sampling. The selection arithmetic —
    * every-8th-of-32 frame indices per media row with the payload
    * pruned before the fan-out — is pure integer sequence math, so the
    * registered projection oracles it fully; only the stub
    * `frame_feature` (hash-seeded pseudo-decode) is excluded here and
    * stays covered by MultimodalSpec's determinism tests.
    */
  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.asMedia(Tables.documents(s, dir)))
      .select(col("media_id"), col("n_bytes"), col("frame_idx"))

  /** Winnowing local fingerprints (rows-only: seeded xxhash64 not
    * SQL-expressible; the winnowing guarantee is unit-tested).
    */
  private def qWinnowFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(Tables.documents(s, dir))

  // ---- the query catalog ---------------------------------------------

  /** One named query; [[catalog]] holds them all.
    *
    * @param build     the query over a session and a corpus directory
    * @param bench     timed by [[Bench]] every round
    * @param oracle    DuckDB SQL `tools/compare_oracle.py` hash-matches the
    *                  result against, column names/types aligned on both sides
    * @param provision untimed once-per-corpus step (index writes, dim
    *                  materializations): Bench runs it after warm-up and
    *                  before the timed loop, mirroring an ingest pipeline
    *                  where index maintenance is not on the query path
    */
  final case class QuerySpec(
      name: String,
      build: (SparkSession, String) => DataFrame,
      bench: Boolean = false,
      oracle: Option[String] = None,
      provision: Option[(SparkSession, String) => Unit] = None)

  /** Shared DuckDB CTE chain for the exact ngram-Jaccard dedup family:
    * string shingles → all-pairs exact Jaccard → symmetric edges →
    * recursive transitive closure → min-label survivors. Mirrors
    * Dedup.ngramJaccardPairsExact + resolveClusters semantics exactly.
    */
  private val ngramExactCte =
    """WITH RECURSIVE s AS (
      |  SELECT doc_id,
      |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(STRING_SPLIT(text, ' ')) - 2),
      |      i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i+1:i+3], ' '))) AS sh
      |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
      |p0 AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b,
      |         LEN(LIST_INTERSECT(x.sh, y.sh)) AS inter,
      |         LEN(x.sh) AS n_a, LEN(y.sh) AS n_b
      |  FROM s x JOIN s y ON x.doc_id < y.doc_id),
      |pairs AS (
      |  SELECT a, b, ROUND(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
      |  FROM p0
      |  WHERE inter > 0 AND ROUND(inter * 1.0 / (n_a + n_b - inter), 6) >= 0.1),
      |e AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      |reach AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |surv AS (
      |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS survivor FROM reach GROUP BY a)""".stripMargin

  /** DuckDB expression for Σ occurrences of each trigram (mirrors
    * TextOps.ngramCount exactly: plain REPLACE, no regex).
    */
  private def ngramScoreSql(grams: Seq[String]): String =
    grams.map(g =>
      s"(LENGTH(LOWER(text)) - LENGTH(REPLACE(LOWER(text), '$g', ''))) / ${g.length}")
      .mkString("(", " + ", ")")

  private val hopCte =
    """WITH h AS (
      |  SELECT e.*,
      |         (CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)
      |          - (CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) % 120)
      |          - 120 * g.i) AS w_start
      |  FROM events e, (SELECT UNNEST(RANGE(5)) AS i) g
      |)""".stripMargin

  /** Shared DuckDB CTE for the window-cumsum sampling family: per-group
    * running token totals in deterministic (md5-hex, doc_id) order —
    * mirrors Sampling.tokenBudgetSample / packSequences exactly.
    */
  private val samplingCumCte =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
      |    SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM t)""".stripMargin

  /** Contamination CTE chain (string shingles; distinct-hash counts equal
    * distinct-string counts at fixture scale) — shared by the flag query,
    * its incremental streaming execution, and the decontamination apply.
    */
  private val contaminationCte =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(tk) - 2),
      |    i -> ARRAY_TO_STRING(tk[i+1:i+3], ' ')))) AS s
      |  FROM toks WHERE LEN(tk) >= 3),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
      |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0)""".stripMargin

  private val contaminationOracle = contaminationCte +
    """
      |SELECT c.doc_id,
      |  COUNT(*) AS n_shingles,
      |  COUNT(b.s) AS n_contaminated,
      |  ROUND(COUNT(b.s) * 1.0 / COUNT(*), 6) AS contamination_ratio
      |FROM corp c LEFT JOIN bench b ON c.s = b.s
      |GROUP BY c.doc_id""".stripMargin

  private val latestByKeyOracle =
    """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM (SELECT o.*, ROW_NUMBER() OVER (
      |        PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders o) t
      |WHERE rn = 1""".stripMargin

  /** Tumbling/session oracles — each shared by the batch query and its
    * incremental streaming execution (streaming ≡ batch).
    */
  private val tumblingOracle =
    """SELECT
      |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) - (CAST(FLOOR(EPOCH(ts)) AS BIGINT) % 600) AS w_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  private val sessionOracle =
    """WITH e AS (
      |  SELECT user_id, EPOCH(ts) AS es,
      |    LAG(EPOCH(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, es,
      |    SUM(CASE WHEN prev IS NULL OR es - prev >= 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY es
      |            ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id,
      |  CAST(FLOOR(MIN(es)) AS BIGINT) AS session_start,
      |  CAST(FLOOR(MAX(es)) AS BIGINT) + 1800 AS session_end,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** DuckDB rendering of [[graft.functions.ZOrder.zValue2]]: the same
    * static shift/mask fold, all-BIGINT, so the z-value hash-matches
    * bit-for-bit.
    */
  private def zorderSql(x: String, y: String, bits: Int): String = {
    val m = (1L << bits) - 1
    (0 until bits).flatMap { i =>
      Seq(s"((($x & $m) & ${1L << i}) << $i)",
        s"((($y & $m) & ${1L << i}) << ${i + 1})")
    }.mkString("(", " | ", ")")
  }

  /** Shared by the exact decontamination and its Bloom-prefiltered
    * execution (identical relation by construction — the Bloom pass
    * only reorders which shingles reach the exact confirm join).
    */
  private val decontaminateOracle = contaminationCte +
    """,
      |r AS (
      |  SELECT c.doc_id,
      |    ROUND(COUNT(b.s) * 1.0 / COUNT(*), 6) AS ratio
      |  FROM corp c LEFT JOIN bench b ON c.s = b.s
      |  GROUP BY c.doc_id)
      |SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id % 10 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM r WHERE ratio >= 0.2)""".stripMargin

  /** One BPE training iteration as DuckDB CTEs: pair counts over the
    * current symbolization (p), deterministic argmax (m), merge applied
    * as the boundary-safe literal replace (s) — the exact loop body of
    * Tokenizer.bpeTrain.
    */
  private def bpeIterCte(i: Int): String = {
    val prev = s"s${i - 1}"
    s"""
       |p$i AS (
       |  SELECT toks[g.i] AS a, toks[g.i+1] AS b, SUM(freq) AS cnt
       |  FROM (SELECT freq, string_split(trim(sym), '  ') AS toks FROM $prev) t,
       |       UNNEST(range(1, len(toks))) AS g(i)
       |  GROUP BY 1, 2),
       |m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
       |s$i AS (
       |  SELECT word, freq,
       |    replace(sym,
       |      ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ',
       |      ' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ') AS sym
       |  FROM $prev)""".stripMargin
  }

  /** Word-frequency base + three [[bpeIterCte]] iterations — shared by
    * the q_bpe_merges and q_bpe_tokenize oracles so both replay the
    * identical training.
    */
  private val bpeTrainCtes: String =
    """WITH wf AS (
      |  SELECT term AS word, COUNT(*) AS freq
      |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
      |  GROUP BY 1),
      |s0 AS (SELECT word, freq,
      |       regexp_replace(word, '(.)', ' \1 ', 'g') AS sym FROM wf),""".stripMargin +
      (1 to 3).map(bpeIterCte).mkString(",")

  /** [[bpeTrainCtes]] + the tokenizer application (merge scalars cross
    * joined, then the same three boundary-safe REPLACEs per document) —
    * shared by q_bpe_tokenize and q_bpe_vocab.
    */
  private val bpeTokenizeCtes: String = bpeTrainCtes +
    """,
      |mm AS (SELECT
      |  (SELECT a FROM m1) AS a1, (SELECT b FROM m1) AS b1,
      |  (SELECT a FROM m2) AS a2, (SELECT b FROM m2) AS b2,
      |  (SELECT a FROM m3) AS a3, (SELECT b FROM m3) AS b3),
      |tok AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(string_split(text, ' '), w ->
      |      replace(trim(
      |        replace(replace(replace(regexp_replace(w, '(.)', ' \1 ', 'g'),
      |          ' ' || a1 || '  ' || b1 || ' ', ' ' || a1 || b1 || ' '),
      |          ' ' || a2 || '  ' || b2 || ' ', ' ' || a2 || b2 || ' '),
      |          ' ' || a3 || '  ' || b3 || ' ', ' ' || a3 || b3 || ' ')
      |      ), '  ', ' ')), ' ') AS bpe_text
      |  FROM documents, mm)""".stripMargin

  // Oracle SQL shared by several catalog records: a batch query and its
  // streaming or adaptive executions, which must reproduce it exactly.

  private val zorderRankedOracle =
    s"""WITH rx AS (
      |  SELECT v AS xv, CAST(DENSE_RANK() OVER (ORDER BY v) - 1 AS BIGINT) AS xr
      |  FROM (SELECT DISTINCT l_partkey AS v FROM lineitem)),
      |ry AS (
      |  SELECT v AS yv, CAST(DENSE_RANK() OVER (ORDER BY v) - 1 AS BIGINT) AS yr
      |  FROM (SELECT DISTINCT l_suppkey AS v FROM lineitem)),
      |n AS (
      |  SELECT (SELECT MAX(xr) FROM rx) AS nx, (SELECT MAX(yr) FROM ry) AS ny),
      |t AS (
      |  SELECT l.l_orderkey, l.l_linenumber,
      |    CAST(FLOOR(CAST(rx.xr AS DOUBLE)
      |      * (65535.0 / GREATEST(1, n.nx))) AS BIGINT) AS sx,
      |    CAST(FLOOR(CAST(ry.yr AS DOUBLE)
      |      * (65535.0 / GREATEST(1, n.ny))) AS BIGINT) AS sy
      |  FROM lineitem l
      |  JOIN rx ON l.l_partkey = rx.xv
      |  JOIN ry ON l.l_suppkey = ry.yv
      |  CROSS JOIN n)
      |SELECT l_orderkey, l_linenumber,
      |  ${zorderSql("sx", "sy", 16)} AS zvalue
      |FROM t""".stripMargin

  private val rangeLookupOracle =
    """WITH tiers(lo, hi, tier) AS (VALUES
      |  (0.0, 50.0, 'low'), (50.0, 100.0, 'mid'),
      |  (100.0, 200.0, 'high'), (200.0, 500.0, 'peak'))
      |SELECT e.event_id, e.value, t.tier
      |FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi""".stripMargin

  private val hoppingPivotOracle = hopCte +
    """
      |SELECT user_id, w_start,
      |  STRFTIME(MIN(ts), '%H:%M:%S') AS window_start,
      |  STRFTIME(MAX(ts), '%H:%M:%S') AS window_end,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_views,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_views,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_views,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_views,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_views
      |FROM h GROUP BY user_id, w_start""".stripMargin

  private val asofOracle =
    """WITH r0 AS (
      |  SELECT o_custkey, CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS o_sec,
      |         o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
      |                            ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |r AS (SELECT o_custkey, o_sec, o_orderkey AS last_order_key,
      |             o_totalprice AS last_order_price
      |      FROM r0 WHERE rn = 1),
      |l AS (SELECT event_id, user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec
      |      FROM events)
      |SELECT l.event_id, l.user_id, l.ts_sec, r.last_order_key, r.last_order_price
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.o_custkey AND l.ts_sec >= r.o_sec""".stripMargin

  private val directJoinOracle =
    """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  private val simTopkOracle =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |           FROM embeddings),
      |     s AS (SELECT query_id, neighbor_id,
      |             ROUND(LIST_DOT_PRODUCT(qv, cv)
      |               / (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))), 6) AS cos_sim
      |           FROM q, c WHERE query_id <> neighbor_id),
      |     r AS (SELECT query_id, neighbor_id, cos_sim,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
      |           FROM s)
      |SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5""".stripMargin

  private val tokenBudgetOracle = samplingCumCte +
    "\nSELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 700"

  /** Every named query, declared once. Adding a query means adding one
    * record here. Declared below the shared oracle SQL vals it
    * concatenates: object vals initialize in order, so an earlier
    * declaration would embed nulls.
    */
  val catalog: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", q1PricingSummary, bench = true, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_charge,
        |  ROUND(AVG(l_quantity), 2) AS avg_qty,
        |  ROUND(AVG(l_extendedprice), 2) AS avg_price,
        |  ROUND(AVG(l_discount), 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q3_segment_revenue", q3SegmentRevenue, bench = true, oracle = Some(
      """SELECT l.l_orderkey,
        |  CAST(FLOOR(EPOCH(o.o_orderdate)) AS BIGINT) AS o_epoch,
        |  SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1995-06-30 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate""".stripMargin)),
    QuerySpec("q5_region_revenue", q5RegionRevenue, bench = true, oracle = Some(
      """SELECT n_name,
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin)),
    QuerySpec("q18_large_orders", q18LargeOrders, bench = true, oracle = Some(
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 200)
        |SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
        |       o.o_totalprice, b.total_qty
        |FROM orders o
        |JOIN big b ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin)),
    QuerySpec("q7_volume_shipping", q7VolumeShipping, bench = true, oracle = Some(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
        |  SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
        |GROUP BY 1, 2, 3""".stripMargin)),
    QuerySpec("q_dedup_segments", qDedupSegments, oracle = Some(
      """SELECT doc_id,
        |  COALESCE(array_to_string(list_filter(string_split(text, ' merge '),
        |    (x, i) -> list_position(string_split(text, ' merge '), x) = i), ' merge '), '') AS dedup_text,
        |  CAST(len(list_filter(string_split(text, ' merge '),
        |    (x, i) -> list_position(string_split(text, ' merge '), x) = i)) AS INT) AS n_kept,
        |  CAST(len(string_split(text, ' merge ')) AS INT) AS n_total
        |FROM documents""".stripMargin)),
    QuerySpec("q_oov_rate", qOovRate, bench = true, oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t FROM tok GROUP BY t ORDER BY COUNT(*) DESC, t LIMIT 500)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN t IN (SELECT t FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  ROUND(CAST(SUM(CASE WHEN t IN (SELECT t FROM v) THEN 0 ELSE 1 END) AS DOUBLE)
        |        / COUNT(*), 6) AS oov_ratio
        |FROM tok GROUP BY doc_id""".stripMargin)),
    QuerySpec("q_split_leakage", qSplitLeakage, oracle = Some(ngramExactCte +
      """
        |SELECT d.doc_id, COALESCE(s.survivor, d.doc_id) AS split_key,
        |  CASE WHEN SUBSTR(MD5(CAST(COALESCE(s.survivor, d.doc_id) AS VARCHAR)), 1, 8)
        |            < 'cccccccc' THEN 'train'
        |       WHEN SUBSTR(MD5(CAST(COALESCE(s.survivor, d.doc_id) AS VARCHAR)), 1, 8)
        |            < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents d LEFT JOIN surv s ON d.doc_id = s.doc_id""".stripMargin)),
    QuerySpec("q_auc", qAuc, bench = true, oracle = Some(
      """WITH h AS (
        |  SELECT value AS s,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS nn
        |  FROM events GROUP BY value),
        |c AS (
        |  SELECT np, nn,
        |    COALESCE(SUM(nn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM h)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    ROUND(SUM(np * (2 * below + nn)) / (2.0 * SUM(np) * SUM(nn)), 6)
        |  END AS auc
        |FROM c""".stripMargin)),
    QuerySpec("q_auc_daily", qAucDaily, bench = true, oracle = Some(
      """WITH h AS (
        |  SELECT STRFTIME(ts, '%Y-%m-%d') AS day, value AS s,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS nn
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT day, np, nn,
        |    COALESCE(SUM(nn) OVER (PARTITION BY day ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM h)
        |SELECT day, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    ROUND(SUM(np * (2 * below + nn)) / (2.0 * SUM(np) * SUM(nn)), 6)
        |  END AS auc
        |FROM c GROUP BY day""".stripMargin)),
    QuerySpec("q_theta_overlap_exact", qThetaOverlapExact, oracle = Some(
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY user_id)
        |SELECT
        |  CAST(SUM(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(c) AS BIGINT) AS n_click,
        |  CAST(SUM(p) AS BIGINT) AS n_purchase,
        |  COUNT(*) AS n_union
        |FROM u""".stripMargin)),
    QuerySpec("q_pagerank_exact", qPagerankExact, oracle = Some {
      // the same integer algebra as Graph.pageRankIntScaled, unrolled as
      // a CTE chain: c_i = per-node floor-div contribution sums from
      // r_{i-1}, r_i = base + damped floor-div total. All BIGINT ops.
      val S = 1000000000000L
      val iters = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst AS node, SUM(r${i - 1}.r // deg.d) AS s
           |  FROM e JOIN deg ON e.src = deg.src
           |         JOIN r${i - 1} ON r${i - 1}.node = e.src
           |  GROUP BY e.dst),
           |r$i AS (
           |  SELECT nodes.node,
           |    (15 * $S) // (100 * (SELECT n FROM nn))
           |      + (85 * COALESCE(c$i.s, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (
         |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |         's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (
         |  SELECT DISTINCT src, dst FROM
         |    (SELECT src, dst FROM t UNION ALL SELECT dst, src FROM t)),
         |nodes AS (
         |  SELECT DISTINCT node FROM
         |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT node, $S // (SELECT n FROM nn) AS r FROM nodes),
         |$iters
         |SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
    }),
    QuerySpec("q_multimodal_decode", qMultimodalDecode, oracle = Some(
      """SELECT doc_id AS media_id, 'image' AS modality,
        |  CAST(STRLEN(text) AS INT) AS n_bytes,
        |  3 AS channels, 8 AS n_features
        |FROM documents""".stripMargin)),
    QuerySpec("q_calibration", qCalibration, oracle = Some(
      """WITH s AS (
        |  SELECT LEAST(GREATEST(value / 500.0, 0.0), 1.0) AS v,
        |    event_type = 'purchase' AS pos
        |  FROM events)
        |SELECT LEAST(CAST(FLOOR(v * 10) AS INT), 9) AS bin,
        |  COUNT(*) AS n,
        |  ROUND(SUM(CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT)) / 1000000.0
        |        / COUNT(*), 6) AS mean_score,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  ROUND(SUM(CASE WHEN pos THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS pos_rate
        |FROM s GROUP BY 1""".stripMargin)),
    QuerySpec("q_weighted_sample", qWeightedSample, oracle = Some(
      """SELECT doc_id, n_chars FROM documents
        |WHERE LEAST(n_chars / 3000.0, 1.0) >= 1.0
        |   OR SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      LPAD(LOWER(HEX(CAST(FLOOR(
        |        LEAST(GREATEST(n_chars / 3000.0, 0.0), 1.0) * 4294967296)
        |        AS BIGINT))), 8, '0')""".stripMargin)),
    QuerySpec("q_temporal_split", qTemporalSplit, oracle = Some(
      """SELECT event_id, ts,
        |  CASE WHEN ts < TIMESTAMP '2024-01-25 00:00:00' THEN 'train'
        |       WHEN ts >= TIMESTAMP '2024-01-26 00:00:00' THEN 'test'
        |       ELSE 'embargo' END AS split
        |FROM events""".stripMargin)),
    QuerySpec("q_split_exact", qSplitExact, oracle = Some(
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN rn <= FLOOR(0.8 * n) THEN 'train'
        |       WHEN rn <= FLOOR((0.8 + 0.1) * n) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin)),
    QuerySpec("q_trailing_distinct", qTrailingDistinct, bench = true, oracle = Some(
      """SELECT event_id, user_id, ts,
        |  CAST(COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_distinct_3600s
        |FROM events""".stripMargin)),
    QuerySpec("q_ppl_filter", qPplFilter, bench = true, oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
        |t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
        |             CAST(COUNT(*) AS DOUBLE) AS vocab FROM c),
        |p AS (SELECT token, (cnt + 0.5) / (total + 0.5 * vocab) AS p FROM c, t),
        |lm AS (
        |  SELECT tok.doc_id AS doc_id, ROUND(AVG(-LOG2(p.p)), 6) AS xent
        |  FROM tok JOIN p USING (token) GROUP BY tok.doc_id),
        |s AS (
        |  SELECT lm.doc_id, d.lang, lm.xent
        |  FROM lm JOIN documents d ON lm.doc_id = d.doc_id),
        |b AS (
        |  SELECT lang, ROUND(quantile_cont(xent, 0.05), 6) AS lo,
        |         ROUND(quantile_cont(xent, 0.95), 6) AS hi
        |  FROM s GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.xent
        |FROM s JOIN b USING (lang)
        |WHERE s.xent >= b.lo AND s.xent <= b.hi""".stripMargin)),
    QuerySpec("q_temporal_join", qTemporalJoin, bench = true, oracle = Some(
      """WITH np AS (SELECT * FROM events WHERE event_type <> 'purchase'),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM np),
        |f AS (
        |  SELECT user_id, event_type, ts, event_id FROM chg
        |  WHERE prev IS DISTINCT FROM event_type),
        |dim AS (
        |  SELECT user_id, event_type AS state_type, ts AS valid_from,
        |    lead(ts) OVER w AS valid_to,
        |    CAST(row_number() OVER w AS INT) AS version
        |  FROM f
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT p.event_id, p.user_id, p.ts, d.state_type, d.version
        |FROM events p LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND d.valid_from <= p.ts
        |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |WHERE p.event_type = 'purchase'""".stripMargin)),
    QuerySpec("q_rolling_median", qRollingMedian, bench = true, oracle = Some(
      """SELECT event_id, user_id, ts,
        |  ROUND(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS med10
        |FROM events""".stripMargin)),
    QuerySpec("q_corpus_pipeline", qCorpusPipeline, bench = true, oracle = Some(
      ("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ROUND(
        |        LEAST(LEN(STRING_SPLIT(text, ' ')) / 50.0, 1.0) * 0.5 +
        |        CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) * 1.0 / LEN(STRING_SPLIT(text, ' '))
        |               BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END +
        |        CASE WHEN LENGTH(text) BETWEEN 100 AND 5000 THEN 0.2 ELSE 0.0 END,
        |      4) AS qs
        |    FROM corpus) WHERE qs >= 0.5),
        |kept AS (SELECT c.* FROM corpus c JOIN q USING (doc_id)),
        |surv AS (
        |  SELECT MIN(doc_id) AS doc_id FROM kept
        |  GROUP BY MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')))),
        |dd AS (SELECT k.* FROM kept k JOIN surv USING (doc_id)),
        |toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM dd),
        |sh AS (
        |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(tk) - 2),
        |    i -> ARRAY_TO_STRING(tk[i+1:i+3], ' ')))) AS s
        |  FROM toks WHERE LEN(tk) >= 3),
        |btoks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents
        |  WHERE doc_id % 10 = 0),
        |bench AS (
        |  SELECT DISTINCT UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(tk) - 2),
        |    i -> ARRAY_TO_STRING(tk[i+1:i+3], ' ')))) AS s
        |  FROM btoks WHERE LEN(tk) >= 3),
        |r AS (
        |  SELECT sh.doc_id, ROUND(COUNT(b.s) * 1.0 / COUNT(*), 6) AS ratio
        |  FROM sh LEFT JOIN bench b ON sh.s = b.s GROUP BY sh.doc_id),
        |clean AS (
        |  SELECT dd.* FROM dd
        |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM r WHERE ratio >= 0.2))
        |SELECT doc_id, lang,
        |  CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM clean""").stripMargin)),
    QuerySpec("q_lm_bigram", qLmBigram, oracle = Some(
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 1),
        |    i -> tk[i+1] || ' ' || tk[i+2])) AS g
        |  FROM tok WHERE LEN(tk) >= 2),
        |c AS (SELECT g, COUNT(*) AS cnt FROM bg GROUP BY g),
        |ctx AS (
        |  SELECT STRING_SPLIT(g, ' ')[1] AS w1, SUM(cnt) AS ctx
        |  FROM c GROUP BY 1),
        |v AS (
        |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vocab
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)),
        |p AS (
        |  SELECT c.g,
        |    (c.cnt + 0.5) / (CAST(ctx.ctx AS DOUBLE) + 0.5 * v.vocab) AS p
        |  FROM c JOIN ctx ON STRING_SPLIT(c.g, ' ')[1] = ctx.w1, v)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(-LOG2(p.p)), 6) AS xent2
        |FROM bg JOIN p USING (g) GROUP BY bg.doc_id""".stripMargin)),
    QuerySpec("q_markov_transitions", qMarkovTransitions, bench = true, oracle = Some(
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM pairs
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
        |  ROUND(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin)),
    QuerySpec("q_co_occurrence", qCoOccurrence, oracle = Some(
      """WITH d AS (SELECT DISTINCT user_id AS k, event_type AS v FROM events)
        |SELECT a.v AS item_a, b.v AS item_b, COUNT(*) AS support
        |FROM d a JOIN d b ON a.k = b.k AND a.v < b.v
        |GROUP BY 1, 2 HAVING COUNT(*) >= 10""".stripMargin)),
    QuerySpec("q_sessionize", qSessionize, oracle = Some(
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, ts,
        |  CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
        |    AS session_no
        |FROM g""".stripMargin)),
    QuerySpec("q_span_trim", qSpanTrim, bench = true, oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |occ AS (
        |  SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS p
        |  FROM tok WHERE len(l) >= 8),
        |g AS (
        |  SELECT doc_id, p,
        |    array_to_string(list_slice(l, p, p + 7), ' ') AS gram
        |  FROM occ),
        |r AS (
        |  SELECT doc_id, p,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
        |  FROM g),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS dp
        |  FROM r WHERE rn > 1),
        |d AS (
        |  SELECT doc_id, COUNT(*) AS nd, list(dp ORDER BY dp) AS ds
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(array_to_string(list_filter(t.l,
        |    (x, i) -> NOT list_contains(COALESCE(d.ds, CAST([] AS BIGINT[])), i)),
        |    ' '), '') AS trimmed_text,
        |  CAST(COALESCE(d.nd, 0) AS BIGINT) AS n_dropped
        |FROM tok t LEFT JOIN d ON t.doc_id = d.doc_id""".stripMargin)),
    QuerySpec("q_profile", qProfile, oracle = Some(
      """SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  MIN(CAST(o_orderkey AS DOUBLE)) AS min_val,
        |  MAX(CAST(o_orderkey AS DOUBLE)) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
        |  MIN(CAST(o_custkey AS DOUBLE)), MAX(CAST(o_custkey AS DOUBLE))
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        |  MIN(CAST(o_totalprice AS DOUBLE)), MAX(CAST(o_totalprice AS DOUBLE))
        |FROM orders""".stripMargin)),
    QuerySpec("q_ri_check", qRiCheck, oracle = Some(
      """SELECT 'lineitem_orders' AS constraint_name,
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem_part',
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem_supplier',
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
        |UNION ALL
        |SELECT 'orders_customer',
        |  CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)""".stripMargin)),
    QuerySpec("q_revenue_share", qRevenueShare, oracle = Some(
      """WITH rev AS (
        |  SELECT n_name,
        |    SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, c / 100.0 AS revenue,
        |  ROUND(CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE), 6) AS share
        |FROM rev""".stripMargin)),
    QuerySpec("q_multi_window", qMultiWindow, bench = true, oracle = Some(
      """SELECT event_id, user_id, ts,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_3600s,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_86400s,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_604800s
        |FROM events""".stripMargin)),
    QuerySpec("q_stream_outer_join", qStreamOuterJoin, oracle = Some(
      """WITH wm AS (
        |  SELECT LEAST(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 600 SECOND AS w),
        |p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id AS cu, ts AS cts FROM events
        |      WHERE event_type = 'click')
        |SELECT p.purchase_id, c.click_id
        |FROM p JOIN c ON p.user_id = c.cu
        |  AND c.cts >= p.ts - INTERVAL 600 SECOND AND c.cts <= p.ts
        |UNION ALL
        |SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id
        |FROM p, wm
        |WHERE p.ts < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.cu = p.user_id
        |      AND c.cts >= p.ts - INTERVAL 600 SECOND AND c.cts <= p.ts)""".stripMargin)),
    QuerySpec("q_mad", qMad, bench = true, oracle = Some(
      """WITH m AS (
        |  SELECT l_returnflag AS g, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT m.g, m.med, ABS(l.l_quantity - m.med) AS dev
        |  FROM lineitem l JOIN m ON l.l_returnflag = m.g)
        |SELECT g AS l_returnflag, ROUND(MIN(med), 6) AS median,
        |  ROUND(quantile_cont(dev, 0.5), 6) AS mad
        |FROM d GROUP BY g""".stripMargin)),
    QuerySpec("q10_returned_customers", q10ReturnedCustomers, bench = true, oracle = Some(
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin)),
    QuerySpec("q_window_suite", qWindowSuite, bench = true, oracle = Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS INT) AS seq_no,
        |  lag(o_totalprice, 1) OVER w AS prev_value,
        |  lead(o_totalprice, 1) OVER w AS next_value,
        |  o_totalprice - lag(o_totalprice, 1) OVER w AS delta,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),
    QuerySpec("q_grouping_sets", qGroupingSets, oracle = Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)),
    QuerySpec("q_semi_anti", qSemiAnti, oracle = Some(
      """SELECT c_custkey,
        |  EXISTS(SELECT 1 FROM orders
        |         WHERE o_custkey = c_custkey
        |           AND o_orderpriority = '1-URGENT') AS has_urgent
        |FROM customer""".stripMargin)),
    QuerySpec("q_mode_priority", qModePriority, oracle = Some(
      """WITH cnt AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY n DESC, o_orderpriority) AS rn
        |  FROM cnt)
        |SELECT o_orderstatus, o_orderpriority AS mode_value,
        |       CAST(n AS BIGINT) AS mode_count
        |FROM r WHERE rn = 1""".stripMargin)),
    QuerySpec("q_scd2", qScd2, bench = true, oracle = Some(
      """WITH chg AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_type, ts, event_id FROM chg
        |  WHERE prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  (lead(ts) OVER w IS NULL) AS is_current,
        |  CAST(row_number() OVER w AS INT) AS version
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),
    QuerySpec("q_attribution", qAttribution, oracle = Some(
      """WITH t AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
        |      OVER w AS touch_ts,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts AS conversion_ts,
        |  CASE WHEN touch_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(touch_ts) <= 86400000000
        |       THEN touch_type END AS attributed_type,
        |  CASE WHEN touch_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(touch_ts) <= 86400000000
        |       THEN touch_ts END AS attributed_ts
        |FROM t WHERE event_type = 'purchase'""".stripMargin)),
    QuerySpec("q_histogram", qHistogram, oracle = Some(
      """WITH ext AS (
        |  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |b AS (
        |  SELECT CASE WHEN mx = mn THEN 0
        |    ELSE LEAST(CAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 20.0)) AS INT), 19)
        |    END AS bucket,
        |    o_totalprice, mn, mx
        |  FROM orders, ext WHERE o_totalprice IS NOT NULL)
        |SELECT bucket, COUNT(*) AS n,
        |  MIN(o_totalprice) AS bucket_min, MAX(o_totalprice) AS bucket_max,
        |  MIN(mn + bucket * ((mx - mn) / 20.0)) AS edge_lo,
        |  MIN(mn + (bucket + 1) * ((mx - mn) / 20.0)) AS edge_hi
        |FROM b GROUP BY bucket""".stripMargin)),
    QuerySpec("q_histogram_equidepth", qHistogramEquidepth, bench = true, oracle = Some(
      s"""WITH b AS (
        |  SELECT [${(1 until 20).map(i =>
              s"ROUND(quantile_cont(o_totalprice, ${i / 20.0}), 6)").mkString(", ")}] AS bs
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT CAST(LEN(LIST_FILTER(bs, x -> x < o_totalprice)) AS INT) AS bucket,
        |  COUNT(*) AS n,
        |  MIN(o_totalprice) AS bucket_min, MAX(o_totalprice) AS bucket_max
        |FROM orders, b WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q_segment_filter", qSegmentFilter, oracle = Some(
      """SELECT doc_id,
        |  COALESCE(array_to_string(list_filter(string_split(text, ' merge '),
        |    x -> len(string_split(x, ' ')) >= 3), ' merge '), '') AS clean_text,
        |  CAST(len(list_filter(string_split(text, ' merge '),
        |    x -> len(string_split(x, ' ')) >= 3)) AS INT) AS n_kept,
        |  CAST(len(string_split(text, ' merge ')) AS INT) AS n_total
        |FROM documents""".stripMargin)),
    QuerySpec("q_boilerplate", qBoilerplate, bench = true, oracle = Some(
      """WITH segs AS (
        |  SELECT doc_id, unnest(string_split(text, ' merge ')) AS seg FROM documents),
        |boiler AS (
        |  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2),
        |bl AS (SELECT COALESCE(list(seg), CAST([] AS VARCHAR[])) AS l FROM boiler)
        |SELECT d.doc_id,
        |  COALESCE(array_to_string(list_filter(string_split(d.text, ' merge '),
        |    x -> NOT list_contains(bl.l, x)), ' merge '), '') AS clean_text,
        |  CAST(len(list_filter(string_split(d.text, ' merge '),
        |    x -> NOT list_contains(bl.l, x))) AS BIGINT) AS n_kept
        |FROM documents d, bl""".stripMargin)),
    QuerySpec("q_fuzzy_match", qFuzzyMatch, bench = true, oracle = Some(
      """SELECT a.p_brand AS block,
        |  a.p_partkey AS left_id, a.p_name AS left_name,
        |  b.p_partkey AS right_id, b.p_name AS right_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin)),
    QuerySpec("q_retention_cohort", qRetentionCohort, bench = true, oracle = Some(
      """WITH days AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        |f AS (
        |  SELECT u, d, MIN(d) OVER (PARTITION BY u) AS cohort_day FROM days)
        |SELECT cohort_day,
        |  CAST(DATE_DIFF('day', cohort_day, d) AS INTEGER) AS day_offset,
        |  COUNT(DISTINCT u) AS n_users
        |FROM f GROUP BY cohort_day, day_offset""".stripMargin)),
    QuerySpec("q_incr_agg", qIncrAgg, bench = true, oracle = Some(
      """SELECT o_custkey,
        |  COUNT(*) AS n_orders,
        |  SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_price,
        |  MAX(o_totalprice) AS max_price,
        |  ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
        |        / COUNT(*), 6) AS avg_price
        |FROM orders GROUP BY o_custkey""".stripMargin)),
    QuerySpec("q_incr_cdc", qIncrCdc, bench = true, oracle = Some(
      """SELECT o_custkey,
        |  COUNT(*) AS n_orders,
        |  SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_price,
        |  MAX(o_totalprice) AS max_price,
        |  ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
        |        / COUNT(*), 6) AS avg_price
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0 AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_custkey""".stripMargin)),
    QuerySpec("q_stream_cdc_agg", qStreamCdcAgg, oracle = Some(
      """SELECT o_custkey,
        |  COUNT(*) AS n_orders,
        |  SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_price,
        |  ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
        |        / COUNT(*), 6) AS avg_price
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0 AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_custkey""".stripMargin)),
    QuerySpec("q_zorder", qZorder, bench = true, oracle = Some(
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  ${zorderSql("l_partkey", "l_suppkey", 16)} AS zvalue
        |FROM lineitem""".stripMargin)),
    // the scaled write-path key: FLOOR+CAST mirrors Spark's double→long
    // truncation (inputs non-negative); 65535.0 / GREATEST(1, hi-lo) is
    // the same double constant ZOrder.scaleTo computes, so the bucket
    // indices match bit-for-bit before the interleave
    QuerySpec("q_zorder_scaled", qZorderScaled, oracle = Some(
      s"""WITH s AS (
        |  SELECT MIN(l_partkey) AS xlo, MAX(l_partkey) AS xhi,
        |         MIN(l_suppkey) AS ylo, MAX(l_suppkey) AS yhi
        |  FROM lineitem),
        |t AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(FLOOR((CAST(l_partkey AS DOUBLE) - xlo)
        |      * (65535.0 / GREATEST(1, xhi - xlo))) AS BIGINT) AS sx,
        |    CAST(FLOOR((CAST(l_suppkey AS DOUBLE) - ylo)
        |      * (65535.0 / GREATEST(1, yhi - ylo))) AS BIGINT) AS sy
        |  FROM lineitem, s)
        |SELECT l_orderkey, l_linenumber,
        |  ${zorderSql("sx", "sy", 16)} AS zvalue
        |FROM t""".stripMargin)),
    // rank-preprocessed write-path key: the distributed zipWithIndex
    // rank over the distinct domain ≡ DENSE_RANK()-1; the scaling is
    // q_zorder_scaled's with lo=0, hi=maxRank (contiguous by
    // construction, so GREATEST(1, ·) only guards a 1-value domain)
    QuerySpec("q_zorder_ranked", qZorderRanked, bench = true,
      oracle = Some(zorderRankedOracle)),
    // the versioned-root read path stores zorderWriteRanked's layout,
    // whose z is bit-identical to the ranked construction — roundtrip
    // through publish/resolve/scan must reproduce it exactly
    QuerySpec("q_zorder_versioned", qZorderVersioned, bench = true,
      oracle = Some(zorderRankedOracle),
      provision = Some((s, dir) => { provisionZorderVersioned(s, dir); () })),
    QuerySpec("q_stream_dedup", qStreamDedup, oracle = Some(
      "SELECT DISTINCT user_id, event_type FROM events")),
    QuerySpec("q_funnel", qFunnel, bench = true, oracle = Some(
      """WITH e1 AS (
        |  SELECT user_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |e2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase'
        |      AND EPOCH_US(ts) > EPOCH_US(t1)
        |      AND EPOCH_US(ts) - EPOCH_US(t1) <= 86400000000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2
        |  FROM e1),
        |e3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'error'
        |      AND EPOCH_US(ts) > EPOCH_US(t2)
        |      AND EPOCH_US(ts) - EPOCH_US(t2) <= 86400000000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3
        |  FROM e2)
        |SELECT user_id,
        |  EPOCH_US(MIN(t1)) AS t1_us, EPOCH_US(MIN(t2)) AS t2_us,
        |  EPOCH_US(MIN(t3)) AS t3_us,
        |  CASE WHEN MIN(t3) IS NOT NULL THEN 3
        |       WHEN MIN(t2) IS NOT NULL THEN 2
        |       WHEN MIN(t1) IS NOT NULL THEN 1 ELSE 0 END AS stage_reached
        |FROM e3 GROUP BY user_id""".stripMargin)),
    QuerySpec("q_resample", qResample, bench = true, oracle = Some(
      """WITH b AS (
        |  SELECT user_id, (EPOCH_US(ts) // 1000000) // 3600 AS bucket,
        |    MAX(value) AS v_obs
        |  FROM events GROUP BY user_id, bucket),
        |r AS (SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
        |      FROM b GROUP BY user_id),
        |g AS (SELECT user_id, UNNEST(RANGE(mn, mx + 1)) AS bucket FROM r)
        |SELECT g.user_id, g.bucket,
        |  LAST_VALUE(b.v_obs IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket""".stripMargin)),
    QuerySpec("q_unpivot", qUnpivot, oracle = Some(
      "SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY user_id, event_type")),
    QuerySpec("q_range_lookup", qRangeLookup, oracle = Some(rangeLookupOracle)),
    QuerySpec("q_range_lookup_auto", qRangeLookupAuto, oracle = Some(rangeLookupOracle)),
    QuerySpec("q_cube", qCube, oracle = Some(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),
    QuerySpec("q_full_outer", qFullOuter, oracle = Some(
      """WITH e AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
        |o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(e.user_id, o.o_custkey) AS id,
        |  COALESCE(e.n_events, 0) AS n_events,
        |  COALESCE(o.n_orders, 0) AS n_orders
        |FROM e FULL JOIN o ON e.user_id = o.o_custkey""".stripMargin)),
    QuerySpec("q_pseudonymize", qPseudonymize, oracle = Some(
      """SELECT event_id,
        |  SHA256('pepper' || CAST(user_id AS VARCHAR)) AS user_id_pseudo
        |FROM events""".stripMargin)),
    // centroid components ROUNDED before the dot (AVG summation order
    // differs across engines); the dot itself is the left-to-right array
    // fold both engines evaluate bit-identically
    QuerySpec("q_embed_centroid", qEmbedCentroid, oracle = Some(
      """WITH e AS (
        |  SELECT d.source, m.vec_id, CAST(m.embedding AS DOUBLE[]) AS v
        |  FROM embeddings m JOIN documents d ON m.vec_id = d.doc_id),
        |x AS (SELECT source, vec_id, UNNEST(RANGE(LEN(v))) AS dim, v FROM e),
        |comp AS (
        |  SELECT source, dim,
        |    ROUND(AVG(v[CAST(dim AS INTEGER) + 1]), 6) AS c
        |  FROM x GROUP BY source, dim),
        |cent AS (SELECT source, LIST(c ORDER BY dim) AS cv FROM comp GROUP BY source)
        |SELECT e.vec_id, e.source,
        |  ROUND(LIST_DOT_PRODUCT(e.v, c.cv)
        |    / (SQRT(LIST_DOT_PRODUCT(e.v, e.v)) * SQRT(LIST_DOT_PRODUCT(c.cv, c.cv))), 6)
        |    AS cos_to_centroid
        |FROM e JOIN cent c USING (source)""".stripMargin)),
    QuerySpec("q_rekey", qRekey, oracle = Some(
      "SELECT event_id, ts, user_id, event_type, value, props FROM events")),
    QuerySpec("q_latest_by_key", qLatestByKey, bench = true, oracle = Some(latestByKeyOracle)),
    // identical oracle: the incremental TABLE's compacted state must be
    // exactly the batch latest-per-key answer
    QuerySpec("q_stream_latest", qStreamLatest, oracle = Some(latestByKeyOracle)),
    QuerySpec("q_case_indicator", qCaseIndicator, oracle = Some(
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
        |  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
        |  CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_signup,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error
        |FROM events""".stripMargin)),
    QuerySpec("q_timestamp_fmt", qTimestampFmt, oracle = Some(
      "SELECT event_id, STRFTIME(ts, '%H:%M:%S') AS ts_hms FROM events")),
    QuerySpec("q_as_array", qAsArray, oracle = Some(
      """SELECT c_custkey,
        |  CAST(TO_JSON([c_name, c_mktsegment]) AS VARCHAR) AS dims_str,
        |  CAST(TO_JSON([c_custkey, CAST(c_nationkey AS BIGINT)]) AS VARCHAR) AS dims_int
        |FROM customer""".stripMargin)),
    QuerySpec("q_cdc_unwrap", qCdcUnwrap, oracle = Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin)),
    QuerySpec("q_dim_changes", qDimChanges, bench = true, oracle = Some(
      """WITH base AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal FROM customer),
        |bef AS (SELECT * FROM base WHERE c_custkey % 7 <> 0),
        |aft AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment,
        |    c_acctbal
        |  FROM base WHERE c_custkey % 97 <> 0)
        |SELECT
        |  CASE WHEN a.c_custkey IS NULL THEN 'd'
        |       WHEN b.c_custkey IS NULL THEN 'c' ELSE 'u' END AS op,
        |  COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
        |  CASE WHEN a.c_custkey IS NULL THEN b.c_nationkey ELSE a.c_nationkey END AS c_nationkey,
        |  CASE WHEN a.c_custkey IS NULL THEN b.c_mktsegment ELSE a.c_mktsegment END AS c_mktsegment,
        |  CASE WHEN a.c_custkey IS NULL THEN b.c_acctbal ELSE a.c_acctbal END AS c_acctbal
        |FROM bef b FULL JOIN aft a ON b.c_custkey = a.c_custkey
        |WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
        |   OR a.c_nationkey IS DISTINCT FROM b.c_nationkey
        |   OR a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
        |   OR a.c_acctbal IS DISTINCT FROM b.c_acctbal""".stripMargin)),
    // the engine reproduces v2 as cdcApply(v1, tableDiff(v1, v2)); the
    // oracle derives v2 DIRECTLY — hash equality proves the closed loop
    QuerySpec("q_cdc_apply", qCdcApply, oracle = Some(
      """SELECT c_custkey, c_nationkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment,
        |  c_acctbal
        |FROM customer WHERE c_custkey % 97 <> 0""".stripMargin)),
    // both engines serialize the Debezium JSON envelope AND parse it back
    // — the decode path is exercised on each side, not cancelled out
    QuerySpec("q_cdc_unwrap_json", qCdcUnwrapJson, oracle = Some(
      """WITH env AS (
        |  SELECT CAST(TO_JSON(STRUCT_PACK(
        |    before := CAST(NULL AS VARCHAR),
        |    after := STRUCT_PACK(
        |      o_orderkey := o_orderkey, o_custkey := o_custkey,
        |      o_orderstatus := o_orderstatus, o_totalprice := o_totalprice,
        |      o_orderdate := o_orderdate, o_orderpriority := o_orderpriority),
        |    op := CASE WHEN o_orderstatus = 'F' THEN 'd' ELSE 'c' END,
        |    ts_ms := CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) * 1000)) AS VARCHAR) AS value
        |  FROM orders)
        |SELECT
        |  CAST(json_extract_string(value, '$.after.o_orderkey') AS BIGINT) AS o_orderkey,
        |  CAST(json_extract_string(value, '$.after.o_custkey') AS BIGINT) AS o_custkey,
        |  json_extract_string(value, '$.after.o_orderstatus') AS o_orderstatus,
        |  CAST(json_extract_string(value, '$.after.o_totalprice') AS DOUBLE) AS o_totalprice,
        |  CAST(json_extract_string(value, '$.after.o_orderdate') AS TIMESTAMP) AS o_orderdate,
        |  json_extract_string(value, '$.after.o_orderpriority') AS o_orderpriority
        |FROM env
        |WHERE json_extract_string(value, '$.op') <> 'd'""".stripMargin)),
    QuerySpec("q_json_props", qJsonProps, oracle = Some(
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
        |FROM events""".stripMargin)),
    QuerySpec("q_distinct_users", qDistinctUsers, oracle = Some(
      "SELECT DISTINCT user_id FROM events")),
    QuerySpec("q_hopping_pivot", qHoppingPivot, bench = true,
      oracle = Some(hoppingPivotOracle)),
    QuerySpec("q_rolling_600s", qRolling600s, bench = true, oracle = Some(
      """SELECT event_id, user_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS clicks_last_600s,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS views_last_600s,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS purchases_last_600s,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS signups_last_600s,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS errors_last_600s
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
        |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)""".stripMargin)),
    QuerySpec("q_topk_orders_per_cust", qTopkOrdersPerCust, bench = true, oracle = Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rn AS INTEGER) AS rank_in_group
        |FROM (SELECT o.*, ROW_NUMBER() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders o) t
        |WHERE rn <= 3""".stripMargin)),
    QuerySpec("q_left_enrich", qLeftEnrich, bench = true, oracle = Some(
      """SELECT a.user_id, a.n_events, a.total_value,
        |  c.c_name, c.c_mktsegment, c.c_acctbal
        |FROM (SELECT user_id, COUNT(*) AS n_events,
        |        ROUND(SUM(value), 2) AS total_value
        |      FROM events GROUP BY user_id) a
        |LEFT JOIN customer c ON a.user_id = c.c_custkey""".stripMargin)),
    QuerySpec("q_inner_enrich", qInnerEnrich, bench = true, oracle = Some(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 2) AS segment_value
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),
    QuerySpec("q_dedup_exact", qDedupExact, bench = true, oracle = Some(
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')))""".stripMargin)),
    QuerySpec("q_text_stats", qTextStats, bench = true, oracle = Some(
      ("""SELECT doc_id,
        |  CAST(LENGTH(text) AS INTEGER) AS n_chars_calc,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_words,
        |  ROUND(LENGTH(text) * 1.0 / LEN(STRING_SPLIT(text, ' ')), 4) AS avg_token_span,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) AS INTEGER) AS n_stopwords,
        |  ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) * 1.0 / LEN(STRING_SPLIT(text, ' ')), 4) AS stopword_ratio
        |FROM documents""").stripMargin)),
    QuerySpec("q_token_count", qTokenCount, bench = true, oracle = Some(
      """SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[A-Z]+|[0-9]+')) AS INTEGER) AS bpe_ish_tokens
        |FROM documents""".stripMargin)),
    QuerySpec("q_fingerprint", qFingerprint, oracle = Some(
      """SELECT doc_id,
        |  MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin)),
    QuerySpec("q_lang_id", qLangId, oracle = Some(
      ("""SELECT doc_id,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) AS INTEGER) AS en_hits,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.DeSql + """)) AS INTEGER) AS de_hits,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.FrSql + """)) AS INTEGER) AS fr_hits,
        |  CASE
        |    WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) >= LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.DeSql + """)) AND LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) >= LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.FrSql + """)) THEN 'en'
        |    WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.DeSql + """)) >= LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.FrSql + """)) THEN 'de'
        |    ELSE 'fr'
        |  END AS lang_pred
        |FROM documents""").stripMargin)),
    QuerySpec("q_lang_id_ngram", qLangIdNgram, oracle = Some {
      val en = ngramScoreSql(graft.llm.TextOps.EnTrigrams)
      val de = ngramScoreSql(graft.llm.TextOps.DeTrigrams)
      val fr = ngramScoreSql(graft.llm.TextOps.FrTrigrams)
      s"""SELECT doc_id,
         |  CAST($en AS BIGINT) AS en_score,
         |  CAST($de AS BIGINT) AS de_score,
         |  CAST($fr AS BIGINT) AS fr_score,
         |  CASE WHEN $en >= $de AND $en >= $fr THEN 'en'
         |       WHEN $de >= $fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM documents""".stripMargin
    }),
    QuerySpec("q_stream_flagship_rel", qStreamFlagshipRel, oracle = Some(hopCte +
      """,
        |pv AS (
        |  SELECT user_id, w_start,
        |    STRFTIME(MIN(ts), '%H:%M:%S') AS window_start,
        |    STRFTIME(MAX(ts), '%H:%M:%S') AS window_end,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_views,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_views,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_views,
        |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_views,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_views
        |  FROM h GROUP BY user_id, w_start),
        |nb AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
        |dims AS (SELECT c_custkey, n_name AS country, c_mktsegment AS platform
        |         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey)
        |SELECT p.user_id, p.w_start, p.window_start, p.window_end,
        |  p.click_views, p.view_views, p.purchase_views, p.signup_views,
        |  p.error_views,
        |  COALESCE(d.country, 'UNKNOWN') AS country,
        |  COALESCE(d.platform, 'UNKNOWN') AS platform,
        |  CAST(COALESCE(nb.n_orders, 0) AS INTEGER) AS nb_orders
        |FROM pv p
        |LEFT JOIN dims d ON p.user_id = d.c_custkey
        |LEFT JOIN nb ON p.user_id = nb.o_custkey""".stripMargin)),
    QuerySpec("q_ml_features", qMlFeatures, oracle = Some(hopCte +
      """,
        |per_window AS (
        |  SELECT user_id, w_start,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS product_views,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INTEGER) AS listing_views,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INTEGER) AS gallery_views
        |  FROM h GROUP BY user_id, w_start),
        |nb AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
        |dims AS (SELECT c_custkey, n_name AS country, c_mktsegment AS platform
        |         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey)
        |SELECT p.user_id, p.w_start,
        |  COALESCE(d.country, 'UNKNOWN') AS country,
        |  COALESCE(d.platform, 'UNKNOWN') AS platform,
        |  p.product_views, p.listing_views, p.gallery_views,
        |  CAST(COALESCE(nb.n_orders, 0) AS INTEGER) AS nb_orders,
        |  CASE WHEN p.gallery_views > p.product_views THEN 'bot' ELSE 'user' END AS label
        |FROM per_window p
        |LEFT JOIN dims d ON p.user_id = d.c_custkey
        |LEFT JOIN nb ON p.user_id = nb.o_custkey""".stripMargin)),
    QuerySpec("q_tumbling_agg", qTumblingAgg, bench = true, oracle = Some(tumblingOracle)),
    QuerySpec("q_session_window", qSessionWindow, bench = true, oracle = Some(sessionOracle)),
    QuerySpec("q_stream_tumbling", qStreamTumbling, oracle = Some(tumblingOracle)),
    QuerySpec("q_stream_session", qStreamSession, oracle = Some(sessionOracle)),
    QuerySpec("q_stream_session_auto", qStreamSessionAuto, oracle = Some(sessionOracle)),
    QuerySpec("q_asof_join", qAsofJoin, bench = true, oracle = Some(asofOracle)),
    QuerySpec("q_asof_broadcast", qAsofBroadcast, bench = true, oracle = Some(asofOracle)),
    // identical oracle as q_asof_join: the adaptive pick must be
    // invisible to results regardless of which plan it lands on
    QuerySpec("q_asof_auto", qAsofAuto, bench = true, oracle = Some(asofOracle)),
    QuerySpec("q_interval_join", qIntervalJoin, oracle = Some(
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS p_sec
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS c_sec
        |           FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, p.p_sec,
        |  COUNT(c.c_sec) AS clicks_before
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        | AND c.c_sec >= p.p_sec - 600 AND c.c_sec <= p.p_sec
        |GROUP BY p.purchase_id, p.user_id, p.p_sec""".stripMargin)),
    QuerySpec("q_set_ops", qSetOps, oracle = Some(
      """SELECT user_id, 'both' AS op FROM
        |  (SELECT user_id FROM events INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT user_id, 'events_only' AS op FROM
        |  (SELECT user_id FROM events EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT o_custkey AS user_id, 'orders_only' AS op FROM
        |  (SELECT o_custkey FROM orders EXCEPT SELECT user_id FROM events)""".stripMargin)),
    QuerySpec("q_distinct_counts", qDistinctCounts, bench = true, oracle = Some(
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin)),
    QuerySpec("q_rollup", qRollup, bench = true, oracle = Some(
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)),
    QuerySpec("q_salted_agg", qSaltedAgg, bench = true, oracle = Some(
      """SELECT user_id,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
        |  COUNT(*) AS n_rows
        |FROM events GROUP BY user_id""".stripMargin)),
    // oracle = the DIRECT join: the salt+replicate rewrite must be exact
    QuerySpec("q_salted_join", qSaltedJoin, oracle = Some(directJoinOracle)),
    // identical oracle: the adaptive pick must be invisible to results
    QuerySpec("q_skew_join_auto", qSkewJoinAuto, bench = true, oracle = Some(directJoinOracle)),
    // stream-stream join: the incremental two-sided join must emit
    // exactly the batch join's pairs
    QuerySpec("q_stream_interval_join", qStreamIntervalJoin, oracle = Some(
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 600 SECOND AND c.ts <= p.ts""".stripMargin)),
    // identical oracle as q_hopping_pivot: the compacted changelog-sink
    // state must be exactly the batch answer (sink semantics included)
    QuerySpec("q_stream_changelog_pivot", qStreamChangelogPivot,
      oracle = Some(hoppingPivotOracle)),
    // identical oracle as q_hopping_pivot: incremental execution must
    // produce exactly the batch answer
    QuerySpec("q_stream_hopping_pivot", qStreamHoppingPivot, oracle = Some(hoppingPivotOracle)),
    QuerySpec("q_stream_auto_state", qStreamAutoState, oracle = Some(hoppingPivotOracle)),
    // per-row RANGE(LEN(v)) + NOT NULL guard mirror Spark's posexplode
    // exactly (posexplode emits len(vec) rows and drops NULL arrays) —
    // a hardcoded RANGE(64) would desync on NULL or non-64-dim vectors
    QuerySpec("q_embed_normalize", qEmbedNormalize, oracle = Some(
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |x AS (
        |  SELECT vec_id, v, nrm, UNNEST(RANGE(LEN(v))) AS i FROM n)
        |SELECT vec_id, CAST(i AS INTEGER) AS dim,
        |  ROUND(CASE WHEN nrm = 0 THEN 0.0
        |             ELSE v[CAST(i AS INTEGER) + 1] / nrm END, 6) AS val
        |FROM x""".stripMargin)),
    QuerySpec("q_embed_dim_stats", qEmbedDimStats, oracle = Some(
      """SELECT i.i AS dim,
        |  ROUND(AVG(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE)), 4) AS mean,
        |  ROUND(STDDEV_SAMP(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE)), 4) AS std,
        |  ROUND(MIN(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE)), 4) AS min_v,
        |  ROUND(MAX(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE)), 4) AS max_v
        |FROM embeddings, (SELECT UNNEST(RANGE(64)) AS i) i
        |GROUP BY i.i""".stripMargin)),
    QuerySpec("q_quality_filter", qQualityFilter, oracle = Some(
      ("""WITH s AS (
        |  SELECT doc_id,
        |    ROUND(
        |      LEAST(LEN(STRING_SPLIT(text, ' ')) / 50.0, 1.0) * 0.5 +
        |      CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN """ +
        graft.llm.Stopwords.EnSql + """)) * 1.0 / LEN(STRING_SPLIT(text, ' '))
        |             BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END +
        |      CASE WHEN LENGTH(text) BETWEEN 100 AND 5000 THEN 0.2 ELSE 0.0 END,
        |    4) AS quality_score
        |  FROM documents)
        |SELECT doc_id, quality_score, quality_score >= 0.5 AS keep FROM s""").stripMargin)),
    QuerySpec("q_pii_scrub", qPiiScrub, oracle = Some(
      (s"""SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '${graft.llm.TextOps.EmailRe}')) AS INTEGER) AS n_emails,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '${graft.llm.TextOps.Ipv4Re}')) AS INTEGER) AS n_ips,
        |  REGEXP_REPLACE(REGEXP_REPLACE(text, '${graft.llm.TextOps.EmailRe}', '<EMAIL>', 'g'),
        |                 '${graft.llm.TextOps.Ipv4Re}', '<IP>', 'g') AS scrubbed
        |FROM documents""").stripMargin)),
    QuerySpec("q_repetition_stats", qRepetitionStats, oracle = Some(
      """WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, COUNT(*) AS n FROM t GROUP BY doc_id, tok),
        |a AS (SELECT doc_id, MAX(n) AS mx, SUM(n) AS tot, COUNT(*) AS dist
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |  ROUND(dist * 1.0 / tot, 6) AS type_token_ratio,
        |  ROUND(mx * 1.0 / tot, 6) AS top_token_ratio
        |FROM a""".stripMargin)),
    QuerySpec("q_char_entropy", qCharEntropy, oracle = Some(
      """WITH bg AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(LEN(text) - 1),
        |    i -> text[i+1:i+2])) AS bg
        |  FROM documents WHERE LEN(text) >= 2),
        |c AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 6) AS entropy
        |FROM c GROUP BY doc_id""".stripMargin)),
    QuerySpec("q_contamination", qContamination, oracle = Some(contaminationOracle)),
    // streaming ≡ batch: the incremental execution shares the oracle
    QuerySpec("q_stream_contamination", qStreamContamination,
      oracle = Some(contaminationOracle)),
    QuerySpec("q_tfidf_keywords", qTfidfKeywords, oracle = Some(
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    ROUND(tf.tf * LN(n.n * 1.0 / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3""".stripMargin)),
    QuerySpec("q_vocab_coverage", qVocabCoverage, bench = true, oracle = Some(
      """WITH c AS (
        |  SELECT term, COUNT(*) AS cnt FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS total FROM c),
        |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20),
        |r AS (SELECT term, CAST(cnt AS BIGINT) AS cnt,
        |        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INTEGER) AS rank,
        |        SUM(cnt) OVER (ORDER BY cnt DESC, term
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM top)
        |SELECT rank, term, cnt,
        |  ROUND(cum / (SELECT total FROM t), 6) AS coverage
        |FROM r""".stripMargin)),
    QuerySpec("q_phrase_search", qPhraseSearch, bench = true, oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |m AS (
        |  SELECT doc_id, i FROM t, UNNEST(range(1, len(tk))) AS g(i)
        |  WHERE tk[i] = 'table' AND tk[i+1] = 'hash')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(i) - 1 AS INT) AS first_pos
        |FROM m GROUP BY 1""".stripMargin)),
    QuerySpec("q4_priority_exists", q4PriorityExists, bench = true, oracle = Some(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q6_forecast_revenue", q6ForecastRevenue, bench = true, oracle = Some(
      """SELECT SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5)
        |  AS BIGINT)) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)),
    QuerySpec("q14_promo_revenue", q14PromoRevenue, bench = true, oracle = Some(
      """SELECT ROUND(
        |  SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |      AS BIGINT) ELSE 0 END) * 100.0 /
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |    AS BIGINT)), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)),
    QuerySpec("q8_market_share", q8MarketShare, bench = true, oracle = Some(
      """WITH v AS (
        |  SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, n2.n_name AS supp_nation,
        |    CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |      AS BIGINT) AS disc4
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_year,
        |  ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN disc4 ELSE 0 END)
        |    * 100.0 / SUM(disc4), 6) AS mkt_share_pct
        |FROM v GROUP BY 1""".stripMargin)),
    QuerySpec("q13_count_distribution", q13CountDistribution, bench = true, oracle = Some(
      """WITH c AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT CAST(c_count AS BIGINT) AS c_count,
        |  CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM c GROUP BY 1""".stripMargin)),
    QuerySpec("q15_top_supplier", q15TopSupplier, bench = true, oracle = Some(
      """WITH rev AS (
        |  SELECT l_suppkey, SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |    * 100 + 0.5) AS BIGINT)) AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)""".stripMargin)),
    QuerySpec("q17_small_qty_revenue", q17SmallQtyRevenue, bench = true, oracle = Some(
      """WITH l AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part
        |    ON l_partkey = p_partkey AND p_brand = 'Brand#23'),
        |a AS (SELECT l_partkey, AVG(l_quantity) AS avg_qty FROM l GROUP BY 1)
        |SELECT SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 700.0
        |  AS avg_yearly
        |FROM l JOIN a USING (l_partkey)
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin)),
    QuerySpec("q19_disjunctive", q19Disjunctive, bench = true, oracle = Some(
      """SELECT SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |  AS BIGINT)) / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 30
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    QuerySpec("q21_blame_supplier", q21BlameSupplier, bench = true, oracle = Some(
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q22_idle_customers", q22IdleCustomers, bench = true, oracle = Some(
      """WITH scope AS (
        |  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)),
        |s AS (
        |  SELECT SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS sum_cents,
        |    COUNT(*) AS n
        |  FROM scope WHERE c_acctbal > 0)
        |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0
        |    AS totacctbal
        |FROM scope, s
        |WHERE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) * n > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin)),
    QuerySpec("q2_min_cost_supplier", q2MinCostSupplier, bench = true, oracle = Some(
      """WITH eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |keys AS (
        |  SELECT p_partkey FROM part WHERE p_size = 15 AND p_type = 'SMALL'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cost_cents
        |  FROM lineitem
        |  JOIN keys ON l_partkey = p_partkey
        |  JOIN eur ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |mn AS (SELECT l_partkey, MIN(cost_cents) AS m FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
        |  cost_cents / 100.0 AS cost
        |FROM cost JOIN mn USING (l_partkey)
        |JOIN eur ON l_suppkey = s_suppkey
        |WHERE cost_cents = m""".stripMargin)),
    QuerySpec("q9_nation_profit", q9NationProfit, bench = true, oracle = Some(
      """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |      AS BIGINT)
        |    - CAST(l_quantity AS BIGINT)
        |      * CAST(FLOOR(p_retailprice * 10000 + 0.5) AS BIGINT)) / 10000.0
        |    AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q11_important_parts", q11ImportantParts, bench = true, oracle = Some(
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS vc
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |  GROUP BY 1),
        |t AS (SELECT SUM(vc) AS tot FROM v)
        |SELECT l_partkey AS p_partkey, vc / 100.0 AS value
        |FROM v, t WHERE vc * 1000 > tot""".stripMargin)),
    QuerySpec("q12_late_priority", q12LatePriority, bench = true, oracle = Some(
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q16_supplier_count", q16SupplierCount, bench = true, oracle = Some(
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin)),
    QuerySpec("q20_dominant_supplier", q20DominantSupplier, bench = true, oracle = Some(
      """WITH sh AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS q
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, SUM(q) AS tq FROM sh GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM sh JOIN tot USING (l_partkey)
        |  WHERE q * 2 > tq)""".stripMargin)),
    QuerySpec("q_dup_profile", qDupProfile, oracle = Some(
      """WITH f AS (
        |  SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')))
        |    AS fp FROM documents),
        |c AS (SELECT fp, COUNT(*) AS sz FROM f GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs
        |FROM c GROUP BY sz""".stripMargin)),
    QuerySpec("q_quantile_drift", qQuantileDrift, oracle = Some(
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
        |    ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |    ROUND(quantile_cont(value, 0.9), 6) AS p90
        |  FROM events GROUP BY 1)
        |SELECT day, CAST(n_events AS BIGINT) AS n_events, p50, p90,
        |  ROUND(p50 - LAG(p50, 1) OVER (ORDER BY day), 6) AS d_p50,
        |  ROUND(p90 - LAG(p90, 1) OVER (ORDER BY day), 6) AS d_p90
        |FROM d""".stripMargin)),
    QuerySpec("q_source_overlap", qSourceOverlap, bench = true, oracle = Some(
      """WITH toks AS (SELECT source, STRING_SPLIT(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT grp, s FROM (
        |    SELECT source AS grp,
        |      UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 2),
        |        i -> ARRAY_TO_STRING(tk[i+1:i+3], ' '))) AS s
        |    FROM toks WHERE LEN(tk) >= 3))
        |SELECT x.grp AS src_a, y.grp AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM sh x JOIN sh y ON x.s = y.s AND x.grp < y.grp
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_corpus_report", qCorpusReport, oracle = Some(
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT MD5(TRIM(REGEXP_REPLACE(LOWER(text),
        |    '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS n_uniq,
        |  ROUND(1.0 - COUNT(DISTINCT MD5(TRIM(REGEXP_REPLACE(LOWER(text),
        |    '[^a-z0-9]+', ' ', 'g')))) / COUNT(*), 6) AS dup_rate,
        |  ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / COUNT(*), 6)
        |    AS en_share,
        |  ROUND(SUM(n_chars) / COUNT(*), 6) AS avg_chars
        |FROM documents GROUP BY 1""".stripMargin)),
    // fixed-centroid clustering twin: same d2 algebra and op order as
    // assignToCentroids ((vv - 2·v·c) + cc, ROUND before argmin, ties
    // to the lower cell), same stats as clusterStats
    QuerySpec("q_corpus_clusters_fixed", qCorpusClustersFixed, oracle = Some(
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv,
        |             LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
        |               CAST(embedding AS DOUBLE[])) AS cc
        |           FROM embeddings WHERE vec_id < 8),
        |  e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |          LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
        |            CAST(embedding AS DOUBLE[])) AS vv
        |        FROM embeddings),
        |  d AS (SELECT e.vec_id, c.cell,
        |          ROUND(e.vv - 2.0 * LIST_DOT_PRODUCT(e.v, c.cv) + c.cc, 6) AS d2
        |        FROM e, c),
        |  a AS (SELECT vec_id, cell,
        |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |        FROM d),
        |  j AS (SELECT a.cell AS cluster, doc.text, doc.source
        |        FROM a JOIN documents doc ON a.vec_id = doc.doc_id
        |        WHERE a.rn = 1),
        |  s AS (SELECT cluster,
        |          CAST(COUNT(*) AS BIGINT) AS n_docs,
        |          CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |        FROM j GROUP BY cluster)
        |SELECT cluster, n_docs, n_tokens,
        |  ROUND(n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS token_share,
        |  n_sources
        |FROM s""".stripMargin)),
    QuerySpec("q_ewma", qEwma, bench = true, oracle = Some(
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    CAST(ROUND(value * 1e6) AS BIGINT) AS xm, epoch_us(ts) AS tu
        |  FROM events),
        |l AS (
        |  SELECT event_id, user_id, value,
        |    list_reverse(list(xm) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) AS lst
        |  FROM e),
        |w AS (SELECT [10000000, 7000000, 4900000, 3430000, 2401000,
        |              1680700, 1176490, 823543] AS wts)
        |SELECT event_id, user_id, value,
        |  ROUND(CAST(list_sum(list_transform(lst, (x, i) -> x * wts[i]))
        |      AS DOUBLE)
        |    / list_sum(wts[1:len(lst)]) / 1e6, 6) AS ewma
        |FROM l, w""".stripMargin)),
    QuerySpec("q_domain_keyness", qDomainKeyness, bench = true, oracle = Some(
      """WITH c AS (
        |  SELECT grp, term, COUNT(*) AS c_in FROM (
        |    SELECT lang AS grp, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |tt AS (SELECT term, SUM(c_in) AS c_all FROM c GROUP BY 1),
        |gt AS (SELECT grp, SUM(c_in) AS tot_in FROM c GROUP BY 1),
        |g AS (SELECT SUM(tot_in) AS t FROM gt),
        |s AS (
        |  SELECT c.grp, c.term, c.c_in,
        |    ROUND(
        |      LN((c.c_in + 1.0) / (gt.tot_in - c.c_in + 1.0)) -
        |      LN((tt.c_all - c.c_in + 1.0) /
        |         ((SELECT t FROM g) - gt.tot_in - tt.c_all + c.c_in + 1.0)),
        |      6) AS score
        |  FROM c JOIN tt USING (term) JOIN gt USING (grp)),
        |r AS (SELECT grp, term, CAST(c_in AS BIGINT) AS c_in, score,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY grp
        |          ORDER BY score DESC, term) AS INTEGER) AS rank
        |      FROM s)
        |SELECT grp AS lang, term, c_in, score, rank FROM r
        |WHERE rank <= 5""".stripMargin)),
    QuerySpec("q_dsir_weights", qDsirWeights, bench = true, oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, (lang = 'en') AS is_tgt,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT token, COUNT(*) AS c_all,
        |        SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
        |      FROM tok GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_all) AS DOUBLE) AS t_all,
        |        CAST(SUM(c_tgt) AS DOUBLE) AS t_tgt,
        |        CAST(COUNT(*) AS DOUBLE) AS vocab FROM c),
        |r AS (SELECT token,
        |        CAST(ROUND((
        |          LN((c_tgt + 0.5) / (t_tgt + 0.5 * vocab)) -
        |          LN((c_all + 0.5) / (t_all + 0.5 * vocab))) * 1e6) AS BIGINT)
        |          AS rm
        |      FROM c, t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(SUM(rm) / 1e6, 6) AS logratio
        |FROM tok JOIN r USING (token)
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q_bpe_merges", qBpeMerges, oracle = Some(
      (bpeTrainCtes +
        """
          |SELECT * FROM (
          |  SELECT 1 AS rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS freq FROM m1
          |  UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM m2
          |  UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM m3)
          |ORDER BY rank""".stripMargin))),
    QuerySpec("q_bpe_tokenize", qBpeTokenize, bench = true, oracle = Some(
      (bpeTokenizeCtes +
        """
          |SELECT doc_id, bpe_text,
          |  CAST(len(list_filter(string_split(bpe_text, ' '), t -> t != '')) AS INT)
          |    AS n_subtokens
          |FROM tok""".stripMargin))),
    QuerySpec("q_bpe_vocab", qBpeVocab, oracle = Some(
      (bpeTokenizeCtes +
        """
          |SELECT subword, CAST(COUNT(*) AS BIGINT) AS cnt,
          |  (LEN(subword) > 1) AS is_merged
          |FROM (SELECT UNNEST(list_filter(string_split(bpe_text, ' '),
          |        t -> t != '')) AS subword FROM tok)
          |GROUP BY 1""".stripMargin))),
    QuerySpec("q_inverted_index", qInvertedIndex, bench = true, oracle = Some(
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |kept AS (SELECT tf.term, tf.doc_id, tf.tf, df.df
        |         FROM tf JOIN df USING (term) WHERE df.df <= 3000),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
        |    ORDER BY tf DESC, doc_id) AS rk FROM kept)
        |SELECT term, df,
        |  STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY rk) AS postings
        |FROM ranked WHERE rk <= 10 GROUP BY term, df""".stripMargin)),
    // BM25: per-term scores quantized to integer micros BEFORE the
    // per-doc sum (integer sums commute; double sums don't), one
    // rounded division at the end — mirrors Retrieval.bm25 exactly
    QuerySpec("q_bm25", qBm25, bench = true, oracle = Some(
      """WITH terms AS (
        |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl,
        |         UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |st AS (SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        |       FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl
        |             FROM documents)),
        |hits AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
        |         FROM terms WHERE term IN ('dup', 'window', 'merge')
        |         GROUP BY 1, 2),
        |dfs AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY 1),
        |sc AS (SELECT h.doc_id,
        |  CAST(ROUND(LN((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |    * (h.tf * 2.2)
        |    / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / st.avgdl)) * 1e6) AS BIGINT)
        |    AS sm
        |  FROM hits h JOIN dfs d USING (term) CROSS JOIN st)
        |SELECT doc_id, COUNT(*) AS n_hit, ROUND(SUM(sm) / 1e6, 6) AS bm25
        |FROM sc GROUP BY doc_id""".stripMargin)),
    QuerySpec("q_ngram_jaccard_exact", qNgramJaccardExact, oracle = Some(ngramExactCte +
      "\nSELECT a, b, jaccard FROM pairs")),
    QuerySpec("q_cms_exact_terms", qCmsExactTerms, oracle = Some(
      """WITH probes(term) AS (
        |  VALUES ('table'), ('hash'), ('join'), ('nosuchterm')),
        |counts AS (
        |  SELECT t.term, COUNT(*) AS n FROM documents,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t(term)
        |  WHERE t.term IN ('table', 'hash', 'join', 'nosuchterm')
        |  GROUP BY 1)
        |SELECT p.term, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM probes p LEFT JOIN counts c USING (term)""".stripMargin)),
    QuerySpec("q_simhash_exact", qSimhashExact, oracle = Some {
      val bitSums = (0 until 32).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b")
        .mkString(", ")
      val sigSum = (0 until 32).map(b =>
        s"(CASE WHEN c$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (
        |  SELECT doc_id, t.tok FROM documents,
        |    UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS t(tok)),
        |hashed AS (
        |  SELECT doc_id, LIST_REDUCE(
        |    LIST_PREPEND(0::BIGINT, LIST_TRANSFORM(STRING_SPLIT(tok, ''),
        |      c -> UNICODE(c)::BIGINT)),
        |    (h, c) -> (h * 31 + c) % 4294967296) AS h
        |  FROM toks),
        |counters AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id),
        |sigs AS (
        |  SELECT d.doc_id, $sigSum AS sig
        |  FROM documents d LEFT JOIN counters c USING (doc_id))
        |SELECT a, b, hamming FROM (
        |  SELECT l.doc_id AS a, r.doc_id AS b,
        |    CAST(BIT_COUNT(XOR(l.sig, r.sig)) AS INT) AS hamming
        |  FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id)
        |WHERE hamming <= 2""".stripMargin
    }),
    QuerySpec("q_dedup_delta_exact", qDedupDeltaExact, oracle = Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(STRING_SPLIT(text, ' ')) - 2),
        |      i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i+1:i+3], ' '))) AS sh
        |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        |n AS (SELECT * FROM s WHERE doc_id % 2 = 1),
        |c AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |p0 AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    LEN(LIST_INTERSECT(x.sh, y.sh)) AS inter,
        |    LEN(x.sh) AS n_a, LEN(y.sh) AS n_b
        |  FROM n x CROSS JOIN c y
        |  UNION ALL
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    LEN(LIST_INTERSECT(x.sh, y.sh)) AS inter,
        |    LEN(x.sh) AS n_a, LEN(y.sh) AS n_b
        |  FROM n x JOIN n y ON x.doc_id < y.doc_id)
        |SELECT a, b, ROUND(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
        |FROM p0 WHERE inter > 0
        |  AND ROUND(inter * 1.0 / (n_a + n_b - inter), 6) >= 0.1""".stripMargin)),
    QuerySpec("q_multimodal_frames", qMultimodalFrames, oracle = Some(
      """SELECT doc_id AS media_id, CAST(STRLEN(text) AS INT) AS n_bytes,
        |  CAST(f AS INT) AS frame_idx
        |FROM documents CROSS JOIN (SELECT UNNEST(RANGE(0, 32, 8)) AS f) t""".stripMargin)),
    QuerySpec("q_bucketed_join", qBucketedJoin, bench = true, oracle = Some(
      """SELECT e.event_id, e.user_id, o.o_orderkey
        |FROM events e JOIN orders o ON e.user_id = o.o_custkey""".stripMargin)),
    QuerySpec("q_ngram_containment", qNgramContainment, oracle = Some(ngramExactCte +
      """
        |SELECT a, b,
        |  ROUND(inter * 1.0 / n_a, 6) AS containment_a,
        |  ROUND(inter * 1.0 / n_b, 6) AS containment_b
        |FROM p0
        |WHERE ROUND(inter * 1.0 / n_a, 6) >= 0.2
        |   OR ROUND(inter * 1.0 / n_b, 6) >= 0.2""".stripMargin)),
    QuerySpec("q_dedup_clusters_exact", qDedupClustersExact, oracle = Some(ngramExactCte +
      "\nSELECT doc_id, survivor, doc_id = survivor AS keep FROM surv")),
    QuerySpec("q_dedup_apply_exact", qDedupApplyExact, oracle = Some(ngramExactCte +
      """
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM surv WHERE doc_id <> survivor)""".stripMargin)),
    QuerySpec("q_sim_topk", qSimTopk, bench = true, oracle = Some(simTopkOracle)),
    QuerySpec("q_sim_topk_auto", qSimTopkAuto, bench = true,
      oracle = Some(simTopkOracle),
      provision = Some((s, dir) => { provisionSimTopkAuto(s, dir); () })),
    // md5-hex sampling keys: lexicographic hex compare = numeric compare
    // on the top 32 bits; thresholds are hexThreshold(f) literals
    QuerySpec("q_sample_det", qSampleDet, oracle = Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'""".stripMargin)),
    QuerySpec("q_sample_stratified", qSampleStratified, bench = true, oracle = Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE source WHEN 'src0' THEN 'cccccccc'
        |              WHEN 'src1' THEN '80000000'
        |              WHEN 'src2' THEN '19999999'
        |              ELSE '4ccccccc' END""".stripMargin)),
    QuerySpec("q_cap_per_group", qCapPerGroup, oracle = Some(
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 50""".stripMargin)),
    // bounds ROUNDED to 6 decimals on both sides: quantile_cont
    // interpolates lo + f*(hi-lo) while Spark uses the weighted form —
    // unrounded they can differ in the last ulp at a boundary row
    QuerySpec("q_outlier_filter", qOutlierFilter, oracle = Some(
      """WITH b AS (
        |  SELECT source,
        |    ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.05), 6) AS lo,
        |    ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.95), 6) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN b USING (source)
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin)),
    QuerySpec("q_winsorize", qWinsorize, oracle = Some(
      """WITH b AS (
        |  SELECT source,
        |    ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.05), 6) AS lo,
        |    ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.95), 6) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi) AS n_chars_wins
        |FROM documents d JOIN b USING (source)""".stripMargin)),
    QuerySpec("q_decontaminate", qDecontaminate, oracle = Some(decontaminateOracle)),
    QuerySpec("q_bloom_decontaminate", qBloomDecontaminate, bench = true,
      oracle = Some(decontaminateOracle)),
    QuerySpec("q_decontam_auto", qDecontamAuto, bench = true,
      oracle = Some(decontaminateOracle)),
    QuerySpec("q_split_assign", qSplitAssign, oracle = Some(
      """SELECT doc_id, source,
        |  CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),
    QuerySpec("q_embed_quantize", qEmbedQuantize, oracle = Some(
      """WITH ex AS (
        |  SELECT vec_id, i.i AS dim,
        |    CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT UNNEST(RANGE(64)) AS i) i),
        |st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY dim)
        |SELECT e.vec_id, e.dim,
        |  CAST(CASE WHEN st.mx = st.mn THEN 0
        |    ELSE LEAST(255.0, FLOOR((e.v - st.mn) / (st.mx - st.mn) * 256.0))
        |  END AS INTEGER) AS q
        |FROM ex e JOIN st USING (dim)""".stripMargin)),
    // integer-micros covariance: quantize each value to BIGINT micros,
    // sum products in 128-bit integer space (DuckDB HUGEINT ≡ Spark
    // DECIMAL(38,0)), one final double division + ROUND(9) — identical
    // on both engines because every input to the division is an exact
    // integer
    QuerySpec("q_embed_covariance", qEmbedCovariance, bench = true, oracle = Some(
      """WITH m AS (
        |  SELECT LIST_TRANSFORM(embedding,
        |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
        |  FROM embeddings),
        |p AS (
        |  SELECT i.i AS dim_i, j.j AS dim_j,
        |    m[CAST(i.i AS INTEGER) + 1] * m[CAST(j.j AS INTEGER) + 1] AS xy,
        |    m[CAST(i.i AS INTEGER) + 1] AS x,
        |    m[CAST(j.j AS INTEGER) + 1] AS y
        |  FROM m, (SELECT UNNEST(RANGE(64)) AS i) i,
        |          (SELECT UNNEST(RANGE(64)) AS j) j
        |  WHERE j.j >= i.i)
        |SELECT dim_i, dim_j, COUNT(*) AS n,
        |  ROUND(CAST(COUNT(*) * SUM(xy) - SUM(x) * SUM(y) AS DOUBLE)
        |        / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) - 1 AS DOUBLE) * 1e12),
        |        9) AS cov
        |FROM p GROUP BY dim_i, dim_j""".stripMargin)),
    // global training order: ROW_NUMBER over the full (md5, key) order —
    // DuckDB may single-sort; the Spark side is the bucket-localized
    // two-level plan, proving the same total order without a global sort
    QuerySpec("q_corpus_order", qCorpusOrder, bench = true, oracle = Some(
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (
        |    ORDER BY SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS ord,
        |  CAST((ROW_NUMBER() OVER (
        |    ORDER BY SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) - 1) % 32
        |    AS INTEGER) AS shard
        |FROM documents""".stripMargin)),
    QuerySpec("q_curriculum_order", qCurriculumOrder, bench = true, oracle = Some(
      """SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS n_chars,
        |  ROW_NUMBER() OVER (ORDER BY LENGTH(text), doc_id) AS ord
        |FROM documents""".stripMargin)),
    // temperature mixing: ROUND(weight,6) BEFORE deriving frac on both
    // sides so the engines' different float-sum orders cannot diverge
    QuerySpec("q_mixture_weights", qMixtureWeights, oracle = Some(
      """WITH g AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY source),
        |w AS (SELECT source, n_rows,
        |        ROUND(POW(n_rows, 0.5) / SUM(POW(n_rows, 0.5)) OVER (), 6) AS weight
        |      FROM g)
        |SELECT source, n_rows, weight,
        |  ROUND(LEAST(1.0, 300.0 * weight / n_rows), 6) AS frac
        |FROM w""".stripMargin)),
    QuerySpec("q_sample_temperature", qSampleTemperature, oracle = Some(
      """WITH g AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY source),
        |w AS (SELECT source, n_rows,
        |        ROUND(POW(n_rows, 0.5) / SUM(POW(n_rows, 0.5)) OVER (), 6) AS weight
        |      FROM g),
        |f AS (SELECT source, ROUND(LEAST(1.0, 300.0 * weight / n_rows), 6) AS frac FROM w),
        |t AS (SELECT source,
        |        CASE WHEN frac >= 1.0 THEN 'g'
        |             ELSE PRINTF('%08x', CAST(FLOOR(frac * 4294967296.0) AS BIGINT)) END AS thr
        |      FROM f)
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN t USING (source)
        |WHERE SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr""".stripMargin)),
    QuerySpec("q_lm_score", qLmScore, bench = true, oracle = Some(
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
        |t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
        |             CAST(COUNT(*) AS DOUBLE) AS vocab FROM c),
        |p AS (SELECT token, (cnt + 0.5) / (total + 0.5 * vocab) AS p FROM c, t)
        |SELECT tok.doc_id AS doc_id,
        |  COUNT(*) AS n_tokens,
        |  ROUND(AVG(-LOG2(p.p)), 6) AS xent
        |FROM tok JOIN p USING (token)
        |GROUP BY tok.doc_id""".stripMargin)),
    QuerySpec("q_top_ngrams", qTopNgrams, bench = true, oracle = Some(
      """WITH t AS (SELECT STRING_SPLIT(text, ' ') AS toks FROM documents),
        |g AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(toks) - 1),
        |        i -> ARRAY_TO_STRING(toks[i+1:i+2], ' '))) AS gram
        |      FROM t WHERE LEN(toks) >= 2)
        |SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
        |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin)),
    QuerySpec("q_token_budget", qTokenBudget, oracle = Some(tokenBudgetOracle)),
    QuerySpec("q_stream_token_budget_rel", qStreamTokenBudget,
      oracle = Some(tokenBudgetOracle)),
    QuerySpec("q_pack_sequences", qPackSequences, bench = true, oracle = Some(samplingCumCte +
      """
        |SELECT doc_id, source, n_tokens,
        |  cum_tokens - n_tokens AS start_offset,
        |  CAST(FLOOR((cum_tokens - n_tokens) / 128.0) AS BIGINT) AS bin_id,
        |  (n_tokens > 0 AND
        |   CAST(FLOOR((cum_tokens - n_tokens) / 128.0) AS BIGINT)
        |     <> CAST(FLOOR((cum_tokens - 1) / 128.0) AS BIGINT)) AS crosses_boundary
        |FROM c""".stripMargin)),
    QuerySpec("q_chunk_docs", qChunkDocs, bench = true, oracle = Some(
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
        |         LEN(STRING_SPLIT(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    UNNEST(RANGE(CASE WHEN n <= 32 THEN 1
        |      ELSE CAST(FLOOR((n - 32 + 15) / 16.0) AS BIGINT) + 1 END)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |  ARRAY_TO_STRING(toks[chunk_id*16 + 1 : chunk_id*16 + 32], ' ') AS chunk_text,
        |  CAST(LEAST(n - chunk_id*16, 32) AS INTEGER) AS n_chunk_tokens
        |FROM c""".stripMargin)),
    // winnowing with string-min selection: substring k-grams, per-window
    // MIN over a rows-following frame, distinct selection, pair counts —
    // plain relational algebra both engines evaluate identically
    QuerySpec("q_winnow_clean_exact", qWinnowCleanExact, bench = true, oracle = Some(
      """WITH segs AS (
        |  SELECT doc_id, unnest(string_split(text, ' merge ')) AS seg FROM documents),
        |boiler AS (
        |  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2),
        |bl AS (SELECT COALESCE(list(seg), CAST([] AS VARCHAR[])) AS l FROM boiler),
        |clean AS (
        |  SELECT d.doc_id,
        |    COALESCE(array_to_string(list_filter(string_split(d.text, ' merge '),
        |      x -> NOT list_contains(bl.l, x)), ' merge '), '') AS text
        |  FROM documents d, bl),
        |g0 AS (
        |  SELECT doc_id, text, LENGTH(text) - 24 AS ng
        |  FROM clean WHERE LENGTH(text) >= 32),
        |g AS (
        |  SELECT doc_id, ng, UNNEST(RANGE(ng)) AS pos, text FROM g0),
        |gr AS (
        |  SELECT doc_id, ng, pos, SUBSTR(text, CAST(pos AS INTEGER) + 1, 25) AS gram
        |  FROM g),
        |w AS (
        |  SELECT doc_id, ng, pos,
        |    MIN(gram) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM gr),
        |f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= ng - 8)
        |SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared_fps
        |FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |HAVING COUNT(*) >= 2""".stripMargin)),
    QuerySpec("q_winnow_overlap_exact", qWinnowOverlapExact, bench = true, oracle = Some(
      """WITH g0 AS (
        |  SELECT doc_id, text, LENGTH(text) - 4 AS ng
        |  FROM documents WHERE LENGTH(text) >= 8),
        |g AS (
        |  SELECT doc_id, ng, UNNEST(RANGE(ng)) AS pos, text FROM g0),
        |gr AS (
        |  SELECT doc_id, ng, pos, SUBSTR(text, CAST(pos AS INTEGER) + 1, 5) AS gram
        |  FROM g),
        |w AS (
        |  SELECT doc_id, ng, pos,
        |    MIN(gram) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM gr),
        |f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= ng - 4)
        |SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared_fps
        |FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |HAVING COUNT(*) >= 2""".stripMargin)),
    QuerySpec("q_stats_profile", qStatsProfile, bench = true, oracle = Some(
      """SELECT l_returnflag,
        |  COUNT(*) AS n,
        |  ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS p50_qty,
        |  ROUND(QUANTILE_CONT(l_quantity, 0.9), 4) AS p90_qty,
        |  ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25_price,
        |  ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
        |  ROUND(CORR(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
        |  ROUND(COVAR_SAMP(l_discount, l_tax), 6) + 0.0 AS cov_disc_tax
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin)),
    // rows-only queries: not SQL-expressible (seeded hashes, sketches,
    // ML models, ANN indexes); unit tests and `_exact` twins cover them
    QuerySpec("q_semantic_dedup", qSemanticDedup, bench = true),
    QuerySpec("q_pagerank", qPagerank),
    QuerySpec("q_split_leakage_lsh", qSplitLeakageLsh),
    QuerySpec("q_auc_model", qAucModel),
    QuerySpec("q_trailing_distinct_approx", qTrailingDistinctApprox),
    QuerySpec("q_rolling_median_approx", qRollingMedianApprox),
    QuerySpec("q_embed_pca", qEmbedPca),
    QuerySpec("q_corpus_clusters", qCorpusClusters, bench = true),
    QuerySpec("q_cms_term_counts", qCmsTermCounts, bench = true),
    QuerySpec("q_dedup_minhash", qDedupMinhash, bench = true),
    QuerySpec("q_dedup_simhash", qDedupSimhash),
    QuerySpec("q_simhash_pairs", qSimhashPairs),
    QuerySpec("q_ngram_jaccard", qNgramJaccard),
    QuerySpec("q_sim_lsh", qSimLsh),
    QuerySpec("q_sim_pq", qSimPq, bench = true),
    QuerySpec("q_sim_ivfpq", qSimIvfPq),
    QuerySpec("q_embed_near_dup", qEmbedNearDup),
    QuerySpec("q_multimodal_partitioned", qMultimodalPartitioned),
    QuerySpec("q_winnow_fingerprint", qWinnowFingerprint),
    QuerySpec("q_stream_flagship", qStreamFlagship),
    QuerySpec("q_ml_train_score", qMlTrainScore),
    QuerySpec("q_predict_udf", qPredictUdf),
    QuerySpec("q_stream_token_budget", qStreamTokenBudget),
    QuerySpec("q_sim_ivf", qSimIvf),
    QuerySpec("q_dedup_clusters", qDedupClusters),
    QuerySpec("q_dedup_apply", qDedupApply),
    QuerySpec("q_winnow_overlap", qWinnowOverlap, bench = true),
    QuerySpec("q_winnow_clean", qWinnowClean, bench = true),
    QuerySpec("q_approx_distinct", qApproxDistinct),
    QuerySpec("q_hll_distinct", qHllDistinct),
    QuerySpec("q_kll_quantiles", qKllQuantiles),
    QuerySpec("q_theta_overlap", qThetaOverlap),
    QuerySpec("q_approx_top_ngrams", qApproxTopNgrams),
    QuerySpec("q_dedup_delta", qDedupDelta)
  )

  /** Name-keyed index of `specs`. Unique names are required: a Map
    * built from a duplicated name silently keeps only one record.
    */
  private[graft] def indexByName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }

  private val byName = indexByName(catalog)

  // views of the catalog, in the shapes Bench, Verify and the tools read
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, s) => n -> s.build }

  /** Headline subset Bench times per round, in catalog order. */
  val benchQueries: Seq[String] = catalog.filter(_.bench).map(_.name)

  val oracleSql: Map[String, String] =
    byName.flatMap { case (n, s) => s.oracle.map(n -> _) }

  private[graft] val provisions: Map[String, (SparkSession, String) => Unit] =
    byName.flatMap { case (n, s) => s.provision.map(n -> _) }
}
