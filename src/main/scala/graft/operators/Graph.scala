package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operators over edge-list DataFrames. The dedup
  * cluster resolution (connected components) lives with its family in
  * [[graft.llm.Dedup.resolveClusters]]; this hosts the rank-style
  * iterations.
  */
object Graph {

  private val Damping = 0.85

  /** [[pageRankIntScaled]]'s rank unit: ranks are micro-units of it, so
    * it must be ≥ 10⁶. */
  private val RankScale = 1000000000000L

  /** PageRank over a directed edge list — the classic importance
    * measure (used in data pipelines for domain/source authority
    * weighting, e.g. CommonCrawl host ranking feeding crawl-priority
    * and quality weights).
    *
    * Sum-to-one convention with proper dangling-node handling: each
    * iteration r' = (1−d)/N + d·(Σ in-contribs + danglingMass/N), so
    * Σ ranks stays 1 and nodes with no out-edges leak nothing.
    *
    * Scale design: one static relation (edges ⋈ out-degrees) is
    * persisted once and re-joined per iteration; ranks are the only
    * iterating state (one row per node). Each iteration is one join +
    * one hash agg on dst, and the rank lineage is truncated with
    * `localCheckpoint` every iteration — without that, iteration k's
    * plan nests k joins deep, which is exactly what kills driver planning
    * at scale. Double summation order is partition-dependent, so ranks
    * carry ulp-level nondeterminism — this is a rows-only operator with
    * a tolerance-checked spec, like every float-iterating op here.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 10): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().persist()
    val n = nodes.count()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    // the static side is hash-partitioned on the join key BEFORE the
    // persist: every iteration's contribution join then shuffles only
    // the node-sized rank relation, never the edge-sized adjacency
    val adj = e.join(outDeg, "src").repartition(col("src")).persist()
    adj.count(); outDeg.count() // materialize BOTH static sides once —
    // the dangling subquery re-joins outDeg every iteration and an
    // unpersisted outDeg would re-run the edge scan + groupBy each time

    var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint()
    for (_ <- 1 to iterations) {
      // dangling mass (ranks of nodes with no out-edges) as a broadcast
      // one-row scalar INSIDE the plan — no per-iteration driver action;
      // each iteration is exactly one job (the eager checkpoint)
      val dangling = ranks.join(outDeg,
        ranks("node") === outDeg("src"), "left")
        .filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("_dm"))
      val contribs = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - Damping) / n) +
            lit(Damping) * (coalesce(col("in_sum"), lit(0.0)) + col("_dm") / n))
            .as("rank"))
        .localCheckpoint() // truncate the iteration lineage
    }
    // release the method-local cache entries: ranks is already
    // checkpointed (its lineage no longer references the static sides),
    // so an eager unpersist here leaks nothing and keeps the
    // CacheManager from accumulating one nodes/outDeg/adj triple per
    // pageRank invocation
    nodes.unpersist(); outDeg.unpersist(); adj.unpersist()
    ranks
  }

  /** Oracle-grade PageRank: the same damped iteration in PURE INTEGER
    * arithmetic — ranks carried as micro-units of [[RankScale]], every
    * division an explicit floor (`DIV`), every sum an integer sum — so
    * the result is bit-identical across engines and partition orders
    * (integer addition commutes; doubles don't). This is what upgrades
    * the graph family from tolerance-spec-only to a DuckDB hash-match:
    * a fixed-iteration CTE chain evaluates the identical algebra.
    *
    * r'(v) = (15·scale) DIV (100·N)  +  (85·Σ_{u→v} r(u) DIV deg(u)) DIV 100
    *
    * Deliberately simpler than [[pageRank]]: no dangling-mass
    * redistribution — mass reaching a sink is dropped, so ranks no
    * longer sum to [[RankScale]] on graphs with sinks. Symmetrize first (as
    * the registered trade graph does) if that matters; the float
    * variant remains the production path. Same per-iteration
    * `localCheckpoint` lineage discipline; `iterations` is capped
    * because each extra iteration is another CTE stage in the oracle.
    */
  def pageRankIntScaled(
      edges: DataFrame,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 8,
      s"pageRankIntScaled: 1 <= iterations <= 8, got $iterations")
    val e = edges.select(col("src"), col("dst"))
      .distinct().localCheckpoint()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count() // one bounded driver long, as in pageRank
    val base = 15L * RankScale / (100L * n)
    var ranks = nodes.withColumn("r", lit(RankScale / n)).localCheckpoint()
    for (_ <- 1 to iterations) {
      val contribs = e.join(outDeg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_scaled"))
  }
}
