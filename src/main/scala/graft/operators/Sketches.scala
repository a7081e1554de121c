package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Apache DataSketches HLL, native in
  * Spark since 3.5). The operational difference from
  * `approx_count_distinct` (the ksql-parity op, `q_approx_distinct`):
  * that one fuses build+estimate in a single aggregation, while these
  * emit the SKETCH as a storable binary column — the artifact a 100 TB
  * pipeline keeps per partition/day/source and merges at query time, so
  * "distinct users over any date range" is a union of kilobyte sketches
  * instead of a rescan of the raw data. Merge is exact over sketches:
  * union-then-estimate ≡ build-once-estimate (spec-asserted).
  */
object Sketches {

  /** Per-group HLL sketch of `target` — the mergeable partial. */
  def hllPartials(
      df: DataFrame,
      target: Column,
      groups: Column*): DataFrame =
    df.groupBy(groups: _*)
      .agg(hll_sketch_agg(target).as("hll_sketch"))

  /** Merge stored partials (e.g. daily sketches) back to per-group
    * estimates — the query-time side of the partial/merge split.
    */
  def hllMergeEstimate(partials: DataFrame, groups: Column*): DataFrame =
    partials.groupBy(groups: _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sketch")))
        .as("approx_distinct"))

  /** One-shot per-group estimate (build + estimate fused). */
  def hllDistinct(
      df: DataFrame,
      target: Column,
      groups: Column*): DataFrame =
    df.groupBy(groups: _*)
      .agg(hll_sketch_estimate(hll_sketch_agg(target)).as("approx_distinct"))

  /** Per-group KLL(double) quantile sketch — the MERGEABLE percentile
    * partial (DataSketches KLL, native in Spark 4). Where
    * [[Stats.percentilesByGroup]] gives exact answers from a rescan,
    * these kilobyte sketches are the artifact a 100 TB pipeline stores
    * per day/source and merges at query time: "p99 latency over any
    * date range" becomes a union of sketches, never a rescan. Rank
    * error ≈ 1.65 % at the default k — spec-asserted against the exact
    * percentile.
    */
  def kllPartials(
      df: DataFrame,
      target: Column,
      groups: Column*): DataFrame =
    df.groupBy(groups: _*)
      .agg(call_function("kll_sketch_agg_double", target.cast("double"))
        .as("kll_sketch"))

  /** Merge stored KLL partials to per-group quantile estimates — the
    * query-time side. `groups` must be the (coarser) key the partials
    * are re-grouped on.
    */
  def kllMergeQuantiles(
      partials: DataFrame,
      ps: Seq[(String, Double)],
      groups: Column*): DataFrame = {
    require(ps.nonEmpty, "kllMergeQuantiles needs >= 1 quantile")
    val merged = partials.groupBy(groups: _*)
      .agg(call_function("kll_merge_agg_double", col("kll_sketch")).as("_m"))
    val keep = merged.columns.filterNot(_ == "_m").map(col).toSeq
    val qs = ps.map { case (name, p) =>
      call_function("kll_sketch_get_quantile_double", col("_m"), lit(p)).as(name)
    }
    merged.select(keep ++ qs: _*)
  }

  /** Per-group theta sketch of distinct `target` values — the partial
    * that supports SET ALGEBRA over distinct counts: union, intersection
    * and difference of sketches estimate |A∪B| / |A∩B| / |A\B| without
    * touching raw data again (plain HLL can only union). Exact below the
    * sketch's nominal-entries threshold.
    */
  def thetaPartials(
      df: DataFrame,
      target: Column,
      groups: Column*): DataFrame =
    df.groupBy(groups: _*)
      .agg(call_function("theta_sketch_agg", target).as("theta_sketch"))

  /** Estimated distinct-overlap |A∩B| between two theta-sketch relations
    * sharing a key — e.g. "users active in BOTH segments", computed from
    * stored per-segment sketches.
    */
  def thetaIntersectEstimate(
      a: DataFrame,
      b: DataFrame,
      key: String): DataFrame =
    a.select(col(key), col("theta_sketch").as("_a"))
      .join(b.select(col(key), col("theta_sketch").as("_b")), key)
      .select(col(key),
        call_function("theta_sketch_estimate",
          call_function("theta_intersection", col("_a"), col("_b")))
          .as("approx_overlap"))

  /** Approximate per-group top-k heavy hitters (DataSketches frequent
    * items under Spark's `approx_top_k`): bounded-memory, mergeable —
    * the scan-speed alternative to the exact
    * sort+limit/TakeOrderedAndProject when the item domain is huge.
    * Returns one row per (group, item, est_count), descending.
    */
  def approxTopK(
      df: DataFrame,
      item: Column,
      k: Int,
      groups: Column*): DataFrame =
    df.groupBy(groups: _*)
      .agg(call_function("approx_top_k", item, lit(k)).as("_tk"))
      .select((df.select(groups: _*).columns.map(col).toSeq :+
        explode(col("_tk")).as("_e")): _*)
      .select((df.select(groups: _*).columns.map(col).toSeq ++ Seq(
        col("_e.item").as("item"),
        col("_e.count").as("est_count"))): _*)

  // ---- Count–Min frequency sketch -------------------------------------

  /** Executor-side CMS union (typed Aggregator over the serialized
    * form): binary sketches built with identical (eps, confidence,
    * seed) merge associatively — counter matrices add cell-wise — so
    * the partial/merge split runs fully distributed, never on the
    * driver. Spark ships `count_min_sketch` as a builder but no union
    * aggregate; this closes that gap.
    */
  private val cmsUnion: org.apache.spark.sql.expressions.Aggregator[
      Array[Byte], Array[Byte], Array[Byte]] =
    new org.apache.spark.sql.expressions.Aggregator[
        Array[Byte], Array[Byte], Array[Byte]] {
      private def merge2(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        if (a == null || a.isEmpty) b
        else if (b == null || b.isEmpty) a
        else {
          val x = org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(a))
          x.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(b)))
          val out = new java.io.ByteArrayOutputStream()
          x.writeTo(out)
          out.toByteArray
        }
      def zero: Array[Byte] = Array.emptyByteArray
      def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = merge2(buf, in)
      def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = merge2(a, b)
      def finish(r: Array[Byte]): Array[Byte] = r
      def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
        org.apache.spark.sql.Encoders.BINARY
      def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
        org.apache.spark.sql.Encoders.BINARY
    }

  /** Per-group CMS partials over `target` — the mergeable frequency
    * artifact (KB-sized; "how often did this item appear in any date
    * range" becomes a sketch union, never a rescan). Counter matrices
    * are addition-only, so the stored binary is independent of row
    * order: same data ⇒ byte-identical sketch at any parallelism.
    */
  def cmsPartials(
      df: DataFrame,
      target: Column,
      eps: Double,
      confidence: Double,
      seed: Int,
      groups: Column*): DataFrame =
    df.groupBy(groups: _*)
      .agg(count_min_sketch(target, lit(eps), lit(confidence), lit(seed))
        .as("cms"))

  /** Union stored partials (dropping the partial-level grouping) and
    * read estimates for a fixed probe list. Estimates are upper bounds:
    * est ≥ true count, est ≤ true + eps·N with prob ≥ confidence.
    */
  def cmsMergeEstimates(
      partials: DataFrame,
      probes: Seq[String],
      groups: Column*): DataFrame = {
    require(probes.nonEmpty, "cmsMergeEstimates: probes must be non-empty")
    val union = udaf(cmsUnion)
    val est = udf((b: Array[Byte], item: String) =>
      if (b == null || b.isEmpty) 0L
      else org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)).estimateCount(item))
    val groupCols = partials.select(groups: _*).columns.map(col).toSeq
    partials
      .groupBy(groups: _*)
      .agg(union(col("cms")).as("cms"))
      .select((groupCols :+ col("cms") :+
        explode(array(probes.map(lit(_)): _*)).as("term")): _*)
      .select((groupCols ++ Seq(col("term"),
        est(col("cms"), col("term")).as("est_count"))): _*)
  }

  /** One-shot corpus-global term-frequency estimates: per-source
    * partials unioned to one sketch, probed for `probes` — the
    * registered partial/merge composition.
    */
  def cmsTermCounts(
      docs: DataFrame,
      probes: Seq[String]): DataFrame =
    cmsMergeEstimates(
      cmsPartials(
        docs.select(col("source"),
          explode(split(col("text"), " ")).as("term")),
        col("term"), 0.0001, 0.99, 42, col("source")),
      probes)
}
