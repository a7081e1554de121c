package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier evaluation as RELATIONAL algebra — the distributed,
  * oracle-checkable counterpart of driver-side metric libraries. The
  * reference evaluates its bot detector with MLlib's
  * BinaryClassificationEvaluator (train.py's areaUnderROC); these
  * operators state the same mathematics as aggregations a 100 TB
  * scored table can run without collecting anything, and (being pure
  * integer-count algebra until the final division) they hash-match an
  * ANSI-SQL oracle bit-for-bit — which a black-box evaluator cannot.
  */
object Metrics {

  /** Exact ROC-AUC via the Mann–Whitney U statistic with tie
    * correction, computed on the SCORE HISTOGRAM with the two-level
    * bucket localization the percentile machinery uses
    * ([[graft.operators.Stats]]): group rows by distinct score
    * (map-side combinable), coarse-bucket the histogram over its
    * observed extent, derive each bucket's cross-bucket negative
    * offset from the ≤ `buckets`-row bucket relation (a triangular
    * join-agg — no unpartitioned window anywhere in the plan), then
    * run the cumulative window PARTITIONED BY BUCKET with the offset
    * added. No task ever sorts more than ~|distinct scores|/`buckets`
    * rows, so continuous near-unique scores (the 100 TB scored-table
    * case) are safe without quantization.
    *
    * AUC = Σ_s n⁺(s) · (N⁻(<s) + n⁻(s)/2) / (P·N) — each positive
    * counts the negatives ranked strictly below it plus half its own
    * tie group. Doubled U stays an exact integer sum, so both engines
    * agree before the single rounded division; bucket boundaries only
    * relocate where the running sum is split, never its value, so the
    * result is bit-identical to the single-window formulation. NULL
    * scores keep their own bucket BELOW all others (Spark's former
    * nulls-first window order). The histogram is MATERIALIZED once
    * (localCheckpoint): four downstream paths (extent, bucket sums,
    * triangular offset, the cumulative join) consume it under different
    * column prunings, so their aggregation subtrees canonicalize
    * differently and ReuseExchange cannot deduplicate them — without
    * the barrier the executed plan scanned the base table SIX times
    * (r20 plan audit). One corpus pass builds the histogram; everything
    * after runs on (s, np, nn) rows, narrow by construction. Output one
    * row: (n_pos, n_neg, auc); auc is NULL when either class is absent.
    */
  def aucExact(
      df: DataFrame,
      labelCol: Column,
      scoreCol: Column,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"aucExact: buckets must be >= 2, got $buckets")
    val h = df
      .groupBy(scoreCol.cast("double").as("s"))
      .agg(
        sum(when(labelCol, 1L).otherwise(0L)).as("np"),
        sum(when(labelCol, 0L).otherwise(1L)).as("nn"))
      .localCheckpoint()
    val ext = h.agg(min(col("s")).as("_mn"), max(col("s")).as("_mx"))
    val hb = h.crossJoin(broadcast(ext))
      .withColumn("_b",
        when(col("s").isNull, lit(-1))
          .when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(lit(buckets - 1),
            floor((col("s") - col("_mn")) /
              ((col("_mx") - col("_mn")) / buckets)).cast("int"))))
      .drop("_mn", "_mx")
    // negatives strictly below each bucket: triangular join-agg over the
    // ≤ buckets-row bucket-sum relation (broadcast nested loop on ≤ 2²⁰
    // comparisons) — bounded by construction, and free of the
    // single-partition WindowExec an unpartitioned cumulative would plan
    val bsum = hb.groupBy(col("_b")).agg(sum(col("nn")).as("_bn"))
    val below = bsum.select(col("_b").as("_ob"), col("_bn").as("_obn"))
    val off = bsum.join(broadcast(below), col("_ob") < col("_b"), "left")
      .groupBy(col("_b"))
      .agg(coalesce(sum(col("_obn")), lit(0L)).as("_off"))
    // within-bucket cumulative: partitioned by bucket → parallel, each
    // task sorts only its bucket's distinct scores
    val w = Window.partitionBy(col("_b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hb.join(broadcast(off), "_b")
      .withColumn("below",
        col("_off") + coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        // doubled U keeps the sum integral: np · (2·below + nn)
        sum(col("np") * (lit(2L) * col("below") + col("nn"))).as("_u2"))
      .select(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("_u2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6))
          .as("auc"))
  }

  /** Score buckets of [[aucByGroup]]: [[aucExact]]'s default. */
  private val GroupBuckets = 1024

  /** [[aucExact]] PER GROUP — segment-wise / per-day model evaluation
    * (AUC by market, by cohort, by scoring date for drift monitoring)
    * as one relation. The identical two-level bucket-localized algebra
    * with the group key threaded through every stage: the score
    * histogram, extent, bucket sums, triangular offset join, and
    * cumulative window all carry the key, so each group evaluates
    * independently and in parallel — adding a grouping column never
    * adds a scale hazard (windows are partitioned by (group, bucket);
    * the offset join is equi on the group key plus the banded bucket
    * predicate). Output one row per group: (outGroup, n_pos, n_neg,
    * auc), auc NULL where a group lacks a class — a group you can
    * anti-join for "segments the model cannot be evaluated on".
    */
  def aucByGroup(
      df: DataFrame,
      groupCol: Column,
      labelCol: Column,
      scoreCol: Column,
      outGroup: String = "grp"): DataFrame = {
    // materialized once, same reason as aucExact: six-scan plan without
    // the barrier (the group key makes each pruned subtree even wider)
    val h = df
      .groupBy(groupCol.as(outGroup), scoreCol.cast("double").as("s"))
      .agg(
        sum(when(labelCol, 1L).otherwise(0L)).as("np"),
        sum(when(labelCol, 0L).otherwise(1L)).as("nn"))
      .localCheckpoint()
    val ext = h.groupBy(col(outGroup))
      .agg(min(col("s")).as("_mn"), max(col("s")).as("_mx"))
    val hb = h.join(ext, outGroup)
      .withColumn("_b",
        when(col("s").isNull, lit(-1))
          .when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(lit(GroupBuckets - 1),
            floor((col("s") - col("_mn")) /
              ((col("_mx") - col("_mn")) / GroupBuckets)).cast("int"))))
      .drop("_mn", "_mx")
    val bsum = hb.groupBy(col(outGroup), col("_b")).agg(sum(col("nn")).as("_bn"))
    val below = bsum.select(
      col(outGroup).as("_og"), col("_b").as("_ob"), col("_bn").as("_obn"))
    val off = bsum
      .join(below, col("_og") === col(outGroup) && col("_ob") < col("_b"), "left")
      .groupBy(col(outGroup), col("_b"))
      .agg(coalesce(sum(col("_obn")), lit(0L)).as("_off"))
    val w = Window.partitionBy(col(outGroup), col("_b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hb.join(off, Seq(outGroup, "_b"))
      .withColumn("below",
        col("_off") + coalesce(sum(col("nn")).over(w), lit(0L)))
      .groupBy(col(outGroup))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("below") + col("nn"))).as("_u2"))
      .select(
        col(outGroup), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("_u2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6))
          .as("auc"))
  }

  /** Reliability (calibration) bins: bucket a [0, 1] score into `bins`
    * equal-width bins and report per-bin count, mean predicted score,
    * and observed positive rate — the relation a calibration curve /
    * ECE computation reads. Scores are clamped into [0, 1] (bin edges
    * are fixed, not data-dependent, so bins are comparable across
    * models and runs); assignment floors v·bins with v = 1 clamped to
    * the last bin, mirroring [[graft.operators.Stats.histogramEquiWidth]].
    * One hash aggregation, ≤ bins rows of state. The mean score sums
    * micro-units as integers (the integer-cents discipline): a double
    * sum's partition order could flip the 6th decimal and break the
    * oracle hash, an integer sum cannot.
    */
  def calibrationBins(
      df: DataFrame,
      labelCol: Column,
      scoreCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationBins: bins must be >= 2, got $bins")
    val v = least(greatest(scoreCol.cast("double"), lit(0.0)), lit(1.0))
    val micros = floor(v * 1000000 + 0.5).cast("long")
    df
      .withColumn("bin",
        least(floor(v * bins).cast("int"), lit(bins - 1)))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(micros) / 1000000.0 / count(lit(1)), 6).as("mean_score"),
        sum(when(labelCol, 1L).otherwise(0L)).as("n_pos"),
        round(sum(when(labelCol, 1L).otherwise(0L)) / count(lit(1)).cast("double"), 6)
          .as("pos_rate"))
  }
}
