package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-affinity operators: the empirical Markov transition matrix
  * of an event stream and within-entity co-occurrence counts. The
  * reference's own event generator is a Markov chain over event types
  * (generator.py — SURVEY §2.1 S11), so the transition estimator is the
  * inverse problem: recover the chain from the stream.
  */
object Affinity {

  /** Empirical first-order Markov transition matrix per event type:
    * P(next = b | current = a) over each entity's time-ordered stream,
    * with counts and 6-decimal probabilities (row-normalized by the
    * FROM state).
    *
    * Shape: one lag window per entity partition (single exchange+sort),
    * then two hash aggregations — (from, to) counts and a broadcast-back
    * of the from-totals; the probability is an exact integer ratio so
    * both engines agree bit-for-bit after rounding.
    */
  def transitionMatrix(
      events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("_tot"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("_tot").cast("double"), 6)
          .as("p"))
  }

  /** Within-entity co-occurrence (market-basket affinity): unordered
    * pairs of distinct values that appear under the same entity, with
    * support counts, kept when support ≥ `minSupport`.
    *
    * Shape: the stream first collapses to DISTINCT (entity, value) —
    * map-side combinable, the same reduction retentionCohorts uses — so
    * the self-join pairs a relation bounded by entities × |value
    * domain|, never raw events. Pair explosion per entity is
    * |values|², fine for enum-like domains; block or cap upstream for
    * high-cardinality values (same discipline as the dedup band joins).
    *
    * NULL values are excluded explicitly: a NULL can't participate in
    * an ordered pair anyway (`a < b` is NULL-out), so the filter makes
    * that semantic intentional rather than a comparison side effect —
    * and prunes the NULL rows before the distinct+join instead of after.
    */
  def coOccurrence(
      df: DataFrame,
      keyCol: String,
      valCol: String,
      minSupport: Long = 1L): DataFrame = {
    val distinctVals = df.select(col(keyCol).as("k"), col(valCol).as("v"))
      .filter(col("v").isNotNull)
      .distinct()
    val a = distinctVals.select(col("k"), col("v").as("item_a"))
    val b = distinctVals.select(col("k"), col("v").as("item_b"))
    a.join(b, Seq("k"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }
}
