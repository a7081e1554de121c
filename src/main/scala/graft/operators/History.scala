package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal-history operators: slowly-changing-dimension builds and
  * marketing attribution over an event stream. Both are the standard
  * warehouse patterns a changelog/CDC consumer (reference README.md's
  * Debezium→ksqlDB path) materializes downstream of the raw feed.
  *
  * Scale: every operator here is one exchange on the entity key; the
  * stacked window functions share the same (partition, order) so Spark
  * plans a single Sort under a single Exchange — verified in HistorySpec
  * against the executed plan.
  */
object History {

  /** SCD Type-2 dimension build from an append-only attribute history.
    *
    * Input: one row per observation `(entity, ts, attr)` (plus a tie
    * column so ordering is total). Output: one row per *change* with
    * `valid_from` / `valid_to` half-open validity intervals and an
    * `is_current` flag — the classic type-2 dimension a CDC consumer
    * maintains.
    *
    * Change compaction happens before interval assignment: consecutive
    * identical attribute values collapse into the earliest observation,
    * so intervals are maximal. `valid_to` is NULL on the live row
    * (half-open "until further notice").
    *
    * Scale: both windows partition on `entity` and order on
    * `(ts, tie)` — one hash exchange, one sort, no self-join. Interval
    * count is bounded by the number of actual changes, not observations.
    */
  def scd2(
      df: DataFrame,
      entityCol: String,
      attrCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val changed = df
      .withColumn("prev_attr", lag(col(attrCol), 1).over(w))
      .withColumn("_rn", row_number().over(w))
      // first observation and genuine changes survive; the comparison is
      // NULL-SAFE so a NULL attribute is a value, not a wildcard — with
      // plain =!= a transition to NULL is dropped and a NULL-preceded
      // repeat is kept, breaking the maximal-interval invariant
      .filter(col("_rn") === 1 || !(col("prev_attr") <=> col(attrCol)))
      .drop("prev_attr", "_rn")
    changed
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("version", row_number().over(w))
      .select(col(entityCol), col(attrCol), col("valid_from"),
        col("valid_to"), col("is_current"), col("version"))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * most recent preceding non-conversion event of the same user within
    * `maxGapSec`. Conversions with no touch inside the gap are emitted
    * unattributed (NULL touch columns) so totals reconcile.
    *
    * The preceding touch is found with a frame-bounded window
    * (`ROWS UNBOUNDED PRECEDING .. 1 PRECEDING`, last non-NULL of a
    * conditional projection) — no self-join, no per-user state beyond
    * the sort. The gap predicate is evaluated in integer microseconds to
    * keep both engines' arithmetic identical.
    */
  def lastTouchAttribution(
      events: DataFrame,
      conversionType: String,
      maxGapSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type") =!= lit(conversionType)
    // the two last() calls share the NULL pattern (same CASE condition),
    // so they always come from the same touch row
    val withTouch = events
      .withColumn("touch_ts",
        last(when(isTouch, col("ts")), ignoreNulls = true).over(w))
      .withColumn("touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === lit(conversionType))
    val inGap = col("touch_ts").isNotNull &&
      (unix_micros(col("ts").cast("timestamp")) -
        unix_micros(col("touch_ts").cast("timestamp"))) <= maxGapSec * 1000000L
    withTouch.select(
      col("event_id"), col("user_id"), col("ts").as("conversion_ts"),
      when(inGap, col("touch_type")).as("attributed_type"),
      when(inGap, col("touch_ts")).as("attributed_ts"))
  }
}
