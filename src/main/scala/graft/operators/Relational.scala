package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Core relational operators from the reference's streaming-SQL surface
  * (SURVEY.md §2.1–§2.2). Each is a pure `DataFrame => DataFrame`
  * transformation so batch and streaming share the same expression —
  * the Structured Streaming incremental-query principle.
  */
object Relational {

  /** ST5 / P1 — `PARTITION BY key` rekey (reference README.md:28).
    *
    * In ksqlDB a rekey materializes a repartition topic so a later join is
    * co-partitioned. In Spark the exchange is planner-inserted, so the
    * semantic content is just "this column is now the record key"; we keep
    * the physical repartition as an explicit operator for parity and for
    * cases where the caller wants to pre-shuffle once and reuse the
    * partitioning across several downstream stateful ops (100 TB: one
    * exchange instead of N).
    */
  def rekey(df: DataFrame, key: String, numPartitions: Option[Int] = None): DataFrame =
    numPartitions match {
      case Some(n) => df.repartition(n, col(key))
      case None    => df.repartition(col(key))
    }

  /** S3 / A6 — TABLE semantics: latest value per key from a changelog
    * (reference README.md:29, CDC topic materialization).
    *
    * Implemented with `max_by(struct(cols), struct(orderCols))` rather
    * than `row_number + filter`: a single hash aggregation with map-side
    * partial aggregation (one shuffle, no full sort of 100 TB), instead of
    * a window function that sorts every partition. Tie-break columns make
    * the result deterministic.
    *
    * PRUNING NOTE: the payload travels through `max_by(struct(...))`,
    * and Catalyst does not prune unused fields out of an aggregated
    * struct — a downstream projection of two payload columns still
    * scans ALL of them (the plan audit caught q_asof_join reading six
    * orders columns for four). When only a subset of the row is
    * needed, project BEFORE calling; the operator keeps whole-row
    * semantics because its contract ("the latest ROW per key" — the S3
    * changelog compaction) is exactly that.
    */
  def latestByKey(df: DataFrame, key: Seq[String], orderBy: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(key.contains)
    val ord = struct(orderBy.map(col): _*)
    df.groupBy(key.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), ord).as("_latest"))
      .select(key.map(col) ++ payload.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** P3 — `CASE WHEN event = v THEN 1 ELSE 0` pivot indicator
    * (reference README.md:45-48; pandas analog train.py:245-253).
    */
  def indicator(eventCol: Column, value: String): Column =
    when(eventCol === lit(value), lit(1)).otherwise(lit(0))

  /** P3 applied: one indicator column per event-type value. */
  def withIndicators(df: DataFrame, eventCol: String, values: Seq[String]): DataFrame =
    values.foldLeft(df) { (d, v) =>
      d.withColumn(s"is_$v", indicator(col(eventCol), v))
    }

  /** P5 — `TIMESTAMPTOSTRING(ts, 'HH:mm:ss')` (reference README.md:43-44). */
  def timestampToString(ts: Column): Column =
    date_format(ts, "HH:mm:ss")

  /** P6 — `as_array(a, b, …)` homogeneous array constructor
    * (reference README.md:68). Spark arrays are homogeneous, matching the
    * reference's separate STRING[] / INT[] arrays.
    */
  def asArray(cols: Column*): Column = array(cols: _*)

  /** S5 + P10 — CDC envelope unwrap + tombstone drop
    * (reference infra/connect/mysql-source.json:17-19): project the
    * Debezium `{before, after, op}` envelope down to `after.*`, dropping
    * delete tombstones. Plain Catalyst projection + filter — pushes all
    * the way into the scan when the envelope is a parquet/Avro struct.
    *
    * Expects columns `after: struct<…>` and `op: string`.
    */
  def cdcUnwrap(envelope: DataFrame): DataFrame =
    envelope
      .filter(col("op") =!= lit("d") && col("after").isNotNull)
      .select(col("after.*"))

  /** Helper used by tests/queries: wrap a flat row into a Debezium-style
    * envelope {before:null, after:struct(*), op}.
    */
  def toCdcEnvelope(df: DataFrame, opCol: Column): DataFrame =
    df.select(struct(df.columns.map(col): _*).as("after"), opCol.as("op"))

  /** Version-diff CDC generator — the WRITE side of the CDC surface:
    * [[cdcUnwrap]] CONSUMES Debezium envelopes; this PRODUCES the
    * change set between two immutable snapshots of a table (e.g. two
    * `graft.sources.DimStore` versions) as flat changelog rows, the
    * batch equivalent of what a Debezium source would have emitted for
    * the same transition (reference infra/connect/mysql-source.json).
    *
    * `op`: `c` = insert (key only in `after`), `u` = update (key in
    * both, any non-key column differs NULL-SAFELY), `d` = delete (key
    * only in `before`); unchanged keys emit nothing. Non-key columns
    * carry the AFTER image for c/u and the BEFORE image for d — the
    * tombstone's last-known row, what a downstream store retracts by.
    * Presence is tracked with marker literals, not key nullness, so
    * nullable key VALUES are still diffed correctly (a null key equals
    * a null key under `<=>` join semantics only if the caller joins
    * that way — here missing-side detection never misfires).
    *
    * Scale shape: ONE full-outer shuffle join on the key plus a
    * projection — no window, no driver state, both sides prune to
    * key + compared columns at the scan. A 100 TB dim diff is exactly
    * one co-partitioned join; pre-bucketed sides shuffle nothing.
    */
  def tableDiff(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "tableDiff: need at least one key column")
    require(before.columns.toSeq == after.columns.toSeq,
      s"tableDiff: schemas differ — ${before.columns.mkString(",")} vs " +
        after.columns.mkString(","))
    val nonKeys = before.columns.filterNot(keys.contains).toSeq
    // presence markers must not shadow an input column (withColumn
    // REPLACES a same-named column, silently corrupting the diff) —
    // grow underscores until the names are free of the input schema
    var mb = "__b"; var ma = "__a"
    while (before.columns.contains(mb)) mb = "_" + mb
    while (before.columns.contains(ma)) ma = "_" + ma
    val b = before.withColumn(mb, lit(1)).alias("b")
    val a = after.withColumn(ma, lit(1)).alias("a")
    val cond = keys.map(k => col(s"b.$k") <=> col(s"a.$k")).reduce(_ && _)
    val changed = nonKeys.map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(col(ma).isNull, lit("d"))
      .when(col(mb).isNull, lit("c"))
      .otherwise(lit("u"))
    b.join(a, cond, "full_outer")
      .filter(col(ma).isNull || col(mb).isNull || changed)
      .select(op.as("op") +:
        (keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
          nonKeys.map(c =>
            when(col(ma).isNull, col(s"b.$c"))
              .otherwise(col(s"a.$c")).as(c))): _*)
  }

  /** Apply a [[tableDiff]]-shaped changelog to a snapshot — the READ
    * side that closes the CDC loop: `cdcApply(v1, tableDiff(v1, v2))`
    * reproduces v2 EXACTLY (upserts replace, tombstones retract —
    * the document-store consumption contract of the reference's
    * Debezium→ksql→Mongo chain, infra/connect/mysql-source.json →
    * mongo-sink.json). The changelog carries `op` plus the snapshot's
    * full schema; keys touched by ANY op leave the snapshot (anti-join)
    * and c/u rows re-enter with their after-image.
    *
    * Scale shape: one left-anti equi-join on the key plus a union —
    * no window, no driver state; pre-bucketed sides co-partition the
    * anti-join shuffle-free, and the union is free (no exchange).
    */
  def cdcApply(snapshot: DataFrame, changelog: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "cdcApply: need at least one key column")
    require(changelog.columns.contains("op"),
      "cdcApply: changelog must carry the tableDiff `op` column")
    // null-safe key match, same as tableDiff's join: a null key VALUE
    // is still one upsert key, not an unmatchable row
    val s = snapshot.alias("s")
    val touched = changelog.select(keys.map(col): _*).distinct().alias("t")
    val cond = keys.map(k => col(s"s.$k") <=> col(s"t.$k")).reduce(_ && _)
    s.join(touched, cond, "left_anti")
      .unionByName(changelog.filter(col("op") =!= lit("d")).drop("op"))
  }

  /** The serialized form a Debezium topic actually carries: one JSON
    * string per record with the full `{before, after, op, ts_ms}`
    * envelope (reference infra/connect/mysql-source.json:17-19 configures
    * the non-Avro JsonConverter fallback). Used by tests/queries to
    * produce honest wire-format input for [[cdcUnwrapJson]].
    */
  def toCdcJson(df: DataFrame, opCol: Column, tsMs: Column): DataFrame = {
    val afterSchema = StructType(df.schema.fields.map(_.copy(nullable = true)))
    df.select(
      to_json(struct(
        lit(null).cast(afterSchema).as("before"),
        struct(df.columns.map(col): _*).as("after"),
        opCol.as("op"),
        tsMs.cast(LongType).as("ts_ms"))).as("value"))
  }

  /** S5 from the wire: decode a JSON-serialized Debezium envelope with
    * `from_json` against an explicit `after` schema, then unwrap + drop
    * tombstones exactly like [[cdcUnwrap]]. This is the real decode path
    * (a `from_avro` variant slots in behind the same signature); the
    * struct round-trip in [[toCdcEnvelope]] could never catch a decode
    * bug because it never serializes.
    *
    * Scale: from_json is a codegen'd expression evaluated in the scan
    * stage projection; rows parse once, the dropped tombstones never
    * reach the shuffle.
    */
  def cdcUnwrapJson(
      df: DataFrame,
      afterSchema: StructType): DataFrame = {
    val envelope = StructType(Seq(
      StructField("before", afterSchema, nullable = true),
      StructField("after", afterSchema, nullable = true),
      StructField("op", StringType, nullable = true),
      StructField("ts_ms", LongType, nullable = true)))
    df
      .select(from_json(col("value"), envelope).as("env"))
      .filter(col("env.op") =!= lit("d") && col("env.after").isNotNull)
      .select(col("env.after.*"))
  }

  /** Extension (driver fixture): JSON scalar extraction over
    * `events.props` (FIXTURES.md §C) — the reference's scalar surface has
    * no JSON functions, the fixture adds one.
    */
  /** Unpivot (melt): wide value columns → (key, value) long form via a
    * `stack` projection — the inverse of the pivot family. Pure
    * generated projection (one output row per input row per value
    * column, no shuffle, codegen'd); the 100 TB consideration is only
    * that output row count multiplies by |valueCols|, so unpivot AFTER
    * aggregation, not before (as q_unpivot does: pivot-aggregate first,
    * melt the tiny wide table).
    */
  def unpivot(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      keyName: String,
      valueName: String): DataFrame = {
    val pairs = valueCols
      .map(c => s"'${c.replace("'", "\\'")}', `$c`").mkString(", ")
    df.select(idCols.map(col) :+
      expr(s"stack(${valueCols.length}, $pairs) AS ($keyName, $valueName)"): _*)
  }

  def jsonGet(jsonCol: Column, path: String): Column =
    get_json_object(jsonCol, path)

  /** One-pass numeric column profile — the dbt/Deequ-style data-quality
    * summary: row count, null count, exact distinct count, min and max
    * per column, emitted long-form (one row per column).
    *
    * Single aggregation over one scan; the multi-column exact distinct
    * makes Catalyst plan an Expand (one duplicate of the input per
    * distinct aggregate), which is the standard exact shape — swap
    * `countDistinct` for `approx_count_distinct` when profiling at
    * 100 TB and the Expand collapses back to one pass. min/max surface
    * as doubles so both engines compare binary-identical values (string
    * rendering of doubles is engine-specific).
    */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c).cast("double")).as(s"${c}__min"),
        max(col(c).cast("double")).as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val pairs = cols.map { c =>
      s"'$c', `${c}__n`, `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.length}, $pairs) AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"))
  }

  /** Referential-integrity check: for each (fact, key) → (dim, key)
    * constraint, the count of orphaned foreign keys. LEFT ANTI against
    * the (broadcastable) key-only dim projection — the fact table is
    * scanned once per constraint and never shuffled when the dim side
    * broadcasts.
    */
  def riCheck(
      constraints: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    constraints.map { case (name, fact, fk, dim, pk) =>
      // alias both sides: fk and pk legitimately share a name when the
      // constraint is self-referential or conventions match key names
      fact.select(col(fk).as("_fk"))
        .join(broadcast(dim.select(col(pk).as("_pk"))),
          col("_fk") === col("_pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("constraint_name"), col("n_orphans"))
    }.reduce(_ unionAll _)

  /** Statistical mode per group with a deterministic tie-break (highest
    * count wins; equal counts go to the smallest value) — a `min_by`
    * over the ordering key `(−count, value)`, whose struct comparison
    * encodes exactly that total order.
    *
    * Scale: two hash aggregations — (key, value) counts, then one row
    * per key — both partial-aggregated map-side. No window, no sort:
    * per-key state is a single (key, count, value) struct, so this holds
    * at any cardinality where the distinct (key, value) pairs fit a
    * shuffle — unlike the row_number-over-window formulation the DuckDB
    * oracle uses, which is only viable because the counted relation is
    * already small.
    */
  def modePerGroup(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame = {
    val ks = keyCols.map(col)
    df.groupBy((ks :+ col(valCol)): _*)
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(ks: _*)
      .agg(
        min_by(col(valCol), struct((col("_cnt") * -1).as("nc"), col(valCol)))
          .as("mode_value"),
        max(col("_cnt")).as("mode_count"))
  }
}
