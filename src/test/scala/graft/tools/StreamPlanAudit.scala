package graft.tools

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streaming

/** Plan audit for the STREAMING surface — the 15 queries PlanAudit
  * skips. Each representative pipeline runs AvailableNow into the
  * engine's changelog sink (a temp directory); afterwards
  * `StreamingQuery.explain()` (the public API for the last
  * micro-batch's executed plan) is captured and
  * reduced to the batch counts PLUS the stateful-operator counts that
  * are the streaming scale story: where StateStoreRestore/Save pairs
  * sit, that a stream-static enrich broadcasts per micro-batch rather
  * than shuffling the stream, that a stream-stream interval join plans
  * ONE symmetric-hash join with two keyed state stores, and that
  * dedup/flatMapGroupsWithState shapes carry exactly one stateful
  * operator. Writes STREAM_PLANS.json (committed, diffable — same
  * workflow as PLANS.json).
  *
  * Usage: sbt "Test/runMain graft.tools.StreamPlanAudit [sfDir] [outFile]"
  */
object StreamPlanAudit {

  final case class StreamCounts(
      stateStoreRestores: Int, stateStoreSaves: Int,
      streamingDedups: Int, symmetricHashJoins: Int,
      flatMapGroupsWithState: Int, sessionWindowStores: Int)

  def streamCountsOf(plan: String): StreamCounts = {
    def n(re: String): Int = re.r.findAllMatchIn(plan).length
    StreamCounts(
      // lookbehind: SessionWindowStateStoreSave/Restore contain the
      // plain tokens as substrings and must count ONLY as session stores
      stateStoreRestores = n("(?<!SessionWindow)StateStoreRestore"),
      stateStoreSaves = n("(?<!SessionWindow)StateStoreSave"),
      // plain + WithinWatermark variants both start with this token
      streamingDedups = n("StreamingDeduplicate"),
      symmetricHashJoins = n("StreamingSymmetricHashJoin"),
      flatMapGroupsWithState = n("FlatMapGroupsWithState"),
      sessionWindowStores = n("SessionWindowStateStore"))
  }

  /** Structural invariants every streaming pipeline's plan must satisfy
    * — the STREAM_PLANS checks promoted from offline-audit knowledge to
    * a pure, spec-testable function (r14 VERDICT #7). Violations, empty
    * when healthy:
    *  - StateStoreRestore/Save must PAIR (a windowed agg reads its
    *    prior state exactly once per save; an unpaired count means a
    *    duplicated or dropped stateful exchange);
    *  - session-window stores come as exactly one Restore/Save pair (2
    *    nodes) with ZERO plain stores beside them (a phantom plain
    *    store next to a session store would double state writes);
    *  - a stream-stream join plans ONE symmetric-hash operator, never a
    *    batch join strategy (SMJ on an unbounded side buffers forever).
    *    `expectsStreamStreamJoin` (derived from the pipeline name when
    *    not passed — the interval-join pipelines are the only
    *    stream-stream shapes) closes the r15 ADVICE gap: a join
    *    mis-planned ENTIRELY as SortMergeJoin has symmetricHashJoins ==
    *    0 and previously slipped the old `shj > 0 && smj > 0` guard;
    *    now such pipelines must plan EXACTLY one symmetric-hash
    *    operator and zero SMJs.
    */
  def violations(
      name: String, c: StreamCounts, sortMergeJoins: Int = 0,
      expectsStreamStreamJoin: Option[Boolean] = None): Seq[String] = {
    val expectsSSJoin =
      expectsStreamStreamJoin.getOrElse(name.startsWith("interval_join"))
    val v = Seq.newBuilder[String]
    if (c.stateStoreRestores != c.stateStoreSaves)
      v += s"$name: unpaired StateStoreRestore/Save " +
        s"(${c.stateStoreRestores}/${c.stateStoreSaves})"
    if (c.sessionWindowStores > 0 && c.sessionWindowStores != 2)
      v += s"$name: session stores must be one Restore/Save pair, " +
        s"found ${c.sessionWindowStores} nodes"
    if (c.sessionWindowStores > 0 &&
        (c.stateStoreSaves > 0 || c.stateStoreRestores > 0))
      v += s"$name: phantom plain state store beside a session store"
    if (c.symmetricHashJoins > 0 && sortMergeJoins > 0)
      v += s"$name: batch SortMergeJoin in a stream-stream join plan"
    if (expectsSSJoin && c.symmetricHashJoins != 1)
      v += s"$name: stream-stream join must plan exactly ONE " +
        s"symmetric-hash operator, found ${c.symmetricHashJoins}"
    if (expectsSSJoin && sortMergeJoins > 0)
      v += s"$name: stream-stream join planned ${sortMergeJoins} batch " +
        "SortMergeJoin(s)"
    v.result()
  }

  /** Run the stream to completion into a temp changelog and return the
    * last micro-batch's executed-plan text via the public explain() API.
    */
  def lastBatchPlan(
      streamed: DataFrame, mode: OutputMode): String = {
    val out = java.nio.file.Files.createTempDirectory("stream_plan").toString
    val q = Streaming.runToEnd(Streaming.changelogWriter(streamed, out, mode)())
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf) { q.explain() }
    buf.toString("UTF-8")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("STREAM_PLANS.json")
    val spark = graft.Sessions.local(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.maxMetadataStringLength" -> "10000",
      "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

    val entries: Seq[(String, OutputMode, SparkSession => DataFrame)] = Seq(
      ("hopping_pivot", OutputMode.Complete(),
        s => Streaming.hoppingPivotStream(s, dir)),
      ("flagship_enrich", OutputMode.Complete(),
        s => graft.ml.Trainer.featureRelation(s, Streaming.hoppingPivotStream(s, dir), dir)),
      ("contamination", OutputMode.Complete(),
        s => Streaming.contaminationStream(s, dir)),
      ("cdc_agg", OutputMode.Complete(),
        s => Streaming.cdcAggStream(s, dir)),
      ("dedup_watermark", OutputMode.Update(),
        s => Streaming.dedupStream(
          Streaming.eventsStream(s, dir), Seq("user_id", "event_type"))),
      ("distinct_keys", OutputMode.Append(),
        s => Streaming.distinctKeysStream(s, dir)),
      ("token_budget", OutputMode.Append(),
        s => Streaming.tokenBudgetStream(
          Streaming.documentsStream(s, dir), budgetTokens = 700L)),
      ("interval_join", OutputMode.Append(),
        s => Streaming.intervalJoinStream(s, dir)),
      ("interval_join_outer", OutputMode.Append(),
        s => Streaming.intervalJoinOuterStream(s, dir)),
      ("session_window", OutputMode.Complete(),
        s => graft.operators.WindowOps.sessionAgg(
          Streaming.eventsStream(s, dir), gap = "30 minutes")))

    val rows = entries.map { case (name, mode, build) =>
      try {
        val plan = lastBatchPlan(build(spark.newSession()), mode)
        val c = PlanAudit.countsOf(plan)
        val s = streamCountsOf(plan)
        sys.env.get("GRAFT_PLAN_DUMP_DIR").foreach { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"stream_$name.txt"),
            plan.getBytes("UTF-8"))
        }
        s"""  "$name": {"stateStoreRestores": ${s.stateStoreRestores}, """ +
          s""""stateStoreSaves": ${s.stateStoreSaves}, """ +
          s""""streamingDedups": ${s.streamingDedups}, """ +
          s""""symmetricHashJoins": ${s.symmetricHashJoins}, """ +
          s""""flatMapGroupsWithState": ${s.flatMapGroupsWithState}, """ +
          s""""sessionWindowStores": ${s.sessionWindowStores}, """ +
          s""""shuffleExchanges": ${c.shuffleExchanges}, """ +
          s""""broadcastExchanges": ${c.broadcastExchanges}, """ +
          s""""broadcastHashJoins": ${c.broadcastHashJoins}, """ +
          s""""sortMergeJoins": ${c.sortMergeJoins}}"""
      } catch {
        case scala.util.control.NonFatal(e) =>
          s"""  "$name": {"error": "${e.getClass.getSimpleName}"}"""
      }
    }
    val json = rows.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[streamplanaudit] wrote ${rows.length} pipelines to $out")
    spark.stop()
  }
}
