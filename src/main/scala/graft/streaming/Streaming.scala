package graft.streaming

import java.io.FileNotFoundException
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.model.Tables
import graft.operators.WindowOps

/** Structured-Streaming variants of the batch operators (SURVEY.md §2.5).
  *
  * Design: streaming pipelines reuse the *identical* batch expressions
  * (WindowOps.hoppingPivot, Joins.leftEnrich) — the incremental-query
  * principle from the Structured Streaming paper (SIGMOD 2018): one
  * declarative query, two execution modes. Tests assert batch ≡ streaming
  * on the same input.
  *
  * ksqlDB mapping:
  *  - `EMIT CHANGES` (ST1)  → OutputMode.Update / Complete on a sink
  *  - `TIMESTAMP='ts'` (ST2) → the event-time column fed to window()
  *  - no grace clause (ST3)  → watermark optional; [[withLateness]]
  *    documents the deliberate deviation when bounded state is required
  *  - earliest offsets (ST4) → AvailableNow over the fixture dir replays
  *    everything, like `auto.offset.reset=earliest`
  *  - TABLE upsert (S3/A6)   → [[latestByKeyStream]] via
  *    mapGroupsWithState
  */
object Streaming {

  /** Streaming read of the events fixture (file source stands in for the
    * Kafka+Avro topic; one file = one replayed partition).
    *
    * Schema + ts conversion come from [[Tables.eventsReadSpecAt]] — the
    * SAME footer-sniffed nanos/micros adaptation the batch reader uses,
    * so `eventsStream(dir) ≡ Tables.events(dir)` holds by construction on
    * every fixture format (the round-10 regression was exactly these two
    * paths diverging). The sniffed file is the first one the
    * [[fileSource]] layout rule matches, so a directory of
    * `events_NNNNN.parquet` shards alone streams too.
    */
  def eventsStream(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val source = fileSource(spark, dir, "events")
    val (schema, normalizeTs) = Tables.eventsReadSpecAt(spark, source.sample)
    // maxFilesPerTrigger bounds each micro-batch: without it,
    // AvailableNow replays the WHOLE backlog as one batch, whose live
    // shuffle footprint scales with the corpus (measured: ≥28 GB at
    // sf100 — a single-batch replay of 1 B events is a disk-capacity
    // bug, not a throughput feature; production streams see bounded
    // batches by arrival anyway)
    val reader = spark.readStream.schema(schema)
    val bounded = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n.toString))
      .getOrElse(reader)
    // one root path, not a per-file glob: see fileSource
    normalizeTs(source.load(bounded))
  }

  /** Streaming read of the documents fixture — the continuously-ingesting
    * corpus a training-data pipeline actually sees (each file = one
    * replayed ingest batch).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    fileSource(spark, dir, "documents").load(spark.readStream.schema(schema))
  }

  /** Where a file stream over `dir`'s `table` files reads from, picked
    * from the files' layout on disk:
    *  - a Spark-written table directory `<dir>/<table>.parquet/` is
    *    streamed as it is;
    *  - otherwise the flat `<table>*.parquet` files in `dir` (a fixture's
    *    single file, or a live directory's `<table>_NNNNN.parquet`
    *    shards) are streamed from `dir` through `pathGlobFilter`.
    *
    * Either way the source has ONE root path, which Spark lists on the
    * driver with a plain `listStatus` per trigger. A per-file glob such
    * as `$dir/events*.parquet` expands to one root path per file instead,
    * and past `parallelPartitionDiscovery.threshold` (32) roots every
    * listing runs as a Spark job with one task per file. (Spark lists a
    * micro-batch's own files again when it reads them, with a job too
    * once the batch has more than 32 files.)
    */
  private def fileSource(spark: SparkSession, dir: String, table: String): FileSource = {
    val tableDir = new Path(dir, s"$table.parquet")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isTableDir =
      try fs.getFileStatus(tableDir).isDirectory
      catch { case _: FileNotFoundException => false }
    if (isTableDir) FileSource(tableDir.toString, None, tableDir.toString)
    else {
      val pattern = s"$table*.parquet"
      val files =
        try fs.listStatus(new Path(dir), new GlobFilter(pattern)).filter(_.isFile)
        catch { case _: FileNotFoundException => Array.empty[FileStatus] }
      val first = files.map(_.getPath.getName).sorted.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"no $table stream input in $dir: expected a $table.parquet directory " +
            s"or files matching $pattern"))
      FileSource(dir, Some(pattern), new Path(dir, first).toString)
    }
  }

  /** A [[fileSource]] pick: the stream's single root path, the file-name
    * filter for flat files, and the first matching file (in name order)
    * or the table directory, for footer and schema reads.
    */
  private final case class FileSource(
      root: String, pathGlobFilter: Option[String], sample: String) {
    def load(reader: DataStreamReader): DataFrame =
      pathGlobFilter.fold(reader)(reader.option("pathGlobFilter", _)).parquet(root)
  }

  /** Streaming CDC aggregation WITH retractions — the ksql TABLE
    * changelog semantic applied to an aggregate: the orders stream
    * replays as a CDC log (every row an insert; late cancellations
    * re-emit as deletes), and per-customer count/sum maintain
    * incrementally because both are group-invertible — a delete is
    * just a signed update folded into the SAME streaming hash
    * aggregation, so state is one row per key forever, never growing
    * with history. `max` is deliberately absent: it is not retractable
    * in a stream (the batch [[graft.operators.Incremental.applyCdcDelta]]
    * documents the key-pruned repair it needs instead). Shares the
    * post-delete batch recompute as its oracle.
    */
  def cdcAggStream(spark: SparkSession, dir: String): DataFrame = {
    // schema rides the batch read's footer (see ordersStream below), so
    // an orders fixture format migration cannot split the two paths —
    // the round-10 events lesson applied here too
    val raw = ordersStream(spark, dir)
    val cancelled = col("o_orderdate") < to_timestamp(lit("1998-01-01")) &&
      col("o_orderkey") % 7 === 0
    val inserts = raw.select(col("o_custkey"), col("o_totalprice"),
      lit("i").as("op"))
    val deletes = raw.filter(cancelled)
      .select(col("o_custkey"), col("o_totalprice"), lit("d").as("op"))
    signedOrderAgg(inserts.unionByName(deletes))
  }

  /** The signed (retracting) aggregation [[cdcAggStream]] runs: input
    * is a CDC op-log (o_custkey, o_totalprice, op ∈ i/d), batch or
    * streaming — deletes carry sign −1 into the same hash agg. Integer
    * cents inside the state, same as the batch MV: signed merge order
    * cannot perturb a long sum, across partitions OR micro-batches.
    */
  def signedOrderAgg(cdcLog: DataFrame): DataFrame = {
    val sign = when(col("op") === "d", -1L).otherwise(1L)
    cdcLog
      .groupBy(col("o_custkey"))
      .agg(
        sum(sign).as("n_orders"),
        sum(sign * floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("price_cents"))
      .filter(col("n_orders") > 0) // fully-retracted keys leave the table
      .select(col("o_custkey"), col("n_orders"),
        (col("price_cents") / 100.0).as("total_price"),
        round(col("price_cents") / 100.0 / col("n_orders"), 6).as("avg_price"))
  }

  /** Streaming eval-leakage check: the ingest stream's shingles
    * stream-static-join the (small, static) benchmark shingle relation,
    * then aggregate per doc — the same TextOps.contamination expression
    * incrementally executed (batch ≡ streaming shares one oracle). At
    * scale the benchmark side broadcasts per micro-batch and per-doc
    * state lives in the store until the doc's shingles are all seen.
    */
  def contaminationStream(spark: SparkSession, dir: String): DataFrame = {
    val stream = documentsStream(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val benchmark = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    graft.llm.TextOps.contamination(stream, benchmark)
  }

  /** ST3 production posture: bound state with a watermark (documented
    * deviation from ksql 5.4's unbounded-retention default).
    *
    * REPLAY caveat: a watermark assumes arrival order ≈ event-time
    * order. Replaying a hash-partitioned corpus in bounded micro-batches
    * violates that — batch 1 spans the whole time range, the watermark
    * jumps to global-max − delay, and every later batch's rows are
    * "late" and silently dropped (measured at sf10: 2/3 of the corpus
    * gone, caught by StreamScale's state≡batch check). Multi-batch
    * replays of unordered files must pass an effectively-infinite
    * delay ([[ReplayLateness]]); a live stream keeps the real one.
    */
  def withLateness(df: DataFrame, delay: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", delay)

  /** Effectively-infinite watermark delay for bounded-batch replays of
    * non-time-ordered files (see [[withLateness]]'s replay caveat):
    * late-drop never fires, state is never early-evicted — the same
    * end-state a single-batch AvailableNow replay produces.
    */
  val ReplayLateness = "36500 days"

  val DefaultStateProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDbStateProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** In-heap bytes per live state entry for the hopping-pivot shape
    * (key struct + windowed counts + min/max ts), as REPORTED by the
    * default provider's `stateOperators.memoryUsedBytes` at the sf1
    * decade point: 1.61 GB peak across progresses ÷ 4.96 M peak rows =
    * 324.8 B (StateHeapProbe; SCALE.md §"Round 14: state-store
    * provider"). A sizing constant, not a physics one: wider
    * aggregation values scale it linearly, and the decision's
    * heap-fraction margin covers the shape variation the probe
    * measured.
    */
  val MeasuredStateBytesPerEntry = 325L

  /** The [[stateProviderFor]] margins: state-map versions the default
    * provider holds on heap while a new one commits
    * (`numVersionsToRetainInMemory`), and the heap share live state may
    * take (the rest is the query's working set: shuffle, sink batches,
    * codegen).
    */
  val RetainedStateVersions = 2
  val StateHeapFraction = 0.5

  /** ST6 sizing decision: which state-store provider can hold
    * `estStateRows` live entries. The default provider keeps
    * [[RetainedStateVersions]] copies of the state map ON HEAP and wins
    * the measured 1.7–1.9× RocksDB tax while that fits
    * (SCALE.md: 5 M and 50 M entries); RocksDB keeps state in native
    * memory + local SST files and is the only provider that survives
    * state ≫ heap — the third streaming decade's territory. The flip
    * is the conservative inequality: estimated live bytes × retained
    * versions must fit in [[StateHeapFraction]] of the heap. Wrong
    * in the safe direction by construction when fed
    * [[graft.operators.WindowOps.hoppingStateUpperBound]] — an
    * over-estimate pays the documented tax, never an OOM.
    */
  def stateProviderFor(
      estStateRows: Long,
      heapBytes: Long = Runtime.getRuntime.maxMemory,
      bytesPerEntry: Long = MeasuredStateBytesPerEntry): String = {
    require(estStateRows >= 0 && heapBytes > 0 && bytesPerEntry > 0)
    val need = BigInt(estStateRows) * bytesPerEntry * RetainedStateVersions
    if (need <= BigInt((heapBytes * StateHeapFraction).toLong)) DefaultStateProvider
    else RocksDbStateProvider
  }

  /** No-knob provider choice for a file-backed event stream over `dir`:
    * estimate the pivot's live state from the stream's BATCH twin (an
    * unbounded source can't be sampled, but a file stream's directory
    * can — a Kafka deployment would sample a bounded offset range the
    * same way), pick the provider, and return an isolated session
    * (private SQLConf — [[graft.Sessions.isolatedSession]]) carrying
    * it. BUILD the streaming query on the returned session: provider
    * class resolves from the constructing session's conf, and the
    * isolation means concurrent queries with different state scales
    * cannot cross-contaminate, the same contract as per-query
    * shuffle-width autosizing. `heapBytes` is the state-holding JVM's
    * heap: this process in local mode (the default), the per-executor
    * heap on a cluster.
    */
  def autoStateSession(
      spark: SparkSession,
      dir: String,
      heapBytes: Long = Runtime.getRuntime.maxMemory): (SparkSession, String) = {
    val est = WindowOps.hoppingStateUpperBound(
      Tables.events(spark, dir))
    stateSessionFor(spark, "autoStateSession", est, heapBytes, MeasuredStateBytesPerEntry)
  }

  /** The two pickers' shared tail: pick, record under `op`, and return
    * an isolated session carrying the pick.
    */
  private def stateSessionFor(spark: SparkSession, op: String, est: Long,
      heapBytes: Long, bytesPerEntry: Long): (SparkSession, String) = {
    val provider = stateProviderFor(est, heapBytes, bytesPerEntry)
    // threshold in the estimate's own unit: live rows that fit the heap
    graft.Sessions.recordDecision(op, est.toDouble,
      heapBytes * StateHeapFraction / (bytesPerEntry * RetainedStateVersions.toDouble),
      provider.split('.').last)
    val s2 = graft.Sessions.isolatedSession(spark)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    // a RocksDB pick means the state-≫-heap regime — its checkpoint
    // posture is part of the same decision (measured: the defaults
    // killed the sf100 pivot on DISK, not heap)
    if (provider == RocksDbStateProvider) applyBigStateConfs(s2)
    (s2, provider)
  }

  /** In-heap bytes per live SESSION state entry (key + session window
    * struct + count/min/max aggregates), as reported by the default
    * provider's `stateOperators.memoryUsedBytes` peak at the sf1 decade
    * point: 426.6 MB ÷ 954,650 peak rows = 446.9 B (StateHeapProbe
    * --pipeline=session; the bound estimated 998,543 — +4.6 %, the safe
    * direction; SCALE.md r15). Session entries carry the same key +
    * window-bounds shape as hopping entries, so the constants land
    * close (325 vs 447); measured separately because the decision's
    * input should be the measured value, not an analogy.
    */
  val MeasuredSessionStateBytesPerEntry = 447L

  /** [[autoStateSession]]'s counterpart for SESSION-window pipelines
    * (r14 VERDICT #5: `hoppingStateUpperBound` is hop-specific — state
    * per hop window is rows×hops-capped — while merging session state
    * follows a data-dependent growth law, so the hopping bound cannot
    * size it). Same contract: estimate live state from the stream's
    * batch twin via the bounded file sample
    * ([[graft.operators.WindowOps.sessionStateUpperBound]]), price at
    * the measured session bytes/entry, pick the provider, return an
    * isolated session carrying it; RocksDB picks also get the big-state
    * checkpoint posture.
    */
  def autoStateSessionWindow(
      spark: SparkSession,
      dir: String,
      heapBytes: Long = Runtime.getRuntime.maxMemory): (SparkSession, String) = {
    val est = WindowOps.sessionStateUpperBound(
      Tables.events(spark, dir))
    stateSessionFor(spark, "autoStateSessionWindow", est, heapBytes,
      MeasuredSessionStateBytesPerEntry)
  }

  /** Checkpoint posture for state ≫ heap streaming jobs. Two confs,
    * both disk-side — at large state the checkpoint, not the heap, is
    * what fails first (measured, third streaming decade: with the
    * defaults the sf100 pivot's ~500 M-entry state accumulated a full
    * SST snapshot per micro-batch under `minBatchesToRetain`'s
    * 100-batch retention, passed 19 GB of checkpoint plus 30 GB of
    * working SSTs, and died on ENOSPC mid-run):
    *  - RocksDB changelog checkpointing uploads per-batch DELTAS and
    *    snapshots only periodically, so checkpoint growth tracks
    *    CHANGE volume, not state volume × batches;
    *  - retaining 2 committed batches (the minimum that keeps
    *    last-batch recovery) caps what maintenance must keep.
    * Recovery semantics are unchanged — StreamingSpec's mid-stream
    * restart test passes under this posture. Returns the session for
    * chaining.
    *
    * Builder-side companion (context-level, so it cannot be set here):
    * long replay jobs also want `spark.cleaner.periodicGC.interval`
    * lowered (e.g. 60s) — shuffle-file cleanup is GC-driven, and a
    * large heap under no allocation pressure never GCs, so finished
    * micro-batches' shuffle files accumulate unboundedly (measured:
    * 29 GB of stale blocks in 9 min at sf100; StreamScale sets it).
    */
  def applyBigStateConfs(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    quietRocksDbNativeLogging()
    spark
  }

  /** Route RocksDB's native log stream away from the JNI callback
    * (r15 VERDICT #7): Spark's state-store wrapper registers a
    * `LoggerJniCallback` whose native `InfoLogLevel` FOLLOWS the slf4j
    * level of the wrapper class — at the probes' root WARN level every
    * background flush/compaction warning crosses the JNI boundary, and
    * three probe runs died SIGSEGV inside `LoggerJniCallback::Logv`
    * (the known native-logs-racing-close hazard; hs_err_pid{12300,
    * 28103,10144}, r15). Pinning the wrapper's logger to ERROR drops
    * the native level to ERROR_LEVEL (the wrapper's own floor), so
    * routine background chatter never enters the callback. State-store
    * correctness is unaffected — this only silences rocksdb's internal
    * LOG mirror.
    */
  def quietRocksDbNativeLogging(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.RocksDB",
      org.apache.logging.log4j.Level.ERROR)

  /** Run `writer`'s query over the input present when it starts
    * (Trigger.AvailableNow, in micro-batches bounded by source limits
    * such as `maxFilesPerTrigger` — ST4's earliest-offsets replay) and
    * return the terminated query, whose progress and
    * [[finalWatermarkSec]] stay readable. A checkpoint goes on `writer`;
    * a live stream sets its own trigger and starts the writer itself.
    */
  def runToEnd(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Run a streaming DataFrame to completion over the finite fixture
    * (Trigger.AvailableNow) into a memory sink; return the materialized
    * result. This is a *real* incremental execution — state store,
    * micro-batches — not a batch fallback.
    */
  def runToMemory(
      spark: SparkSession,
      streamed: DataFrame,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val name = "mem_" + UUID.randomUUID().toString.replace("-", "")
    runToEnd(streamed.writeStream.format("memory").queryName(name).outputMode(mode))
    spark.table(name)
  }

  /** The flagship's streaming features (README.md:41-70 shape): the
    * hopping pivot over the event stream, aggregation state in the
    * state store. The flagship enriches and scores it with the model's
    * own feature relation, [[graft.ml.Trainer.featureRelation]], whose
    * static dims broadcast per micro-batch.
    */
  def hoppingPivotStream(spark: SparkSession, dir: String): DataFrame =
    WindowOps.hoppingPivot(eventsStream(spark, dir),
      eventTypes = Tables.EventTypes)

  /** The engine's streaming sink (S6/S7): the reference's Kafka-topic
    * CSAS sink and Mongo Connect sink both reduce to "write each emitted
    * micro-batch to an external store" — parquet here; a
    * `.format("mongodb")`/`.format("kafka")` write is the whole swap.
    * Returns the writer unstarted: [[runToEnd]] replays the finite
    * input; a checkpoint or another trigger goes on the writer.
    *
    * Micro-batch N is written to `path/batch_id=N` with OVERWRITE.
    * `foreachBatch` is AT-LEAST-once (after a crash the in-flight batch
    * re-runs under the same id), so this idempotent write plus a
    * replayable source is end-to-end exactly-once, the Structured
    * Streaming paper's recipe: a replay replaces its own output, even
    * when `transform` read CHANGED dims the second time. (No `_` prefix:
    * file discovery skips `_`-prefixed directories.)
    *
    * By `mode`: Update (default) makes a CHANGELOG of every re-emission,
    * compacted by [[readChangelogState]] the way the reference's Mongo
    * upsert sink (infra/connect/mongo-sink.json) or a compacted Kafka
    * topic is read; Append writes each result row once; Complete the
    * full result per batch.
    *
    * `transform(batch, batchId)` runs per micro-batch in BATCH land, the
    * continuously-updated-TABLE join (r15 VERDICT #2): a stream-static
    * join freezes the dim's FILE LISTING at plan time, but the
    * reference's `users` TABLE is CDC-maintained (README.md:29,56-58); a
    * `spark.read.parquet(dimPath)` inside `transform` re-resolves per
    * batch (a small dim still broadcasts), so a refresh between batches
    * N and N+1 reaches every emission from N+1 on.
    *
    * SESSION windows take `OutputMode.Append()`: Spark rejects Update
    * for them (`STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION`), as merging
    * sessions have no stable upsert key. Each session is emitted EXACTLY
    * ONCE when the watermark passes its end (last event + gap), with no
    * key to compact on, so the per-batch overwrite is what keeps a
    * replay from duplicating sessions. State holds only the open
    * sessions inside the lateness horizon, so a bounded-batch replay
    * must arrive roughly time-ordered (StreamScale --session range-sorts
    * its corpus): the infinite [[ReplayLateness]] would keep every
    * session open and emit nothing. Sessions still open at end-of-input
    * are the batch twin's sessions ending after [[finalWatermarkSec]] of
    * the query [[runToEnd]] returns.
    */
  def changelogWriter(
      streamed: DataFrame,
      path: String,
      mode: OutputMode = OutputMode.Update())(
      transform: (Dataset[Row], Long) => DataFrame = (b, _) => b): DataStreamWriter[Row] =
    streamed.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        transform(batch, batchId).write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
      }

  /** [[changelogWriter]] with a per-batch `transform`, run to the end of
    * the input.
    */
  def sinkChangelogWith(streamed: DataFrame, path: String)(
      transform: (Dataset[Row], Long) => DataFrame): Unit =
    runToEnd(changelogWriter(streamed, path)(transform)): Unit

  /** Recover current state from an Update-mode [[changelogWriter]]
    * directory: the upsert view a document store would hold after
    * consuming the stream — each key's row from its newest `batch_id`.
    */
  def readChangelogState(
      spark: SparkSession, path: String, keyCols: Seq[String]): DataFrame =
    graft.operators.Relational
      .latestByKey(spark.read.parquet(path), keyCols, Seq("batch_id"))
      .drop("batch_id")

  /** The terminated query's final event-time watermark, as epoch
    * seconds — the boundary below which every session has been emitted
    * exactly once (and above which the batch twin's sessions are the
    * expected open tail).
    */
  def finalWatermarkSec(q: StreamingQuery): Option[Long] =
    Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).getEpochSecond)

  /** Streaming exact dedup: drop duplicate keys as the stream arrives,
    * with state bounded by the watermark (duplicates arriving within the
    * lateness window are caught; state for older keys is evicted). The
    * streaming analog of llm.Dedup.exact — same content-fingerprint key.
    */
  def dedupStream(
      df: DataFrame,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming exact distinct over the event stream, projected to the
    * key columns — the unbounded-state companion of [[dedupStream]]
    * (which bounds state by watermark TTL). Emitting ONLY the key makes
    * the streaming result order-insensitive and therefore equal, as a
    * set, to batch `SELECT DISTINCT` — the shared-oracle trick the
    * other streaming queries use. State: one entry per distinct key, so
    * use this shape when the key domain is bounded (users × types);
    * use [[dedupStream]] when it is not.
    */
  def distinctKeysStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .select("user_id", "event_type")
      .dropDuplicates(Seq("user_id", "event_type"))

  /** Streaming token-budget admission: the per-source running token
    * total lives in the state store (ONE long per group), and a document
    * is admitted iff the group's cumulative total — which every doc
    * advances, admitted or not — stays within the budget. Same
    * `cum_tokens <= budget` prefix rule as the batch
    * [[graft.llm.Sampling.tokenBudgetSample]]; the difference is the
    * order the prefix is taken in: a stream cannot globally hash-sort
    * first, so docs are walked in md5-hash order WITHIN each micro-batch
    * and arrival order across batches. A single-batch run is therefore
    * bit-identical to the batch operator (spec-asserted); multi-batch
    * runs keep the budget invariant exactly.
    *
    * At scale: state is 8 bytes per source/domain — the mixing-policy
    * unit — so the state store never grows with the corpus.
    */
  def tokenBudgetStream(
      docs: DataFrame,
      budgetTokens: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val md5Hex8 = (id: Long) => {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(String.valueOf(id).getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    docs
      .select(col("doc_id").cast("long").as("_id"),
        col("source").cast("string").as("_g"),
        size(graft.llm.TextOps.tokens(col("text"))).cast("long").as("_n"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(Long, String, Long)], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val ordered = rows.toSeq.sortBy(t => (md5Hex8(t._1), t._1))
          val out = ordered.flatMap { case (id, g, n) =>
            cum += n // every doc advances the total — strict prefix rule
            if (cum <= budgetTokens) Some((id, g, n, cum)) else None
          }
          state.update(cum)
          out.iterator
      }
      .toDF("doc_id", "source", "n_tokens", "cum_tokens")
  }

  /** S3/A6 streaming TABLE semantics: continuously-updating latest row
    * per key via mapGroupsWithState (the reference's RocksDB-backed
    * changelog table, ST6). Emits the current latest per key each batch;
    * Update output mode ≈ `EMIT CHANGES` on a TABLE.
    *
    * At scale: state is one row per key (the upsert invariant); skewed
    * keys cost nothing extra since state size is key-bounded, not
    * event-bounded.
    */
  def latestByKeyStream(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "latestByKeyStream needs >= 1 order column")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val ordIdxs = orderCols.map(schema.fieldIndex)
    val enc = Encoders.row(schema)
    implicit val rowEnc = enc
    implicit val strEnc = Encoders.STRING
    implicit val tupleEnc = Encoders.tuple(Encoders.STRING, enc)
    // order by each column's natural ordering in turn (lexicographic over
    // the order columns; same tie-break chain as the batch max_by struct)
    // — Timestamp, numeric, String, Date, Instant are all Comparable;
    // hash-based fallbacks would elect arbitrary rows as "latest"
    val one = new Ordering[Any] {
      def compare(x: Any, y: Any): Int = (x, y) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (a: Comparable[_], b) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b)
        case (a, _) => throw new IllegalArgumentException(
          s"latestByKeyStream: order column type ${a.getClass} is not Comparable")
      }
    }
    val rowOrd = new Ordering[Row] {
      def compare(x: Row, y: Row): Int =
        ordIdxs.iterator.map(i => one.compare(x.get(i), y.get(i)))
          .find(_ != 0).getOrElse(0)
    }
    val updated = df
      .groupByKey(r => String.valueOf(r.get(keyIdx)))
      .mapGroupsWithState[Row, (String, Row)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val all = (state.getOption.iterator ++ rows).toSeq
          val latest = all.max(rowOrd)
          state.update(latest)
          (key, latest)
      }
      .map(_._2)(enc)
    updated
  }

  /** `CREATE STREAM <name> WITH (VALUE_FORMAT='AVRO')` with NO column
    * list: define a typed stream straight from the registry-served Avro
    * schema JSON over a binary-valued topic stand-in, and register it in
    * the session catalog so subsequent `spark.sql` statements query it by
    * name — the reference's registry-inferred stream definition as a
    * catalog-level convenience (decode mechanics in
    * [[graft.sources.KafkaIO.fromAvroInferred]]).
    */
  def defineStream(
      spark: SparkSession,
      name: String,
      avroSchemaJson: String,
      binaryTopic: DataFrame): DataFrame = {
    val typed = graft.sources.KafkaIO
      .fromAvroInferred(binaryTopic, avroSchemaJson)
    typed.createOrReplaceTempView(name)
    typed
  }

  /** Stream-stream interval self-join — clicks within the 600 s before
    * each purchase, BOTH sides incremental (the genuinely two-sided
    * stateful join ksql's `JOIN … WITHIN` maps to; unlike the
    * stream-static enrich, neither side is a table). Both sides carry a
    * watermark so each side's state is evicted once the other side's
    * event time passes the join range — state is bounded by
    * rate × (lateness + interval), not by the stream length. Inner join
    * ⇒ matches emit as they arrive (Append), so the finite-fixture
    * replay produces exactly the batch join (spec + shared oracle).
    */
  def intervalJoinStream(spark: SparkSession, dir: String): DataFrame =
    purchaseClickIntervalJoin(spark, dir, "inner")

  /** Shared purchase⋈click interval-join construction — the inner and
    * LEFT OUTER variants differ only in the join type, so the watermark
    * delay and the 600 s band live in exactly one place.
    */
  private def purchaseClickIntervalJoin(
      spark: SparkSession, dir: String, joinType: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    // watermark while the event-time column is still named ts; the rename
    // afterwards preserves the watermark metadata
    val p = withLateness(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts")),
      "10 minutes").withColumnRenamed("ts", "p_ts")
    val c = withLateness(
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts")),
      "10 minutes").withColumnRenamed("ts", "c_ts")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 600 SECONDS") &&
        col("c_ts") <= col("p_ts"),
      joinType)
      .select(col("purchase_id"), col("click_id"))
  }


  /** Stream-stream LEFT OUTER interval join: every purchase, with its
    * attributing clicks when any exist inside the 600 s window, or a
    * NULL click when the watermark has proven none can arrive. The
    * state-cleanup semantics ST6 actually tests: an unmatched left row
    * is held in the state store until the watermark passes its join
    * window's upper bound, THEN emitted with nulls and evicted —
    * bounded state, late-proof nulls.
    *
    * Determinism note (why this can share a batch oracle): with
    * AvailableNow over a finite fixture the final watermark is
    * max(ts) − delay, so exactly the unmatched purchases with
    * p_ts < final watermark get their null row. The oracle reproduces
    * that cutoff with a scalar subquery; StreamingSpec asserts the same
    * relation against the batch left join directly.
    */
  def intervalJoinOuterStream(spark: SparkSession, dir: String): DataFrame =
    purchaseClickIntervalJoin(spark, dir, "left_outer")


  /** Streaming read of the orders fixture (schema lifted from the
    * footer of the first file the [[fileSource]] rule matches — one
    * metadata-only pass).
    */
  def ordersStream(spark: SparkSession, dir: String): DataFrame = {
    val source = fileSource(spark, dir, "orders")
    source.load(spark.readStream.schema(spark.read.parquet(source.sample).schema))
  }
}
