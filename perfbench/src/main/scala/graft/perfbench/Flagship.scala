package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.SparkEntry
import graft.ml.{LocalScorer, Registry, Scorer, Trainer}
import graft.model.Tables
import graft.operators.WindowOps
import graft.sources.DimStore
import graft.streaming.Streaming

/** `flagship_stream`: the reference bot detector as one streaming query
  * over generated clickstream files — `withLateness` → `hoppingPivot` →
  * per-micro-batch `DimStore.read` → `scoredFlagshipWith` (which scores
  * with `predict`) → an upsert changelog with one `batch_id=N` directory
  * per micro-batch, the layout `Streaming.sinkChangelogWith` writes.
  *
  * Two phases in one query. Catch-up (closed loop): a backlog of files in
  * bounded micro-batches; it measures capacity. Live (open loop): files
  * released on a fixed schedule for `--seconds`, independent of how fast
  * the query keeps up, while new dimension versions are published on a
  * fixed cadence; it measures latency.
  */
object Flagship {
  val Name = "flagship_stream"

  /** User ids are sf0.1 customer keys, so the enrichment joins hit. */
  val Spec: Gen.StreamSpec = Gen.StreamSpec(users = Gen.Sizes(0.1).customer,
    eventsPerFile = 200, fileSpanSec = 60, disorderSec = 240)
  val Lateness = "10 minutes"
  val WarmFiles = 5
  val BacklogFiles = 48
  val MaxFilesPerTrigger = 12
  /** Live release rate, files per second; well below catch-up capacity. */
  val LiveRate = 4.0
  val PublishEverySec = 2.5
  val TrainingFiles = 10
  /** Live files at least, whatever `--seconds`; with 40 the p75 latency
    * keeps ten files beyond it.
    */
  val MinLiveFiles = 40
  val TailPct = 75
  val Model = "Bot Detector"

  private def fileName(i: Int): String =
    if (i == 0) "events.parquet" else f"events_$i%05d.parquet"

  /** Writes files `evs` into `dir` as the stream sees them, with
    * modification times in file order so the source consumes them in order.
    */
  private def writeFiles(dir: String, files: Seq[Seq[Gen.Ev]], mtimeBaseMs: Long): Unit =
    files.zipWithIndex.foreach { case (evs, i) =>
      val p = Paths.get(dir, fileName(i))
      Gen.writeEvents(p, evs)
      p.toFile.setLastModified(mtimeBaseMs + i * 10L)
    }

  def run(a: Harness.Args): Harness.Result = {
    val w = a.work
    val base = s"$w/data"
    val nLive = math.max(MinLiveFiles, math.ceil(LiveRate * a.seconds).toInt)
    val streamDir = s"$w/stream"
    val staged = s"$w/live-staged"
    val files = Gen.clickstream(Spec, a.seed, WarmFiles + BacklogFiles + nLive)
    val live = files.drop(WarmFiles + BacklogFiles)
    Harness.step("generate inputs") {
      val sizes = Gen.Sizes(0.1)
      Gen.dims(base, sizes, a.seed)
      Gen.orders(base, sizes, a.seed)
      // the model trains on a separate draw of the same stream
      Gen.writeEvents(Paths.get(base, "events.parquet"),
        Gen.clickstream(Spec, a.seed + 1, TrainingFiles).flatten)
      writeFiles(s"$w/warm", files.take(WarmFiles), System.currentTimeMillis() - 3600000L)
      val mtime0 = System.currentTimeMillis() - 1800000L
      writeFiles(streamDir, files.slice(WarmFiles, WarmFiles + BacklogFiles), mtime0)
      live.zipWithIndex.foreach { case (evs, i) =>
        val p = Paths.get(staged, fileName(BacklogFiles + i))
        Gen.writeEvents(p, evs)
        p.toFile.setLastModified(mtime0 + (BacklogFiles + i) * 10L)
      }
    }

    val spark = Harness.step("start session")(Harness.session(w))
    val tracer = new Tracer(spark)
    val registry = new Registry(s"$w/registry")
    val trainT0 = System.nanoTime()
    Harness.step("train model")(
      Trainer.trainAndRegister(spark, base, registry, Model, useCv = false))
    val trainS = (System.nanoTime() - trainT0) / 1e9
    Scorer.registerPredictUdf(spark, registry.rootDir, preload = Seq(Model))

    // dimension versions: v1 is published now; each later one, published
    // during live, moves a different tenth of the users to another country
    val dimRoot = s"$w/dims"
    val dimStage = s"$w/dim-stage"
    val nVersions = 1 + math.ceil(a.seconds / PublishEverySec).toInt
    Harness.step("stage dimension versions") {
      SparkEntry.flagshipDims(spark, base).write.parquet(s"$dimStage/1")
      (2 to nVersions).foreach { v =>
        spark.read.parquet(s"$dimStage/1")
          .withColumn("country", when(pmod(col("c_custkey"), lit(10)) === v % 10,
            lit(s"MOVED_$v")).otherwise(col("country")))
          .write.parquet(s"$dimStage/$v")
      }
    }
    val stagedOf = new ConcurrentHashMap[String, String]() // version dir -> staged copy
    def publish(v: Int): Unit = {
      val path = DimStore.publish(spark.read.parquet(s"$dimStage/$v"), dimRoot, numFiles = 1)
      stagedOf.put(Paths.get(path).getFileName.toString, s"$dimStage/$v")
    }
    publish(1)
    SparkEntry.flagshipOrderCounts(spark, base).write.parquet(s"$w/orders")
    val orders = spark.read.parquet(s"$w/orders")

    val versionOf = new ConcurrentHashMap[Long, String]()
    val batchEndUs = new ConcurrentHashMap[Long, Long]()
    def transform(b: Dataset[Row], id: Long): DataFrame = {
      val trace = id.toString
      val dims = tracer.span(trace, "dimstore.read")(DimStore.read(spark, dimRoot))
      versionOf.put(id, Paths.get(dims.inputFiles.head).getParent.getFileName.toString)
      tracer.span(trace, "entry.build")(SparkEntry.scoredFlagshipWith(b.toDF(), dims, orders))
    }
    def pivotOf(events: DataFrame): DataFrame =
      WindowOps.hoppingPivot(Streaming.withLateness(events, Lateness),
        eventTypes = Tables.EventTypes)

    // untimed warm-up: the same pipeline through Streaming.sinkChangelogWith
    Harness.step("warm-up stream")(Streaming.sinkChangelogWith(
      pivotOf(Streaming.eventsStream(spark, s"$w/warm", Some(WarmFiles))),
      s"$w/warm-out")(transform))
    versionOf.clear()

    val out = s"$w/changelog"
    val setupS = Harness.secondsSince(a.t0Ms)
    if (a.trace) tracer.start()
    Harness.Memory.arm()
    Harness.Steal.mark()
    val qStartUs = Clock.nowUs()
    // a copy of Streaming.sinkChangelogWith (Update mode, one batch_id=N
    // directory per micro-batch) with a checkpoint and an unbounded
    // trigger, so that one query runs through both phases: the engine's
    // sink runs only an AvailableNow trigger and waits for it to finish
    val q = pivotOf(Streaming.eventsStream(spark, streamDir, Some(MaxFilesPerTrigger)))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$w/checkpoint")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val scored = transform(b, id)
        tracer.span(id.toString, "scheduler.action")(
          scored.write.mode("overwrite").parquet(s"$out/batch_id=$id"))
        batchEndUs.put(id, Clock.nowUs())
        ()
      }
      .start()
    val backlogRows = BacklogFiles.toLong * Spec.eventsPerFile
    def consumedRows(): Long = q.recentProgress.map(_.numInputRows).sum
    while (consumedRows() < backlogRows) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }

    // live: open-loop release plus the dimension publisher
    val liveStartUs = Clock.nowUs() + 20000L
    val dueUs = (0 until nLive).map(i => liveStartUs + (i * 1e6 / LiveRate).toLong)
    val releasedUs = new Array[Long](nLive)
    val publishSpans = ArrayBuffer.empty[Span]
    @volatile var publishError: Option[Throwable] = None
    val publisher = new Thread(() => {
      try {
        spark.sparkContext.setLocalProperty(tracer.TraceKey, "side")
        (2 to nVersions).foreach { v =>
          val due = liveStartUs + ((v - 1) * PublishEverySec * 1e6).toLong
          sleepUntil(due)
          val s0 = Clock.nowUs()
          publish(v)
          publishSpans.synchronized(publishSpans += Span("side", "dimstore.publish", s0,
            Clock.nowUs()))
        }
      } catch { case t: Throwable => publishError = Some(t) }
    }, "perfbench-dim-publisher")
    publisher.start()
    live.indices.foreach { i =>
      sleepUntil(dueUs(i))
      val name = fileName(BacklogFiles + i)
      Files.move(Paths.get(staged, name), Paths.get(streamDir, name),
        StandardCopyOption.ATOMIC_MOVE)
      releasedUs(i) = Clock.nowUs()
      q.exception.foreach(e => throw e)
    }
    val totalRows = (BacklogFiles + nLive).toLong * Spec.eventsPerFile
    val drainDeadline = Clock.nowUs() + 30000000L
    while (consumedRows() < totalRows && Clock.nowUs() < drainDeadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    publisher.join()
    publishError.foreach(e => throw e)
    val endUs = Clock.nowUs()
    // before stopping, while the state store is still loaded
    Harness.Steal.report()
    val memMb = Harness.Memory.peakMb()
    q.stop()
    q.exception.foreach(e => throw e)
    if (a.trace) tracer.drain()

    // ---- arithmetic over the run's own records ------------------------
    val progress = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .sortBy(_.batchId)
    val triggers = progress.filter(p => batchEndUs.containsKey(p.batchId))
      .map(p => Stats.Trigger(p.batchId, p.numInputRows, batchEndUs.get(p.batchId)))
    val fileOf = Stats.fileTriggers(
      Seq.fill(BacklogFiles + nLive)(Spec.eventsPerFile.toLong), triggers)
    val catchupIdx = fileOf(BacklogFiles - 1).getOrElse(
      throw new IllegalStateException("the backlog was never consumed"))
    // catch-up capacity: backlog events ÷ time from query start until the
    // micro-batch that consumed the last backlog file ended
    val eventsPerS = backlogRows / ((triggers(catchupIdx).endUs - qStartUs) / 1e6)
    val latencies = live.indices.flatMap(i =>
      fileOf(BacklogFiles + i).map(t => (triggers(t).endUs - dueUs(i)) / 1e6))
    require(latencies.nonEmpty, "no live file was consumed")
    val unconsumed = fileOf.indices.filter(fileOf(_).isEmpty).toSet

    // ---- output check, untimed ------------------------------------------
    val mismatched = Harness.step("output check")(
      mismatchedFiles(spark, streamDir, out, versionOf.asScala.toMap, stagedOf.asScala.toMap,
        orders))
    val failedFiles = mismatched ++ unconsumed
    if (failedFiles.nonEmpty)
      System.err.println(s"[perfbench] ${failedFiles.size} stream files failed the output " +
        s"check (${unconsumed.size} never consumed)")
    val metrics =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "latency_p50_s" -> Stats.median(latencies),
        "latency_tail_s" -> Stats.quantile(latencies, TailPct / 100.0),
        "throughput_per_s" -> eventsPerS,
        "peak_mem_mb" -> memMb)
      else traceMetrics(tracer, progress, triggers, catchupIdx, qStartUs, endUs, w) ++
        scorerMetrics(Streaming.readChangelogState(spark, out, Seq("user_id", "w_start")),
          registry) ++ Seq(
          "streaming.backlog_files_end" -> unconsumed.size.toDouble,
          "trainer.train_s" -> trainS,
          "dimstore.publish_s" -> publishSpans.map(_.durUs).sum / 1e6 / publishSpans.size,
          "dimstore.publishes" -> publishSpans.size.toDouble,
          "gen.files_released" -> nLive.toDouble,
          "gen.release_late_s" -> live.indices.map(i => releasedUs(i) - dueUs(i)).max / 1e6,
          "trace.overhead_frac" -> tracer.callbackNs.get / 1e3 / (endUs - qStartUs))
    Harness.Result(
      attempted = BacklogFiles + nLive,
      failed = failedFiles.size,
      metrics = metrics,
      checks = Map("kind" -> "stream", "rows_dropped" -> progress.map(p =>
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum))
  }

  /** Stream files with an event whose (user, window) row in the upsert view
    * differs from the batch twin: `scoredFlagshipWith(hoppingPivot(every
    * released event), <the dimension version the row's micro-batch read>,
    * orders)`, compared in both directions, missing keys included.
    */
  private def mismatchedFiles(spark: org.apache.spark.sql.SparkSession, streamDir: String,
      out: String, versionOf: Map[Long, String], stagedOf: Map[String, String],
      orders: DataFrame): Set[Int] = {
    val (schema, normalizeTs) = Tables.eventsReadSpec(spark, streamDir)
    val released = normalizeTs(spark.read.schema(schema).parquet(s"$streamDir/events*.parquet"))
    val twinPivot = WindowOps.hoppingPivot(released, eventTypes = Tables.EventTypes)
    val keys = Seq("user_id", "w_start").map(col)
    val view = Streaming.readChangelogState(spark, out, Seq("user_id", "w_start"))
    val batchVersion = spark.createDataFrame(
      versionOf.toSeq.map { case (b, v) => Row(b, v) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("batch_id LONG, version STRING"))
    val keyVersion = spark.read.parquet(out).groupBy(keys: _*)
      .agg(max("batch_id").as("batch_id")).join(batchVersion, "batch_id")
      .select("user_id", "w_start", "version").localCheckpoint()
    // the batch twin: every key scored against the dimension version its
    // last emitting micro-batch read; keys the view lacks have no version
    val twinKeys = twinPivot.join(keyVersion, Seq("user_id", "w_start"), "left")
      .localCheckpoint()
    val expected = versionOf.values.toSeq.distinct.map { v =>
      SparkEntry.scoredFlagshipWith(twinKeys.filter(col("version") === v).drop("version"),
        spark.read.parquet(stagedOf(v)), orders)
    }.reduce(_ unionByName _)
    // compare whole rows through a hash of every column, in both directions
    def hashed(df: DataFrame, name: String) =
      df.select(keys :+ xxhash64(view.columns.map(col): _*).as(name): _*)
    val badKeys = hashed(view, "got")
      .join(hashed(expected, "want"), Seq("user_id", "w_start"), "full_outer")
      .where(not(col("got") <=> col("want"))).select(keys: _*)
      .union(twinKeys.where(col("version").isNull).select(keys: _*))
      .distinct().localCheckpoint()
    if (badKeys.isEmpty) Set.empty
    else {
      val sec = col("ts").cast("long")
      released
        .select((col("event_id") / Spec.eventsPerFile).cast("int").minus(WarmFiles)
          .as("file"), col("user_id"),
          explode(sequence(lit(0), lit(4))).as("k"), sec.as("sec"))
        .withColumn("w_start", col("sec") - pmod(col("sec"), lit(120)) - col("k") * 120)
        .join(badKeys, Seq("user_id", "w_start")).select("file").distinct().collect()
        .map(_.getInt(0)).toSet
    }
  }

  /** Micro-batch phase counters, split into catch-up and live, plus the
    * layer self times over the measured window. Each micro-batch is one
    * operation; the time between micro-batches, when the query waits for
    * the generator's next file, is the `gen` layer's.
    */
  private def traceMetrics(tracer: Tracer, progress: Seq[StreamingQueryProgress],
      triggers: Seq[Stats.Trigger], catchupIdx: Int, qStartUs: Long, endUs: Long,
      work: String): Seq[(String, Double)] = {
    // trigger bounds are whole milliseconds; a trigger starts no earlier
    // than the previous one ended
    val ops = progress.scanLeft(Harness.Op("", 0L, qStartUs)) { (prev, p) =>
      val s = math.max(prev.endUs,
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L)
      Harness.Op(p.batchId.toString, s,
        math.max(s, s + p.durationMs.get("triggerExecution") * 1000L))
    }.tail
    // a job belongs to the micro-batch running when it started (the
    // source's file listing runs before Spark tags the batch id); the
    // publisher's jobs are tagged "side" and stay off the blocking path
    tracer.traceOf = j => if (j.trace == "side") "side"
      else ops.find(o => j.startUs >= o.startUs && j.startUs < o.endUs).fold("")(_.trace)
    val triggerSpans = ops.map(o => Span(o.trace, "streaming.trigger", o.startUs, o.endUs))
    val gaps = (Harness.Op("", qStartUs, qStartUs) +: ops :+ Harness.Op("", endUs, endUs))
      .sliding(2).collect { case Seq(x, y) if y.startUs > x.endUs =>
        Span(y.trace, if (x.trace.isEmpty) "streaming.start" else "gen.wait", x.endUs,
          y.startUs) }.toSeq
    val lastCatchup = triggers(catchupIdx).batchId
    def phase(name: String, ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
      def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val st = ps.map(_.stateOperators.toSeq)
      val trig = d("triggerExecution").map(_ / 1e3)
      Seq(
        "triggers" -> ps.size.toDouble,
        "trigger_p50_s" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
        "trigger_p95_s" -> (if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.95)),
        "rows_per_trigger" -> mean(ps.map(_.numInputRows.toDouble)),
        "latest_offset_s" -> mean(d("latestOffset")) / 1e3,
        "get_batch_s" -> mean(d("getBatch")) / 1e3,
        "query_planning_s" -> mean(d("queryPlanning")) / 1e3,
        "add_batch_s" -> mean(d("addBatch")) / 1e3,
        "wal_commit_s" -> mean(d("walCommit")) / 1e3,
        "commit_offsets_s" -> mean(d("commitOffsets")) / 1e3,
        "state_rows" -> st.lastOption.map(_.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        "state_mem_mb" -> (if (st.isEmpty) 0.0
          else st.map(_.map(_.memoryUsedBytes).sum).max / 1048576.0),
        "state_update_s" -> mean(st.map(_.map(_.allUpdatesTimeMs).sum.toDouble)) / 1e3,
        "state_commit_s" -> mean(st.map(_.map(_.commitTimeMs).sum.toDouble)) / 1e3,
        "rows_dropped" -> st.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
      ).map { case (k, v) => s"streaming.$name.$k" -> v }
    }
    val (catchup, liveP) = progress.partition(_.batchId <= lastCatchup)
    val traces = ops.map(_.trace).toSet
    Harness.writeSpans(s"$work/spans.jsonl", (tracer.spans.asScala.toSeq ++
      tracer.listenerSpans()).filter(s => traces.contains(s.trace)) ++ triggerSpans ++ gaps)
    Harness.layerMetrics(tracer, ops, endUs - qStartUs, triggerSpans ++ gaps) ++
      phase("catchup", catchup) ++ phase("live", liveP) :+
      ("dimstore.read_s" -> tracer.spans.asScala.filter(_.name == "dimstore.read")
        .map(_.durUs).sum / 1e6 / math.max(1, ops.size))
  }

  /** Per-row cost of the model alone: the public LocalScorer looped over
    * the run's emitted feature rows.
    */
  private def scorerMetrics(view: DataFrame, registry: Registry): Seq[(String, Double)] = {
    val rows = view.select(col("country"), col("platform"), col("purchase_views").cast("int"),
      col("view_views").cast("int"), col("click_views").cast("int"), col("nb_orders"))
      .collect()
    val scorer = LocalScorer.compile(registry.load(Model))
    val t0 = System.nanoTime()
    rows.foreach { r =>
      scorer.predict(Seq(r.getString(0), r.getString(1)),
        Seq(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
    }
    val us = (System.nanoTime() - t0) / 1e3
    Seq("scorer.predict_us_per_row" -> us / math.max(1, rows.length),
      "scorer.rows" -> rows.length.toDouble)
  }

  private def sleepUntil(us: Long): Unit = {
    val d = us - Clock.nowUs()
    if (d > 0) Thread.sleep(d / 1000, ((d % 1000) * 1000).toInt)
  }
}
