package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model.Tables
import graft.operators.{Relational, WindowOps}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("eventsStream/documentsStream readers ≡ batch readers on the driver fixture layout") {
    // The round-10 regression was exactly these two paths diverging on a
    // fixture format migration (nanos → micros ts): the streaming reader
    // kept the nanos conversion and every event-time window collapsed.
    // This asserts the raw reader invariant directly, so any future
    // fixture change fails ONE test here instead of seven oracles.
    val batchEvents = Tables.events(spark, sf0001).collect().toSet
    val streamedEvents = Streaming.runToMemory(
      spark, Streaming.eventsStream(spark, sf0001), OutputMode.Append())
      .collect().toSet
    assert(batchEvents.nonEmpty)
    assert(streamedEvents == batchEvents)

    val batchDocs = Tables.documents(spark, sf0001).collect().toSet
    val streamedDocs = Streaming.runToMemory(
      spark, Streaming.documentsStream(spark, sf0001), OutputMode.Append())
      .collect().toSet
    assert(batchDocs.nonEmpty)
    assert(streamedDocs == batchDocs)

    val batchOrders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .collect().toSet
    val streamedOrders = Streaming.runToMemory(
      spark, Streaming.ordersStream(spark, sf0001), OutputMode.Append())
      .collect().toSet
    assert(batchOrders.nonEmpty)
    assert(streamedOrders == batchOrders)
  }

  /** Moves `df`'s rows into `dir` as flat files named `names`: one
    * round-robin partition per file, written by Spark then renamed.
    */
  private def writeFlat(df: DataFrame, dir: String, names: Seq[String]): Unit = {
    val tmp = Files.createTempDirectory("flat_parts").toString
    df.repartition(names.size).write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    assert(parts.length == names.size, s"want ${names.size} files, Spark wrote ${parts.length}")
    parts.zip(names).foreach { case (p, n) => Files.move(Paths.get(tmp, p), Paths.get(dir, n)) }
  }

  private def shardNames(table: String, n: Int): Seq[String] =
    (0 until n).map(i => f"${table}_$i%05d.parquet")

  /** The raw events fixture: re-written as it is, unlike
    * `Tables.events`' normalized ts, it keeps the footer annotation
    * `eventsStream` sniffs.
    */
  private def rawEvents: DataFrame = spark.read.parquet(s"$sf0001/events.parquet")

  /** The newest micro-batch a [[Streaming.changelogWriter]] wrote to `path`. */
  private def maxBatchId(path: String): Int =
    spark.read.parquet(path).agg(max("batch_id")).head().getInt(0)

  /** RestartProbe's exactly-once check: a compacted changelog equals the
    * fixture's batch pivot, two-sided — a re-read file inflates its
    * windows' counts, a skipped one deflates them.
    */
  private def assertBatchPivot(state: DataFrame): Unit = {
    val batch = WindowOps.hoppingPivot(Tables.events(spark, sf0001), eventTypes = Tables.EventTypes)
    val (onlyState, onlyBatch) = (state.exceptAll(batch).count(), batch.exceptAll(state).count())
    assert(state.count() == batch.count() && onlyState == 0 && onlyBatch == 0,
      s"only_state=$onlyState only_batch=$onlyBatch")
  }

  test("eventsStream on a directory of events_NNNNN.parquet shards alone; " +
    "no input at all names the directory and the pattern") {
    // the ts-annotation probe used to read <dir>/events.parquet, which a
    // live shard directory need not have (PATH_NOT_FOUND before any row)
    val dir = Files.createTempDirectory("shards_only").toString
    writeFlat(rawEvents, dir, shardNames("events", 4))
    val streamed = Streaming.runToMemory(
      spark, Streaming.eventsStream(spark, dir), OutputMode.Append()).collect().toSet
    assert(streamed.nonEmpty && streamed == Tables.events(spark, sf0001).collect().toSet)

    val empty = Files.createTempDirectory("no_events").toString
    val err = intercept[IllegalArgumentException](Streaming.eventsStream(spark, empty))
    assert(err.getMessage.contains(empty) && err.getMessage.contains("events*.parquet"),
      err.getMessage)
  }

  test("file streams find new files with a driver listing, not a Spark job, " +
    "on flat shards and on a Spark-written table directory") {
    // A per-file glob (`$dir/events*.parquet`) expands to one root path
    // per file; past parallelPartitionDiscovery.threshold (32) roots Spark
    // lists them with a "Listing leaf files" job on every trigger whose
    // cached file list has run out. One root path is listed on the driver.
    val listing = "Listing leaf files and directories"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(prop("spark.jobGroup.id").getOrElse("") ->
          prop("spark.job.description").getOrElse(""))
        ()
      }
    }
    /** Runs `df` to completion on checkpoint `ck`, appending its rows to
      * `out`; the descriptions of the jobs the query ran.
      */
    def runJobs(df: DataFrame, ck: String, out: String): Seq[String] = {
      val q = Streaming.runToEnd(df.writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          b.write.mode("append").parquet(out)
        })
      // one listener queue delivers in order: once a later job is seen,
      // every job of the query has been seen
      val drain = "drain_" + q.runId
      spark.sparkContext.setJobGroup(drain, drain)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.asScala.exists(_._1 == drain) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val run = q.runId.toString
      jobs.asScala.collect { case (`run`, d) => d }.toSeq
    }
    def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString
    // event_id / doc_id / o_orderkey are positive; the decoy's are not
    def decoy(df: DataFrame): DataFrame = {
      val id = df.columns.head
      df.limit(5).withColumn(id, -col(id) - 1)
    }
    val (evSchema, evNorm) = Tables.eventsReadSpec(spark, sf0001)
    val inputs: Seq[(String, DataFrame, DataFrame => DataFrame, String => DataFrame)] = Seq(
      ("events", rawEvents, evNorm,
        d => Streaming.eventsStream(spark, d, Some(8))),
      ("documents", Tables.documents(spark, sf0001), identity,
        d => Streaming.documentsStream(spark, d)),
      ("orders", Tables.orders(spark, sf0001), identity,
        d => Streaming.ordersStream(spark, d)))
    spark.sparkContext.addSparkListener(listener)
    try
      for (flat <- Seq(true, false); (table, rows, normalize, stream) <- inputs) {
        val layout = if (flat) "40 flat shards" else s"a $table.parquet/ directory"
        val dir = tmp(s"listing_$table")
        val target = if (flat) dir else s"$dir/$table.parquet"
        val names =
          if (flat) shardNames(table, 40) else (0 until 40).map(i => f"part-$i%05d.parquet")
        val held = tmp(s"listing_held_$table")
        writeFlat(rows, held, names)
        writeFlat(decoy(rows), dir, Seq("other.parquet"))
        Files.createDirectories(Paths.get(target))
        val (ck, out) = (tmp("listing_ck"), tmp("listing_out") + "/rows")
        // the files arrive in two halves, one run each: the second run's
        // listing finds all 40 (each run's batches stay under 32 files,
        // which Spark would list again with a job when it reads them)
        val descs = names.grouped(20).toSeq.flatMap { half =>
          half.foreach(n => Files.move(Paths.get(held, n), Paths.get(target, n)))
          runJobs(stream(dir), ck, out)
        }
        assert(!descs.exists(_.startsWith(listing)),
          s"$table over $layout ran a listing job: ${descs.filter(_.startsWith(listing))}")
        val streamed = spark.read.parquet(out).collect().toSet
        val expected = normalize(spark.read.schema(rows.schema)
          .parquet(names.map(n => s"$target/$n"): _*)).collect().toSet
        assert(expected.nonEmpty && streamed == expected,
          s"$table over $layout: ${streamed.size} streamed vs ${expected.size} rows")
        val id = rows.columns.head
        assert(!streamed.exists(_.getAs[Long](id) < 0), s"$table over $layout read the decoy")
        if (flat && table == "events") {
          // the reader before the change, as the control that the
          // listener sees the job this case guards against
          val glob = evNorm(spark.readStream.schema(evSchema)
            .option("maxFilesPerTrigger", "8").parquet(s"$dir/events*.parquet"))
          assert(runJobs(glob, tmp("listing_ck"), tmp("listing_out") + "/rows")
            .exists(_.startsWith(listing)),
            "control: the per-file glob no longer runs a listing job")
        }
      }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a checkpoint written by the per-file glob reader resumes under " +
    "eventsStream: no file re-read or skipped") {
    val dir = Files.createTempDirectory("resume_in").toString
    val held = Files.createTempDirectory("resume_held").toString
    val ck = Files.createTempDirectory("resume_ck").toString
    val out = Files.createTempDirectory("resume_out").toString + "/changelog"
    val names = shardNames("events", 10)
    writeFlat(rawEvents, held, names)
    def arrive(ns: Seq[String]): Unit =
      ns.foreach(n => Files.move(Paths.get(held, n), Paths.get(dir, n)))
    def runOnce(events: DataFrame): Int = {
      Streaming.runToEnd(Streaming.changelogWriter(
        WindowOps.hoppingPivot(Streaming.withLateness(events, Streaming.ReplayLateness),
          eventTypes = Tables.EventTypes), out)()
        .option("checkpointLocation", ck))
      maxBatchId(out)
    }
    arrive(names.take(6))
    // the reference: the reader before the change, rooted at one glob
    // path per file
    val (schema, normalizeTs) = Tables.eventsReadSpec(spark, sf0001)
    val globbed = normalizeTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3").parquet(s"$dir/events*.parquet"))
    assert(runOnce(globbed) == 1, "the glob reader should commit two micro-batches")
    assert(runOnce(Streaming.eventsStream(spark, dir, Some(3))) == 1,
      "resuming with nothing new must run no batch")
    arrive(names.drop(6))
    assert(runOnce(Streaming.eventsStream(spark, dir, Some(3))) == 3,
      "the four new files should make two more micro-batches")
    assertBatchPivot(Streaming.readChangelogState(spark, out, Seq("user_id", "w_start")))
  }

  test("stateful streaming ≡ batch under the RocksDB state-store provider (ST6 parity)") {
    // the reference image ships RocksDB-backed ksqlDB state stores
    // (docker-compose.yaml:70); Spark's equivalent is one conf line.
    // Cover both state paths: windowed aggregation state (hopping pivot)
    // and mapGroupsWithState user state (latestByKeyStream).
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = WindowOps.hoppingPivot(
        Tables.events(spark, sf0001), eventTypes = Tables.EventTypes)
        .collect().toSet
      val streamed = Streaming.runToMemory(
        spark, Streaming.hoppingPivotStream(spark, sf0001))
        .collect().toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)

      val input = MemoryStream[(String, String, Long)](spark)
      val df = input.toDF().toDF("id", "v", "ts")
      val q = Streaming.latestByKeyStream(df, "id", Seq("ts"))
        .writeStream.format("memory").queryName("latest_rocksdb")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(("a", "v1", 1L), ("b", "x1", 1L))
        q.processAllAvailable()
        input.addData(("a", "v2", 2L))
        q.processAllAvailable()
      } finally q.stop()
      val state = spark.table("latest_rocksdb")
        .groupBy("id").agg(max_by(col("v"), col("ts")).as("v"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(state == Map("a" -> "v2", "b" -> "x1"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming hopping pivot ≡ batch hopping pivot on the same fixture") {
    val batch = WindowOps.hoppingPivot(
      Tables.events(spark, sf0001), eventTypes = Tables.EventTypes)
      .collect().toSet
    val streamed = Streaming.runToMemory(
      spark, Streaming.hoppingPivotStream(spark, sf0001))
      .collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("flagship stream (pivot + stream-static left join) produces enriched rows") {
    val out = Streaming.runToMemory(spark, graft.ml.Trainer.featureRelation(
      spark, Streaming.hoppingPivotStream(spark, sf0001), sf0001))
    assert(out.count() > 0)
    // every user in the fixture matches a customer → no defaulted platform
    assert(out.filter(col("platform") === "UNKNOWN").count() == 0)
  }

  test("scored flagship: streaming incremental execution ≡ batch entry") {
    // both sides train their own registry copy, but training is fully
    // seeded → identical models → identical predicted labels
    val batch = graft.SparkEntry.entry(spark).collect().toSet
    val streamed = graft.SparkEntry.queries("q_stream_flagship")(spark, sf0001)
      .collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
    // the README.md:56-70 statement's output shape: in-stream predictions
    assert(streamed.head.schema.fieldNames.contains("predicted_label"))
  }

  test("latestByKeyStream upserts to the newest row per key (TABLE semantics)") {
    val input = MemoryStream[(String, String, Long)](spark)
    val df = input.toDF().toDF("id", "v", "ts")
    val q = Streaming.latestByKeyStream(df, "id", Seq("ts"))
      .writeStream.format("memory").queryName("latest_tbl")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(("a", "v1", 1L), ("b", "x1", 1L))
      q.processAllAvailable()
      input.addData(("a", "v2", 2L)) // upsert a
      q.processAllAvailable()
      input.addData(("a", "v0", 0L)) // stale update must NOT win
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.table("latest_tbl")
      .groupBy("id").agg(max_by(col("v"), col("ts")).as("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state == Map("a" -> "v2", "b" -> "x1"))
  }

  test("CDC loop closed: DimStore v1→v2, tableDiff changelog streamed " +
    "through the upsert path, compacted state ≡ v2 (Debezium→ksql→store)") {
    // the end-to-end transition the reference runs via Debezium → ksql
    // → Mongo (infra/connect/mysql-source.json → README.md:29): publish
    // two dim versions, DIFF them into the changelog a CDC source would
    // have emitted, stream that changelog through the TABLE upsert
    // path, and assert the recovered store state equals a straight read
    // of v2 — write side, wire, and read side in one loop.
    val root = java.nio.file.Files
      .createTempDirectory("cdc_loop").toString + "/dims"
    val v1 = Seq((1L, "PL", 10.0), (2L, "DE", 20.0), (3L, "FR", 30.0))
      .toDF("k", "country", "bal")
    val v2 = Seq((1L, "PL", 10.0), (2L, "DE", 25.0), (4L, "ES", 40.0))
      .toDF("k", "country", "bal") // u@2, d@3, c@4, untouched 1
    val p1 = graft.sources.DimStore.publish(v1, root)
    val p2 = graft.sources.DimStore.publish(v2, root)

    // the WIRE: Debezium's initial snapshot ('r' reads, here as creates
    // at seq 0) followed by the version diff (seq 1) — seq is the
    // changelog offset the upsert orders by, so arrival interleaving
    // within a micro-batch cannot elect a stale row
    val diff = Relational.tableDiff(
      spark.read.parquet(p1), spark.read.parquet(p2), Seq("k"))
    def asWire(df: org.apache.spark.sql.DataFrame, seq: Long) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(3), seq)).toSeq
    val snapshot = asWire(
      spark.read.parquet(p1).select(lit("c").as("op"), col("k"),
        col("country"), col("bal")), 0L)
    val incremental = asWire(diff, 1L)

    val input = MemoryStream[(String, Long, String, Double, Long)](spark)
    val wire = input.toDF().toDF("op", "k", "country", "bal", "seq")
    val out = java.nio.file.Files
      .createTempDirectory("cdc_loop_out").toString + "/changelog"
    val q = Streaming.changelogWriter(
      Streaming.latestByKeyStream(wire, "k", Seq("seq")), out)().start()
    try {
      input.addData(snapshot: _*) // micro-batch 0: the initial snapshot
      q.processAllAvailable()
      input.addData(incremental: _*) // micro-batch 1: the v1→v2 changelog
      q.processAllAvailable()
    } finally q.stop()

    // the STORE: compact the Update-mode changelog, retract tombstones
    val state = Streaming.readChangelogState(spark, out, Seq("k"))
      .filter(col("op") =!= "d").drop("op", "seq")
    val want = spark.read.parquet(p2)
    assert(state.exceptAll(want).count() == 0 &&
      want.exceptAll(state).count() == 0,
      "streamed CDC apply must reproduce v2 exactly")
    // and the batch read side agrees with the store: cdcApply ≡ v2 too
    val applied = Relational.cdcApply(
      spark.read.parquet(p1), diff, Seq("k"))
    assert(applied.exceptAll(want).count() == 0 &&
      want.exceptAll(applied).count() == 0)
    // DimStore's live pointer already serves v2 — three agreeing views
    assert(graft.sources.DimStore.currentPath(spark, root) == p2)
  }

  test("streaming scoring: model transform over the flagship stream") {
    val reg = new graft.ml.Registry(
      java.nio.file.Files.createTempDirectory("stream_reg").toString)
    graft.ml.Trainer.trainAndRegister(spark, sf0001, reg, "Bot Detector", useCv = false)
    val loaded = reg.load("Bot Detector")
    val enriched = graft.ml.Trainer.featureRelation(
      spark, Streaming.hoppingPivotStream(spark, sf0001), sf0001)
      .select(graft.ml.Trainer.modelInputs: _*)
    // PipelineModel.transform composes onto the streaming DataFrame —
    // scoring runs inside each micro-batch
    val scored = graft.ml.Scorer.scoreDF(loaded, enriched)
      .select(col("user_id"), col("w_start"), col("predicted_label"))
    val out = Streaming.runToMemory(spark, scored,
      org.apache.spark.sql.streaming.OutputMode.Complete())
    assert(out.count() > 0)
    val labels = out.select("predicted_label").distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("bot", "user")) && labels.nonEmpty)
  }

  test("llm text ops run unchanged over a stream (shared-expression principle)") {
    val docsStream = Streaming.documentsStream(spark, sf0001)
    val streamed = Streaming.runToMemory(
      spark, graft.llm.TextOps.piiScrub(docsStream), OutputMode.Append())
      .collect().toSet
    val batch = graft.llm.TextOps.piiScrub(Tables.documents(spark, sf0001))
      .collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming contamination ≡ batch (stream-static join + stateful agg)") {
    val streamed = Streaming.runToMemory(
      spark, Streaming.contaminationStream(spark, sf0001))
      .collect().toSet
    val docs = Tables.documents(spark, sf0001)
    val batch = graft.llm.TextOps.contamination(
      docs.filter(pmod($"doc_id", lit(10)) =!= 0),
      docs.filter(pmod($"doc_id", lit(10)) === 0))
      .collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("deterministic sampling and chunking run unchanged over a stream") {
    val ds = Streaming.documentsStream(spark, sf0001)
    val sampled = Streaming.runToMemory(spark,
      graft.llm.Sampling.deterministicSample(ds, $"doc_id", 0.25)
        .select($"doc_id"), OutputMode.Append())
      .collect().map(_.getLong(0)).toSet
    val batchSample = graft.llm.Sampling.deterministicSample(
      Tables.documents(spark, sf0001), $"doc_id", 0.25)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == batchSample && sampled.nonEmpty)
    val chunked = Streaming.runToMemory(spark,
      graft.llm.TextOps.chunkDocs(ds, chunkTokens = 32, stride = 16),
      OutputMode.Append()).collect().toSet
    val batchChunks = graft.llm.TextOps.chunkDocs(
      Tables.documents(spark, sf0001), chunkTokens = 32, stride = 16)
      .collect().toSet
    assert(chunked == batchChunks && chunked.nonEmpty)
  }

  test("operational flagship: RocksDB + single-file batches + mid-stream restart ≡ batch entry") {
    // the reference's actual deployment loop (README.md:56-74) at
    // operational fidelity: the SCORED flagship (pivot → enrich →
    // predict UDF) runs incrementally under the RocksDB state-store
    // provider, one file per micro-batch, into an Update-mode changelog
    // sink — then the job is STOPPED mid-corpus and restarted against
    // the same checkpoint after more data "arrives". The restart must
    // restore window state from RocksDB (not recompute from scratch)
    // and the final upsert view must equal the batch entry exactly.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // run the restart under the big-state checkpoint posture too:
    // changelog checkpointing + 2-batch retention must RESTORE state,
    // not just write less of it (the posture's whole recovery claim)
    Streaming.applyBigStateConfs(spark)
    try {
      val stage = java.nio.file.Files.createTempDirectory("flag_stage").toString
      val hold = java.nio.file.Files.createTempDirectory("flag_hold").toString
      val ck = java.nio.file.Files.createTempDirectory("flag_ck").toString
      val out = java.nio.file.Files.createTempDirectory("flag_out").toString + "/changelog"
      val ev = Tables.events(spark, sf0001)
      ev.repartition(4).write.mode("overwrite").parquet(stage)
      val parts = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(parts.length >= 4, s"need >= 4 files, got ${parts.length}")
      // hold back half the corpus: run 1 sees only two single-file batches
      parts.take(2).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(hold, f.getName))
      }

      val reg = new graft.ml.Registry(
        java.nio.file.Files.createTempDirectory("flag_reg").toString)
      graft.ml.Trainer.trainAndRegister(spark, sf0001, reg, "Bot Detector", useCv = false)
      graft.ml.Scorer.registerPredictUdf(spark, reg.rootDir, preload = Seq("Bot Detector"))

      def runOnce(): Unit = {
        val streamed = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val scored = graft.SparkEntry.scoredFlagship(spark,
          WindowOps.hoppingPivot(streamed, eventTypes = Tables.EventTypes), sf0001)
        Streaming.runToEnd(Streaming.changelogWriter(scored, out)()
          .option("checkpointLocation", ck))
      }
      runOnce()
      val mid = maxBatchId(out)
      assert(mid >= 1, s"expected >= 2 single-file micro-batches, max id $mid")
      // the rest of the corpus "arrives"; restart from the same checkpoint
      new java.io.File(hold).listFiles().foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(stage, f.getName))
      }
      runOnce()
      assert(maxBatchId(out) > mid,
        "restart must process the late-arriving files as NEW micro-batches")
      val state = Streaming
        .readChangelogState(spark, out, Seq("user_id", "w_start"))
        .collect().toSet
      val batch = graft.SparkEntry.entry(spark).collect().toSet
      assert(batch.nonEmpty && state == batch,
        s"changelog state ${state.size} rows vs batch ${batch.size}")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("ST7: restart against the same checkpoint replays nothing (exactly-once offsets)") {
    val ck = java.nio.file.Files.createTempDirectory("st7_ck").toString
    val out = java.nio.file.Files.createTempDirectory("st7_out").toString + "/data"
    def runOnce(): Unit = {
      // a blind append, not the changelog sink's per-batch overwrite:
      // a replayed batch must show up here as extra rows
      Streaming.runToEnd(Streaming.eventsStream(spark, sf0001)
        .select("event_id", "user_id")
        .writeStream
        .option("checkpointLocation", ck)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out)
        })
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 1000) // full fixture replayed once (earliest offsets, ST4)
    runOnce() // restart: committed offsets say everything is consumed
    assert(spark.read.parquet(out).count() == n1)
  }

  test("Update-mode changelog sink: latestByKey over batch_id recovers upsert state") {
    val dir = java.nio.file.Files.createTempDirectory("changelog").toString + "/out"
    val input = MemoryStream[(String, Long)](spark)
    val counts = input.toDF().toDF("user", "v")
      .groupBy("user").agg(count(lit(1)).as("n"))
    val q = Streaming.changelogWriter(counts, dir)().start()
    try {
      input.addData(("a", 1L), ("b", 1L))
      q.processAllAvailable()
      input.addData(("a", 2L)) // re-emits a with n=2 in a later batch
      q.processAllAvailable()
    } finally q.stop()
    // the raw sink is a CHANGELOG: key a appears once per emission
    val raw = spark.read.parquet(dir)
    assert(raw.filter(col("user") === "a").count() == 2)
    // the upsert view (what the reference's Mongo sink holds) is current state
    val state = Streaming.readChangelogState(spark, dir, Seq("user"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("a" -> 2L, "b" -> 1L))

    // the compaction must also absorb rows duplicated within one batch
    // (a store that received a batch twice): duplicate the last batch's
    // rows verbatim beside it and re-read
    val lastId = maxBatchId(dir)
    raw.filter(col("batch_id") === lastId).drop("batch_id").localCheckpoint()
      .write.mode("append").parquet(s"$dir/batch_id=$lastId")
    val afterReplay = Streaming.readChangelogState(spark, dir, Seq("user"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterReplay == state,
      s"a duplicated batch changed the upsert view: $afterReplay")
  }

  test("a replayed micro-batch is written once: live trigger with a transform " +
    "and a checkpoint, last commit lost, restart re-runs the batch") {
    // foreachBatch is AT-LEAST-ONCE: a crash between a batch's write and
    // its commit-log entry re-runs the batch on restart (RestartProbe,
    // under a real Runtime.halt); losing the last commits/<N> file does too
    val dir = Files.createTempDirectory("replay_in").toString
    val held = Files.createTempDirectory("replay_held").toString
    val ck = Files.createTempDirectory("replay_ck").toString
    val out = Files.createTempDirectory("replay_out").toString + "/changelog"
    // one file per half: a single rename is atomic, so the running
    // query sees each half whole and makes exactly one batch of it
    val halves = shardNames("events", 2)
    writeFlat(rawEvents, held, halves)
    def arrive(n: String): Unit = Files.move(Paths.get(held, n), Paths.get(dir, n)): Unit
    // the transform stamps each batch with its attempt number
    val attempts = scala.collection.concurrent.TrieMap.empty[Long, Int]
    def writer() = Streaming.changelogWriter(
      WindowOps.hoppingPivot(Streaming.eventsStream(spark, dir), eventTypes = Tables.EventTypes),
      out) { (b, id) =>
      attempts(id) = attempts.getOrElse(id, 0) + 1
      b.withColumn("attempt", lit(attempts(id)))
    }.option("checkpointLocation", ck)

    // live: Spark's default unbounded trigger; the stream is built once
    // the first half is there (its reader sniffs the first file)
    arrive(halves(0))
    val q = writer().start()
    try {
      q.processAllAvailable()
      arrive(halves(1))
      q.processAllAvailable()
    } finally q.stop()
    val last = maxBatchId(out)
    assert(last == 1 && attempts.values.forall(_ == 1), s"attempts=$attempts")
    val firstCopy = spark.read.parquet(s"$out/batch_id=$last").drop("attempt")
      .localCheckpoint()

    val commit = new java.io.File(s"$ck/commits/$last")
    assert(commit.delete(), s"no commit file $commit")
    new java.io.File(s"$ck/commits/.$last.crc").delete(): Unit
    Streaming.runToEnd(writer())
    assert(attempts(last.toLong) == 2, s"batch $last did not re-run: $attempts")

    val replayed = spark.read.parquet(s"$out/batch_id=$last")
    assert(replayed.filter(col("attempt") =!= 2).count() == 0,
      "the first attempt's rows survived beside the replay")
    assert(replayed.drop("attempt").exceptAll(firstCopy).count() == 0 &&
      firstCopy.exceptAll(replayed.drop("attempt")).count() == 0, "the replay wrote different rows")
    assertBatchPivot(
      Streaming.readChangelogState(spark, out, Seq("user_id", "w_start")).drop("attempt"))
  }

  test("mid-stream dimension update enriches subsequent batches " +
    "(continuously-updated TABLE fidelity)") {
    // r15 VERDICT #2: the reference's `users` TABLE is CDC-updated
    // WHILE the join runs (README.md:29,56-58); a plan-embedded
    // stream-static join freezes the dim file listing at plan time, so
    // sinkChangelogWith re-resolves the dim inside each micro-batch. A
    // refresh landed after batch 1 must flip the enrichment of every
    // later emission, and the compacted upsert view must equal the
    // batch recomputation against whichever dims each key LAST saw.
    val stage = java.nio.file.Files.createTempDirectory("dim_stage").toString
    val ev = Tables.events(spark, sf0001)
    ev.repartition(4).write.mode("overwrite").parquet(stage)
    val dimsDir = java.nio.file.Files.createTempDirectory("dim_tbl").toString
    val v1 = graft.SparkEntry.flagshipDims(spark, sf0001)
      .select("c_custkey", "country").localCheckpoint()
    v1.write.mode("overwrite").parquet(s"$dimsDir/v1")
    v1.withColumn("country", lit("UPDATED"))
      .write.mode("overwrite").parquet(s"$dimsDir/v2")
    val out = java.nio.file.Files.createTempDirectory("dim_out").toString + "/changelog"

    @volatile var dimPath = s"$dimsDir/v1"
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val pivot = WindowOps.hoppingPivot(streamed, eventTypes = Tables.EventTypes)
    Streaming.sinkChangelogWith(pivot, out) { (b, id) =>
      // the dim read resolves NOW — this is the whole mechanism
      val enriched = graft.operators.Joins.leftEnrich(
        b.toDF(), spark.read.parquet(dimPath), "user_id", "c_custkey")
        .withColumn("country", coalesce(col("country"), lit("UNKNOWN")))
        .drop("c_custkey")
      if (id == 1) dimPath = s"$dimsDir/v2" // the CDC update lands here
      enriched
    }

    val log = spark.read.parquet(out).localCheckpoint()
    val maxB = log.agg(max("batch_id")).head().getInt(0)
    assert(maxB >= 3, s"need >= 4 single-file batches, got ${maxB + 1}")
    // phase 1 (batches 0-1): only original countries, never UPDATED
    assert(log.filter(col("batch_id") <= 1 && col("country") === "UPDATED")
      .count() == 0, "the update leaked backwards")
    val phase2 = log.filter(col("batch_id") >= 2)
    assert(phase2.count() > 0, "no emissions after the dim update")
    // phase 2: every matched row carries the UPDATED dim
    assert(phase2.filter(col("country") =!= "UPDATED" &&
      col("country") =!= "UNKNOWN").count() == 0,
      "a post-update emission still saw the stale dim")
    assert(phase2.filter(col("country") === "UPDATED").count() > 0)
    // upsert view ≡ batch recomputed against the dims each key LAST saw
    val state = Relational.latestByKey(
      log, Seq("user_id", "w_start"), Seq("batch_id"))
    val batchPivot = WindowOps.hoppingPivot(
      Tables.events(spark, sf0001), eventTypes = Tables.EventTypes)
    def enrichWith(p: String) = graft.operators.Joins.leftEnrich(
      batchPivot, spark.read.parquet(p), "user_id", "c_custkey")
      .withColumn("country", coalesce(col("country"), lit("UNKNOWN")))
      .drop("c_custkey")
    val expOld = enrichWith(s"$dimsDir/v1")
    val expNew = enrichWith(s"$dimsDir/v2")
    val mismOld = state.filter(col("batch_id") <= 1).drop("batch_id")
      .exceptAll(expOld).count()
    val mismNew = state.filter(col("batch_id") >= 2).drop("batch_id")
      .exceptAll(expNew).count()
    assert(mismOld == 0 && mismNew == 0,
      s"upsert view diverged from per-phase batch truth: old=$mismOld new=$mismNew")
    // row-count parity with the batch pivot (nothing lost or duplicated)
    assert(state.count() == batchPivot.count())
    // at-least-once replay where the dim CHANGED between the attempts:
    // the per-batch overwrite keeps exactly ONE version of the batch (a
    // blind append would leave two conflicting rows under one batch id
    // and make compaction nondeterministic)
    val lastDir = s"$out/batch_id=$maxB"
    // staging must live OUTSIDE the changelog dir or partition
    // discovery reads it as a batch_id value
    val tmpDir = java.nio.file.Files
      .createTempDirectory("dim_replay").toString + "/stage"
    spark.read.parquet(lastDir).withColumn("country", lit("REPLAYED"))
      .write.mode("overwrite").parquet(tmpDir)
    spark.read.parquet(tmpDir).write.mode("overwrite").parquet(lastDir)
    val replayed = spark.read.parquet(out)
    assert(replayed.filter(col("batch_id") === maxB)
      .filter(col("country") =!= "REPLAYED").count() == 0,
      "replay left two versions of the batch")
    assert(Relational.latestByKey(replayed, Seq("user_id", "w_start"),
      Seq("batch_id")).count() == state.count(),
      "replay changed the upsert view's cardinality")
  }

  test("streaming embedding ingest maintains the IVF+PQ index per batch " +
    "(append/rebuild auto inside foreachBatch)") {
    // the ingest pipeline the adaptive index was built for, composed
    // end-to-end: a vector stream arrives in micro-batches, each batch
    // runs ivfPqAppendAuto (frozen-quantizer append + staleness /
    // compaction decision) against the live index, and the index stays
    // queryable across the whole corpus afterwards — index maintenance
    // off the query path, on the ingest path, exactly where a 100 TB
    // deployment pays it.
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, sf0001).localCheckpoint()
    val base = emb.filter($"vec_id" % 2 === 0)
    val arriving = emb.filter($"vec_id" % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("stream_ivf").toString + "/idx"
    val gen = Similarity.ivfPqWriteIndexVersioned(base, idx, nlist = 8, m = 16, ksub = 8)
    val stage = java.nio.file.Files.createTempDirectory("stream_ivf_in").toString
    arriving.repartition(4).write.mode("overwrite").parquet(stage)
    graft.Sessions.clearDecisions()
    Streaming.runToEnd(spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) { Similarity.ivfPqAppendAuto(b.toDF(), idx); () }
      })
    // every arrived vector is in the index, a decision was recorded per
    // batch, and same-distribution ingest never forced a rebuild
    assert(spark.read.parquet(s"$gen/data").count() == emb.count())
    val ds = graft.Sessions.decisions.filter(_.op == "ivfPqAppendAuto")
    assert(ds.size >= 4 && ds.forall(_.choice == "append"), ds.map(_.choice))
    // the maintained index answers queries over old AND new vectors
    val qs = emb.filter($"vec_id" < 5)
    val got = Similarity.ivfPqQueryIndex(qs, idx, k = 5, nprobe = 4,
      rerankFactor = 6).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Similarity.bruteForceTopK(qs, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"post-ingest recall=$recall")
    assert(got.exists { case (_, n) => n % 2 == 1 },
      "streamed (odd-id) vectors must be findable")
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct events") {
    val input = MemoryStream[(Long, Long, String)](spark)
    val df = input.toDF().toDF("event_id", "epoch", "text")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val q = Streaming.dedupStream(df, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_tbl")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    val base = 1704067200L
    try {
      input.addData((1L, base, "a"), (2L, base + 1, "b"), (1L, base + 2, "a-dup"))
      q.processAllAvailable()
      input.addData((1L, base + 3, "a-dup-2"), (3L, base + 4, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_tbl").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"ids=$ids")
  }

  test("stream-stream interval self-join with watermarks matches batch") {
    def sides(df: org.apache.spark.sql.DataFrame) = {
      val p = df.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val c = df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      (p, c)
    }
    val cond = col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
      col("c_ts") <= col("p_ts")

    val ev = Streaming.eventsStream(spark, sf0001)
    val (sp, sc) = sides(ev)
    val streamed = Streaming.runToMemory(
      spark,
      Streaming.withLateness(sp.withColumnRenamed("p_ts", "ts"), "10 minutes")
        .withColumnRenamed("ts", "p_ts")
        .join(Streaming.withLateness(sc.withColumnRenamed("c_ts", "ts"), "10 minutes")
          .withColumnRenamed("ts", "c_ts"), cond, "inner")
        .select(col("purchase_id"), col("click_id")),
      org.apache.spark.sql.streaming.OutputMode.Append())

    val (bp, bc) = sides(Tables.events(spark, sf0001))
    val batch = bp.join(bc, cond, "inner").select(col("purchase_id"), col("click_id"))

    val s = streamed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b.nonEmpty)
    assert(s == b, s"streamed ${s.size} vs batch ${b.size}")
  }

  test("stream-stream LEFT OUTER interval join: matches plus watermark-proven nulls") {
    val streamed = Streaming.runToMemory(
      spark, Streaming.intervalJoinOuterStream(spark, sf0001),
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet

    // batch reference: inner matches always; nulls exactly for unmatched
    // purchases older than the final watermark min(branch maxes) - delay
    val ev = Tables.events(spark, sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val cond = col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 600 SECONDS") &&
      col("c_ts") <= col("p_ts")
    val wm = math.min(
      p.agg(max(unix_micros(col("p_ts").cast("timestamp")))).head().getLong(0),
      c.agg(max(unix_micros(col("c_ts").cast("timestamp")))).head().getLong(0)) -
      600L * 1000000L
    val joined = p.join(c, cond, "left_outer")
    val matches = joined.filter(col("click_id").isNotNull)
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val nulls = joined.filter(col("click_id").isNull)
      .filter(unix_micros(col("p_ts").cast("timestamp")) < wm)
      .select(col("purchase_id"))
      .collect().map(r => (r.getLong(0), None: Option[Any])).toSet
    assert(matches.nonEmpty && nulls.nonEmpty)
    assert(streamed == (matches ++ nulls),
      s"streamed ${streamed.size} vs expected ${(matches ++ nulls).size}")
  }

  test("multi-batch replay (maxFilesPerTrigger=1) still equals the batch answer") {
    // split the fixture into 4 files so AvailableNow runs 4 REAL
    // micro-batches — window state must merge partial aggregates across
    // batches, not just compute one batch that happens to see everything
    val dir = java.nio.file.Files.createTempDirectory("multibatch").toString
    val ev = Tables.events(spark, sf0001)
    ev.repartition(4) // round-robin: four non-empty files
      .write.mode("overwrite").parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 4, s"need several files for several batches, got $nFiles")

    val streamed = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val out = Streaming.runToMemory(spark,
      WindowOps.hoppingPivot(streamed, eventTypes = Tables.EventTypes))
      .collect().toSet
    val batch = WindowOps.hoppingPivot(ev, eventTypes = Tables.EventTypes)
      .collect().toSet
    assert(out == batch && batch.nonEmpty)
  }

  test("CDC retraction across micro-batches: later deletes retract earlier state") {
    import spark.implicits._
    // three files = three real micro-batches (maxFilesPerTrigger=1):
    // state built in batch 1 must be RETRACTED by batch 3's deletes,
    // and a fully-deleted key must leave the result table entirely
    val dir = java.nio.file.Files.createTempDirectory("cdc_batches").toString
    def writeFile(rows: Seq[(Long, Double, String)]): Unit =
      rows.toDF("o_custkey", "o_totalprice", "op")
        .coalesce(1).write.mode("append").parquet(dir)
    writeFile(Seq((1L, 100.0, "i"), (2L, 50.0, "i")))
    writeFile(Seq((1L, 30.0, "i")))
    writeFile(Seq((1L, 100.0, "d"), (2L, 50.0, "d")))
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles == 3, s"need 3 files for 3 batches, got $nFiles")
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val out = Streaming.runToMemory(spark, Streaming.signedOrderAgg(streamed))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(1L -> (1L, 30.0)),
      s"key 1 keeps only the surviving order, key 2 fully retracted: $out")
  }

  test("continuous Trigger.ProcessingTime delivery updates results across batches (push query)") {
    // the reference's EMIT CHANGES push query over chunked HTTP: a
    // LONG-RUNNING trigger (not AvailableNow) whose result table keeps
    // updating as data arrives — the delivery posture itself, demo-scale
    val input = MemoryStream[(Long, String)](spark)
    val counts = input.toDF().toDF("id", "k").groupBy("k").count()
    val q = counts.writeStream.format("memory").queryName("push_tbl")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    val a = try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(spark.table("push_tbl").count() == 2)
      input.addData((3L, "a")) // the running query picks this up on its own
      q.processAllAvailable()
      spark.table("push_tbl").filter(col("k") === "a").head().getLong(1)
    } finally q.stop()
    assert(a == 2L, "second batch must update the continuously-served result")
  }

  test("ST3: late event re-emits the updated hopping aggregate (EMIT CHANGES)") {
    val input = MemoryStream[(Long, Long, String)](spark)
    val df = input.toDF().toDF("user_id", "epoch", "event_type")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val agg = graft.operators.WindowOps.hoppingPivot(df, eventTypes = Seq("click"))
    val q = agg.writeStream.format("memory").queryName("late_tbl")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    val base = 1704067200L
    def clicks() = spark.table("late_tbl")
      .filter(col("w_start") === (base - base % 120) && col("user_id") === 1L)
      .select("click_views").collect().map(_.getLong(0))
    val (before, after) = try {
      input.addData((1L, base + 1000, "click")) // establish event-time progress
      q.processAllAvailable()
      val before = clicks()
      input.addData((1L, base, "click")) // LATE: 1000s behind; no watermark → accepted
      q.processAllAvailable()
      (before, clicks())
    } finally q.stop()
    // no-watermark Update mode (ksql 5.4 no-grace semantics): the late
    // event lands in its original windows and updated rows re-emit
    assert(before.isEmpty || before.max == 0L)
    assert(after.nonEmpty && after.max == 1L)
  }

  test("watermarked stream still matches batch when no data is late") {
    val streamed = Streaming.runToMemory(
      spark,
      WindowOps.hoppingPivot(
        Streaming.withLateness(Streaming.eventsStream(spark, sf0001)),
        eventTypes = Tables.EventTypes),
      OutputMode.Append())
    val batch = WindowOps.hoppingPivot(
      Tables.events(spark, sf0001), eventTypes = Tables.EventTypes)
    // Append mode only emits windows the watermark has passed; the final
    // windows may be withheld, so streamed ⊆ batch and covers most of it.
    val b = batch.collect().toSet
    val s = streamed.collect().toSet
    assert(s.subsetOf(b))
    assert(s.size >= b.size / 2, s"${s.size} of ${b.size}")
  }

  test("streaming token budget: single batch ≡ batch operator, multi-batch keeps the invariant") {
    def docRows(ids: Range): Seq[(Long, String, String)] =
      ids.map(i => (i.toLong, s"src${i % 2}", ("tok " * (i % 7 + 1)).trim))

    // single micro-batch: identical rows to the batch operator
    val in1 = MemoryStream[(Long, String, String)](spark)
    val df1 = in1.toDF().toDF("doc_id", "source", "text")
    val q1 = Streaming.tokenBudgetStream(df1, budgetTokens = 40L)
      .writeStream.format("memory").queryName("tb_one")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try { in1.addData(docRows(1 to 40): _*); q1.processAllAvailable() } finally q1.stop()
    val streamed = spark.table("tb_one")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.llm.Sampling.tokenBudgetSample(
      docRows(1 to 40).toDF("doc_id", "source", "text"), budgetTokens = 40L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty && streamed == batch)

    // two micro-batches: per-group totals never exceed the budget, the
    // admitted set is a strict prefix (first over-budget doc blocks all
    // later arrivals in its group), and state carries across batches
    val in2 = MemoryStream[(Long, String, String)](spark)
    val df2 = in2.toDF().toDF("doc_id", "source", "text")
    val q2 = Streaming.tokenBudgetStream(df2, budgetTokens = 12L)
      .writeStream.format("memory").queryName("tb_two")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      in2.addData(docRows(1 to 10): _*)
      q2.processAllAvailable()
      in2.addData(docRows(11 to 20): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val rows2 = spark.table("tb_two")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows2.nonEmpty)
    rows2.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._4).max <= 12L) // budget invariant per group
      // cum_tokens of admitted rows are consistent partial sums
      rs.sortBy(_._4).foldLeft(0L) { (prev, r) =>
        assert(r._4 > prev); r._4 }
    }
    // state carried across batches: batch-2 admissions (doc_id > 10)
    // continue the running total — their cum_tokens sit strictly above
    // every batch-1 admission's in the same group
    rows2.groupBy(_._2).foreach { case (_, rs) =>
      val b1 = rs.filter(_._1 <= 10L).map(_._4)
      val b2 = rs.filter(_._1 > 10L).map(_._4)
      if (b1.nonEmpty && b2.nonEmpty) assert(b2.min > b1.max)
    }
  }

  test("state-store provider auto-choice: threshold flip, bound estimator, isolated session") {
    import Streaming._
    // the flip, pinned with an explicit heap and bytes/entry so
    // recalibrating the measured constant can't silently move this test:
    // need = rows × bytesPerEntry × RetainedStateVersions (2) vs
    // StateHeapFraction (0.5) × heap
    assert(stateProviderFor(100L, heapBytes = 800L, bytesPerEntry = 2L) ==
      DefaultStateProvider)
    assert(stateProviderFor(101L, heapBytes = 800L, bytesPerEntry = 2L) ==
      RocksDbStateProvider)
    // and the decade anchors under the measured default constants
    // (SCALE.md: 5 M entries in-heap wins, ~500 M is RocksDB territory)
    assert(stateProviderFor(5000000L, heapBytes = 32L << 30) == DefaultStateProvider)
    assert(stateProviderFor(500000000L, heapBytes = 32L << 30) == RocksDbStateProvider)

    // the estimator is a (decision-grade) upper bound: ≥ the true group
    // count up to approx_count_distinct's few-% wobble, ≤ the exact
    // rows × hops worst case
    val events = Tables.events(spark, sf0001)
    val exact = WindowOps.hoppingPivot(
      events, eventTypes = Tables.EventTypes).count()
    val est = WindowOps.hoppingStateUpperBound(events)
    assert(est >= (exact * 0.9).toLong,
      s"estimated bound $est fell below the true group count $exact")
    assert(est <= events.count() * 5)

    // auto: fixture-scale state picks the in-heap provider, the conf
    // lands on the RETURNED isolated session only, and the stream built
    // there still matches batch
    val (s2, p) = autoStateSession(spark, sf0001)
    assert(p == DefaultStateProvider)
    assert(s2.conf.get("spark.sql.streaming.stateStore.providerClass") == p)
    // isolation, proven on the flip side: a heap the fixture's state
    // does NOT fit forces RocksDB onto a clone, while the parent
    // session's conf still resolves to the in-heap default
    val (s3, p3) = autoStateSession(spark, sf0001, heapBytes = 1L << 10)
    assert(p3 == RocksDbStateProvider)
    assert(s3.conf.get("spark.sql.streaming.stateStore.providerClass") == p3)
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass") == DefaultStateProvider)
    val streamed = Streaming.runToMemory(
      s2, Streaming.hoppingPivotStream(s2, sf0001)).collect().toSet
    val batch = WindowOps.hoppingPivot(
      events, eventTypes = Tables.EventTypes).collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("session-state bound + provider auto: the session growth law is " +
    "priced by its own estimator") {
    import Streaming._
    val events = Tables.events(spark, sf0001)
    // the bound: ≥ the true merged-session count (Σ-per-file counting
    // can only split, never merge), ≤ the trivial every-event bound
    val exact = WindowOps.sessionAgg(events, gap = "30 minutes").count()
    val est = WindowOps.sessionStateUpperBound(events, gap = "30 minutes")
    assert(est >= exact, s"session bound $est fell below truth $exact")
    assert(est <= events.count())
    // split layout over-counts but never under-counts: one key, one
    // true session spanning two files → per-file starts sum to 2 ≥ 1
    val dir = java.nio.file.Files.createTempDirectory("sessb").toString
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "ts").write.parquet(s"$dir/f1.parquet")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00")))
      .toDF("user_id", "ts").write.parquet(s"$dir/f2.parquet")
    graft.Sessions.clearEstimates()
    val split = WindowOps.sessionStateUpperBound(
      spark.read.parquet(s"$dir/f1.parquet", s"$dir/f2.parquet"),
      gap = "30 minutes")
    assert(split == 2L, s"split-layout bound $split (true sessions: 1)")

    // auto: fixture state fits → in-heap pick on an isolated clone;
    // forced-small heap flips to RocksDB without touching the parent
    val (s2, p) = autoStateSessionWindow(spark, sf0001)
    assert(p == DefaultStateProvider)
    assert(s2.conf.get("spark.sql.streaming.stateStore.providerClass") == p)
    val (s3, p3) = autoStateSessionWindow(spark, sf0001, heapBytes = 1L << 10)
    assert(p3 == RocksDbStateProvider)
    assert(s3.conf.get("spark.sql.streaming.stateStore.providerClass") == p3)
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass") == DefaultStateProvider)
    // and the session pipeline built on the auto session ≡ batch
    val streamed = Streaming.runToMemory(s2,
      WindowOps.sessionAgg(Streaming.eventsStream(s2, sf0001),
        gap = "30 minutes")).collect().toSet
    val batch = WindowOps.sessionAgg(events, gap = "30 minutes")
      .collect().toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("session Append-mode sink emits exactly the watermark-closed " +
    "sessions, once each (the only production sink sessions support)") {
    // Update mode is REJECTED for session aggregations (no stable
    // upsert key across merges) — pin that fact so a Spark behavior
    // change re-opens the changelog-sink design consciously
    val updateAttempt = intercept[org.apache.spark.sql.AnalysisException] {
      Streaming.runToEnd(Streaming.changelogWriter(
        WindowOps.sessionAgg(
          Streaming.withLateness(Streaming.eventsStream(spark, sf0001)),
          gap = "30 minutes"),
        java.nio.file.Files.createTempDirectory("sess_up").toString + "/x")())
    }
    assert(updateAttempt.getMessage.contains("STREAMING_OUTPUT_MODE"))

    // Append + real watermark: each session emitted exactly once when
    // the watermark passes its end; the open tail stays in state
    val out = java.nio.file.Files
      .createTempDirectory("sess_ap").toString + "/sessions"
    val q = Streaming.runToEnd(Streaming.changelogWriter(
      WindowOps.sessionAgg(
        Streaming.withLateness(Streaming.eventsStream(spark, sf0001), "1 minute"),
        gap = "30 minutes"), out, OutputMode.Append())())
    val wm = Streaming.finalWatermarkSec(q).get
    val emitted = spark.read.parquet(out)
      .select("user_id", "session_start", "session_end", "n_events")
    val batch = WindowOps.sessionAgg(
      Tables.events(spark, sf0001), gap = "30 minutes")
      .select("user_id", "session_start", "session_end", "n_events")
    assert(emitted.count() > 0, "no sessions emitted — watermark never closed any")
    // exactness = prefix closure in end order (lag-invariant: the final
    // reported watermark can postdate the last emission batch, so
    // filtering the batch twin at max emitted end is the right boundary
    // — StreamScale --session measured the one-step lag at sf0.1) ...
    val maxEnd = emitted.agg(max("session_end")).head.getLong(0)
    val closed = batch.filter(col("session_end") <= maxEnd)
    assert(emitted.exceptAll(closed).isEmpty && closed.exceptAll(emitted).isEmpty,
      s"emitted ≠ batch prefix at end<=$maxEnd")
    // ... and the emission boundary tracks the watermark: everything
    // strictly below the final watermark minus one step is out
    assert(maxEnd < wm, s"max emitted end $maxEnd not below watermark $wm")
    val open = batch.filter(col("session_end") > maxEnd)
    assert(batch.count() == emitted.count() + open.count())
  }

  test("streaming exact distinct (stateful dedup) ≡ batch DISTINCT") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.distinctKeysStream(spark, sf0001), OutputMode.Append())
      .collect().map(_.toString).sorted.toSeq
    val batch = Tables.events(spark, sf0001)
      .select("user_id", "event_type").distinct()
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("watermark progress semantics: a batch FILTERS with the previous " +
    "batch's reported watermark (pins StreamScale's drop-ledger offset)") {
    // r16 VERDICT #4. The disorder drop ledger (StreamScale
    // survivingEvents) reconstructs per-batch admissibility from two
    // EMPIRICAL Spark conventions, calibrated against
    // numRowsDroppedByWatermark at 2 SFs × 2 scales:
    //  (a) progress(b).eventTime.watermark is the value ADVANCED BY
    //      batch b's data (the one batch b+1 will filter with);
    //  (b) the late-row filter inside batch b therefore runs under
    //      progress(b−1)'s value, and for session windows admissibility
    //      is session END (ts + gap) ≥ watermark, not raw ts.
    // A Spark upgrade shifting either convention would make the
    // accounting tool silently lie — this fixture places one event
    // exactly where the conventions disagree so the shift fails HERE.
    //
    // Timeline (epoch seconds; lateness 10 min, gap 30 min):
    //   phase 1: (u1, 10:00)            → reported wm 09:50
    //   phase 2: (u2, 09:30), (u1, 11:00)
    //     filter-with-PREVIOUS (09:50): u2's end 10:00 ≥ 09:50 → KEPT
    //     filter-with-OWN      (10:50): u2's end 10:00 <  10:50 → dropped
    //     (raw-ts rule would also drop it: 09:30 < 09:50)
    //   phase 3: (u3, 09:30) under wm 10:50 → end 10:00 < 10:50 → DROPPED
    //     (a two-batch-lag convention, wm 09:50, would keep it)
    val input = MemoryStream[(Long, Long)](spark)
    val sess = WindowOps.sessionAgg(
      Streaming.withLateness(
        input.toDF().toDF("user_id", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec"),
        "10 minutes"),
      gap = "30 minutes")
    val q = sess.writeStream.format("memory").queryName("wm_convention")
      .outputMode("append").start()
    def drops: Long = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    def maxWm: Long = q.recentProgress
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).getEpochSecond)
      .maxOption.getOrElse(0L)
    try {
      input.addData((1L, 36000L))
      q.processAllAvailable()
      assert(maxWm == 35400L,
        s"convention (a) shifted: expected the batch to REPORT the watermark " +
          s"its own data advanced to (35400), got $maxWm")
      input.addData((2L, 34200L), (1L, 39600L))
      q.processAllAvailable()
      assert(drops == 0L,
        s"convention (b) shifted: the discriminating event was dropped — " +
          "the filter no longer uses the PREVIOUS batch's watermark " +
          "(or admissibility is no longer session-end-based); " +
          "StreamScale.survivingEvents' wm(bid-1) reconstruction is now wrong")
      input.addData((3L, 34200L))
      q.processAllAvailable()
      assert(drops == 1L,
        s"expected exactly the re-sent stale event dropped under wm 10:50, " +
          s"got $drops — a lag longer than one batch would over-keep")
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("wm_convention")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(emitted.contains((2L, 34200L, 36000L, 1L)),
      s"the kept-late event's session never emitted: $emitted")
    assert(!emitted.exists(_._1 == 3L),
      s"the dropped event's session emitted anyway: $emitted")
  }
}
