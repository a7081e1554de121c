package graft.tools

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.model.Tables
import graft.operators.WindowOps
import graft.streaming.Streaming

/** Streaming growth-curve point with the PRODUCTION sink.
  *
  * The batch scale curve (SCALE.md) measured q_stream_hopping_pivot at
  * sf1 through the harness MEMORY sink and saw 5.7× for 10× data — a
  * driver-side collect of 5 M re-emitted rows, i.e. the sink's cost,
  * not the operator's. This tool re-measures the same pipeline the way
  * production runs it (reference infra/connect/mongo-sink.json: an
  * Update-mode changelog consumed by an upsert store): watermarked
  * hopping pivot → foreachBatch parquet changelog, Trigger.AvailableNow,
  * state in the state store, nothing collected to the driver. It then
  * recovers the upsert view with latestByKey and row-counts it, so the
  * measurement still proves the stream produced the full result.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.StreamScale [--small=DIR] [--big=DIR]
  *        [--lateness=10 minutes]"
  * defaults: small=/root/testdata/sf0.1  big=target/scaledata/sf1
  * (build the big dir first with graft.tools.ScaleCorpus).
  */
object StreamScale {

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") =>
        a.drop(name.length + 3) }
    val small = opt("small").getOrElse("/root/testdata/sf0.1")
    val big = opt("big").getOrElse("target/scaledata/sf1")
    // underscores double as spaces so "--lateness=6_hours" survives
    // sbt's space-splitting of the runMain arg string
    val lateness = opt("lateness").getOrElse("10 minutes").replace('_', ' ')
    val rocksdb = args.contains("--rocksdb")
    // third-decade runs (sf100: ~500 M state entries, state ≫ heap) are
    // RocksDB-only territory and long — skip the scored flagship leg
    val pivotOnly = args.contains("--pivot-only")
    // --session: measure the SESSION-window pipeline (merging state, a
    // different growth law) instead of the hopping pivot — r14 VERDICT
    // #5's decade leg. Its check reads every Append-mode emission and
    // matches fragments to batch sessions by span containment, not
    // latestByKey: session endpoints are not stable upsert keys.
    val sessionMode = args.contains("--session")
    // ... and need the big-state checkpoint posture: with the defaults
    // (full snapshot per batch × 100-batch retention) the sf100 leg
    // filled the disk and died on ENOSPC before finishing
    val bigstate = args.contains("--bigstate")
    // bound each micro-batch (both legs, so the ratio compares like
    // shapes): a whole-backlog AvailableNow batch's LIVE shuffle scales
    // with the corpus — periodic GC can only reclaim FINISHED batches.
    // Bounded batches over hash-partitioned (non-time-ordered) files
    // REQUIRE the replay watermark (withLateness's replay caveat):
    // with the real lateness, every post-first batch is below the
    // watermark and silently dropped — measured before the state≡batch
    // check failed, 185 MB changelog vs 579 MB.
    val maxFiles = opt("max-files").map(_.toInt)
    val effLateness =
      if (maxFiles.isDefined) Streaming.ReplayLateness else lateness
    // --disorder=<seconds>: bound the ARRIVAL disorder (r15 VERDICT #1).
    // Each event's arrival position becomes ts + U[0, disorder) (seeded
    // hash jitter), so events cross slice — and with --max-files,
    // micro-batch — boundaries out of event-time order by up to the
    // bound. disorder < lateness must merge every late event into its
    // open session (0 drops, emitted ≡ batch prefix unchanged);
    // disorder > lateness must DROP the beyond-watermark stragglers,
    // counted via numRowsDroppedByWatermark (the explicit ledger).
    // Only meaningful with --session (the Append + real-watermark leg).
    val disorder = opt("disorder").map(_.toLong).getOrElse(0L)
    // disorder physics needs slice span ≲ lateness (a 30-day corpus in
    // 32 slices is ~22 h per slice — minute-scale jitter would never
    // cross a boundary), so the disorder posture defaults to 256 slices
    val slices = opt("slices").map(_.toInt)
      .getOrElse(if (disorder > 0) 256 else 32)

    require(new java.io.File(big).isDirectory,
      s"big dir $big missing — run graft.tools.ScaleCorpus first")

    // Shuffle-file cleanup is GC-driven (ContextCleaner collects
    // ShuffleDependency refs): a big heap under no allocation pressure
    // never GCs during a long replay, so every finished micro-batch's
    // shuffle files linger — measured 29 GB of stale blocks in 9 min at
    // sf100, ENOSPC before half the leg. Context-level conf, so it must
    // be set HERE, not in applyBigStateConfs (whose scaladoc documents
    // this builder-side companion).
    val spark = graft.Sessions.local(
      (if (bigstate) Seq("spark.cleaner.periodicGC.interval" -> "60s") else Nil): _*)
    if (rocksdb) {
      // operational posture comparison: the same pipeline under the
      // RocksDB state-store provider (large-state production default)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      Streaming.quietRocksDbNativeLogging() // JNI Logv SIGSEGV guard (r15 #7)
      println("[stream-scale] state store: RocksDB")
    }
    if (bigstate) {
      Streaming.applyBigStateConfs(spark)
      println("[stream-scale] big-state checkpoint posture: " +
        "changelog checkpointing + minBatchesToRetain=2")
    }

    if (sessionMode) {
      // Sessions only support Append (+watermark) — Update is rejected
      // (Streaming.changelogWriter scaladoc), and an infinite replay
      // watermark would emit NOTHING in Append. So this leg runs the
      // honest production posture: approximately time-ordered arrival
      // (the corpus range-sorted on ts once, cached beside the derived
      // data), bounded micro-batches, the REAL lateness, each session
      // emitted exactly once as the watermark passes it. Verification:
      // emitted ≡ the batch twin's sessions ending ≤ the final
      // watermark; the remainder is the expected open tail (in state).
      def timeSorted(dir: String): String = {
        import org.apache.spark.sql.functions.{col, xxhash64, pmod, lit, unix_micros}
        // the sf0.001 warmup is codegen-only — at fine slice counts
        // (the 10-min-lateness posture wants ~5-min spans = 8640
        // slices) a 1 k-event corpus would burn hundreds of
        // near-empty micro-batches warming nothing the 32-slice
        // version doesn't
        val nSlices = if (dir.endsWith("sf0.001")) math.min(slices, 32)
          else slices
        val tag = if (disorder > 0) s"_dis${disorder}s_${nSlices}_" else
          (if (nSlices == 32) "_tsorted_" else s"_tsorted${nSlices}_")
        val outDir = "target/scaledata/" + tag + new java.io.File(dir).getName
        if (!new java.io.File(s"$outDir/events.parquet/_SUCCESS").exists()) {
          // RAW read/write (same as ScaleCorpus), NOT Tables.events: the
          // normalized-timestamp copy would break eventsStream's
          // footer-sniffing read spec (TESTDATA ts-annotation gotcha).
          // Arrival key: event time + seeded hash jitter in
          // [0, disorder) seconds — the bounded out-of-order model
          // (disorder=0 degenerates to exact time order). The raw ts is
          // fixture-generation dependent (TESTDATA gotcha): int64 NANOS
          // reads as LongType (cast-to-timestamp would misread it as
          // SECONDS and saturate), micros reads as TimestampType.
          val raw = spark.read.parquet(s"$dir/events.parquet")
          val tsMicros =
            if (raw.schema("ts").dataType ==
                org.apache.spark.sql.types.LongType)
              col("ts") / lit(1000L) // nanos → micros
            else unix_micros(col("ts").cast("timestamp"))
          val arrival = tsMicros +
            (if (disorder > 0)
              pmod(xxhash64(col("event_id"), lit(42)), lit(disorder * 1000000L))
            else lit(0L))
          raw
            .withColumn("_arrival", arrival)
            .repartitionByRange(nSlices, col("_arrival"))
            .sortWithinPartitions("_arrival")
            .drop("_arrival")
            .write.mode("overwrite").parquet(s"$outDir/events.parquet")
          // FileStreamSource drains oldest-MTIME-first, but the
          // parallel write finishes part files in arbitrary order — set
          // mtimes to the part order (= the range-partition arrival
          // order) so bounded batches ARRIVE in simulated wall order
          val parts = new java.io.File(s"$outDir/events.parquet")
            .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          val t0 = System.currentTimeMillis() - parts.length * 1000L
          parts.zipWithIndex.foreach { case (f, i) =>
            f.setLastModified(t0 + i * 1000L); () }
          println(s"[stream-scale] arrival-sorted $dir -> $outDir " +
            s"(${parts.length} slices, disorder=${disorder}s, " +
            "mtimes in slice order)")
        }
        outDir
      }
      // the drop ledger: numRowsDroppedByWatermark summed across every
      // micro-batch via a listener (recentProgress caps at ~100 and the
      // bounded-batch decade runs more). Reset per leg; listener events
      // are async, so each leg drains the bus briefly before reading.
      val droppedTotal = new java.util.concurrent.atomic.LongAdder()
      val batchTotal = new java.util.concurrent.atomic.LongAdder()
      // batchId → watermark (micros) the session operator filtered that
      // batch with, for the exact survivor reconstruction below
      val wmLedger = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          droppedTotal.add(
            e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
          batchTotal.add(1L)
          val wm = e.progress.eventTime.get("watermark")
          if (wm != null)
            wmLedger.put(e.progress.batchId,
              java.time.Instant.parse(wm).toEpochMilli * 1000L)
        }
      })
      def runSession(dir: String):
          (Double, Long, String, String, Long, Long, Map[Long, Long]) = {
        droppedTotal.reset(); batchTotal.reset(); wmLedger.clear()
        val out = java.nio.file.Files
          .createTempDirectory("stream_sess").toString + "/sessions"
        val ckpt = out + "_ckpt"
        val agg = WindowOps.sessionAgg(
          Streaming.withLateness(
            Streaming.eventsStream(spark, timeSorted(dir), maxFiles), lateness),
          gap = "30 minutes")
        val t0 = System.nanoTime()
        Streaming.runToEnd(Streaming.changelogWriter(agg, out, OutputMode.Append())()
          .option("checkpointLocation", ckpt))
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(3000) // listener events are async — drain the bus
        // snapshot the watermark ledger NOW: the next leg clears it,
        // and the checks run after both legs
        val wmSnap = {
          val b = Map.newBuilder[Long, Long]
          wmLedger.forEach((k, v) => b += (k.longValue() -> v.longValue()))
          b.result()
        }
        (secs, spark.read.parquet(out).count(), out, ckpt,
          droppedTotal.sum(), batchTotal.sum(), wmSnap)
      }

      /** The exact in-watermark event set, reconstructed from the run's
        * own artifacts: the FileStreamSource metadata log says which
        * slice files each micro-batch read, the progress ledger says
        * which watermark the session operator ran that batch under, and
        * Spark's session-window late-row rule is `session end (= ts +
        * gap) < watermark → dropped`. Batch-aggregating exactly these
        * survivors is what the disordered stream MUST equal.
        */
      def survivingEvents(ckpt: String, gapSec: Long,
          wmOf: Map[Long, Long]): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.functions.{col, lit, unix_micros}
        val entries = scala.collection.mutable.Map[String, Long]() // path → batchId
        for (f <- new java.io.File(s"$ckpt/sources/0").listFiles().sortBy(_.getName);
             if f.getName.forall(_.isDigit) || f.getName.endsWith(".compact")) {
          val src = scala.io.Source.fromFile(f)
          try src.getLines().filter(_.startsWith("{")).foreach { l =>
            val path = """"path":"([^"]+)"""".r.findFirstMatchIn(l).map(_.group(1))
            val bid = """"batchId":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
            for (p <- path; b <- bid) entries(p) = b
          } finally src.close()
        }
        entries.groupBy(_._2).map { case (bid, m) =>
          // progress reports the watermark ADVANCED BY batch bid; the
          // filter inside batch bid ran under the previous batch's
          // (calibrated: using wm(bid) over-drops vs the operator's own
          // numRowsDroppedByWatermark; wm(bid-1) matches it exactly)
          val wm = wmOf.getOrElse(bid - 1, 0L)
          val raw = spark.read.parquet(m.keys.toSeq: _*)
          // same nanos-annotation guard as timeSorted: a raw int64-nanos
          // ts cast to timestamp reads as SECONDS and saturates
          val tsMicros =
            if (raw.schema("ts").dataType ==
                org.apache.spark.sql.types.LongType) col("ts") / lit(1000L)
            else unix_micros(col("ts").cast("timestamp"))
          raw.filter(tsMicros + gapSec * 1000000L >= lit(wm))
        }.reduce(_ unionByName _)
      }

      runSession("/root/testdata/sf0.001") // codegen warmup
      val (tS, eS, outS, ckS, dS, bS, wmS) = runSession(small)
      val (tB, eB, outB, ckB, dB, bB, wmB) = runSession(big)
      println(f"${"sink=append-parquet"}%-24s ${"t(small)"}%9s ${"t(big)"}%9s ${"ratio"}%7s ${"emitted(small)"}%15s ${"emitted(big)"}%13s")
      println(f"${"q_stream_session"}%-24s $tS%9.3f $tB%9.3f ${tB / tS}%7.2f $eS%15d $eB%13d")
      println(s"[ledger] disorder=${disorder}s lateness='$lateness' " +
        s"dropped_by_watermark: small=$dS/$bS batches, big=$dB/$bB batches")
      for ((dir, out, emitted, ckpt, drops, wmSnap) <-
           Seq((small, outS, eS, ckS, dS, wmS), (big, outB, eB, ckB, dB, wmB))) {
        // Exactness = PREFIX CLOSURE in end order: the emitted set must
        // equal the batch twin's sessions with end ≤ the max emitted
        // end — every session the stream closed, exactly once, with no
        // holes. (Comparing against lastProgress's watermark instead
        // over-counts by one watermark step: the final reported wm can
        // postdate the last emission batch — measured 4 stragglers at
        // sf0.1 — while prefix closure is lag-invariant.)
        val emittedDf = spark.read.parquet(out)
          .select("user_id", "session_start", "session_end", "n_events")
        val maxEnd = emittedDf
          .agg(org.apache.spark.sql.functions.max("session_end"))
          .head.getLong(0)
        // Under drops the ground truth is the sessions of the SURVIVING
        // (in-watermark) events, reconstructed from the run's own
        // checkpoint + watermark ledger — the stream must equal exactly
        // that, with the dropped remainder explicitly counted above.
        val truthEvents =
          if (drops == 0) Tables.events(spark, dir)
          else {
            val surv = survivingEvents(ckpt, gapSec = 1800L, wmSnap)
              .localCheckpoint()
            val totalEv = Tables.events(spark, dir).count()
            val nSurv = surv.count()
            println(s"[ledger] $dir: events=$totalEv survivors=$nSurv " +
              s"reconstructed_drops=${totalEv - nSurv} metric_drops=$drops " +
              (if (totalEv - nSurv == drops) "ACCOUNTED" else "DISAGREE"))
            surv
          }
        val batch = WindowOps.sessionAgg(truthEvents, gap = "30 minutes")
        val closed = batch.filter(
          org.apache.spark.sql.functions.col("session_end") <= maxEnd)
        val nClosed = closed.count()
        val holesDf = closed.exceptAll(emittedDf).localCheckpoint()
        val extrasDf = emittedDf.exceptAll(closed).localCheckpoint()
        val holes = holesDf.count()
        val extras = extrasDf.count()
        val total = batch.count()
        println(s"[check] $dir: emitted=$emitted " +
          s"${if (drops == 0) "batch" else "survivor"}_prefix(end<=$maxEnd)=$nClosed " +
          s"holes=$holes extras=$extras open_tail=${total - nClosed} " +
          (if (emitted == nClosed && holes == 0 && extras == 0) "EQUAL"
          else if (drops == 0) "MISMATCH"
          else "RACE-RESIDUAL (verified below)"))
        if (drops > 0 && holes > 0) {
          // Append-mode finalization race, not data loss: a session is
          // EMITTED the moment the watermark passes its end, while rows
          // stay admissible until end + gap — an in-watermark straggler
          // landing in that (end, end+gap) window cannot retract the
          // emitted session and opens a new one. Every hole (a session
          // the survivor-batch merges) must therefore decompose into
          // emitted pieces CONTAINED in its span for the same user —
          // anything else would be an actual correctness defect.
          import org.apache.spark.sql.functions.col
          val uncovered = holesDf.alias("h").join(emittedDf.alias("x"),
            col("h.user_id") === col("x.user_id") &&
              col("x.session_start") >= col("h.session_start") &&
              col("x.session_end") <= col("h.session_end"), "left_anti").count()
          // An extra (an emitted fragment the survivor-batch doesn't
          // list) must conversely be CONTAINED in some survivor session
          // that is not an exact match — a closed hole, or an OPEN-TAIL
          // session (end > maxEnd): the same race with the merged true
          // session still open when the stream stopped emitting. The
          // r17 10-min legs hit the open-tail case (1 / 8 fragments at
          // sf0.1 / sf1, each verified contained in an open-tail
          // session, DuckDB cross-check); containment anywhere else
          // would be a fabricated session — a real defect.
          // two-tier containment so the open-tail tolerance stays
          // VISIBLE per run (r17 ADVICE): an extra explained by a
          // CLOSED hole is the ordinary emission-race split; one only
          // explainable by an OPEN-TAIL session (end > maxEnd) is the
          // rarer still-open-merge case and is counted separately —
          // a jump in that tier flags a fabricated-fragment defect
          // that the combined check would have absorbed silently.
          def contained(xs: org.apache.spark.sql.DataFrame,
              hs: org.apache.spark.sql.DataFrame, anti: Boolean) =
            xs.alias("x").join(hs.alias("h"),
              col("h.user_id") === col("x.user_id") &&
                col("x.session_start") >= col("h.session_start") &&
                col("x.session_end") <= col("h.session_end"),
              if (anti) "left_anti" else "left_semi")
          val unexplainedByClosed =
            contained(extrasDf, holesDf, anti = true).localCheckpoint()
          val openTail = batch.filter(col("session_end") > maxEnd)
          val inOpenTail =
            contained(unexplainedByClosed, openTail, anti = false).count()
          val strayExtras =
            contained(unexplainedByClosed, openTail, anti = true).count()
          println(s"[check] $dir: race residual — holes without emitted " +
            s"pieces=$uncovered extras_in_closed_holes=" +
            s"${extras - unexplainedByClosed.count()} " +
            s"extras_in_open_tail=$inOpenTail stray extras=$strayExtras " +
            (if (uncovered == 0 && strayExtras == 0)
              "ALL holes are emission-race splits" else "UNEXPLAINED"))
        }
      }
      spark.stop(); return
    }

    if (args.contains("--dim-update")) {
      // ---- the CONTINUOUSLY-UPDATED TABLE flagship leg (r15 VERDICT
      // #2): the reference's `users` TABLE is CDC-maintained while the
      // scored join runs (README.md:29,56-58); the r15 leg joined a
      // frozen snapshot. Here the scored flagship runs through
      // sinkChangelogWith — enrichment + scoring per micro-batch in
      // batch land, dims RE-READ each batch — and a dim update lands
      // mid-run. Every emission before the flip must equal the batch
      // twin scored against the OLD dims, every emission after against
      // the NEW, keyed by each state row's own batch_id; row-count
      // parity with the batch pivot proves nothing was lost.
      require(maxFiles.isDefined, "--dim-update needs --max-files")
      // --hash-verify (r16 VERDICT #3): the per-phase twin check,
      // re-expressed at constant row WIDTH. The default exceptAll
      // sorts the full wide scored rows twice per phase — fine to
      // 49.6 M state rows (sf10), but at sf100 (496 M) that sort spill
      // exceeds this box, the same wall RestartProbe hit (its
      // --verify=hash precedent). Here each side is projected to
      // (user_id, w_start, xxhash64(every data column)) and the phases
      // join on the key — still PER-KEY exact (a mismatch pinpoints a
      // wrong row, a missing key counts as a mismatch), not a set-level
      // checksum, at ~1/20 the shuffle bytes. Co-validated against the
      // exceptAll twin at sf1/sf10 (identical phase counts + zero
      // mismatches both ways — SCALE.md r17).
      val hashVerify = args.contains("--hash-verify")
      // --dim-posture=volatile|store (default store): the r19 A/B that
      // isolates the shipped DimStore posture's cost from epoch factors
      // (r18 VERDICT #1 — the sf10 DimStore leg walled 451.9/598.3 s vs
      // r17's 97.7 s volatile-flip rendition, with corpus, heap, and
      // RocksDB state all differing between the observations).
      // `volatile` reproduces the r16/r17 probe convention exactly: the
      // dim is pre-staged plain parquet, the per-batch transform reads a
      // @volatile path variable, and the mid-run update is a pure
      // variable flip (no copy, no marker). `store` is the shipped
      // primitive: per-batch DimStore.read pointer resolution and a REAL
      // mid-stream publish (dim rewrite + checked flip). Run both on one
      // box, same heap, same derived corpus, back to back — the posture
      // delta then decomposes via the phase breakdown printed per leg
      // (publish wall, cumulative per-batch resolve wall, residual).
      val posture = opt("dim-posture").getOrElse("store")
      require(posture == "store" || posture == "volatile",
        s"--dim-posture must be store|volatile, got $posture")
      // per-batch wall ledger: attribution for the decade-wall spread
      // (r18 VERDICT #1) needs to know whether cost is flat per batch
      // (corpus/scoring-bound) or grows with batch id (state-store
      // compaction / checkpoint replay) — one progress line per batch.
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            val st = p.stateOperators.headOption
            println(f"[dim-batch] id=${p.batchId} rows=${p.numInputRows} " +
              f"batch_ms=${p.batchDuration} " +
              f"addBatch_ms=${Option(p.durationMs.get("addBatch")).getOrElse(-1L)} " +
              f"commit_ms=${Option(p.durationMs.get("commitOffsets")).getOrElse(-1L)} " +
              f"state_rows=${st.map(_.numRowsTotal).getOrElse(-1L)} " +
              f"state_commit_ms=${st.map(_.allUpdatesTimeMs).getOrElse(-1L)}/" +
              f"${st.map(_.commitTimeMs).getOrElse(-1L)}")
          }
        })
      val reg = new graft.ml.Registry(
        java.nio.file.Files.createTempDirectory("ss_reg").toString)
      graft.ml.Trainer.trainAndRegister(
        spark, "/root/testdata/sf0.001", reg, "Bot Detector", useCv = false)
      graft.ml.Scorer.registerPredictUdf(
        spark, reg.rootDir, preload = Seq("Bot Detector"))
      def runRefresh(dir: String): Unit = {
        import org.apache.spark.sql.functions.{col, lit, when, pmod, max => smax}
        val mat = java.nio.file.Files
          .createTempDirectory("ss_dimupd").toString
        // the dim lives in a DimStore (r17 VERDICT #2): the stream
        // resolves the _CURRENT pointer per micro-batch — the shipped
        // production posture (DEPLOY.md), not a probe-local @volatile
        // flip — and the update lands mid-run as a real publish.
        // publish returns the IMMUTABLE version path, pinned for the
        // batch twins below. Under --dim-posture=volatile the staged
        // parquet IS the dim (the r16/r17 probe convention, kept as
        // the A/B control arm).
        val dimRoot = s"$mat/dims"
        val v1Staged = s"$mat/dims_v1_staged"
        graft.SparkEntry.flagshipDims(spark, dir)
          .write.mode("overwrite").parquet(v1Staged)
        val v1Path =
          if (posture == "store")
            graft.sources.DimStore.publish(
              spark.read.parquet(v1Staged), dimRoot)
          else v1Staged
        // the CDC update: every 10th user's country flips — visible in
        // both the enrichment column and the model features. Staged to
        // plain parquet up front so the mid-stream publish is a pure
        // copy+flip (the primitive's cost, not the transform's).
        spark.read.parquet(v1Path)
          .withColumn("country", when(pmod(col("c_custkey"), lit(10)) === 0,
            lit("UPDATED")).otherwise(col("country")))
          .write.mode("overwrite").parquet(s"$mat/dims_v2_staged")
        graft.SparkEntry.flagshipOrderCounts(spark, dir)
          .write.mode("overwrite").parquet(s"$mat/orders")
        // single-file testdata corpora read as one batch (flip is a
        // no-op there — only the derived multi-file corpora exercise it)
        val nFiles = Option(new java.io.File(s"$dir/events.parquet").listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(1)
        val flipAt = math.max(1, nFiles / maxFiles.get / 2)
        @volatile var v2Path: String = null
        val out = java.nio.file.Files
          .createTempDirectory("ss_dimupd_out").toString + "/changelog"
        val pivot = WindowOps.hoppingPivot(
          Streaming.withLateness(
            Streaming.eventsStream(spark, dir, maxFiles), effLateness),
          eventTypes = Tables.EventTypes)
        val orders = spark.read.parquet(s"$mat/orders")
        // hash-verify posture: the sink projects each emission to
        // (key, UPDATED flag, xxhash64 over EVERY scored column) —
        // the stream itself (pivot, state, per-batch dim re-read,
        // enrichment joins, scoring) is untouched; only the changelog
        // row narrows from ~70 B to ~25 B. At sf100 the full-width
        // changelog (~35 GB) plus the live RocksDB checkpoint plus
        // sort spill exceeds this box (first attempt died ENOSPC
        // mid-replay); the r15 decade already measured the full-width
        // changelog wall time at sf100, so this leg's claim — phase
        // fidelity under a mid-stream dim flip — loses nothing.
        import org.apache.spark.sql.functions.xxhash64
        // phase-wall instrumentation (r18 VERDICT #1): the posture delta
        // must decompose, not be attributed — publish wall (the one
        // mid-stream dim rewrite + flip), cumulative per-batch dim
        // resolve/read-plan wall (marker read + file listing + schema;
        // the scan itself runs inside the batch either way), batches.
        val publishNanos = new java.util.concurrent.atomic.AtomicLong
        val resolveNanos = new java.util.concurrent.atomic.AtomicLong
        val nBatches = new java.util.concurrent.atomic.AtomicLong
        @volatile var volatileDimPath = v1Path // the r16/r17 control arm
        val t0 = System.nanoTime()
        Streaming.sinkChangelogWith(pivot, out) { (b, id) =>
          nBatches.incrementAndGet()
          // per-batch pointer resolution: each micro-batch's join scans
          // the version current AT PLAN TIME (immutable dir), so the
          // publish below flips the NEXT batch, never a running scan
          val rt0 = System.nanoTime()
          val dims =
            if (posture == "store") graft.sources.DimStore.read(spark, dimRoot)
            else spark.read.parquet(volatileDimPath)
          resolveNanos.addAndGet(System.nanoTime() - rt0)
          val scored = graft.SparkEntry.scoredFlagshipWith(
            b.toDF(), dims, orders)
          if (id == flipAt - 1) { // update lands
            val pt0 = System.nanoTime()
            if (posture == "store") // real publish + flip
              v2Path = graft.sources.DimStore.publish(
                spark.read.parquet(s"$mat/dims_v2_staged"), dimRoot)
            else { // the probe convention: a pure variable flip
              volatileDimPath = s"$mat/dims_v2_staged"
              v2Path = volatileDimPath
            }
            publishNanos.addAndGet(System.nanoTime() - pt0); ()
          }
          if (!hashVerify) scored
          else scored.select(col("user_id"), col("w_start"),
            (col("country") === lit("UPDATED")).as("upd"),
            xxhash64(scored.columns.map(col): _*).as("h"))
        }
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[dim-update] $dir posture=$posture heap=${
          Runtime.getRuntime.maxMemory / (1L << 30)}g breakdown: " +
          f"publish=${publishNanos.get / 1e9}%.2f s " +
          f"resolve_total=${resolveNanos.get / 1e9}%.2f s over " +
          f"${nBatches.get} batches " +
          f"(${resolveNanos.get / 1e6 / math.max(1, nBatches.get)}%.1f ms/batch)")
        val log = spark.read.parquet(out)
        if (!hashVerify) {
          val state = graft.operators.Relational.latestByKey(
            log, Seq("user_id", "w_start"), Seq("batch_id")).localCheckpoint()
          val batchPivot = WindowOps.hoppingPivot(
            Tables.events(spark, dir), eventTypes = Tables.EventTypes)
            .localCheckpoint()
          // the two-sided twin checks sort ~50 M wide scored rows at sf10
          // — size the verification shuffle to the state volume (the
          // stream itself runs at the session width; UNABLE_TO_ACQUIRE_MEMORY
          // otherwise)
          val checkWidth = math.min(2048L,
            math.max(32L, state.count() / 200000L)).toInt
          spark.conf.set("spark.sql.shuffle.partitions", checkWidth.toString)
          def twin(p: String) = graft.SparkEntry.scoredFlagshipWith(
            batchPivot, spark.read.parquet(p), orders)
          val pre = state.filter(col("batch_id") < flipAt).drop("batch_id")
          val post = state.filter(col("batch_id") >= flipAt).drop("batch_id")
          val mismOld = pre.exceptAll(twin(v1Path)).count()
          val mismNew = post.exceptAll(twin(v2Path)).count()
          val nState = state.count()
          val nBatch = batchPivot.count()
          val nFlipped = post.filter(col("country") === "UPDATED").count()
          println(f"[dim-update] $dir: ${secs}%.1f s, ${flipAt} flip batch of " +
            f"${nFiles / maxFiles.get} — state=$nState batch=$nBatch " +
            s"pre-flip rows=${nState - post.count()} post-flip rows=${post.count()} " +
            s"(UPDATED visible in $nFlipped) " +
            s"mismatch(old-dims)=$mismOld mismatch(new-dims)=$mismNew " +
            (if (nState == nBatch && mismOld == 0 && mismNew == 0) "EQUAL"
            else "MISMATCH"))
        } else {
          import org.apache.spark.sql.functions.{count => scount, sum => ssum}
          require(log.columns.sorted.sameElements(
            Array("batch_id", "h", "upd", "user_id", "w_start")),
            s"hash changelog schema drift: ${log.columns.mkString(",")}")
          val batchPivot = WindowOps.hoppingPivot(
            Tables.events(spark, dir), eventTypes = Tables.EventTypes)
          def twin(p: String) = graft.SparkEntry.scoredFlagshipWith(
            batchPivot, spark.read.parquet(p), orders)
          // the twin hashes EVERY scored column in the SAME order the
          // sink did (both DataFrames come from scoredFlagshipWith),
          // so per-key hash equality is row equality — bit-exact: the
          // sf1/sf10 exceptAll legs proved the pipeline deterministic
          // to the bit, and this mode reproduces their exact phase
          // counts at both SFs (SCALE.md r17)
          def hashed(df: org.apache.spark.sql.DataFrame) =
            df.select(col("user_id"), col("w_start"),
              org.apache.spark.sql.functions
                .xxhash64(df.columns.map(col): _*).as("th"))
          // size the verification shuffle from the corpus bytes — the
          // twin pipeline (1 B-event pivot at sf100) dominates, not
          // the narrow changelog
          val checkWidth = math.min(2048L, math.max(32L,
            graft.Sessions.statsBytes(Tables.events(spark, dir)) / (64L << 20))).toInt
          spark.conf.set("spark.sql.shuffle.partitions", checkWidth.toString)
          // the ONLY materialized verification artifact: one narrow row
          // per state key — columnar-cached (compressed; unpersisted
          // below), NOT localCheckpointed: a 496 M-row block copy on
          // top of the resident changelog re-creates the disk pressure
          // this mode exists to avoid
          val stateH = graft.operators.Relational.latestByKey(
            log, Seq("user_id", "w_start"), Seq("batch_id"))
            .persist()
          val pre = stateH.filter(col("batch_id") < flipAt)
          val post = stateH.filter(col("batch_id") >= flipAt)
          // inner-join each phase to its twin's hashes: a wrong row is
          // a hash mismatch, a key the twin lacks shrinks the matched
          // count — both land in the phase's mismatch total
          def phase(side: org.apache.spark.sql.DataFrame, twinH: org.apache.spark.sql.DataFrame): (Long, Long) = {
            val r = side.join(twinH, Seq("user_id", "w_start"))
              .agg(scount(lit(1)),
                ssum(when(col("h") =!= col("th"), 1L).otherwise(0L))).head()
            (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          }
          val nPre = pre.count()
          val nPost = post.count()
          val (mt1, mh1) = phase(pre, hashed(twin(v1Path)))
          val (mt2, mh2) = phase(post, hashed(twin(v2Path)))
          val mismOld = mh1 + (nPre - mt1)
          val mismNew = mh2 + (nPost - mt2)
          val nState = nPre + nPost
          val nBatch = batchPivot.count()
          val nFlipped = post.agg(ssum(col("upd").cast("long"))).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
          stateH.unpersist()
          println(f"[dim-update] $dir: ${secs}%.1f s, ${flipAt} flip batch of " +
            f"${nFiles / maxFiles.get} — state=$nState batch=$nBatch " +
            s"pre-flip rows=$nPre post-flip rows=$nPost " +
            s"(UPDATED visible in $nFlipped) " +
            s"hash-mismatch(old-dims)=$mismOld hash-mismatch(new-dims)=$mismNew " +
            s"[hash-verify width=$checkWidth] " +
            (if (nState == nBatch && mismOld == 0 && mismNew == 0) "EQUAL"
            else "MISMATCH"))
        }
        // back to the stream width
        spark.conf.set("spark.sql.shuffle.partitions", graft.Sessions.localCores.toString)
        // free this leg's on-disk artifacts before the next (decade)
        // leg starts: the sf10 changelog idling beside the sf100 run
        // was part of the first attempt's ENOSPC
        for (d <- Seq(mat, new java.io.File(out).getParent)) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(); ()
          }
          rm(new java.io.File(d))
        }
      }
      runRefresh("/root/testdata/sf0.001") // warmup
      runRefresh(small)
      runRefresh(big)
      spark.stop(); return
    }

    def run(dir: String): (Double, Long) = {
      val out = java.nio.file.Files
        .createTempDirectory("stream_scale").toString + "/changelog"
      val pivot = WindowOps.hoppingPivot(
        Streaming.withLateness(
          Streaming.eventsStream(spark, dir, maxFiles), effLateness),
        eventTypes = Tables.EventTypes)
      val t0 = System.nanoTime()
      Streaming.runToEnd(Streaming.changelogWriter(pivot, out)())
      val secs = (System.nanoTime() - t0) / 1e9
      val state = Streaming.readChangelogState(
        spark, out, Seq("user_id", "w_start")).count()
      (secs, state)
    }

    // codegen warmup on the tiny fixture so neither timed run pays
    // first-compile cost (same methodology as ScaleCurve/ProfileQuery)
    run("/root/testdata/sf0.001")

    val (tS, rS) = run(small)
    val (tB, rB) = run(big)
    println(f"${"sink=changelog-parquet"}%-28s ${"t(small)"}%9s ${"t(big)"}%9s ${"ratio"}%7s ${"state(small)"}%13s ${"state(big)"}%12s")
    println(f"${"q_stream_hopping_pivot"}%-28s $tS%9.3f $tB%9.3f ${tB / tS}%7.2f $rS%13d $rB%12d")

    // cross-check: the recovered upsert view must match the batch pivot
    val batchRows = WindowOps.hoppingPivot(
      Tables.events(spark, small), eventTypes = Tables.EventTypes).count()
    println(s"[check] batch pivot rows at small SF = $batchRows " +
      s"(streaming state $rS; equal => stream emitted the full result)")

    if (pivotOnly) { spark.stop(); return }

    // ---- the full SCORED flagship (reference README.md:41-74 pipeline):
    // hopping pivot -> dim/order enrichment -> predict UDF, streamed
    // into the changelog sink. One model, trained once on the tiny
    // fixture, scores both SFs — the measurement isolates pipeline
    // throughput, not training. The static enrichment relations are
    // MATERIALIZED once per corpus (untimed, reported) and re-read per
    // micro-batch: Spark re-executes a stream-static join's static side
    // every batch, so the inline form would re-aggregate 150 M orders
    // rows per batch at sf100 — the materialized table is the
    // production posture (the reference enriches from ksql TABLES) and
    // is what gets broadcast per batch.
    val reg = new graft.ml.Registry(
      java.nio.file.Files.createTempDirectory("ss_reg").toString)
    graft.ml.Trainer.trainAndRegister(
      spark, "/root/testdata/sf0.001", reg, "Bot Detector", useCv = false)
    graft.ml.Scorer.registerPredictUdf(
      spark, reg.rootDir, preload = Seq("Bot Detector"))
    def runFlagship(dir: String): (Double, Long) = {
      val mat = java.nio.file.Files
        .createTempDirectory("ss_flag_static").toString
      val tm0 = System.nanoTime()
      graft.SparkEntry.flagshipDims(spark, dir)
        .write.mode("overwrite").parquet(s"$mat/dims")
      graft.SparkEntry.flagshipOrderCounts(spark, dir)
        .write.mode("overwrite").parquet(s"$mat/orders")
      println(f"[stream-scale] $dir static enrich tables materialized " +
        f"in ${(System.nanoTime() - tm0) / 1e9}%.1f s (one-time, untimed)")
      val out = java.nio.file.Files
        .createTempDirectory("ss_flag").toString + "/changelog"
      val scored = graft.SparkEntry.scoredFlagshipWith(
        WindowOps.hoppingPivot(
          Streaming.withLateness(
            Streaming.eventsStream(spark, dir, maxFiles), effLateness),
          eventTypes = Tables.EventTypes),
        spark.read.parquet(s"$mat/dims"),
        spark.read.parquet(s"$mat/orders"))
      val t0 = System.nanoTime()
      Streaming.runToEnd(Streaming.changelogWriter(scored, out)())
      val secs = (System.nanoTime() - t0) / 1e9
      // state ≡ batch: the scored changelog compacts on the SAME key as
      // the pivot (one scored row per (user, window)), so the recovered
      // upsert view must row-count exactly the batch pivot
      val state = Streaming.readChangelogState(
        spark, out, Seq("user_id", "w_start")).count()
      (secs, state)
    }
    runFlagship("/root/testdata/sf0.001") // warmup
    val (fS, frS) = runFlagship(small)
    val (fB, frB) = runFlagship(big)
    println(f"${"flagship scored+sink"}%-28s $fS%9.3f $fB%9.3f ${fB / fS}%7.2f $frS%13d $frB%12d")
    val batchSmall = WindowOps.hoppingPivot(
      Tables.events(spark, small), eventTypes = Tables.EventTypes).count()
    println(s"[check] batch pivot rows at small SF = $batchSmall " +
      s"(flagship state $frS; equal => the scored stream emitted every window)")
    spark.stop()
  }
}
