package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

import graft.model.Tables
import graft.operators.WindowOps
import graft.streaming.Streaming

/** Crash-recovery (RTO) probe for the big-state streaming posture
  * (SCALE.md §"state-store provider"): StreamingSpec pins that a
  * GRACEFULLY stopped query restarts correctly at fixture scale; this
  * measures what a production operator actually cares about — a HARD
  * crash (`Runtime.halt`, no shutdown hooks, no stop()) mid-replay
  * with tens of millions of live state entries, then the wall cost of
  * coming back: state restore from the RocksDB changelog checkpoint,
  * re-run of the in-flight batch, completion of the backlog, and a
  * distributed equality check against the batch answer.
  *
  * Two JVM invocations sharing `--work` (the crash phase halts the
  * JVM, so it cannot also resume):
  *
  *   WORK=$(mktemp -d)
  *   sbt "Test/runMain graft.tools.RestartProbe --dir=target/scaledata/sf10 \
  *     --work=$WORK --phase=crash --crash-after=4"   # exits 137 BY DESIGN
  *   sbt "Test/runMain graft.tools.RestartProbe --dir=target/scaledata/sf10 \
  *     --work=$WORK --phase=resume"
  *
  * The resume phase prints `restore_first_batch_s` (time from start()
  * to the first committed batch — checkpoint offset recovery + RocksDB
  * state restore + one batch) and `total_s`, then verifies the
  * compacted changelog equals the batch hopping pivot via two-sided
  * `except` — the at-least-once foreachBatch sink re-runs the
  * in-flight batch after a crash, and its per-batch overwrite must
  * leave exactly one copy of that batch.
  */
object RestartProbe {

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") =>
        a.drop(name.length + 3) }
    val dir = opt("dir").getOrElse("target/scaledata/sf10")
    val work = opt("work").getOrElse(
      sys.error("--work=<dir> required (must be the SAME dir in both phases)"))
    val phase = opt("phase").getOrElse("crash")
    val crashAfter = opt("crash-after").map(_.toInt).getOrElse(4)
    val maxFiles = opt("max-files").map(_.toInt).getOrElse(4)

    // long-replay companion (see applyBigStateConfs scaladoc)
    val spark = graft.Sessions.local("spark.cleaner.periodicGC.interval" -> "60s")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      Streaming.RocksDbStateProvider)
    Streaming.applyBigStateConfs(spark)

    val ck = s"$work/ck"
    val out = s"$work/changelog"
    // --pipeline=session: crash-recover the Append-mode session sink
    // instead of the pivot changelog. foreachBatch is at-least-once, so
    // the in-flight batch RE-RUNS after the kill, and Append-mode
    // sessions have no compaction key to hide a duplicate: the sink's
    // per-batch overwrite alone must make the replay idempotent; the
    // two-sided prefix-closure equality below counts any duplicate. Pass a
    // TIME-SORTED corpus (StreamScale --session builds
    // target/scaledata/_tsorted_*): sessions need ordered arrival with
    // the real watermark (Streaming.changelogWriter scaladoc).
    val sessionPipe = opt("pipeline").contains("session")
    // --pipeline=flagship: crash-recover the full SCORED flagship
    // (pivot → dim/order enrich → predict UDF → changelog), r15 VERDICT
    // #3 — the crash matrix's missing cell. The model and materialized
    // enrich tables live under --work so the crash and resume JVMs
    // score identically (a model retrained in the resume JVM would
    // diverge the equality check for reasons unrelated to recovery).
    val flagshipPipe = opt("pipeline").contains("flagship")
    lazy val staticDir: String = {
      val sd = s"$work/static"
      if (!new java.io.File(s"$sd/_READY").exists()) {
        val reg = new graft.ml.Registry(s"$work/reg")
        graft.ml.Trainer.trainAndRegister(
          spark, "/root/testdata/sf0.001", reg, "Bot Detector", useCv = false)
        graft.SparkEntry.flagshipDims(spark, dir)
          .write.mode("overwrite").parquet(s"$sd/dims")
        graft.SparkEntry.flagshipOrderCounts(spark, dir)
          .write.mode("overwrite").parquet(s"$sd/orders")
        new java.io.File(s"$sd/_READY").createNewFile()
        ()
      }
      graft.ml.Scorer.registerPredictUdf(
        spark, s"$work/reg", preload = Seq("Bot Detector"))
      sd
    }
    def scoredOf(feats: org.apache.spark.sql.DataFrame) =
      graft.SparkEntry.scoredFlagshipWith(feats,
        spark.read.parquet(s"$staticDir/dims"),
        spark.read.parquet(s"$staticDir/orders"))
    def pivotStream() =
      if (sessionPipe) WindowOps.sessionAgg(
        Streaming.withLateness(
          Streaming.eventsStream(spark, dir, Some(maxFiles)), "10 minutes"),
        gap = "30 minutes")
      else {
        val p = WindowOps.hoppingPivot(
          Streaming.withLateness(
            Streaming.eventsStream(spark, dir, Some(maxFiles)),
            Streaming.ReplayLateness),
          eventTypes = Tables.EventTypes)
        if (flagshipPipe) scoredOf(p) else p
      }
    def startSink(): Unit = {
      val mode = if (sessionPipe) OutputMode.Append() else OutputMode.Update()
      Streaming.runToEnd(Streaming.changelogWriter(pivotStream(), out, mode)()
        .option("checkpointLocation", ck))
    }

    phase match {
      case "crash" =>
        println(s"[restart] phase=crash dir=$dir work=$work " +
          s"halting after $crashAfter committed batches")
        spark.streams.addListener(new StreamingQueryListener {
          private var batches = 0
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = {
            if (e.progress.numInputRows > 0) {
              batches += 1
              println(s"[restart] committed batch ${e.progress.batchId} " +
                s"(${e.progress.numInputRows} rows, $batches/$crashAfter)")
              if (batches >= crashAfter) {
                println(s"[restart] HALT (simulated crash, exit 137 is the point)")
                Console.flush()
                Runtime.getRuntime.halt(137)
              }
            }
          }
        })
        startSink()
        // reaching here means the corpus finished before crashAfter
        // batches — the probe needs a bigger corpus or smaller batches
        println(s"[restart] WARNING: replay completed before the crash " +
          s"point; use a larger --dir or smaller --max-files")

      case "resume" =>
        require(new java.io.File(ck).isDirectory,
          s"checkpoint $ck missing — run --phase=crash first")
        println(s"[restart] phase=resume dir=$dir work=$work")
        val t0 = System.nanoTime()
        @volatile var firstBatchS = -1.0
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit =
            if (e.progress.numInputRows > 0 && firstBatchS < 0)
              firstBatchS = (System.nanoTime() - t0) / 1e9
        })
        startSink()
        val totalS = (System.nanoTime() - t0) / 1e9
        println(f"[restart] resume OK restore_first_batch_s=$firstBatchS%.1f " +
          f"total_s=$totalS%.1f")

        if (sessionPipe) {
          // session verification: emitted ≡ the batch twin's end-ordered
          // prefix (StreamScale --session's check), two-sided — an
          // at-least-once duplicate OR a lost session both fail it
          val emitted = spark.read.parquet(out)
            .select("user_id", "session_start", "session_end", "n_events")
          val maxEnd = emitted.agg(max(col("session_end"))).head.getLong(0)
          val batch = WindowOps.sessionAgg(
            Tables.events(spark, dir), gap = "30 minutes")
          val closed = batch.filter(col("session_end") <= maxEnd)
          val (e, c) = (emitted.count(), closed.count())
          val holes = closed.exceptAll(emitted).count()
          val extras = emitted.exceptAll(closed).count()
          println(s"[restart] session emitted=$e batch_prefix=$c " +
            s"holes=$holes extras=$extras " +
            (if (e == c && holes == 0 && extras == 0) "VERIFIED" else "MISMATCH"))
          spark.stop(); return
        }

        // distributed equality: compacted changelog ≡ batch pivot.
        // Default is two-sided exceptAll (no hashing caveats); at sf100
        // that spill (2 × 496 M rows of sort buffers on top of the 14 GB
        // checkpoint+changelog already on disk) exceeds this box, so
        // --verify=hash does a constant-memory PROBABILISTIC multiset
        // check instead. Sum-of-hashes alone is weak (differing multisets
        // can cancel — r14 ADVICE), so four order-independent combiners
        // must ALL agree: row count, SUM(h), BIT_XOR(h), and
        // SUM(h² mod 2⁶¹−1) — a forged collision must simultaneously
        // preserve the first and second power sums AND the xor, which no
        // bounded cancellation pattern does. Output is labeled
        // probabilistic; exceptAll stays the exact default.
        val verifyMode = opt("verify").getOrElse("except")
        val state = Streaming.readChangelogState(
          spark, out, Seq("user_id", "w_start"))
        val batchPivot = WindowOps.hoppingPivot(
          Tables.events(spark, dir), eventTypes = Tables.EventTypes)
        // scored pipeline compacts on the same (user, window) key; the
        // batch twin scores the batch pivot with the SAME registry model
        val batch = if (flagshipPipe) scoredOf(batchPivot) else batchPivot
        val cols = batch.columns.toSeq
        val stateRows = state.count()
        val batchRows = batch.count()
        val ok = verifyMode match {
          case "hash" =>
            // 2⁶¹−1 (Mersenne prime): h² stays in decimal(38,0) per row
            // and the 496 M-row sum still fits 38 digits
            val p = lit(BigDecimal((BigInt(1) << 61) - 1))
            def sig(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
              val h = xxhash64(struct(cols.map(col): _*))
              df.select(
                sum(h.cast("decimal(38,0)")).as("s1"),
                expr("bit_xor(xxhash64(struct(" + cols.mkString(",") + ")))").as("x"),
                sum(pmod(h.cast("decimal(38,0)") * h.cast("decimal(38,0)"), p))
                  .as("s2"))
                .head().toSeq
            }
            val (hs, hb) = (sig(state.select(cols.map(col): _*)), sig(batch))
            println(s"[restart] multiset-hash state=$hs batch=$hb " +
              "(PROBABILISTIC: count + power sums + xor, not exceptAll)")
            stateRows == batchRows && hs == hb
          case _ =>
            val onlyState = state.exceptAll(batch).count()
            val onlyBatch = batch.exceptAll(state).count()
            println(s"[restart] only_state=$onlyState only_batch=$onlyBatch")
            stateRows == batchRows && onlyState == 0 && onlyBatch == 0
        }
        println(s"[restart] state_rows=$stateRows batch_rows=$batchRows " +
          (if (ok) "VERIFIED" else "MISMATCH"))
        spark.stop()

      case other => sys.error(s"unknown --phase=$other (crash|resume)")
    }
  }
}
