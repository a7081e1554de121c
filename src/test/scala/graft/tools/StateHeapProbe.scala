package graft.tools

import org.apache.spark.sql.streaming.OutputMode

import graft.model.Tables
import graft.operators.WindowOps
import graft.streaming.Streaming

/** State-store provider crossover probe (SCALE.md §"state-store
  * provider"): runs the hopping pivot → changelog sink ONCE over a
  * corpus under an explicitly chosen (or auto-chosen) provider and
  * prints the two numbers the [[Streaming.stateProviderFor]] decision
  * is built from:
  *
  *  - `state_rows` / `state_mem_bytes` from the final
  *    `StreamingQueryProgress.stateOperators` — the default provider
  *    reports its ON-HEAP map size here, so rows ÷ bytes calibrates
  *    [[Streaming.MeasuredStateBytesPerEntry]];
  *  - wall seconds, or `FAILED <exception>` — run the same corpus with
  *    a heap the estimated state does NOT fit (e.g.
  *    `SPARK_DRIVER_MEM=4g`, sf10's ~50 M entries) to demonstrate the
  *    cliff the RocksDB pick avoids.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=4g sbt "Test/runMain graft.tools.StateHeapProbe
  *     --dir=target/scaledata/sf10 --provider=memory|rocksdb|auto"
  */
object StateHeapProbe {

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") =>
        a.drop(name.length + 3) }
    val dir = opt("dir").getOrElse("/root/testdata/sf0.1")
    val mode = opt("provider").getOrElse("memory")
    // --pipeline=session runs the session-window aggregation instead of
    // the hopping pivot: calibrates MeasuredSessionStateBytesPerEntry
    // and exercises the session-specific bound + auto
    val sessionPipe = opt("pipeline").contains("session")
    // bounded batches make the failure mode attributable: per-batch
    // working memory stays small and flat, so what grows (and what
    // kills the under-heaped in-memory provider mid-run) is the state
    // map alone. Replay watermark per withLateness's replay caveat.
    val maxFiles = opt("max-files").map(_.toInt)
    val lateness =
      if (maxFiles.isDefined) Streaming.ReplayLateness else "10 minutes"

    val spark = graft.Sessions.local()

    val heap = Runtime.getRuntime.maxMemory
    val (session, provider) = mode match {
      case "auto" =>
        if (sessionPipe) Streaming.autoStateSessionWindow(spark, dir)
        else Streaming.autoStateSession(spark, dir)
      case "rocksdb" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          Streaming.RocksDbStateProvider)
        Streaming.quietRocksDbNativeLogging() // JNI Logv SIGSEGV guard
        (spark, Streaming.RocksDbStateProvider)
      case _ => (spark, Streaming.DefaultStateProvider)
    }
    val est =
      if (sessionPipe) WindowOps.sessionStateUpperBound(Tables.events(spark, dir))
      else WindowOps.hoppingStateUpperBound(Tables.events(spark, dir))
    println(s"[probe] dir=$dir heap=${heap / (1 << 20)}MiB " +
      s"est_state_rows=$est provider=${provider.split('.').last}")
    graft.Sessions.decisions.foreach(d => println(
      f"[probe] pick ${d.op}: ${d.choice} (estimate ${d.estimate}%.4g vs threshold ${d.threshold}%.4g)"))
    // --decide-only: print the sizing decision and stop — the pick at a
    // decade point is evidence on its own (the replay it would gate is
    // measured separately) and costs seconds, not the full run
    if (args.contains("--decide-only")) { spark.stop(); return }

    val out = java.nio.file.Files
      .createTempDirectory("state_probe").toString + "/changelog"
    val stream = Streaming.withLateness(
      Streaming.eventsStream(session, dir, maxFiles), lateness)
    val pivot =
      if (sessionPipe) WindowOps.sessionAgg(stream, gap = "30 minutes")
      else WindowOps.hoppingPivot(stream, eventTypes = Tables.EventTypes)
    val t0 = System.nanoTime()
    try {
      // sessions reject Update mode — their production sink is Append
      // (Streaming.changelogWriter scaladoc); the pivot keeps the
      // Update-mode changelog
      val mode = if (sessionPipe) OutputMode.Append() else OutputMode.Update()
      val q = Streaming.runToEnd(Streaming.changelogWriter(pivot, out, mode)())
      val secs = (System.nanoTime() - t0) / 1e9
      // PEAK across progresses, not lastProgress: the end-of-batch
      // watermark pass evicts nearly all windows, so the final
      // progress reports post-eviction rows while the heap cost the
      // decision must price is the pre-eviction maximum
      val perBatch = q.recentProgress.toSeq
        .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      val rows = (0L +: perBatch.map(_._1)).max
      val mem = (0L +: perBatch.map(_._2)).max
      println(f"[probe] OK $secs%.1f s peak_state_rows=$rows peak_state_mem_bytes=$mem " +
        f"bytes_per_entry=${if (rows > 0) mem.toDouble / rows else 0.0}%.1f")
    } catch {
      case t: Throwable =>
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[probe] FAILED after $secs%.0f s: " +
          s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
    }
    spark.stop()
  }
}
