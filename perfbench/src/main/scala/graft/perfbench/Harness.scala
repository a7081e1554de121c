package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in this process, one client,
  * and writes its measurements to `<work>/result.json`. `perfbench/run.py`
  * builds this, launches it, runs the DuckDB output checks and prints the
  * result line.
  *
  *   Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --work <dir> --t0-ms <epoch ms at which the benchmark's set-up began>
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, t0Ms: Long)

  /** What a workload hands back: the operation counts, every metric of the
    * run's mode, and anything the output checks outside the JVM need.
    */
  final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Double)],
      checks: Map[String, Any])

  val Layers: Seq[String] = Seq("entry", "sessions", "catalyst", "scheduler", "exec",
    "tables", "streaming", "scorer", "trainer", "dimstore", "gen")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("t0-ms").toLong)
    val status =
      try {
        val r = a.workload match {
          case Catalog.Name => Catalog.run(a)
          case Flagship.Name => Flagship.run(a)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        Files.writeString(Paths.get(a.work, "result.json"), Json.render(Map(
          "attempted" -> r.attempted, "failed" -> r.failed,
          "metrics" -> r.metrics.toMap, "checks" -> r.checks)))
        0
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] ${a.workload} aborted:")
          t.printStackTrace()
          1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    // Spark leaves non-daemon threads behind; end the JVM with the status
    sys.exit(status)
  }

  /** Bench's session: local[nproc], shuffle width nproc, AQE on, UTC, with
    * every scratch path inside the run's work directory.
    */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Runs one set-up step and reports its wall time on stderr. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] set-up: $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def secondsSince(t0Ms: Long): Double = (Clock.nowUs() - t0Ms * 1000L) / 1e6

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The peak memory the program holds, in MB, as two parts that can each
    * move: the peak resident set outside the heap (VmHWM minus the
    * committed heap, which is fixed and pre-touched, so always resident)
    * plus the largest heap still in use after a garbage collection between
    * [[Memory.arm]] and this call. A full collection here, after the timed
    * phase, adds the live heap at its end (the stream's state store, any
    * cache still held) even when no collection ran while armed.
    */
  object Memory {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val peakAfterGc = new AtomicLong
    private val explicitAfterGc = new LinkedBlockingQueue[java.lang.Long]()
    @volatile private var armed = false

    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (info.getGcCause == "System.gc()") explicitAfterGc.put(used)
          else if (armed) peakAfterGc.accumulateAndGet(used, math.max(_, _))
        }, null, null)
      case _ =>
    }

    def arm(): Unit = { peakAfterGc.set(0L); armed = true }

    def peakMb(): Double = {
      armed = false
      explicitAfterGc.clear()
      // System.gc() can return without collecting (a thread inside a JNI
      // critical region holds it off); only a notification proves it ran
      val endLive: Long = Iterator.continually {
        System.gc()
        Option(explicitAfterGc.poll(2, TimeUnit.SECONDS))
      }.take(5).collectFirst { case Some(u) => u.longValue }
        .getOrElse(throw new IllegalStateException("no full collection ran for System.gc()"))
      val mb = 1048576.0
      val offHeap = peakRssMb() -
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / mb
      val liveHeap = math.max(peakAfterGc.get, endLive) / mb
      System.err.println(f"[perfbench] peak memory: $offHeap%.1f MB outside the heap + " +
        f"$liveHeap%.1f MB heap after GC (${peakAfterGc.get / mb}%.1f while timed, " +
        f"${endLive / mb}%.1f at the end)")
      offHeap + liveHeap
    }
  }

  /** The host's share of CPU time stolen by other guests (the `steal`
    * column of /proc/stat) between [[mark]] and [[report]], printed so that
    * a run slowed by its neighbours can be told from a slow program.
    */
  object Steal {
    private def ticks(): (Long, Long) = {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
        .drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    }
    @volatile private var from = (0L, 0L)
    def mark(): Unit = from = ticks()
    def report(): Unit = {
      val (total, steal) = ticks()
      val share = (steal - from._2).toDouble / math.max(1L, total - from._1)
      System.err.println(f"[perfbench] host: ${100 * share}%.1f %% of CPU time stolen " +
        "during the timed phase")
    }
  }

  /** A traced operation on the blocking path. */
  final case class Op(trace: String, startUs: Long, endUs: Long)

  /** Per-layer metrics over the traced operations `ops`, which together
    * with the gaps between them span `wallUs`. `extra` adds spans the
    * workload derives itself (micro-batches, generator waits). Self
    * times cover the whole wall; the named `unattributed` line is the
    * remainder.
    */
  def layerMetrics(tracer: Tracer, ops: Seq[Op], wallUs: Long,
      extra: Seq[Span] = Nil): Seq[(String, Double)] = {
    tracer.drain()
    val traces = ops.map(_.trace).toSet
    val all = (tracer.spans.toArray(Array.empty[Span]).toSeq ++ tracer.listenerSpans())
      .filter(s => traces.contains(s.trace)) ++ extra
    val tree = SelfTimes.tree(all)
    val selfBy = tree.groupMapReduce(_._1.layer)(_._3)(_ + _)
    val named = Layers.map(l => l -> selfBy.getOrElse(l, 0L))
    val unattributed = wallUs - named.map(_._2).sum
    val selfMetrics = (named :+ ("unattributed" -> unattributed)).flatMap { case (l, us) =>
      Seq(s"self.${l}_s" -> us / 1e6, s"self.${l}_frac" -> us.toDouble / wallUs) }

    val n = math.max(1, ops.size).toDouble
    val counters = LayerCounters.perTrace(tracer).filter(c => traces.contains(c._1)).values.toSeq
    def sumC(f: LayerCounters.OpCounters => Double) = counters.map(f).sum
    def spansNamed(name: String) = all.filter(_.name == name)
    val jobs = tracer.jobs.filter(j => traces.contains(j.trace))
    def jobsInside(name: String) = {
      val sp = spansNamed(name).groupBy(_.trace)
      jobs.count(j => sp.getOrElse(j.trace, Nil).exists(s =>
        j.startUs >= s.startUs - 1000L && j.startUs <= s.endUs))
    }
    val jobsByTrace = jobs.groupBy(_.trace)
    val driverGapUs = ops.map { o =>
      Stats.selfTime(o.startUs, o.endUs,
        jobsByTrace.getOrElse(o.trace, Nil).map(j => (j.startUs, j.endUs)))
    }.sum
    val cores = Runtime.getRuntime.availableProcessors
    val mb = 1024.0 * 1024.0
    Seq(
      "entry.build_s" -> spansNamed("entry.build").map(_.durUs).sum / 1e6 / n,
      "entry.build_jobs" -> jobsInside("entry.build") / n,
      "sessions.autosize_s" -> spansNamed("sessions.autosize").map(_.durUs).sum / 1e6 / n,
      "sessions.autosize_jobs" -> jobsInside("sessions.autosize") / n,
      "catalyst.analysis_s" -> spansNamed("catalyst.analysis").map(_.durUs).sum / 1e6 / n,
      "catalyst.optimization_s" ->
        spansNamed("catalyst.optimization").map(_.durUs).sum / 1e6 / n,
      "catalyst.planning_s" -> spansNamed("catalyst.planning").map(_.durUs).sum / 1e6 / n,
      "scheduler.jobs" -> sumC(_.jobs) / n,
      "scheduler.stages" -> sumC(_.stages) / n,
      "scheduler.tasks" -> sumC(_.tasks) / n,
      "scheduler.driver_gap_s" -> driverGapUs / 1e6 / n,
      "scheduler.task_wait_s" -> sumC(_.taskWaitUs) / 1e6 / n,
      "exec.task_s" -> sumC(_.taskMs) / 1e3 / n,
      "exec.cpu_s" -> sumC(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> sumC(_.gcMs) / 1e3 / n,
      "exec.busy_frac" -> sumC(_.taskMs) / 1e3 / (cores * wallUs / 1e6),
      "exec.shuffle_write_mb" -> sumC(_.shuffleWrite) / mb / n,
      "exec.shuffle_read_mb" -> sumC(_.shuffleRead) / mb / n,
      "exec.spill_mb" -> sumC(_.spill) / mb / n,
      "exec.peak_task_mem_mb" -> sumC(_.peakMem) / mb / n,
      "exec.stage_skew" -> (if (counters.isEmpty) 1.0 else sumC(_.skew) / counters.size),
      "tables.read_mb" -> sumC(_.readBytes) / mb / n,
      "tables.read_rows" -> sumC(_.readRows) / n,
      "trace.wall_s" -> wallUs / 1e6,
      "trace.ops" -> ops.size.toDouble,
    ) ++ selfMetrics
  }

  /** Writes the run's spans, one JSON object per line, with each span's
    * parent index in the file (-1 for a root) and its self time.
    */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val tree = SelfTimes.tree(spans)
    val lines = tree.map { case (s, parent, self) =>
      Json.render(Map("trace" -> s.trace, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> parent, "self_us" -> self)) }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result file and the span log. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
