package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read through the monotonic timer so
  * that spans never run backwards, anchored to the epoch so that Spark's
  * millisecond listener times fall on the same axis.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * operation (a query execution or a micro-batch); the layer is the name's
  * prefix up to the first dot.
  */
final case class Span(trace: String, name: String, startUs: Long, endUs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durUs: Long = endUs - startUs
}

/** Raw listener records, kept as they arrive and aggregated after the run. */
final case class JobRec(id: Int, trace: String, execId: String, startUs: Long,
    endUs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, submitUs: Long)
final case class TaskRec(stageId: Int, launchUs: Long, endUs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    peakMem: Long, readBytes: Long, readRows: Long)

/** Records spans in memory and, while enabled, the Spark listener events
  * the per-layer metrics need. Spans from the harness's own calls go in
  * through [[span]]; jobs, stages, tasks and Catalyst phases come from the
  * listeners it registers.
  */
final class Tracer(spark: SparkSession) {
  val TraceKey = "perfbench.trace"

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** (query execution, phase span) from the QueryExecutionListener. */
  val phases = new ConcurrentLinkedQueue[(QueryExecution, Span)]()
  /** (query execution, SQL execution id), from the SQL execution-end events. */
  val executions = new ConcurrentLinkedQueue[(QueryExecution, String)]()
  /** Time spent inside this tracer's own listener callbacks. */
  val callbackNs = new java.util.concurrent.atomic.AtomicLong

  /** Which operation a job belongs to; by default the trace its thread
    * was tagged with when the job started.
    */
  @volatile var traceOf: JobRec => String = _.trace

  @volatile private var on = false

  def span[T](trace: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = Clock.nowUs()
      try body finally spans.add(Span(trace, name, t0, Clock.nowUs()))
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val trace = Seq(prop(TraceKey), prop("streaming.sql.batchId")).find(_.nonEmpty)
        .getOrElse("")
      jobStarts.add(JobRec(e.jobId, trace, prop("spark.sql.execution.id"), e.time * 1000L,
        -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobEnds.put(e.jobId, e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L) * 1000L))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => timed {
        Option(PerfbenchBridge.queryExecution(end)).foreach(qe =>
          executions.add(qe -> end.executionId.toString))
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, info.launchTime * 1000L,
        info.finishTime * 1000L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed {
        qe.tracker.phases.foreach { case (phase, p) =>
          if (phase != "parsing")
            phases.add(qe -> Span("", s"catalyst.$phase", p.startTimeMs * 1000L,
              p.endTimeMs * 1000L))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Detaches the listeners once every event posted so far has reached
    * them.
    */
  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Every finished job, with its end time. */
  def jobs: Seq[JobRec] = jobStarts.asScala.toSeq.flatMap(j =>
    Option(jobEnds.get(j.id)).map(e => j.copy(endUs = e)))
      .map(j => j.copy(trace = traceOf(j)))

  def setTrace(id: String): Unit = spark.sparkContext.setLocalProperty(TraceKey, id)

  /** Listener-derived spans: each job, the union of its task intervals
    * (as `exec.tasks` spans), and each Catalyst phase, all tagged with the
    * trace of the job that ran them.
    */
  def listenerSpans(): Seq[Span] = {
    // listener times are whole milliseconds; shrinking each interval by a
    // millisecond at both ends keeps it inside the real interval, and so
    // inside the harness span that caused it
    def inner(trace: String, name: String, s: Long, e: Long): Span =
      if (e - s > 2000L) Span(trace, name, s + 1000L, e - 1000L)
      else Span(trace, name, (s + e) / 2, (s + e) / 2)
    val js = jobs
    val stageJob = js.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val tasksByJob = tasks.asScala.toSeq.groupBy(t => stageJob.get(t.stageId).map(_.id))
    val execTrace = js.filter(_.execId.nonEmpty).map(j => j.execId -> j.trace).toMap
    val execOf = new java.util.IdentityHashMap[QueryExecution, String]()
    executions.forEach(x => execOf.put(x._1, x._2))
    val jobSpans = js.flatMap { j =>
      val ts = tasksByJob.getOrElse(Some(j.id), Nil)
      inner(j.trace, "scheduler.job", j.startUs, j.endUs) +:
        merged(ts.map(t => (t.launchUs, t.endUs))).map { case (s, e) =>
          inner(j.trace, "exec.tasks", s, e) }
    }
    val phaseSpans = phases.asScala.toSeq.map { case (qe, s) =>
      val trace = Option(execOf.get(qe)).flatMap(execTrace.get).getOrElse("")
      inner(trace, s.name, s.startUs, s.endUs) }
    jobSpans ++ phaseSpans
  }

  private def merged(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, i) => i :: acc
    }.reverse
}

/** Per-operation counters aggregated from the listener records. */
object LayerCounters {

  /** Sums, per trace, of the scheduler, exec and tables counters; plus the
    * worst-stage skew and the largest task peak memory.
    */
  final case class OpCounters(jobs: Int, stages: Int, tasks: Int, taskWaitUs: Long,
      taskMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, peakMem: Long, readBytes: Long, readRows: Long, skew: Double)

  def perTrace(t: Tracer): Map[String, OpCounters] = {
    val js = t.jobs
    val stagesById = t.stages.asScala.toSeq.map(s => s.id -> s).toMap
    val tasksByStage = t.tasks.asScala.toSeq.groupBy(_.stageId)
    js.groupBy(_.trace).map { case (trace, jobsOf) =>
      val ran = jobsOf.flatMap(_.stageIds).distinct.filter(tasksByStage.contains)
      val ts = ran.flatMap(tasksByStage)
      val waits = ran.flatMap { sid =>
        stagesById.get(sid).map(st => math.max(0L, tasksByStage(sid).map(_.launchUs).min - st.submitUs))
      }
      val worst = ran.maxByOption(sid => tasksByStage(sid).map(_.endUs).max -
        tasksByStage(sid).map(_.launchUs).min)
      val skew = worst.map { sid =>
        val d = tasksByStage(sid).map(x => (x.endUs - x.launchUs).toDouble)
        val med = Stats.median(d)
        if (med > 0) d.max / med else 1.0
      }.getOrElse(1.0)
      trace -> OpCounters(jobsOf.size, ran.size, ts.size, waits.sum, ts.map(_.runMs).sum,
        ts.map(_.cpuNs).sum, ts.map(_.gcMs).sum, ts.map(_.shuffleWrite).sum,
        ts.map(_.shuffleRead).sum, ts.map(_.spill).sum,
        if (ts.isEmpty) 0L else ts.map(_.peakMem).max, ts.map(_.readBytes).sum,
        ts.map(_.readRows).sum, skew)
    }
  }
}

/** Self-time accounting over a set of spans on the blocking path. */
object SelfTimes {

  /** How deep a span sits: the root of an operation, the harness's calls
    * into a layer, Catalyst phases, jobs, and task execution. Concurrent
    * jobs and tasks overlap each other, so spans nest by this rank and not
    * by containment alone.
    */
  def rank(name: String): Int = name match {
    case "op" | "streaming.trigger" | "streaming.start" | "gen.wait" => 1
    case "exec.tasks" => 5
    case "scheduler.job" => 4
    case n if n.startsWith("catalyst.") => 3
    case _ => 2
  }

  /** For each span: its parent (the deepest-ranked span of the same trace,
    * ranked above it, that covers its start; -1 for a root) and its self
    * time. Each instant of a trace belongs to the deepest-ranked span
    * covering it (of equal ranks, the earliest started), so a span's self
    * time is its length minus what deeper spans cover, overlapping children
    * count once, and the self times of a trace add up to the length of the
    * union of its spans.
    */
  def tree(spans: Seq[Span]): Seq[(Span, Int, Long)] = {
    val indexed = spans.toIndexedSeq
    val parent = Array.fill(indexed.size)(-1)
    val self = Array.fill(indexed.size)(0L)
    indexed.indices.groupBy(indexed(_).trace).values.foreach { ids =>
      def deeper(i: Int, j: Int): Boolean = {
        val (a, b) = (indexed(i), indexed(j))
        Ordering[(Int, Long, Long)].gt((rank(a.name), -a.startUs, a.durUs),
          (rank(b.name), -b.startUs, b.durUs))
      }
      ids.foreach { i =>
        val s = indexed(i)
        val covers = ids.filter { j =>
          val p = indexed(j)
          rank(p.name) < rank(s.name) && p.startUs <= s.startUs && s.startUs < p.endUs
        }
        if (covers.nonEmpty) parent(i) = covers.reduce((x, y) => if (deeper(x, y)) x else y)
      }
      val cuts = ids.flatMap(i => Seq(indexed(i).startUs, indexed(i).endUs)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (b, e) =>
        val live = ids.filter(i => indexed(i).startUs <= b && e <= indexed(i).endUs)
        if (live.nonEmpty) {
          val owner = live.reduce((x, y) => if (deeper(x, y)) x else y)
          self(owner) += e - b
        }
      }
    }
    indexed.indices.map(i => (indexed(i), parent(i), self(i)))
  }
}
