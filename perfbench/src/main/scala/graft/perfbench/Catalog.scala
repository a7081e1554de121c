package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}

/** `catalog_sf0.01`: the named-query catalog, closed loop, one client, no
  * think time, on generated tables at sf0.01. Each timed operation is
  * Bench's span: `SparkEntry.queries(name)(spark, dir)`, then
  * `Sessions.autosizeFor`, then the noop-sink write. Whole passes over the
  * mix run until `--seconds` have passed and at least [[MinPasses]] have
  * run; the seed orders each pass. One untimed pass, which also writes the
  * outputs the checks compare, and one untimed warm pass come first.
  */
object Catalog {
  val Name = "catalog_sf0.01"
  val Sf = 0.01

  /** The pinned mix, chosen by [[MixSurvey.pick]] (one query per latency
    * decile of a warm pass over every unprovisioned `benchQueries` member):
    * a change to the catalog cannot change what is timed here without
    * changing this list.
    */
  val Mix: Seq[String] = Seq(
    "q6_forecast_revenue", "q_left_enrich", "q_latest_by_key", "q_top_ngrams",
    "q13_count_distribution", "q_asof_join", "q_fuzzy_match", "q5_region_revenue",
    "q_winnow_clean_exact", "q_auc_daily")

  /** Timed executions of each query at least; the per-query median and
    * upper quartile are taken over them.
    */
  val MinPasses = 3
  val TailPct = 75

  /** One timed operation; returns its latency in seconds. */
  def execute(spark: SparkSession, tracer: Tracer, trace: String, name: String,
      dir: String): Double = {
    tracer.setTrace(trace)
    val t0 = System.nanoTime()
    val s0 = Clock.nowUs()
    val df = tracer.span(trace, "entry.build")(SparkEntry.queries(name)(spark, dir))
    tracer.span(trace, "sessions.autosize")(Sessions.autosizeFor(df))
    tracer.span(trace, "scheduler.action")(df.write.format("noop").mode("overwrite").save())
    val secs = (System.nanoTime() - t0) / 1e9
    tracer.add(Span(trace, "op", s0, Clock.nowUs()))
    secs
  }

  def run(a: Harness.Args): Harness.Result = {
    val data = s"${a.work}/data"
    Harness.step("generate inputs")(Gen.tables(data, Sf, a.seed))
    val spark = Harness.step("start session")(Harness.session(a.work))
    val tracer = new Tracer(spark)
    def order(pass: Int): Seq[String] =
      new scala.util.Random(a.seed * 7919L + pass).shuffle(Mix)
    // the untimed warm pass doubles as the output check, run once per
    // query: oracle-backed results go to parquet for the DuckDB compare,
    // the rest must be non-empty. A query that throws here aborts the run.
    val checkDir = s"${a.work}/check"
    val oracle = SparkEntry.oracleSql
    val checkFailed = Harness.step("warm pass with output checks")(order(-1).filter { n =>
      val df = SparkEntry.queries(n)(spark, data)
      Sessions.autosizeFor(df)
      if (oracle.contains(n)) {
        df.write.mode("overwrite").parquet(s"$checkDir/$n"); false
      } else {
        val empty = df.isEmpty
        if (empty) System.err.println(s"[perfbench] $n returned no rows")
        empty
      }
    }.toSet)
    Harness.step("warm pass")(order(-2).foreach(execute(spark, tracer, "warm", _, data)))
    val setupS = Harness.secondsSince(a.t0Ms)

    final case class Exec(name: String, ok: Boolean, secs: Double, traced: Boolean,
        op: Harness.Op)
    val execs = ArrayBuffer.empty[Exec]
    val minPasses = if (a.trace) 4 else MinPasses
    val passWall = ArrayBuffer.empty[Long]
    val tracedWall = ArrayBuffer.empty[Long]
    Harness.Memory.arm()
    Harness.Steal.mark()
    val t0 = Clock.nowUs()
    var pass = 0
    while (pass < minPasses || Clock.nowUs() - t0 < a.seconds * 1000000L) {
      // a traced run interleaves untraced, traced, traced, untraced passes,
      // so that the tracing overhead is measured on the same mix in the same
      // process with a linear drift (the JIT still warming) cancelled out
      val traced = a.trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) tracer.start()
      val ps = Clock.nowUs()
      order(pass).zipWithIndex.foreach { case (name, i) =>
        val trace = s"$pass.$i"
        val s0 = Clock.nowUs()
        val (ok, secs) =
          try (true, execute(spark, tracer, trace, name, data))
          catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] $name failed in pass $pass:")
            e.printStackTrace()
            (false, Double.NaN)
          }
        execs += Exec(name, ok, secs, traced, Harness.Op(trace, s0, Clock.nowUs()))
      }
      passWall += Clock.nowUs() - ps
      System.err.println(f"[perfbench] pass $pass: ${passWall.last / 1e6}%.3f s" +
        (if (traced) " (traced)" else ""))
      if (traced) { tracedWall += passWall.last; tracer.stop() }
      pass += 1
    }
    Harness.Steal.report()
    val memMb = Harness.Memory.peakMb()

    // per query, so that the figures weigh every query of the mix alike and
    // do not jump between queries the way a pooled percentile does
    val perQuery = execs.filter(_.ok).groupBy(_.name).values.map(_.map(_.secs).toSeq).toSeq
    require(perQuery.nonEmpty, "no query execution succeeded")
    val metrics =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "latency_p50_s" -> Stats.geoMean(perQuery.map(Stats.median)),
        "latency_tail_s" -> Stats.geoMean(perQuery.map(Stats.quantile(_, TailPct / 100.0))),
        // executions per second of a median pass
        "throughput_per_s" -> Mix.size / (Stats.median(passWall.map(_.toDouble).toSeq) / 1e6),
        "peak_mem_mb" -> memMb)
      else {
        val traced = execs.filter(e => e.traced && e.ok).toSeq
        val untraced = execs.filter(e => !e.traced && e.ok).toSeq
        val overhead = traced.map(_.secs).sum / traced.size /
          (untraced.map(_.secs).sum / untraced.size) - 1
        Harness.writeSpans(s"${a.work}/spans.jsonl",
          (tracer.spans.toArray(Array.empty[Span]).toSeq ++ tracer.listenerSpans()))
        Harness.layerMetrics(tracer, traced.map(_.op), tracedWall.sum) :+
          ("trace.overhead_frac" -> overhead)
      }
    Harness.Result(
      attempted = execs.size,
      failed = Stats.batchFailures(execs.map(e => e.name -> e.ok).toSeq, checkFailed),
      metrics = metrics,
      checks = Map(
        "kind" -> "oracle",
        "data_dir" -> data,
        "check_dir" -> checkDir,
        "oracle" -> Mix.filter(n => oracle.contains(n) && !checkFailed(n))
          .map(n => n -> oracle(n)).toMap,
        "ok_executions" -> execs.filter(_.ok).groupBy(_.name).map { case (n, es) =>
          n -> es.size })
    )
  }
}
