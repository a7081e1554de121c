package graft

import org.apache.spark.sql.SparkSession

/** Shuffle-partition autosizing — DEPLOY.md's third-decade lesson as
  * code instead of prose. The sf100 measurement (SCALE.md §"Third full
  * decade") showed a fixed 32-partition setting putting ~15 M aggregate
  * groups per task (past the spill cliff, 3.8× slower on the hopping
  * pivot) while 256 partitions restored sub-linear scaling with no plan
  * change; and AQE only coalesces DOWN from
  * `coalescePartitions.initialPartitionNum`, never up, so the initial
  * number must be sized for the data. [[autosizeFor]] derives it from
  * each query's scanned input bytes so the fix happens without a
  * hand-set knob.
  *
  * Also home of [[local]], the one factory every main and test builds its
  * session through.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the processors the JVM sees. */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared local-session policy: `local[cores]` with shuffle width =
    * cores, AQE on, UTC, UI off, and an object-hash-aggregate fallback at
    * 8192 keys (collect_list/set aggregates — as-of histories, winnow
    * buckets, centroids — keep the fast path at realistic per-partition
    * key counts; the 128-key default falls back to sort-based almost
    * immediately: q_asof_broadcast 1.46 s -> 0.95 s at sf0.1). The graft
    * SQL functions are registered on the result (re-registering
    * overwrites, so a reused session is fine). `conf` entries are
    * applied last and override the policy.
    */
  def local(conf: (String, String)*): SparkSession = {
    val cores = localCores.toString
    val policy = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(policy) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Shuffle input per task: 8 MiB of compressed parquet. Narrow event
    * rows expand ~8–16× through snappy + dictionary decoding into
    * shuffle rows, so 8 MiB on disk ≈ the classic 64–128 MB in-memory
    * task — and it is the factor the sf100 measurement backs out exactly
    * (2.1 GB events → 256 partitions).
    */
  private val TargetInputBytesPerTask = 8L << 20

  /** Cap on [[shufflePartitionsFor]]: a runaway figure helps nobody. */
  private val MaxPartitions = 65536

  /** Partition count for a corpus: one shuffle task per
    * [[TargetInputBytesPerTask]] of ON-DISK input, floored at the core
    * count (never undersubscribe the cluster) and capped at
    * [[MaxPartitions]].
    */
  def shufflePartitionsFor(bytes: Long, cores: Int): Int = {
    require(cores > 0)
    // divide-first overflow guard: `bytes + target - 1` wraps NEGATIVE
    // near Long.MaxValue (the value Catalyst assigns an unknown-size
    // leaf), and the old form then silently landed on the CORE FLOOR —
    // the exact opposite of what an unknown huge input should size to
    // (caught by the r15 width audit: q_zorder_ranked's uncached rank
    // RDDs recorded leafBytes = Long.MaxValue with autoWidth = 8)
    val fromBytes =
      if (bytes / TargetInputBytesPerTask >= MaxPartitions.toLong) MaxPartitions
      else ((bytes + TargetInputBytesPerTask - 1) / TargetInputBytesPerTask)
        .max(0L).toInt
    fromBytes.max(cores).min(MaxPartitions.max(cores))
  }

  /** The query's SCANNED bytes: the sum of its leaf relations' Catalyst
    * size estimates (file sizes for parquet scans). Free (no job), and
    * exactly the number a per-query sizing decision should use — a
    * corpus DIRECTORY mixes tables that differ 10× in size (measured at
    * sf100: dir-wide sizing gave the as-of join 1671 partitions where
    * its own ~5 GB input wants ~600, and 1671 measured 2.5× SLOWER than
    * right-sized — worse than the 32-partition default it meant to fix).
    * Leaf SUM, not the top-plan estimate: Catalyst propagates join
    * stats multiplicatively, so any join-bearing plan's root estimate
    * explodes to nonsense (measured: the ANN queries' broadcast-join
    * plans hit the 65536 cap off a 130 MB corpus).
    *
    * NON-FILE leaves get two corrections, both r15 width-audit finds:
    *  - a `localCheckpoint()` intermediate becomes a LogicalRDD leaf
    *    whose Catalyst stats are the FROZEN pre-checkpoint estimate —
    *    the multiplicative explosion leaked through the checkpoint
    *    boundary (q11: 1.4 MB of scans froze into a 456 GB leaf and
    *    sized 54 452 partitions for a kilobyte aggregate). A
    *    checkpointed RDD is MATERIALIZED (localCheckpoint is eager), so
    *    its TRUE stored bytes come from `getRDDStorageInfo`;
    *  - an UNCACHED RDD leaf (e.g. a zipWithIndex rank map) has no
    *    stats at all and reports `defaultSizeInBytes` = Long.MaxValue —
    *    summing that poisons the width. A non-file leaf whose stat IS
    *    that sentinel (and that the storage listing doesn't cover) is
    *    clamped to the plan's file-leaf total: derived relations with
    *    unknowable size are, for sizing purposes, bounded by the scans
    *    that feed them. A non-file leaf with a REAL stat — a
    *    materialized InMemoryRelation reports its actual cached bytes,
    *    a LocalRelation its actual row bytes — keeps it (r15 ADVICE:
    *    clamping those undersized a tiny-scan × large-cache join).
    *    Plans with no file leaves keep raw stats.
    */
  def statsBytes(df: org.apache.spark.sql.DataFrame): Long = {
    lazy val storage = df.sparkSession.sparkContext.getRDDStorageInfo
    val sentinel = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val fileSum = leaves.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.stats.sizeInBytes
    }.sum
    def clamp(b: BigInt): BigInt =
      if (fileSum > 0 && b >= sentinel) b.min(fileSum) else b
    val total = leaves.map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.stats.sizeInBytes
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        storage.find(_.id == l.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize))
          .getOrElse(clamp(l.stats.sizeInBytes))
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        // materialized cache: sizeInBytesStats holds the ACTUAL cached
        // bytes — exact, never clamp. Unmaterialized: the stat is the
        // child plan's estimate, which explodes through joins exactly
        // like a root estimate — bound it by the plan's scans.
        if (im.cacheBuilder.isCachedColumnBuffersLoaded) im.stats.sizeInBytes
        else if (fileSum > 0) im.stats.sizeInBytes.min(fileSum)
        else im.stats.sizeInBytes
      case other => clamp(other.stats.sizeInBytes)
    }.sum
    total.min(BigInt(Long.MaxValue)).toLong
  }

  /** Per-QUERY autosizing: derive the shuffle width from the query's
    * own optimized-plan input stats and land it on the session confs
    * (the query's physical planning is lazy, so confs set here apply
    * when the action runs). The harness mains call this per query —
    * the per-job sizing a real deployment does.
    *
    * SERIAL contract: this mutates the SHARED session's confs, so two
    * queries prepared concurrently on one session race — last writer
    * wins for both (r13 VERDICT nit #1). The harness mains are serial
    * by construction; a multi-tenant deployment must give each
    * concurrent query its own conf scope via [[isolatedSession]] and
    * BUILD the query on that session (confs resolve against the session
    * the DataFrame was constructed on — applying widths to a clone
    * cannot retroactively rebind an existing DataFrame).
    * SessionsSpec proves clone isolation end-to-end.
    */
  def autosizeFor(df: org.apache.spark.sql.DataFrame): Int =
    applyConfs(df.sparkSession, shufflePartitionsFor(
      statsBytes(df), df.sparkSession.sparkContext.defaultParallelism))

  /** Conf-isolated session for CONCURRENT per-query autosizing: a
    * `newSession()` clone — shared SparkContext, cached data and
    * catalog; PRIVATE SQLConf and function registry — with the graft
    * SQL surface re-registered (function registries are session-scoped,
    * so a bare clone would lose `graft_*`/sketch functions). Build the
    * query on the returned session, then `autosizeFor` it there: widths
    * land on the clone's conf and cannot cross-contaminate another
    * tenant's query, which SessionsSpec asserts by planning two
    * differently-sized queries from interleaved clones.
    */
  def isolatedSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    graft.functions.GraftFunctions.register(s2)
    s2
  }

  /** Memo for cheap plan-choice estimates (key multiplicity, history
    * size, skew factor): keyed on the input plan's SEMANTIC hash plus
    * its Catalyst size estimate, so repeated invocations over the same
    * corpus — bench reps, a pipeline calling an adaptive operator
    * several times — pay the sampled estimator scan once, while new
    * data under the same paths re-estimates (file sizes move the stats
    * component of the key). Plan-choice staleness on a byte-identical
    * rewrite is harmless: the estimate picks a plan, it never enters a
    * result — spec-pinned by WindowOpsSpec "stale memo estimate is
    * harmless", which poisons a key with the wrong regime and asserts
    * the mis-picked plan is result-identical. Bounded: cleared
    * wholesale past 4096 entries (estimates
    * are per-corpus, not per-row; the bound exists for pathological
    * loops generating unique plans).
    */
  private val estimateCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  def memoEstimate(df: org.apache.spark.sql.DataFrame, tag: String)(
      compute: => Double): Double = {
    val plan = df.queryExecution.optimizedPlan
    val key = s"$tag|${plan.semanticHash()}|${statsBytes(df)}"
    if (estimateCache.size > 4096) estimateCache.clear()
    estimateCache.computeIfAbsent(key, _ => compute).doubleValue
  }

  /** Deterministic bounded-I/O view over `df`'s backing files for
    * estimator scans: re-reads a hash-spread subset of the files
    * (smallest subset ≥ `maxBytes`, minimum two files so the sample
    * spans layout variation), so estimator cost is O(sample bytes)
    * instead of O(corpus) — at real 100 TB a plan-choice probe must not
    * scan the table it is sizing (r13 VERDICT #2). Hash order, not path
    * order: part-file names correlate with writer task id / time, and a
    * prefix would sample one writer's slice.
    *
    * Returns (view, totalFiles, readFiles). Falls back to `df` itself
    * (1, 1) whenever bounding is impossible or pointless: in-memory
    * relations, single-file tables, multi-relation plans whose merged
    * file list doesn't project the needed columns, or any I/O error —
    * estimator callers never fail because the bound couldn't apply.
    * The view re-reads RAW files, so plan-level filters/projections on
    * `df` are dropped and column TYPES are re-cast to `df`'s schema
    * (fixture timestamp annotations vary by generation; the cast
    * normalizes exactly like the table readers do).
    */
  def boundedFileSample(
      df: org.apache.spark.sql.DataFrame,
      cols: Seq[String],
      maxBytes: Long = 64L << 20): (org.apache.spark.sql.DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val fallback = (df, 1, 1)
    try {
      val files = df.inputFiles
      if (files.length <= 2) return fallback
      val conf = spark.sparkContext.hadoopConfiguration
      val ordered = files.sortBy(f => scala.util.hashing.MurmurHash3.stringHash(f))
      val chosen = scala.collection.mutable.ArrayBuffer.empty[String]
      var acc = 0L
      for (f <- ordered if acc < maxBytes || chosen.length < 2) {
        val p = new org.apache.hadoop.fs.Path(f)
        acc += p.getFileSystem(conf).getFileStatus(p).getLen
        chosen += f
      }
      if (chosen.length >= files.length) fallback
      else {
        val raw = spark.read.parquet(chosen.toSeq: _*)
        if (!cols.forall(raw.columns.contains)) fallback
        else (raw.select(cols.map(c =>
          col(c).cast(df.schema(c).dataType).as(c)): _*),
          files.length, chosen.length)
      }
    } catch { case scala.util.control.NonFatal(_) => fallback }
  }

  /** Profiling hook (ProfileQuery): drop every memoized estimate so the
    * next adaptive-operator construction pays its estimator scan again —
    * the cost a fresh JVM (the Bench methodology) pays. Without this,
    * fresh-JVM re-measurements of adaptive queries exclude estimator
    * cost after the first rep and bias contention-vs-regression triage.
    */
  def clearEstimates(): Unit = estimateCache.clear()

  /** One adaptive-plan pick: which plan an *Auto operator chose, from
    * what measured estimate, against what threshold. For
    * parameter-DERIVING decisions (range-lookup bucket width) the
    * derived value is in `choice` and `threshold` is 0.
    */
  final case class Decision(
      op: String, estimate: Double, threshold: Double, choice: String)

  // The operability face of the adaptive layer: every *Auto operator
  // (and autoStateSession) appends its pick here at decision time, so
  // "why did this query run salted?" is answerable in-process —
  // Sessions.decisions — instead of from executor logs. Observational
  // only (estimates pick plans, never enter results): bounded FIFO,
  // lock-free, clearable.
  private val decisionLog =
    new java.util.concurrent.ConcurrentLinkedQueue[Decision]()
  private val MaxDecisions = 1024

  def recordDecision(
      op: String, estimate: Double, threshold: Double, choice: String): Unit = {
    decisionLog.add(Decision(op, estimate, threshold, choice))
    while (decisionLog.size > MaxDecisions) { decisionLog.poll(); () }
  }

  /** Recorded picks, oldest first (capped at the newest 1024). */
  def decisions: Seq[Decision] = {
    val b = Seq.newBuilder[Decision]
    decisionLog.forEach(d => b += d)
    b.result()
  }

  def clearDecisions(): Unit = decisionLog.clear()

  private def applyConfs(spark: SparkSession, n: Int): Int = {
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    n
  }
}
