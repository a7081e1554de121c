package graft

class SessionsSpec extends SparkSpec {

  test("local: the shared session carries the session policy") {
    // first test of the suite: `spark` was just (re)built by
    // Sessions.local, so no earlier test's conf edits are visible
    val cores = Sessions.localCores
    assert(spark.sparkContext.master == s"local[$cores]")
    assert(spark.sparkContext.defaultParallelism == cores)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "8192")
    assert(spark.conf.get("spark.sql.warehouse.dir").endsWith("/tmp/graft_warehouse"))
    // the graft SQL surface resolves with no register call in this suite
    assert(!spark.sql("SELECT simhash64('a b c d e') AS s").head().isNullAt(0))
  }

  test("shufflePartitionsFor: floors at cores, scales with bytes, caps") {
    // small corpus → core count (never undersubscribe)
    assert(Sessions.shufflePartitionsFor(15L << 20, cores = 32) == 32)
    // the measured sf100 shape: 2.1 GB events / 8 MiB target → ~256 —
    // the count the third-decade measurement showed restoring
    // sub-linear scaling (DEPLOY.md)
    val sf100 = Sessions.shufflePartitionsFor(2100L << 20, cores = 32)
    assert(sf100 >= 256 && sf100 <= 272, s"got $sf100")
    // monotone in bytes, capped at maxPartitions
    assert(Sessions.shufflePartitionsFor(1L << 50, cores = 32) == 65536)
    assert(Sessions.shufflePartitionsFor(0L, cores = 8) == 8)
    // Long.MaxValue = Catalyst's unknown-size sentinel: the pre-r15
    // form overflowed (bytes + target - 1 wraps negative) and silently
    // sized an "unknown huge" input to the CORE FLOOR — must cap instead
    assert(Sessions.shufflePartitionsFor(Long.MaxValue, cores = 32) == 65536)
  }

  test("statsBytes/autosizeFor: per-query sizing from plan stats") {
    val ev = graft.model.Tables.events(spark, sf0001)
    val b = Sessions.statsBytes(ev)
    assert(b > 1000L && b < (64L << 20), s"stats $b") // ~tens of KB scan
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val n = Sessions.autosizeFor(ev)
      // tiny input → floored at the core count
      assert(n == spark.sparkContext.defaultParallelism)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == n.toString)
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == n.toString)
      // a synthetic big input would scale: the pure function backs it
      assert(Sessions.shufflePartitionsFor(5000L << 20, 32) == 625)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    }
  }

  test("memoEstimate: one compute per (tag, plan, size); tag and plan rekey") {
    val ev = graft.model.Tables.events(spark, sf0001)
    var n = 0
    def est(): Double = { n += 1; 42.0 }
    assert(Sessions.memoEstimate(ev, "t1")(est()) == 42.0)
    assert(Sessions.memoEstimate(ev, "t1")(est()) == 42.0)
    assert(n == 1, "second identical call must hit the memo")
    Sessions.memoEstimate(ev, "t2")(est())
    assert(n == 2, "a different tag must recompute")
    // a semantically different plan over the same files must recompute
    Sessions.memoEstimate(ev.filter(org.apache.spark.sql.functions
      .col("user_id") > 0), "t1")(est())
    assert(n == 3)
  }

  test("isolatedSession: concurrent per-query widths cannot cross-contaminate " +
    "(r13 VERDICT nit #1)") {
    import org.apache.spark.sql.functions.col
    val parent = spark.conf.get("spark.sql.shuffle.partitions")
    val sA = Sessions.isolatedSession(spark)
    val sB = Sessions.isolatedSession(spark)
    // interleaved writes — the shape that races on a shared session
    sA.conf.set("spark.sql.shuffle.partitions", "7")
    sB.conf.set("spark.sql.shuffle.partitions", "13")
    assert(sA.conf.get("spark.sql.shuffle.partitions") == "7",
      "B's width clobbered A's clone")
    assert(sB.conf.get("spark.sql.shuffle.partitions") == "13")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parent,
      "clone width leaked into the parent session")
    // the width a query PLANS with is its own session's, resolved at
    // planning time — build on A, then let B write again, then plan
    val dfA = sA.read.parquet(s"$sf0001/customer.parquet")
      .groupBy(col("c_nationkey")).count()
    sB.conf.set("spark.sql.shuffle.partitions", "29")
    val planA = dfA.queryExecution.executedPlan.toString
    assert(planA.contains(", 7)"), s"A must plan 7-wide:\n${planA.take(800)}")
    // the graft SQL surface survives the clone (registries are
    // session-scoped; isolatedSession re-registers)
    assert(!sA.sql("SELECT simhash64('a b c d e') AS s").head().isNullAt(0))
  }

  test("decision ledger: adaptive picks are recorded, bounded, clearable") {
    import graft.model.Tables
    Sessions.clearDecisions()
    // every family member records at decision time, with the pick the
    // fixture's shape forces
    val ev = Tables.events(spark, sf0001)
    graft.operators.WindowOps.hoppingPivotAuto(
      ev, eventTypes = Tables.EventTypes)
    val (_, provider) = graft.streaming.Streaming.autoStateSession(spark, sf0001)
    val ds = Sessions.decisions
    val hop = ds.find(_.op == "hoppingPivotAuto").get
    assert(hop.choice == "preShuffle" && hop.estimate < hop.threshold,
      s"fixture events are the low-multiplicity regime: $hop")
    val st = ds.find(_.op == "autoStateSession").get
    assert(st.choice == provider.split('.').last && st.estimate < st.threshold,
      s"fixture state fits the heap: $st")
    // bounded FIFO: overflow evicts oldest, never grows past the cap
    Sessions.clearDecisions()
    (1 to 1100).foreach(i =>
      Sessions.recordDecision("probe", i.toDouble, 0.0, "x"))
    val after = Sessions.decisions
    assert(after.size == 1024, s"got ${after.size}")
    assert(after.head.estimate == 77.0 && after.last.estimate == 1100.0)
    Sessions.clearDecisions()
    assert(Sessions.decisions.isEmpty)
  }
}
