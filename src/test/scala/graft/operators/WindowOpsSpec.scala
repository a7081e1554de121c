package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables

class WindowOpsSpec extends SparkSpec {
  import spark.implicits._

  private val types = Seq("click", "view")

  test("hopping pivot: every event lands in exactly size/slide = 5 windows") {
    val df = Seq((1L, "2024-01-01 00:05:00", "click"))
      .toDF("user_id", "t", "event_type")
      .withColumn("ts", to_timestamp($"t"))
    val out = WindowOps.hoppingPivot(df, eventTypes = types)
    val rows = out.collect()
    assert(rows.length == 5)
    // epoch-aligned starts (multiples of the 120s slide), all containing the event
    val starts = rows.map(_.getAs[Long]("w_start")).sorted
    val ep = 1704067500L // 00:05:00
    val aligned = ep - ep % 120
    assert(starts.toSeq == (0 to 4).map(k => aligned - 480 + k * 120))
    assert(starts.forall(s => s % 120 == 0 && s <= ep && s + 600 > ep))
    assert(rows.forall(_.getAs[Long]("click_views") == 1L))
    assert(rows.forall(_.getAs[Long]("view_views") == 0L))
  }

  test("hopping pivot: window_start/end are observed min/max event times, not bounds") {
    val df = Seq(
      (1L, "2024-01-01 00:00:30", "click"),
      (1L, "2024-01-01 00:01:15", "view"))
      .toDF("user_id", "t", "event_type")
      .withColumn("ts", to_timestamp($"t"))
    val out = WindowOps.hoppingPivot(df, eventTypes = types)
    // the window starting at 00:00:00 contains both events
    val w0 = out.filter($"w_start" === 1704067200L).head()
    assert(w0.getAs[String]("window_start") == "00:00:30")
    assert(w0.getAs[String]("window_end") == "00:01:15")
  }

  test("hopping pivot preShuffle: identical result, exchange below the expand/agg") {
    val df = Tables.events(spark, sf0001)
    val base = WindowOps.hoppingPivot(df, eventTypes = Tables.EventTypes)
    val pre = WindowOps.hoppingPivot(df, eventTypes = Tables.EventTypes,
      preShuffle = true)
    assert(pre.collect().toSet == base.collect().toSet)
    // the one exchange moves the compact EVENTS (REPARTITION_BY_NUM,
    // below the Generate); the hop replication and both agg phases run
    // exchange-free above it - no ENSURE_REQUIREMENTS re-shuffle of
    // partials (which is exactly what window()'s Expand would force:
    // ExpandExec reports UnknownPartitioning). Plan inspected fresh,
    // pre-execution, per the repo's JoinsSpec pattern.
    val plan = WindowOps.hoppingPivot(df, eventTypes = Tables.EventTypes,
      preShuffle = true).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      plan.take(1500))
    assert(plan.contains("REPARTITION_BY_NUM") &&
      !plan.contains("ENSURE_REQUIREMENTS"), plan.take(1500))
  }

  test("hopping preShuffle w_start: exact past 2^53 µs (year 2500) and pre-1970") {
    // the preShuffle plan derives w_start with integral `div`; this pins
    // it against the default plan's window() floor at both edges where
    // naive floating-point derivations go wrong: timestamps beyond the
    // double-exact integer range and negative (pre-epoch) hop starts
    val df = Seq(
      (1L, "2500-06-01 00:03:30.250", "click"),
      (1L, "2500-06-01 00:04:10.750", "view"),
      (2L, "1969-12-31 23:57:01.500", "click"))
      .toDF("user_id", "t", "event_type")
      .withColumn("ts", to_timestamp($"t"))
    val base = WindowOps.hoppingPivot(df, eventTypes = types)
    val pre = WindowOps.hoppingPivot(df, eventTypes = types, preShuffle = true)
    assert(pre.collect().toSet == base.collect().toSet)
    val starts = pre.select("w_start").as[Long].collect()
    // slide-aligned under FLOOR semantics (floorMod, not %: a truncated
    // toward-zero division would misalign the negative starts)
    assert(starts.forall(s => math.floorMod(s, 120L) == 0L))
    assert(starts.exists(_ < 0L), "pre-1970 windows present")
    assert(starts.exists(_ > 9007199254740992L / 1000000L),
      "year-2500 windows past 2^53 µs present")
  }

  test("hopping auto: multiplicity estimate splits the two corpus regimes") {
    val ev = Tables.events(spark, sf0001)
    // event-stream regime: ~1 event per (key, hop) — the corpus shape
    // SCALE.md measured preShuffle winning on
    val mLow = WindowOps.hoppingMultiplicity(ev, keySampleMod = 1)
    assert(mLow < 1.5, s"fixture multiplicity $mLow")
    // replay-heavy regime: every row duplicated 8x (same key, same ts)
    // — partial aggregation genuinely reduces 8x here
    val dup = ev.withColumn("_r",
      explode(sequence(lit(1L), lit(8L)))).drop("_r")
    val mHigh = WindowOps.hoppingMultiplicity(dup, keySampleMod = 1)
    assert(mHigh > 6.0 && mHigh < 10.0, s"duplicated multiplicity $mHigh")
  }

  test("hopping multiplicity: bounded file subset, unchanged estimate and pick") {
    // the estimator must not scan the corpus it is sizing: an 8-file
    // layout with a ~2-file byte budget reads 2 files and still lands
    // the same regime call as the full scan (per-partition multiplicity
    // is layout-local, so a whole-file sample is unbiased by construction)
    val dir = java.nio.file.Files.createTempDirectory("hopmult").toString
    Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"event_type")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val ev = spark.read.parquet(dir)
    val (view, total, read) =
      graft.Sessions.boundedFileSample(ev, Seq("user_id", "ts"), maxBytes = 1L)
    assert(total == 8 && read == 2, s"read $read of $total files")
    assert(view.inputFiles.length == 2)
    graft.Sessions.clearEstimates()
    val bounded = WindowOps.hoppingMultiplicity(ev, keySampleMod = 1, maxSampleBytes = 1L)
    graft.Sessions.clearEstimates()
    val full = WindowOps.hoppingMultiplicity(ev, keySampleMod = 1,
      maxSampleBytes = Long.MaxValue)
    // event-stream regime from either view; both below the 3.0 threshold
    assert(bounded < 1.5 && full < 1.5, s"bounded $bounded full $full")
    assert(math.abs(bounded - full) < 0.5)
  }

  test("hopping multiplicity is WITHIN-PARTITION: spread duplicates read as ~1, " +
    "clustered as ~8 — the partial-agg reduction the plans actually trade") {
    val dir = java.nio.file.Files.createTempDirectory("hopspread").toString
    val base = Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"event_type")
      .withColumn("copy", explode(sequence(lit(1L), lit(8L))))
    // clustered: all 8 copies of a (key, window) in ONE file — map-side
    // partial agg reduces 8x, the default plan's winning regime
    base.repartition(8, $"user_id").drop("copy")
      .write.mode("overwrite").parquet(s"$dir/clustered")
    // spread: each copy in a DIFFERENT file (partitioned by copy id) —
    // same global multiplicity 8, but partial agg reduces NOTHING,
    // so the correct call is preShuffle; a global-multiplicity
    // estimator over a file subset could never see this
    base.repartition(8, $"copy").drop("copy")
      .write.mode("overwrite").parquet(s"$dir/spread")
    graft.Sessions.clearEstimates()
    val mClustered = WindowOps.hoppingMultiplicity(
      spark.read.parquet(s"$dir/clustered"), keySampleMod = 1)
    val mSpread = WindowOps.hoppingMultiplicity(
      spark.read.parquet(s"$dir/spread"), keySampleMod = 1)
    assert(mClustered > 6.0, s"clustered $mClustered")
    // hash collisions of the 8 copy ids over 8 partitions can co-locate
    // a couple of copies, so "spread" reads a little above 1 — what
    // matters is it stays on the preShuffle side of the 3.0 threshold
    assert(mSpread < 3.0, s"spread $mSpread")
  }

  test("hopping state bound: safe across layouts — tight when duplicates cluster, " +
    "over-estimating (never under) when they spread") {
    // the provider decision's failure asymmetry (over-estimate = pay the
    // RocksDB tax, under-estimate = OOM) means the ONE property the
    // estimator must hold on ANY file layout is bound ≥ truth; tightness
    // is only required where the sample can actually see the duplicates
    val dir = java.nio.file.Files.createTempDirectory("hopstate").toString
    val base = Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"event_type")
      .withColumn("copy", explode(sequence(lit(1L), lit(8L))))
    // clustered: all copies of a (key, window) in one file — the sample
    // sees the duplication, so the per-file statistic is ≈ the truth
    base.repartition(8, $"user_id").drop("copy")
      .write.mode("overwrite").parquet(s"$dir/clustered")
    // spread: each copy in a different file — within a file every group
    // looks unique, so the scaled statistic over-counts shared groups
    // (once per file they touch), landing ABOVE the truth: safe
    base.repartition(8, $"copy").drop("copy")
      .write.mode("overwrite").parquet(s"$dir/spread")
    val clustered = spark.read.parquet(s"$dir/clustered")
    val spreadDf = spark.read.parquet(s"$dir/spread")
    val truth = WindowOps.hoppingPivot(clustered, eventTypes = types).count()
    val rowsTimesHops = clustered.count() * 5 // 10 min size / 2 min slide
    // FULL-scan statistic (every file): Σ over files of within-file
    // distinct (key, hop, file) counts a shared group once per file it
    // touches, so it is ≥ the true group count DETERMINISTICALLY (the
    // distinct count is exact) — this is the ≥-truth guarantee. A
    // bounded FILE SAMPLE of the same statistic is unbiased but
    // carries between-file sampling variance on top
    // (either direction — at fixture size a 2-of-8 subset can sit well
    // under the mean); that wobble is exactly what the provider
    // decision's 0.5 heap-fraction margin absorbs, so the sampled path
    // is asserted for membership in [worst-case cap] only.
    graft.Sessions.clearEstimates()
    val bClustered = WindowOps.hoppingStateUpperBound(
      clustered, maxSampleBytes = Long.MaxValue)
    graft.Sessions.clearEstimates()
    val bSpread = WindowOps.hoppingStateUpperBound(
      spreadDf, maxSampleBytes = Long.MaxValue)
    assert(bClustered >= truth,
      s"clustered bound $bClustered under-estimates truth $truth")
    assert(bSpread >= truth,
      s"spread bound $bSpread under-estimates truth $truth")
    // neither escapes the exact rows × hops worst case (the min arm)
    assert(bClustered <= rowsTimesHops && bSpread <= rowsTimesHops)
    // layout sensitivity, both directions: visible duplicates keep the
    // bound tight; invisible (spread) ones push it toward the worst case
    assert(bClustered <= truth * 2, s"clustered bound $bClustered vs truth $truth")
    assert(bSpread >= bClustered,
      s"spread $bSpread should over-count vs clustered $bClustered")
    // bounded-sample path: stays within the cap on any subset draw
    graft.Sessions.clearEstimates()
    val bSampled = WindowOps.hoppingStateUpperBound(clustered, maxSampleBytes = 1L)
    assert(bSampled >= 1L && bSampled <= rowsTimesHops, s"sampled $bSampled")
  }

  test("hopping estimators: the same rows in the same files give the same estimate") {
    // two writes of one layout differ only in their part-file names
    val dir = java.nio.file.Files.createTempDirectory("hopsame").toString
    val rows = Tables.events(spark, sf0001).select($"user_id", $"ts", $"event_type")
      .withColumn("copy", explode(sequence(lit(1L), lit(8L)))).drop("copy")
    Seq("a", "b").foreach { c =>
      rows.repartition(8, $"user_id").write.mode("overwrite").parquet(s"$dir/$c")
    }
    def estimates(c: String): (Long, Double) = {
      val df = spark.read.parquet(s"$dir/$c")
      graft.Sessions.clearEstimates()
      (WindowOps.hoppingStateUpperBound(df, maxSampleBytes = Long.MaxValue),
        WindowOps.hoppingMultiplicity(df, keySampleMod = 1,
          maxSampleBytes = Long.MaxValue))
    }
    assert(estimates("a") == estimates("b"))
  }

  test("hopping auto: plan pick flips with the regime, results identical") {
    val ev = Tables.events(spark, sf0001)
    val dup = ev.withColumn("_r",
      explode(sequence(lit(1L), lit(8L)))).drop("_r")
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val autoLow = WindowOps.hoppingPivotAuto(ev,
      eventTypes = Tables.EventTypes, keySampleMod = 1)
    val autoHigh = WindowOps.hoppingPivotAuto(dup,
      eventTypes = Tables.EventTypes, keySampleMod = 1)
    // low multiplicity → the exchange-free preShuffle shape; high →
    // the default window() plan (Expand + two-phase agg, no
    // REPARTITION_BY_NUM hint anywhere)
    assert(plan(autoLow).contains("REPARTITION_BY_NUM"), plan(autoLow).take(1200))
    assert(!plan(autoHigh).contains("REPARTITION_BY_NUM"), plan(autoHigh).take(1200))
    assert(plan(autoHigh).contains("Expand"), plan(autoHigh).take(1200))
    // both picks produce the default plan's exact result on their corpus
    assert(autoLow.collect().toSet ==
      WindowOps.hoppingPivot(ev, eventTypes = Tables.EventTypes).collect().toSet)
    assert(autoHigh.collect().toSet ==
      WindowOps.hoppingPivot(dup, eventTypes = Tables.EventTypes).collect().toSet)
  }

  test("stale memo estimate is harmless: a wrong-regime pick still returns " +
    "exact results") {
    // Sessions.memoEstimate keys on (semantic hash, stats bytes), so a
    // same-size corpus rewrite can reuse a stale estimate. Prime the
    // cache with the WRONG regime for a high-multiplicity corpus and
    // prove the mis-picked plan is still result-identical — the
    // harmlessness claim in Sessions' scaladoc, as a spec: estimates
    // pick plans, they never enter results.
    val ev = Tables.events(spark, sf0001)
    val dup = ev.withColumn("_r", explode(sequence(lit(1L), lit(8L)))).drop("_r")
    graft.Sessions.clearEstimates()
    // poison dup's own memo key with "multiplicity 1.0" (preShuffle
    // regime) — the tag mirrors hoppingMultiplicity's defaults
    val poisoned = graft.Sessions.memoEstimate(dup,
      "hopmult|ts|user_id|600000000|120000000|64|67108864") { 1.0 }
    assert(poisoned == 1.0)
    val auto = WindowOps.hoppingPivotAuto(dup, eventTypes = Tables.EventTypes)
    // the stale estimate steers auto to preShuffle (wrong regime here:
    // true multiplicity is ~8)...
    assert(auto.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM"),
      "stale estimate should have picked the preShuffle plan")
    // ...but the result is exactly the default plan's
    val direct = WindowOps.hoppingPivot(dup, eventTypes = Tables.EventTypes)
    assert(auto.collect().toSet == direct.collect().toSet)
    graft.Sessions.clearEstimates()
  }

  test("hopping auto: streaming input skips the estimator, keeps window() plan") {
    val stream = spark.readStream.format("rate").load()
    // must not run an estimator job on an unbounded source and must not
    // pick the batch-only preShuffle shape — the result is a valid
    // streaming frame on the default window() plan
    val out = WindowOps.hoppingPivotAuto(stream, tsCol = "timestamp",
      keyCol = "value", eventCol = "value", eventTypes = Seq("x"))
    assert(out.isStreaming)
  }

  test("hopping preShuffle: rejected on a streaming input (batch-only plan)") {
    val stream = spark.readStream.format("rate").load()
    val e = intercept[IllegalArgumentException] {
      WindowOps.hoppingPivot(stream, tsCol = "timestamp", keyCol = "value",
        eventCol = "value", eventTypes = Seq("x"), preShuffle = true)
    }
    assert(e.getMessage.contains("batch-only"))
  }

  test("rolling counts equal brute-force over [t-600, t]") {
    val events = Seq(
      (1L, 0L, "click"), (1L, 300L, "click"), (1L, 600L, "view"),
      (1L, 601L, "click"), (1L, 1200L, "click"), (2L, 0L, "click"))
      .toDF("user_id", "ts_sec", "event_type")
    val out = WindowOps.rollingCounts(events, eventTypes = types)
      .select("user_id", "ts_sec", "clicks_last_600s").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force
    val data = Seq((1L, 0L, "click"), (1L, 300L, "click"), (1L, 600L, "view"),
      (1L, 601L, "click"), (1L, 1200L, "click"), (2L, 0L, "click"))
    for ((u, t, _) <- data) {
      val expected = data.count { case (u2, t2, e2) =>
        u2 == u && t2 >= t - 600 && t2 <= t && e2 == "click"
      }
      assert(out((u, t)) == expected.toLong, s"user $u ts $t")
    }
  }

  test("topKPerGroup returns k rows per group in order") {
    val df = Seq((1L, 10.0), (1L, 30.0), (1L, 20.0), (2L, 5.0))
      .toDF("k", "v")
    val out = WindowOps.topKPerGroup(df, Seq("k"), Seq($"v".desc), 2)
      .orderBy("k", "rank_in_group").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ==
      Seq((1L, 30.0, 1), (1L, 20.0, 2), (2L, 5.0, 1)))
  }

  test("distinctKeys") {
    val df = Seq(1L, 1L, 2L).toDF("user_id")
    assert(WindowOps.distinctKeys(df, "user_id").count() == 2)
  }

  test("funnelStages: strictly-after ordering and max-gap both enforced") {
    val df = Seq(
      // u1 completes a->b->c in order within gaps
      (1L, "2024-01-01 10:00:00", "a"), (1L, "2024-01-01 10:10:00", "b"),
      (1L, "2024-01-01 10:20:00", "c"),
      // u2: b BEFORE a → stage 2 never fires (strictly after)
      (2L, "2024-01-01 09:00:00", "b"), (2L, "2024-01-01 10:00:00", "a"),
      // u3: b after a but beyond the 15-minute gap → stops at 1
      (3L, "2024-01-01 10:00:00", "a"), (3L, "2024-01-01 10:30:00", "b"),
      // u4: no stage-1 event at all
      (4L, "2024-01-01 10:00:00", "x"))
      .toDF("user_id", "s", "event_type")
      .withColumn("ts", to_timestamp($"s"))
    val out = WindowOps.funnelStages(df, Seq("a", "b", "c"), maxGapSec = 900)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("stage_reached"))).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("funnelStages: same-timestamp stage-2 event does not count (strict >)") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", "a"), (1L, "2024-01-01 10:00:00", "b"),
      (1L, "2024-01-01 10:01:00", "b"))
      .toDF("user_id", "s", "event_type")
      .withColumn("ts", to_timestamp($"s"))
    val r = WindowOps.funnelStages(df, Seq("a", "b"), maxGapSec = 3600).head()
    assert(r.getAs[Int]("stage_reached") == 2)
    // t2 must be the 10:01 event, not the tied 10:00 one
    assert(r.getAs[Long]("t2_us") - r.getAs[Long]("t1_us") == 60L * 1000000L)
  }

  test("resampleFill: missing buckets forward-filled, bucket max taken") {
    val df = Seq(
      (1L, "2024-01-01 00:00:10", 1.0), (1L, "2024-01-01 00:00:50", 5.0), // bucket max 5
      (1L, "2024-01-01 00:03:00", 2.0)) // buckets 1,2 missing → filled with 5
      .toDF("user_id", "s", "value")
      .withColumn("ts", to_timestamp($"s"))
    val out = WindowOps.resampleFill(df, stepSec = 60)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val base = out.head._1
    assert(out.map(_._1).toSeq == (base to base + 3).toSeq, "dense grid")
    assert(out.map(_._2).toSeq == Seq(5.0, 5.0, 5.0, 2.0))
  }

  test("retentionCohorts: cohort day, offsets, distinct-user counts") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 23:00:00"), // same day once
      (1L, "2024-01-03 00:00:00"),                              // offset 2
      (2L, "2024-01-01 05:00:00"),                              // same cohort
      (3L, "2024-01-02 09:00:00"))                              // later cohort
      .toDF("user_id", "s")
      .withColumn("ts", to_timestamp($"s"))
    val out = WindowOps.retentionCohorts(df)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
      .toSet
    assert(out == Set(
      ("2024-01-01", 0, 2L), // users 1,2 on their cohort day
      ("2024-01-01", 2, 1L), // user 1 back two days later
      ("2024-01-02", 0, 1L)))
  }
  test("sequenceStats: single exchange, suite values correct on a tiny series") {
    import spark.implicits._
    val df = Seq((1L, 1, 10.0), (1L, 2, 30.0), (1L, 3, 20.0), (2L, 1, 5.0))
      .toDF("k", "o", "v")
    val out = WindowOps.sequenceStats(df, "k", Seq("o"), "v")
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"all seven functions must share one exchange:\n$plan")
    val rows = out.orderBy("k", "o").collect()
    assert(rows.map(_.getInt(3)).toSeq == Seq(1, 2, 3, 1)) // seq_no
    assert(rows(1).getDouble(6) == 20.0) // delta = 30 - 10
    assert(rows(0).isNullAt(4) && rows(2).isNullAt(5)) // lag/lead edges
    assert(rows(3).getDouble(8) == 0.0) // percent_rank of a 1-row partition
    assert(rows(3).getDouble(9) == 1.0) // cume_dist of a 1-row partition
  }

  test("multiTrailingCounts: one exchange for all horizons, counts match brute force") {
    import spark.implicits._
    val data = Seq(
      (1L, 1L, 0L), (2L, 1L, 1800L), (3L, 1L, 3600L), (4L, 1L, 90000L),
      (5L, 2L, 50L))
    val df = data.toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = WindowOps.multiTrailingCounts(df, "user_id", "ts", Seq(3600L, 86400L))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"horizons must share one exchange:\n$plan")
    val got = out.collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_last_3600s"), r.getAs[Long]("n_last_86400s"))).toMap
    for ((id, u, t) <- data) {
      val h = (hz: Long) => data.count { case (_, u2, t2) =>
        u2 == u && t2 >= t - hz && t2 <= t }.toLong
      assert(got(id) == ((h(3600L), h(86400L))), s"event $id")
    }
  }

  test("trailingDistinct equals brute-force windowed COUNT(DISTINCT)") {
    import spark.implicits._
    val data = Seq(
      (1L, 1L, 0L, "a"), (2L, 1L, 100L, "b"), (3L, 1L, 3700L, "a"),
      (4L, 1L, 3800L, "a"), (5L, 2L, 0L, "x"))
    val df = data.toDF("event_id", "user_id", "sec", "v")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = WindowOps.trailingDistinct(df, "user_id", "ts", "v", 3600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("n_distinct_3600s")).toMap
    for ((id, u, t, _) <- data) {
      val expect = data.filter { case (_, u2, t2, _) =>
        u2 == u && t2 >= t - 3600 && t2 <= t }.map(_._4).distinct.size.toLong
      assert(got(id) == expect, s"event $id")
    }
  }

  test("rollingQuantile equals brute-force interpolated order statistic") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 1, 5.0), (2L, 1L, 2, 1.0), (3L, 1L, 3, 9.0), (4L, 1L, 4, 3.0),
      (5L, 2L, 1, 7.0))
      .toDF("event_id", "user_id", "o", "v")
    val got = WindowOps.rollingQuantile(df, "user_id", Seq("o"), "v", 0.5, 3)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("rolling_q")).toMap
    def brute(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted; val h = (s.length - 1) * p
      val lo = h.toInt
      if (lo == h) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val series = Seq(5.0, 1.0, 9.0, 3.0)
    for (i <- series.indices) {
      val frame = series.slice(math.max(0, i - 2), i + 1)
      assert(math.abs(got(i + 1L) - brute(frame, 0.5)) < 1e-9, s"row ${i + 1}")
    }
    assert(got(5L) == 7.0) // single-row frame
  }


  test("rollingQuantile: all-NULL frame yields NULL, not a runtime error") {
    import spark.implicits._
    val df = Seq((1L, 1L, 1, None: Option[Double]), (2L, 1L, 2, Some(4.0)))
      .toDF("event_id", "user_id", "o", "v")
    val got = WindowOps.rollingQuantile(df, "user_id", Seq("o"), "v", 0.5, 3)
      .orderBy("o").collect()
    assert(got(0).isNullAt(got(0).fieldIndex("rolling_q")))
    assert(got(1).getDouble(got(1).fieldIndex("rolling_q")) == 4.0)
  }

  test("trailingDistinctApprox: exact at enum cardinality, <5% error at high cardinality") {
    import spark.implicits._
    // enum-like domain: HLL sparse mode is exact, so the sketch variant
    // must agree with the exact operator row for row
    val data = Seq(
      (1L, 1L, 0L, "a"), (2L, 1L, 100L, "b"), (3L, 1L, 3700L, "a"),
      (4L, 1L, 3800L, "a"), (5L, 2L, 0L, "x"))
    val df = data.toDF("event_id", "user_id", "sec", "v")
      .withColumn("ts", timestamp_seconds($"sec"))
    val exact = WindowOps.trailingDistinct(df, "user_id", "ts", "v", 3600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("n_distinct_3600s")).toMap
    val approx = WindowOps.trailingDistinctApprox(df, "user_id", "ts", "v", 3600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("n_distinct_3600s")).toMap
    assert(approx == exact)
    // high cardinality inside ONE horizon — the case the exact
    // operator's collect_set state cannot survive at scale: estimate
    // within the sketch's error bound
    val big = (1 to 5000).map(i => (i.toLong, 1L, i.toLong, s"v$i"))
      .toDF("event_id", "user_id", "sec", "v")
      .withColumn("ts", timestamp_seconds($"sec"))
    val est = WindowOps.trailingDistinctApprox(big, "user_id", "ts", "v", 10000L)
      .filter($"event_id" === 5000L).collect().head.getAs[Long]("n_distinct_10000s")
    assert(math.abs(est - 5000.0) / 5000.0 < 0.05, s"estimate $est for true 5000")
  }

  test("rollingQuantileApprox: rank-accurate vs the exact frame, NULL-safe") {
    import spark.implicits._
    val series = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0)
    val df = series.zipWithIndex.map { case (v, i) => (i + 1L, 1L, i, v) }
      .toDF("event_id", "user_id", "o", "v")
    val got = WindowOps.rollingQuantileApprox(df, "user_id", Seq("o"), "v", 0.5, 3)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("rolling_q")).toMap
    for (i <- series.indices) {
      val frame = series.slice(math.max(0, i - 2), i + 1).sorted
      val v = got(i + 1L)
      // KLL returns a retained frame element whose rank is within the
      // sketch bound of p — at this size the sketch is exact, so the
      // value must BE a frame element with rank error <= 1 position
      assert(frame.contains(v), s"row ${i + 1}: $v not in frame $frame")
      val rank = frame.indexOf(v).toDouble / math.max(frame.size - 1, 1)
      assert(math.abs(rank - 0.5) <= 0.5 / math.max(frame.size - 1, 1) + 1e-9,
        s"row ${i + 1}: rank $rank too far from 0.5 in $frame")
    }
    // all-NULL frame -> NULL, same contract as the exact operator
    val nulls = Seq((1L, 1L, 1, None: Option[Double]), (2L, 1L, 2, Some(4.0)))
      .toDF("event_id", "user_id", "o", "v")
    val g2 = WindowOps.rollingQuantileApprox(nulls, "user_id", Seq("o"), "v", 0.5, 3)
      .orderBy("o").collect()
    assert(g2(0).isNullAt(g2(0).fieldIndex("rolling_q")))
    assert(g2(1).getDouble(g2(1).fieldIndex("rolling_q")) == 4.0)
    // large frame: rank error within the KLL bound (~1.65%, assert 3%)
    val n = 4000
    val rnd = new scala.util.Random(7)
    val bigSeries = Vector.fill(n)(rnd.nextDouble() * 1000)
    val big = bigSeries.zipWithIndex.map { case (v, i) => (i + 1L, 1L, i, v) }
      .toDF("event_id", "user_id", "o", "v")
    val bigGot = WindowOps.rollingQuantileApprox(
      big, "user_id", Seq("o"), "v", 0.9, 2000)
      .filter($"event_id" === n.toLong).collect().head.getAs[Double]("rolling_q")
    val lastFrame = bigSeries.slice(n - 2000, n).sorted
    val bigRank = lastFrame.count(_ <= bigGot).toDouble / 2000
    assert(math.abs(bigRank - 0.9) < 0.03, s"rank $bigRank for p=0.9")
  }

  test("sessionAgg bound-filters cannot unmerge sessions (the session_window " +
    "pushdown hazard, pinned)") {
    // two events 25 min apart (< the 30-min gap) = ONE merged session
    // [10:00, 10:55). With bounds derived from the grouping struct,
    // Catalyst pushed `session_end <= X` below the aggregate as a
    // per-row `ts + gap <= X` predicate, dropping the second event
    // BEFORE the merge and emitting the unmerged prefix [10:00, 10:30)
    // as a phantom session (found by StreamScale --session's
    // prefix-closure check at sf0.1; plan-verified). Bounds are now
    // aggregate outputs, which no predicate can cross.
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:25:00")))
      .toDF("user_id", "ts")
    val sessions = WindowOps.sessionAgg(df, gap = "30 minutes")
    assert(sessions.count() == 1)
    val mergedEnd = sessions.head.getAs[Long]("session_end")
    // a bound past the first event's PRE-MERGE end (10:30) but before
    // the merged end (10:55): nothing may survive the filter
    val bound = mergedEnd - 600
    val got = sessions.filter(col("session_end") <= bound).collect()
    assert(got.isEmpty,
      s"phantom unmerged session leaked through a bound-filter: ${got.mkString(",")}")
  }

  test("sessionize: gap boundary starts a new session; agrees with session_window") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 0L), (2L, 1L, 100L), (3L, 1L, 1700L),  // session 1 (gaps < 1800)
      (4L, 1L, 3500L),                                  // 1800 after #3 -> session 2
      (5L, 1L, 9999L),                                  // session 3
      (6L, 2L, 0L))                                     // other user: session 1
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = WindowOps.sessionize(df, gapSec = 1800L)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("session_no")).toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3, 6L -> 1))
    // session COUNT per user agrees with the session_window aggregate on
    // the fixture (same gap; session_window merges while gap < g, and
    // sessionize splits at >= g — boundary-equal for these data)
    val ev = graft.model.Tables.events(spark, sf0001)
    val nSessionized = WindowOps.sessionize(ev, gapSec = 1800L)
      .groupBy("user_id").agg(max("session_no").as("n"))
      .agg(sum("n")).head().getLong(0)
    val nWindowed = WindowOps.sessionAgg(ev, gap = "30 minutes").count()
    assert(nSessionized == nWindowed,
      s"row-level sessions $nSessionized != session_window count $nWindowed")
  }

  test("ewma matches brute-force truncated exponential weighting") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // key 1: 4 values; key 2: 1 value (partial-window normalization)
    val df = Seq(
      (1L, 1L, ts(10), 10.0), (2L, 1L, ts(20), 20.0),
      (3L, 1L, ts(30), 40.0), (4L, 1L, ts(40), 0.5),
      (5L, 2L, ts(10), 7.25)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = WindowOps.ewma(df, w = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // brute force: newest-first weights d^0, d^1, d^2 with d = 0.7 over
    // micro-quantized values
    def brute(vals: Seq[Double]): Double = {
      val xm = vals.map(v => math.round(v * 1e6))
      val wts = Seq(100L, 70L, 49L).take(xm.length)
      val num = xm.zip(wts).map { case (x, wt) => x * wt }.sum
      val den = wts.sum
      math.rint(num.toDouble / den / 1e6 * 1e6) / 1e6
    }
    assert(out(1L) == brute(Seq(10.0)))
    assert(out(2L) == brute(Seq(20.0, 10.0)))
    assert(out(3L) == brute(Seq(40.0, 20.0, 10.0)))
    assert(out(4L) == brute(Seq(0.5, 40.0, 20.0)), "window truncates to w=3")
    assert(out(5L) == brute(Seq(7.25)), "keys are independent")
  }

}
