package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** Skew rewrites must be EXACT: salted aggregation and salted join both
  * asserted equal to their direct (unsalted) formulations on the fixture.
  */
class SkewSpec extends SparkSpec {

  test("saltedAgg ≡ direct GROUP BY") {
    val ev = Tables.events(spark, sf0001)
    val salted = Skew.saltedAgg(ev, "user_id",
      Map("value_cents" -> floor(col("value") * 100 + lit(0.5)).cast("long")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = ev.groupBy("user_id")
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("value_cents"),
        count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct && direct.nonEmpty)
  }

  test("saltedJoin inner/left ≡ direct join incl. null preservation") {
    val ev = Tables.events(spark, sf0001)
    val cust = Tables.customer(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("user_id"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    val inner = rows(Skew.saltedJoin(ev, cust, "user_id", "c_custkey"))
    val innerDirect = rows(ev.join(cust, ev("user_id") === cust("c_custkey")))
    assert(inner == innerDirect && inner.nonEmpty)
    val left = rows(Skew.saltedJoin(ev, cust, "user_id", "c_custkey",
      joinType = "left"))
    val leftDirect = rows(ev.join(cust, ev("user_id") === cust("c_custkey"), "left"))
    assert(left == leftDirect)
    // events without a matching customer survive the left join as nulls
    assert(left.exists(_._3.isEmpty) ||
      inner.size == left.size) // (fixture may fully match; then sizes agree)
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(ev, cust, "user_id", "c_custkey", joinType = "right")
    }
  }

  test("saltOn: narrowed salt ≡ all-column salt ≡ direct, incl. the " +
    "degenerate constant-salt case") {
    val ev = Tables.events(spark, sf0001)
    def agg(saltOn: Seq[org.apache.spark.sql.Column]) =
      Skew.saltedAgg(ev, "user_id", Map("v" -> col("value")), saltOn = saltOn)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
          r.getLong(2))).toSet
    val allCols = agg(Nil)
    // high-entropy single column: same results, pruned scan
    assert(agg(Seq(col("event_id"))) == allCols)
    // DEGENERATE: constant salt column → every row lands in one bucket
    // (no spread — a caller mistake the scaladoc warns about) but the
    // result must still be exact
    assert(agg(Seq(lit(42))) == allCols)
    assert(allCols.nonEmpty)
    // the narrowed salt must actually prune the scan to the referenced
    // columns (the whole point): assert on the analyzed plan's scan schema
    val narrowed = Skew.saltedAgg(ev, "user_id", Map("v" -> col("value")),
      saltOn = Seq(col("event_id")))
    val scanSchemas =
      "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(narrowed.queryExecution.executedPlan.toString)
        .map(_.group(1)).toList
    assert(scanSchemas.nonEmpty)
    assert(scanSchemas.forall(!_.contains("props")),
      s"salt scan still reads props: $scanSchemas")
    // join path: narrowed salt keeps the join exact too
    val cust = Tables.customer(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(Skew.saltedJoin(ev, cust, "user_id", "c_custkey",
        saltOn = Seq(col("event_id")))) ==
      rows(Skew.saltedJoin(ev, cust, "user_id", "c_custkey")))
  }

  test("saltedJoinAuto: skew factor flips the pick; both picks ≡ direct") {
    import spark.implicits._
    val ev = Tables.events(spark, sf0001)
    val cust = Tables.customer(spark, sf0001)
    // the uniform fixture reads as no-skew → direct join (no _salt
    // machinery in the plan)
    // width-relative: the suite runs 4-wide, so a 60 %-hot key reads as
    // factor ~2.4 (hot task ≈ 2.4× the uniform share) and the uniform
    // fixture's hottest of 15 keys as ~0.3 — the spec thresholds at 2.0
    // to exercise the flip; the production default 8.0 corresponds to
    // the same shapes at 32+ tasks (SCALE.md calibration)
    val sUniform = Skew.factSkewFactor(ev, "user_id", sampleFraction = 1.0)
    assert(sUniform < 2.0, s"uniform skew factor $sUniform")
    // hot corpus: 60 % of rows remapped to one key (the pmod(event_id,
    // 100) remap rule of SCALE.md "Skew behavior, measured (round 12)")
    val hotKey = cust.select(col("c_custkey")).head().getLong(0)
    val hot = ev.withColumn("user_id",
      when(pmod(col("event_id"), lit(100)) < 60, lit(hotKey))
        .otherwise(col("user_id")))
    val sHot = Skew.factSkewFactor(hot, "user_id", sampleFraction = 1.0)
    assert(sHot >= 2.0 && sHot < 8.0, s"hot skew factor $sHot")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("user_id"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    val autoU = Skew.saltedJoinAuto(ev, cust, "user_id", "c_custkey",
      skewThreshold = 2.0, sampleFraction = 1.0)
    val autoH = Skew.saltedJoinAuto(hot, cust, "user_id", "c_custkey",
      skewThreshold = 2.0, sampleFraction = 1.0)
    assert(!autoU.columns.contains("_salt") &&
      !autoU.queryExecution.optimizedPlan.toString.contains("_salt"))
    assert(autoH.queryExecution.optimizedPlan.toString.contains("_salt"),
      "hot pick must be the salted rewrite")
    assert(rows(autoU) == rows(ev.join(cust, ev("user_id") === cust("c_custkey"))))
    assert(rows(autoH) == rows(hot.join(cust, hot("user_id") === cust("c_custkey"))))
  }

  test("factSkewFactor is conf-independent: a leftover wide session width " +
    "cannot flip the pick (r13 ADVICE)") {
    val ev = Tables.events(spark, sf0001)
    graft.Sessions.clearEstimates()
    val before = Skew.factSkewFactor(ev, "user_id", sampleFraction = 1.0)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // simulate the harness shape: a previous query autosized the shared
      // session to a huge width; the NEXT query's skew estimate must not
      // inherit it (skewFactor = share × width would inflate 16384×/4)
      spark.conf.set("spark.sql.shuffle.partitions", "65536")
      graft.Sessions.clearEstimates()
      val after = Skew.factSkewFactor(ev, "user_id", sampleFraction = 1.0)
      assert(math.abs(after - before) < 1e-9,
        s"width leaked from session conf: $before -> $after")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("factSkewFactor: bounded file subset agrees with the full scan on a " +
    "spread (row-scattered) layout") {
    val dir = java.nio.file.Files.createTempDirectory("skewbound").toString
    val ev = Tables.events(spark, sf0001)
    val hotKey = Tables.customer(spark, sf0001)
      .select(col("c_custkey")).head().getLong(0)
    // 60 %-hot corpus, round-robin spread over 8 files — the normal
    // fact/event layout the bounded estimator must stay unbiased on
    ev.withColumn("user_id",
      when(pmod(col("event_id"), lit(100)) < 60, lit(hotKey))
        .otherwise(col("user_id")))
      .repartition(8).write.mode("overwrite").parquet(dir)
    val hot = spark.read.parquet(dir)
    graft.Sessions.clearEstimates()
    val bounded = Skew.factSkewFactor(hot, "user_id",
      sampleFraction = 1.0, maxSampleBytes = 1L)
    graft.Sessions.clearEstimates()
    val full = Skew.factSkewFactor(hot, "user_id",
      sampleFraction = 1.0, maxSampleBytes = Long.MaxValue)
    // same side of every sensible threshold, and close in value
    assert(bounded >= 2.0 && full >= 2.0, s"bounded $bounded full $full")
    assert(math.abs(bounded - full) / full < 0.25,
      s"bounded $bounded deviates from full $full")
  }

  test("saltedJoinAuto validates joinType up front, even when the data is " +
    "uniform and the direct branch would accept it (r13 ADVICE)") {
    val ev = Tables.events(spark, sf0001)
    val cust = Tables.customer(spark, sf0001)
    // uniform corpus → the old code would happily build a right join and
    // only throw the day the data skewed; now it fails at construction
    intercept[IllegalArgumentException] {
      Skew.saltedJoinAuto(ev, cust, "user_id", "c_custkey",
        joinType = "right", sampleFraction = 1.0)
    }
  }
}
