package graft

import org.apache.spark.sql.functions._

class EntrySpec extends SparkSpec {

  test("entry: flagship pivot→join→predict pipeline produces labeled rows") {
    val out = SparkEntry.entry(spark)
    val rows = out.limit(2000).collect()
    assert(rows.nonEmpty)
    assert(out.columns.contains("predicted_label"))
    val labels = rows.map(_.getAs[String]("predicted_label")).toSet
    assert(labels.subsetOf(Set("bot", "user")), s"labels=$labels")
    assert(!labels.contains(null))
  }

  test("every declared query runs at sf0.001 and returns rows") {
    // smoke over the full driver contract (skip the two training-heavy
    // queries — covered by MLSpec/EntrySpec — and streaming, covered by
    // StreamingSpec)
    val heavy = Set("q_ml_train_score", "q_predict_udf", "q_stream_hopping_pivot", "q_sim_ivf")
    for ((name, fn) <- SparkEntry.queries if !heavy(name)) {
      val n = fn(spark, sf0001).limit(1).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("oracleSql keys are a subset of queries keys with matching columns contract") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.forall(SparkEntry.queries.contains))
  }

  test("catalog: building the views requires unique query names") {
    val dup = SparkEntry.catalog.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.indexByName(SparkEntry.catalog :+ dup.copy(bench = !dup.bench)))
    assert(e.getMessage.contains(dup.name), e.getMessage)
  }

  test("q_revenue_share: the share window consumes the 25-row aggregate, not orders") {
    // the q_auc round-7 hazard class: a whole-relation window is only
    // scale-safe when its input is a bounded group relation. Assert the
    // executed plan keeps the Window ABOVE the aggregate — below the
    // Window there must be a HashAggregate before any table scan
    val out = SparkEntry.queries("q_revenue_share")(spark, sf0001)
    val lines = out.queryExecution.executedPlan.toString.linesIterator.toVector
    val wi = lines.indexWhere(_.contains("Window"))
    assert(wi >= 0, "plan must contain a Window node")
    val below = lines.drop(wi + 1)
    val aggAt = below.indexWhere(_.contains("HashAggregate"))
    val scanAt = below.indexWhere(_.contains("Scan"))
    assert(aggAt >= 0 && (scanAt < 0 || aggAt < scanAt),
      s"window input must be the post-aggregation relation:\n${lines.take(30).mkString("\n")}")
  }
}
