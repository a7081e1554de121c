package graft.functions

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** SQL-surface parity for the native kernels: the reference engine's
  * users write SQL, so every custom expression must be reachable from
  * `spark.sql(...)` and produce bit-identical results to the Column API.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("extensions path injects the full function table") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val names = GraftSqlBridge.materializeFunctions(ext).map(_.funcName).toSet
    assert(names == Set("simhash64", "minhash_sig", "shingle_hashes",
      "band_hash", "winnow_fingerprint", "vec_dot", "vec_match_count",
      "pq_encode", "pq_adc"))
  }

  test("DESCRIBE FUNCTION shows correct name and usage metadata") {
    val desc = spark.sql("DESCRIBE FUNCTION simhash64")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("Function: simhash64"), desc)
    assert(desc.contains("simhash64(text) - 64-bit SimHash"), desc)
  }

  test("SQL text ≡ Column API on the fixture corpus (sketch functions)") {
    Tables.documents(spark, sf0001).createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh,
        |  band_hash(minhash_sig(text, 32, 3), 0, 8) AS b0,
        |  size(shingle_hashes(text)) AS n_sh,
        |  size(winnow_fingerprint(text)) AS n_fp
        |FROM docs_sql""".stripMargin)
    val viaCol = Tables.documents(spark, sf0001).select(
      col("doc_id"),
      TextHashExpressions.simhash64(col("text")).as("sh"),
      TextHashExpressions.band_hash(
        TextHashExpressions.minhash_sig(col("text")), 0, 8).as("b0"),
      size(TextHashExpressions.shingle_hashes(col("text"))).as("n_sh"),
      size(TextHashExpressions.winnow_fingerprint(col("text"))).as("n_fp"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("SQL text ≡ Column API for the vector kernels, with defaults") {
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0),
        Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L))
    ).toDF("id", "a", "b", "sa", "sb")
    df.createOrReplaceTempView("vecs_sql")
    val r = spark.sql(
      "SELECT vec_dot(a, b) AS d, vec_match_count(sa, sb) AS m FROM vecs_sql")
      .as[(Double, Int)].head()
    assert(r == ((32.0, 3)))
    // default-argument forms parse and run
    Seq((1L, "a b c d e f")).toDF("id", "text").createOrReplaceTempView("t_sql")
    assert(spark.sql("SELECT minhash_sig(text) AS s FROM t_sql")
      .select(size($"s")).as[Int].head() == 32)
    // PQ kernels from SQL: encode against a 2x2x2 codebook, score via ADC
    val pq = spark.sql(
      """SELECT pq_encode(array(0.9D, 0.9D, 4.0D, 4.0D),
        |         array(0D, 0D, 1D, 1D, 2D, 2D, 5D, 5D), 2, 2) AS codes""".stripMargin)
      .select($"codes", expr("pq_adc(codes, array(0.1D, 0.2D, 0.3D, 0.4D), 2)").as("s"))
      .as[(Seq[Int], Double)].head()
    assert(pq._1 == Seq(1, 1) && math.abs(pq._2 - 0.6) < 1e-12)
  }

  test("non-literal int parameters fail analysis with a clear error") {
    Seq((1L, "a b c d")).toDF("k", "text").createOrReplaceTempView("bad_sql")
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(text, CAST(k AS INT)) FROM bad_sql").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("registered functions participate in whole-stage codegen from SQL") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Tables.documents(spark, sf0001).limit(20)
        .createOrReplaceTempView("cg_sql")
      val out = spark.sql(
        "SELECT doc_id, simhash64(text) AS sh, size(shingle_hashes(text, 3)) AS n FROM cg_sql")
      assert(out.count() == 20)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
