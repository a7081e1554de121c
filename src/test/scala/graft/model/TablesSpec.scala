package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec

/** [[Tables]]' loaders declare their schemas instead of inferring them
  * from a parquet footer, which costs a Spark job per DataFrame built.
  * A declared schema is only right if it is exactly the inferred one.
  */
class TablesSpec extends SparkSpec {

  private val declared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "customer" -> Tables.customer, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "part" -> Tables.part,
    "supplier" -> Tables.supplier, "nation" -> Tables.nation,
    "region" -> Tables.region, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  private def assertInferred(load: (SparkSession, String) => DataFrame,
      dir: String, table: String): Unit = {
    val ours = load(spark, dir).schema
    val inferred = spark.read.parquet(s"$dir/$table.parquet").schema
    // StructType equality: field order, names, types, nullability, metadata
    assert(ours == inferred,
      s"$dir/$table: declared\n${ours.treeString}inferred\n${inferred.treeString}")
  }

  test("every declared loader schema equals the schema Spark infers, " +
    "at sf0.001, sf0.01 and sf0.1 and on a Spark-written table directory") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); (table, load) <- declared)
      assertInferred(load, s"/root/testdata/$sf", table)
    // the layout ScaleCorpus writes: a `<table>.parquet/` directory of
    // Spark part files (orders carries a TIMESTAMP_NTZ column)
    val dir = java.nio.file.Files.createTempDirectory("tables_dir").toString
    spark.read.parquet(s"$sf0001/orders.parquet").repartition(3)
      .write.parquet(s"$dir/orders.parquet")
    assertInferred(Tables.orders, dir, "orders")
  }

  test("building every loader's DataFrame runs no Spark job once the " +
    "events ts probe is cached") {
    Tables.events(spark, sf0001) // the probe: one job per fixture, then cached
    val (_, jobs) = withJobCount(
      (declared.map(_._2) :+ (Tables.events _)).foreach(load => load(spark, sf0001)))
    assert(jobs == 0, s"building the loaders' DataFrames ran $jobs jobs")
  }
}
