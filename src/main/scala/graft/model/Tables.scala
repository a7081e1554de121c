package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture catalog: loaders for the driver-generated parquet tables
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * Design note (100 TB): every loader is a plain parquet scan so Catalyst
  * keeps predicate pushdown / column pruning / partition pruning. No
  * eager caching here — callers decide what to cache or broadcast.
  */
object Tables {
  private def p(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Some generator versions write events.ts as TIMESTAMP(NANOS), which
    * Spark 4 refuses to read natively; newer ones write TIMESTAMP(MICROS)
    * (round-10 regeneration switched). Sniff the physical annotation from
    * the footer ONCE per (dir) — a driver-side metadata read, no data
    * scan — and only apply the INT64-nanos → micros conversion when the
    * file actually carries nanos, truncating exactly like DuckDB's ns→µs
    * conversion so the oracle sees identical instants either way.
    */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** micros files are annotated isAdjustedToUTC=false → TIMESTAMP_NTZ;
    * reading with this explicit schema (instead of inference) keeps the
    * empty-file edge off the inference path entirely.
    */
  private val eventsNtzSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val eventsIsNanos =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Cache key = path + the max mtime under it (the events file, or
    * every file of a Spark-written events directory) — a driver-side
    * listing of one fixture path (constant cost), so a fixture
    * regenerated IN PLACE mid-JVM gets a fresh probe instead of a stale
    * conversion (local paths only; on an object store the listing finds
    * no local files and the key degrades to the path — i.e. the old
    * immutable-fixture assumption, now scoped to exactly where it's
    * unverifiable).
    */
  private def eventsCacheKey(path: String): String = {
    val root = java.nio.file.Paths.get(path)
    val mtime =
      try {
        val s = java.nio.file.Files.walk(root)
        try s.mapToLong(f => java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .max.orElse(0L)
        finally s.close()
      } catch { case _: java.io.IOException => 0L }
    s"$path@$mtime"
  }

  /** One-row probe: reading ts as raw INT64 succeeds for any timestamp
    * annotation; the magnitude tells nanos from micros (epoch nanos are
    * ~1e18, micros ~1e15 — three orders apart for any date this side of
    * year 33658). Filters nulls so a null-leading file can't fall into
    * the wrong branch; touches a single page of a single file — constant
    * cost at any corpus size. Cached per (path, fixture mtime) so
    * in-place regeneration invalidates the verdict.
    */
  private def eventsTsIsNanos(spark: SparkSession, path: String): Boolean =
    eventsIsNanos.getOrElseUpdate(eventsCacheKey(path), {
      spark.read.schema(eventsRawSchema).parquet(path)
        .select(col("ts")).where(col("ts").isNotNull).limit(1).collect()
        .headOption.exists(r => math.abs(r.getLong(0)) > 3e17.toLong)
    })

  /** The (read schema, ts-normalizing projection) pair for the events
    * fixture under the dir's actual annotation — THE single conversion
    * used by both the batch reader below and
    * [[graft.streaming.Streaming.eventsStream]], so a fixture-format
    * migration can never split the two again. Nanos files truncate
    * exactly like DuckDB's ns→µs conversion; micros files cast NTZ →
    * session-zone TIMESTAMP (session tz is pinned UTC, so the instant is
    * unchanged and DuckDB's naive reading stays identical).
    */
  def eventsReadSpec(spark: SparkSession, dir: String): (StructType, DataFrame => DataFrame) =
    eventsReadSpecAt(spark, p(dir, "events"))

  /** [[eventsReadSpec]] sniffed from the events file or Spark-written
    * events directory at `path`; the stream reader passes the first
    * file its layout rule matches, which need not be `events.parquet`.
    */
  def eventsReadSpecAt(spark: SparkSession, path: String): (StructType, DataFrame => DataFrame) =
    if (eventsTsIsNanos(spark, path))
      (eventsRawSchema, _.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))))
    else
      (eventsNtzSchema, _.withColumn("ts", col("ts").cast(TimestampType)))

  def events(spark: SparkSession, dir: String): DataFrame = {
    val (schema, normalizeTs) = eventsReadSpec(spark, dir)
    normalizeTs(spark.read.schema(schema).parquet(p(dir, "events")))
  }

  def customer(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "customer"))

  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "orders"))

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "lineitem"))

  def part(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "part"))

  def supplier(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "supplier"))

  def nation(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "nation"))

  def region(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "region"))

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "documents"))

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(p(dir, "embeddings"))

  /** events with an epoch-seconds column for range-window ops. The
    * session runs in UTC everywhere (build.sbt / Verify), so the cast to
    * long truncates to whole seconds exactly like DuckDB's
    * floor(epoch(ts)).
    */
  def eventsWithEpoch(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("ts_sec", col("ts").cast("long"))

  /** The five event_type values in the fixture clickstream
    * (FIXTURES.md §B). The reference has four page states
    * (/root/reference/traffic-generator/generator.py:38); the pivot
    * operator below is value-set-agnostic, this is the fixture binding.
    */
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
}
