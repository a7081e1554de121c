package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger fixture corpus from a driver-generated one by
  * unioning it `replicas`× with domain-consistent key remapping — the
  * VERDICT r11 "scale-curve harness" prerequisite (driver fixtures are
  * read-only, TESTDATA.md, so growth beyond sf0.1 must be derived).
  *
  * Remapping: every id DOMAIN (custkey = {c_custkey, o_custkey,
  * user_id}, orderkey = {o_orderkey, l_orderkey}, partkey, suppkey,
  * doc_id, vec_id, event_id) gets the same per-replica offset, so each
  * replica is a self-consistent star: joins (events.user_id →
  * o_custkey → c_custkey, lineitem → orders/part/supplier) resolve
  * inside their replica exactly as at the source SF, and the key space
  * grows replicas× — aggregation/window/session key counts scale, not
  * just per-key multiplicity. The offset stride is even, preserving
  * doc_id-parity splits (q_dedup_delta's batch/corpus halves).
  *
  * Payload columns (text, embedding, ts, value, …) are copied verbatim:
  * the generator's fixed 40-word Markov vocabulary means a REAL sf1
  * would draw 10× more docs from the same token space, so keeping the
  * text distribution identical — including its ubiquitous chance
  * k-gram collisions — is faithful; it is also what makes the
  * hot-bucket caps (winnow maxBucket, simhash/minhash band caps)
  * finally observable at the derived SF. region/nation are genuinely
  * fixed-cardinality dimensions and are copied once, unscaled.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.ScaleCorpus [outDir] [replicas] [srcDir] [stride]"
  * defaults: target/scaledata/sf1  10  /root/testdata/sf0.1  100000000
  */
object ScaleCorpus {

  /** Even stride larger than any fixture key (sf0.1 max key 149 999)
    * yet small enough that replica 9 stays far inside int range for
    * code that narrows ids. For replica counts beyond ~20, pass a
    * smaller (still even, still > max key) stride so the top replica's
    * keys stay inside int range — e.g. 10 000 000 for 100 replicas
    * (max derived key ≈ 0.99e9 < 2^31).
    */
  val Stride = 100000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val copyOnce = Seq("region", "nation")

  def replicate(df: DataFrame, keys: Seq[String], replicas: Int,
      stride: Long = Stride): DataFrame = {
    // spread the single-file source across cores BEFORE the explode:
    // the fixture tables are one parquet file each, i.e. ONE scan
    // partition, so an un-spread replicas× explode plus its shuffle
    // write serializes on a single core — the exact map-side
    // amplification trap SCALE.md documents for winnow, measured here
    // in the builder itself at 1000 replicas (~40 single-core minutes
    // on lineitem; ~2 wall-clock minutes spread over 32). The spread
    // width follows the session's shuffle parallelism (which the main
    // sizes from SPARK_GRAFT_CPUS) rather than a hardcoded 32, so
    // smaller hosts get a matching file count.
    val exploded = df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("_rep",
      explode(sequence(lit(0L), lit(replicas - 1L))))
    keys.foldLeft(exploded) { (acc, k) =>
      acc.withColumn(k, col(k) + col("_rep") * stride)
    }.drop("_rep")
  }

  /** Largest id across every remapped key column of the SOURCE corpus —
    * the stride guard's real bound. The old hardcoded 149 999 (sf0.1's
    * max key) would silently let a replication of an already-derived
    * corpus (keys up to replicas×stride) produce COLLIDING replica keys
    * instead of failing the require. Column-pruned scans, cheap at any
    * source SF.
    */
  def maxSourceKey(spark: SparkSession, srcDir: String): Long =
    keyCols.toSeq.flatMap { case (t, keys) =>
      val row = spark.read.parquet(s"$srcDir/$t.parquet")
        .agg(max(col(keys.head)), keys.tail.map(k => max(col(k))): _*)
        .head()
      keys.indices.map { i =>
        // max() over zero rows is NULL — surface "empty source table" as
        // a clear require instead of an opaque NPE (r13 ADVICE)
        require(!row.isNullAt(i),
          s"$t is empty in $srcDir (max(${keys(i)}) is null)")
        row.getAs[Number](i).longValue
      }
    }.max

  def build(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int, stride: Long = Stride): Unit = {
    val maxKey = maxSourceKey(spark, srcDir)
    require(stride % 2 == 0 && stride > maxKey,
      s"stride $stride must be even (doc_id-parity splits) and exceed " +
        s"the max source key ($maxKey in $srcDir)")
    if (replicas.toLong * stride + maxKey > Int.MaxValue)
      // ids are Long end-to-end, so this is legal (the sf3 corpus runs
      // this way) — but surfaced, since int-narrowing user code would
      // corrupt keys silently at this size
      println(s"[scale] note: top-replica ids exceed int range " +
        s"(${replicas}x stride $stride); all engine id columns are Long")
    for (t <- copyOnce) {
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      println(s"[scale] $t: copied once (fixed-cardinality dim)")
    }
    for ((t, keys) <- keyCols.toSeq.sortBy(_._1)) {
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      // realistic multi-file layout: the driver fixtures are one file
      // per table, so a plain rewrite would leave the 10× table as ONE
      // 7–80 MB file → one scan partition → map-side work (hopping's 5×
      // Expand, as-of probes) serializing on a single core. A real
      // corpus at this size ships many files; 32 matches a 32-core
      // harness session so scans parallelize like production. The 32-way
      // spread inside replicate() already yields 32 balanced output
      // files — no second full-corpus shuffle needed here.
      replicate(src, keys, replicas, stride)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      val n = spark.read.parquet(s"$outDir/$t.parquet").count()
      println(s"[scale] $t: ${replicas}x -> $n rows (keys ${keys.mkString(",")})")
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("target/scaledata/sf1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val srcDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val stride = args.lift(3).map(_.toLong).getOrElse(Stride)
    val spark = graft.Sessions.local()
    build(spark, srcDir, outDir, replicas, stride)
    spark.stop()
  }
}
