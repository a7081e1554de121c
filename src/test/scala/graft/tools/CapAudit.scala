package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Reports whether the dedup-family hot-bucket caps actually engage on a
  * given fixture dir — the VERDICT r11 observation that "the
  * winnow/fuzzy cap knobs have never been observed actually biting" at
  * driver SFs. Run against the ScaleCorpus-derived sf1 (where identical
  * replicated text inflates every bucket 10×) to see them bite, and
  * against sf0.1 to confirm they are inert at fixture scale (capped
  * results there stay bit-identical to uncapped, which is what lets the
  * capped production paths share exact oracles).
  *
  * Per family it prints: bucket-count histogram summary, how many
  * buckets exceed the production cap, the share of occurrences those
  * hot buckets carry, and the candidate pairs the cap refuses to emit
  * (sum over hot buckets of c·(c−1)/2 — the quadratic work avoided).
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.CapAudit [dir...]"
  * default dirs: /root/testdata/sf0.1 target/scaledata/sf1
  */
object CapAudit {

  private def bucketReport(tag: String, buckets: DataFrame, cap: Long): Unit = {
    // buckets: (key, c) — one row per distinct bucket key
    val r = buckets.agg(
      count(lit(1)).as("n_buckets"),
      sum(col("c")).as("occurrences"),
      max(col("c")).as("max_c"),
      sum(when(col("c") > cap, lit(1)).otherwise(lit(0))).as("hot_buckets"),
      sum(when(col("c") > cap, col("c")).otherwise(lit(0))).as("hot_occ"),
      sum(when(col("c") > cap, col("c") * (col("c") - 1) / 2)
        .otherwise(lit(0))).as("pairs_refused"),
      sum(when(col("c") <= cap, col("c") * (col("c") - 1) / 2)
        .otherwise(lit(0))).as("pairs_emittable")).head()
    println(f"[cap] $tag%-22s cap=$cap%-6d buckets=${r.getLong(0)}%,d " +
      f"max_bucket=${r.getLong(2)}%,d hot=${r.getLong(3)}%,d " +
      f"(${100.0 * r.getLong(4) / math.max(1L, r.getLong(1))}%.2f%% of occurrences) " +
      f"pairs_refused=${r.getDouble(5).toLong}%,d pairs_emittable=${r.getDouble(6).toLong}%,d")
  }

  def audit(spark: SparkSession, dir: String): Unit = {
    println(s"== CapAudit $dir ==")
    val docs = Tables.documents(spark, dir).localCheckpoint()

    // winnowOverlapPairs: fp buckets vs maxBucket=1024 (Dedup.scala)
    val winFps = graft.operators.Spread.toCores(docs).select(col("doc_id"),
      explode(graft.functions.TextHashExpressions
        .winnow_fingerprint(col("text"), 5, 4)).as("fp"))
    bucketReport("winnow fp (k=5,w=4)",
      winFps.groupBy("fp").agg(count(lit(1)).as("c")), cap = 1024L)

    // ngramJaccardPairs: anchor-shingle buckets vs maxBucket=64
    val anchors = docs
      .select(col("doc_id"),
        explode(slice(graft.llm.Dedup.shingleHashes(col("text"), 3), 1, 20))
          .as("anchor"))
    bucketReport("ngram anchors (w=3)",
      anchors.groupBy("anchor").agg(count(lit(1)).as("c")), cap = 64L)

    // simhashNearDups(maxHamming=3, bands=8): band buckets vs maxBucket=1024
    // (same shift/mask band keys as simhashNearDupsFromSigs)
    val sh = graft.llm.Dedup.simhashes(docs)
    val width = 64 / 8
    val shBands = sh.select(col("doc_id"),
      explode(array((0 until 8).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))
      }: _*)).as("bk"))
    bucketReport("simhash bands (b=8)",
      shBands.groupBy("bk").agg(count(lit(1)).as("c")), cap = 1024L)

    // minhashNearDups(k=32, bands=8): band buckets vs the maxBucket=4096
    // default the r12 audit sized (two orders above the largest real
    // bucket either derived corpus produces)
    val mh = docs.select(col("doc_id"),
      graft.llm.Dedup.minhashSignature(col("text"), 32, 3).as("sig"))
    val mhRows = 32 / 8
    val mhBands = mh.select(col("doc_id"),
      explode(array((0 until 8).map { b =>
        struct(lit(b).as("band"),
          graft.functions.TextHashExpressions
            .band_hash(col("sig"), b * mhRows, mhRows).as("bh"))
      }: _*)).as("bk"))
    bucketReport("minhash bands (b=8)",
      mhBands.groupBy("bk").agg(count(lit(1)).as("c")), cap = 4096L)

    // fuzzyBlockedPairs: distinct-name DOMAIN per brand block vs maxBlock=10000
    val part = Tables.part(spark, dir)
    bucketReport("fuzzy brand domains",
      part.select(col("p_brand"), col("p_name")).distinct()
        .groupBy("p_brand").agg(count(lit(1)).as("c")), cap = 10000L)
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "target/scaledata/sf1")
    val spark = graft.Sessions.local()
    dirs.foreach(audit(spark, _))
    spark.stop()
  }
}
