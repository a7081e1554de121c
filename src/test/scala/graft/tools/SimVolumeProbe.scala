package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.llm.Similarity
import graft.model.Tables

/** Measures the brute-vs-IVF-index crossover in QUERY VOLUME — the
  * regime axis simTopKAuto decides on (r13 VERDICT #3: SCALE.md's third
  * decade showed brute winning at 10 queries × 2 M vectors; the index
  * pays with volume). For each volume: brute-force top-k, the written
  * IVF index path, and the auto (default threshold) — the auto should
  * track the winner on both sides of the crossover.
  *
  * Usage: sbt "Test/runMain graft.tools.SimVolumeProbe [dir] [vol ...]"
  * (defaults: derived sf10 corpus — 2 M vectors — at 10/64/256/1024).
  */
object SimVolumeProbe {

  private def force(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scaledata/sf10")
    val volumes =
      if (args.length > 1) args.drop(1).toSeq.map(_.toLong)
      else Seq(10L, 64L, 256L, 1024L)
    val spark = graft.Sessions.local()

    val emb = Tables.embeddings(spark, dir)
    val idx = s"$dir/_ivf_probe_index"
    val cp = new org.apache.hadoop.fs.Path(s"$idx/centroids")
    if (!cp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cp)) {
      val t0 = System.nanoTime()
      Similarity.ivfWriteIndex(emb, idx)
      println(f"[simvol] index write: ${(System.nanoTime() - t0) / 1e9}%.1f s (one-time ingest cost)")
    }
    // codegen/page-cache warmup of both paths so the first timed volume
    // isn't charged for compilation + cold reads (same methodology as
    // ProfileQuery/ScaleCurve)
    force(Similarity.bruteForceTopK(emb.filter(col("vec_id") < 2L), emb, k = 5))
    force(Similarity.ivfQueryIndex(emb.filter(col("vec_id") < 2L), idx, k = 5))
    for (v <- volumes) {
      val q = emb.filter(col("vec_id") < v)
      graft.Sessions.clearEstimates()
      val tBrute = force(Similarity.bruteForceTopK(q, emb, k = 5))
      val tIndex = force(Similarity.ivfQueryIndex(q, idx, k = 5))
      graft.Sessions.clearEstimates()
      val tAuto = force(Similarity.simTopKAuto(q, emb, k = 5, indexPath = Some(idx)))
      println(f"[simvol] $dir v=$v%-5d brute $tBrute%6.2f s  index $tIndex%6.2f s  " +
        f"auto $tAuto%6.2f s (picks ${if (v >= 64) "index" else "brute"})")
    }
    spark.stop()
  }
}
