package graft.tools

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Measures IVF+PQ index STALENESS under appends — the recall decay
  * behind ivfPqAppendAuto's rebuild trigger (r14 VERDICT #3: the append
  * path encodes against the frozen coarse centroids + codebook, and
  * "rebuild periodically" was caller knowledge with no measured signal
  * behind it).
  *
  * For each append kind × share: build a fresh index on the base
  * corpus, append `share`×base rows, read the measured staleness
  * signal (appendedShare × appended-cell skew — what the auto computes
  * from footer counts alone), then measure recall@k of the stale index
  * for queries drawn FROM THE APPENDED REGION against brute-force
  * ground truth over the combined corpus, and the same recall after a
  * rebuild. Two kinds:
  *
  *   same    — appended rows are drawn from the build distribution:
  *             the quantizer covers them, the signal should stay ≈
  *             share, recall should hold flat.
  *   shifted — appended rows live in the COMPLEMENTARY dimension
  *             subspace (energy in dims 32–63 where the base corpus
  *             has ~none — the "new modality activates dead embedding
  *             dimensions" drift shape): the frozen quantizer crams
  *             them into their few nearest cells (skew → nlist) and
  *             the frozen codebook's centroids for those dims sit at ~0
  *             so ADC cannot rank the new region; recall decays as the
  *             appended mass grows, and the rebuild restores it.
  *
  * Why a subspace shift and not a translation: probed first with
  * appended = base + constant offset, and the fresh-build CONTROL
  * exposed that construction as a non-test — L2 normalization
  * compresses a translated cluster onto a spherical cap whose cosine
  * variety is below PQ resolution, so even a scratch-built index
  * scores ~0.1 recall there and a rebuild has nothing to restore
  * (rebuilt ≡ fresh bit-for-bit, both low). A subspace cluster keeps
  * full 32-dim variety under normalization, so fresh recall is as good
  * as the base distribution's and the stale-vs-rebuilt gap measures
  * STALENESS, not geometry. Both vector groups are synthetic
  * (seeded randn) for exactly this controllability; the fixture
  * embeddings' role is covered by the spec's fixture-based flip test.
  *
  * Usage: sbt "Test/runMain graft.tools.IvfDriftProbe [nBase] [share ...]"
  * defaults: 2000 base vectors at shares 0.1 0.25 0.5 1.0.
  */
object IvfDriftProbe {

  def main(args: Array[String]): Unit = {
    val nBase = args.headOption.map(_.toLong).getOrElse(2000L)
    val shares =
      if (args.length > 1) args.drop(1).toSeq.map(_.toDouble)
      else Seq(0.1, 0.25, 0.5, 1.0)
    val spark = graft.Sessions.local()

    // 64-dim vectors with energy confined to one 32-dim half (the other
    // half near-zero): full cosine variety inside the active subspace
    def gen(n: Long, idOffset: Long, activeFrom: Int): org.apache.spark.sql.DataFrame = {
      val dims = (0 until 64).map { d =>
        val g = randn(1234 + d)
        (if (d >= activeFrom && d < activeFrom + 32) g else g * lit(0.02))
          .cast("float")
      }
      spark.range(n).select((col("id") + idOffset).as("vec_id"),
        array(dims: _*).as("embedding"))
    }
    val base = gen(nBase, 0L, 0).localCheckpoint()
    println(s"[ivfdrift] synthetic base rows=$nBase (active dims 0-31) " +
      s"nlist=16 m=16 ksub=8 k=5 queries=32 (from the appended region)")
    println(f"${"kind"}%-8s ${"share"}%6s ${"signal"}%8s ${"choice"}%8s " +
      f"${"recall_stale"}%13s ${"recall_rebuilt"}%15s ${"fresh"}%7s")

    for (kind <- Seq("same", "shifted"); share <- shares) {
      val path = java.nio.file.Files
        .createTempDirectory(s"ivfdrift_${kind}_$share").toString + "/idx"
      Similarity.ivfPqWriteIndex(base, path, nlist = 16, m = 16, ksub = 8)
      val n = (nBase * share).toLong
      val batch = gen(n, 10000000L,
        if (kind == "same") 0 else 32).localCheckpoint()
      graft.Sessions.clearDecisions()
      // thresholds ∞: measure the signal without triggering the rebuild
      Similarity.ivfPqAppendAuto(batch, path,
        rebuildThreshold = Double.MaxValue, skewThreshold = Double.MaxValue)
      val d = graft.Sessions.decisions.last
      val combined = base.unionByName(batch).localCheckpoint()
      val queries = batch.orderBy("vec_id").limit(32).localCheckpoint()
      val exact = Similarity.bruteForceTopK(queries, combined, k = 5)
        .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
      def recallOf(): Double = {
        // nprobe 8/16: a high-recall operating point, so decay is
        // attributable to staleness rather than a low probe budget
        val got = Similarity.ivfPqQueryIndex(queries, path, k = 5, nprobe = 8,
          rerankFactor = 6)
          .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
        (got intersect exact).size.toDouble / exact.size
      }
      val stale = recallOf()
      Similarity.ivfPqRebuildIndex(spark, path)
      val rebuilt = recallOf()
      // control: a scratch build on the combined corpus — the rebuild
      // must match this (it IS this, via the stored vectors)
      val freshPath = java.nio.file.Files
        .createTempDirectory(s"ivfdrift_fresh").toString + "/idx"
      Similarity.ivfPqWriteIndex(combined, freshPath, nlist = 16, m = 16, ksub = 8)
      val fresh = {
        val got = Similarity.ivfPqQueryIndex(queries, freshPath, k = 5,
          nprobe = 8, rerankFactor = 6)
          .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
        (got intersect exact).size.toDouble / exact.size
      }
      // the shipped dual rule: product signal >= 2.0 OR skew >= 4.0
      // past the 5 % share floor (skew = signal / share)
      val wouldRebuild = d.estimate >= 2.0 ||
        (share >= 0.05 && d.estimate / share >= 4.0)
      println(f"$kind%-8s $share%6.2f ${d.estimate}%8.3f " +
        f"${if (wouldRebuild) "rebuild" else "append"}%8s " +
        f"$stale%13.3f $rebuilt%15.3f $fresh%7.3f (appended $n rows)")
    }
    spark.stop()
  }
}
