package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    // unit vectors in 2D at known angles from the query (1,0)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),          // query
      (1L, Array(1.0f, 0.1f)),          // closest
      (2L, Array(1.0f, 1.0f)),          // 45°
      (3L, Array(0.0f, 1.0f)),          // orthogonal
      (4L, Array(-1.0f, 0.0f)))         // opposite
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0L), vecs, k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("LSH top-k achieves decent recall vs brute force on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(q, emb, k = 5, nBits = 4, nTables = 12)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (random 64-dim embeddings are a hard LSH case)")
  }

  test("srp signatures are deterministic (seeded hyperplanes)") {
    val emb = Tables.embeddings(spark, sf0001).limit(20)
    val planes = Similarity.hyperplanes(8, 64, 42L)
    val s1 = emb.select(Similarity.srpSignature($"embedding", planes).as("s"))
      .collect().map(_.getLong(0)).toSeq
    val s2 = emb.repartition(3)
      .select(Similarity.srpSignature($"embedding", planes).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(s1.sorted == s2.sorted)
  }

  test("embeddingNearDups finds planted near-duplicates") {
    val rnd = new java.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.map(x => x + 0.01f) // cosine ≈ 1
    val rows = Seq((0L, base), (1L, near)) ++ (2L to 30L).map(i => (i, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDups(df, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }

  test("vec kernels: float input casts natively; dimension mismatch fails fast") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0, 3.0))).toDF("f", "d")
    // public dot casts array<float> → array<double> with a native Cast
    assert(df.select(Similarity.dot($"f", $"f")).head().getDouble(0) == 5.0)
    // a 2-dim × 3-dim dot must fail loudly, not truncate to a plausible value
    val ex = intercept[Throwable] {
      df.select(Similarity.dot($"f", $"d")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      t.getMessage != null && t.getMessage.contains("length mismatch")))
  }

  test("IVF materialized index: partition-pruned query matches in-memory IVF") {
    val emb = Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.ivfWriteIndex(emb, path)
    val queries = emb.filter(col("vec_id") < 10)
    val viaIndex = Similarity.ivfQueryIndex(queries, path)
    val inMemory = Similarity.ivfTopK(queries, emb)
    assert(viaIndex.collect().toSet == inMemory.collect().toSet)
    // the scan must read ONLY the probed cell partitions
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN[^\\]]*\\].*"),
      s"expected cell IN (...) partition pruning in:\n${plan.take(3000)}")
  }

  test("simTopKAuto: query volume + index presence flip the pick; low volume " +
    "stays exact") {
    val emb = Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    val few = emb.filter(col("vec_id") < 10)
    // 1) no index on disk → brute at ANY volume (never silently
    // approximate; never pay a KMeans fit for one call)
    graft.Sessions.clearEstimates()
    val noIdx = Similarity.simTopKAuto(emb, emb, k = 5,
      indexPath = Some(s"$path/absent"), queryThreshold = 1L)
    assert(!noIdx.queryExecution.optimizedPlan.toString.contains("cell"),
      "missing index must fall back to brute force (no probed-cell machinery)")
    // 2) index present, low volume → still brute (= exact; the operator
    // only trades exactness when the caller provisioned an index AND
    // the volume pays for it)
    Similarity.ivfWriteIndex(emb, path)
    graft.Sessions.clearEstimates()
    val low = Similarity.simTopKAuto(few, emb, k = 5, indexPath = Some(path))
    assert(!low.queryExecution.optimizedPlan.toString.contains("cell"),
      "10 queries < threshold must stay brute")
    assert(low.collect().toSet ==
      Similarity.bruteForceTopK(few, emb, k = 5).collect().toSet)
    // 3) index present, high volume → the index path, result ≡ a direct
    // ivfQueryIndex call
    graft.Sessions.clearEstimates()
    val high = Similarity.simTopKAuto(few, emb, k = 5, indexPath = Some(path),
      queryThreshold = 10L)
    assert(high.queryExecution.optimizedPlan.toString.contains("cell"),
      "at/above threshold the auto must route through the probed-cell index")
    assert(high.collect().toSet ==
      Similarity.ivfQueryIndex(few, path, k = 5).collect().toSet)
  }

  test("IVF coarse quantizer: bounded sample-fit keeps recall parity with " +
    "full fit (r14 — Lloyd's must not iterate a 100 TB corpus)") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(maxFit: Long): Double = {
      graft.Sessions.clearEstimates()
      val (assigned, centroids) =
        Similarity.fitQuantizer(emb, 16, 42L, "embedding", "vec_id", maxFit)
      val probed = Similarity.probeCells(q, centroids, 4, "embedding", "vec_id")
      val approx = Similarity.rankTopK(
        assigned.join(broadcast(probed),
            assigned("cell") === probed("cell") &&
              col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
              .as("cos_sim")), 5)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val rFull = recallOf(Long.MaxValue)
    // cap of 50 on the 200-vector fixture forces mod=4 (~50 fit vectors)
    val rSample = recallOf(50L)
    assert(rSample >= rFull - 0.2,
      s"sample-fit recall $rSample vs full-fit $rFull")
    // deterministic: same cap → same centroids → same recall
    assert(recallOf(50L) == rSample)
  }

  test("embeddingNearDups hot-bucket cap bounds a degenerate vector cluster") {
    val rnd = new java.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    // 60 copies of one vector: every SRP table hashes them into one
    // bucket → quadratic candidates unless the cap prunes
    val clones = (0L to 59L).map(i => (i, base.clone()))
    val capped = Similarity.embeddingNearDups(
      clones.toDF("vec_id", "embedding"), threshold = 0.95, maxBucket = 10)
    assert(capped.count() == 0)
    // a normal planted pair survives alongside the hot cluster
    val pairBase = vec()
    val mixed = (clones ++ Seq(
      (100L, pairBase), (101L, pairBase.map(x => x + 0.01f))))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDups(mixed, threshold = 0.95, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((100L, 101L)))
  }

  test("pq kernels: encode picks the nearest centroid, adc sums table entries") {
    import graft.functions.VecExpressions._
    // 4-dim, m=2 subspaces, ksub=2: codebook [j0: (0,0),(1,1) | j1: (2,2),(5,5)]
    val cb = Seq(0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 5.0, 5.0)
    val df = Seq((Seq(0.9, 0.9, 4.0, 4.0), Seq(0.1, 0.2, 0.3, 0.4)))
      .toDF("v", "lut")
    val codes = df.select(
      pq_encode($"v", typedLit(cb), 2, 2).as("codes"))
    // sub0 (0.9,0.9) → centroid 1; sub1 (4,4) → centroid 1 (5,5 closer than 2,2)
    assert(codes.head().getSeq[Int](0) == Seq(1, 1))
    // adc: lut[0*2+1] + lut[1*2+1] = 0.2 + 0.4
    val s = codes.withColumn("lut", typedLit(Seq(0.1, 0.2, 0.3, 0.4)))
      .select(pq_adc($"codes", $"lut", 2)).head().getDouble(0)
    assert(math.abs(s - 0.6) < 1e-12)
    // mis-sized codebook fails loudly
    val ex = intercept[Throwable] {
      df.select(pq_encode($"v", typedLit(Seq(1.0, 2.0, 3.0)), 2, 2)).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      t.getMessage != null && t.getMessage.contains("codebook length")))
  }

  test("IVF+PQ index: partition AND column pruning in the plan, decent recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.ivfPqWriteIndex(emb, path, nlist = 8, m = 16, ksub = 8)
    val q = emb.filter($"vec_id" < 5)
    val out = Similarity.ivfPqQueryIndex(q, path, k = 5, nprobe = 4, rerankFactor = 6)
    val got = out.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.4,
      s"recall=$recall (nprobe 4/8 cells on random 64-dim embeddings)")
    // plan physics: both scans prune partitions to the probed cells; the
    // ADC scan decodes codes WITHOUT cv, the re-rank scan cv WITHOUT codes
    val plan = out.queryExecution.executedPlan.toString
    val scans = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(scans.exists(s => s.contains("codes") && !s.contains("cv")),
      s"ADC scan must not read raw vectors:\n${scans.mkString("\n")}")
    assert(scans.exists(s => s.contains("cv") && !s.contains("codes")),
      s"re-rank scan must not read codes:\n${scans.mkString("\n")}")
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN[^\\]]*\\].*"),
      "expected cell IN (...) partition pruning")
    // reproducible end to end (seeded coarse + PQ quantizers)
    val again = Similarity.ivfPqQueryIndex(q, path, k = 5, nprobe = 4, rerankFactor = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(again == got)
  }

  test("IVF+PQ codebook trained on a deterministic sample keeps recall parity") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    def recallOf(frac: Option[Double]): Double = {
      val path = java.nio.file.Files.createTempDirectory("ivfpq_sample").toString
      Similarity.ivfPqWriteIndex(emb, path, nlist = 8, m = 16, ksub = 8,
        trainFraction = frac)
      val got = Similarity.ivfPqQueryIndex(q, path, k = 5, nprobe = 4, rerankFactor = 6)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (got intersect exact).size.toDouble / exact.size
    }
    val full = recallOf(Some(1.0))
    val sampled = recallOf(Some(0.5)) // forces the sample path on the fixture
    assert(sampled >= 0.4, s"sample-trained recall=$sampled")
    assert(sampled >= full - 0.2,
      s"sample-trained recall $sampled must stay near full-trained $full")
  }

  test("ivfPqAppendAuto: staleness signal flips append -> rebuild, and the " +
    "rebuild restores recall parity with a scratch build") {
    // controllable geometry (the construction of SCALE.md "Round 15:
    // IVF+PQ append staleness"): base
    // energy in dims 0-31; the drifted batch in dims 32-63 — a region
    // the frozen quantizer cannot cover
    def gen(n: Long, idOffset: Long, activeFrom: Int) = {
      val dims = (0 until 64).map { d =>
        val g = randn(1234 + d)
        (if (d >= activeFrom && d < activeFrom + 32) g else g * lit(0.02))
          .cast("float")
      }
      spark.range(n).select((col("id") + idOffset).as("vec_id"),
        array(dims: _*).as("embedding")).localCheckpoint()
    }
    val base = gen(1000L, 0L, 0)

    // same-distribution ingest: signal ≈ share, stays below threshold
    val p1 = java.nio.file.Files.createTempDirectory("ivfauto1").toString + "/idx"
    val g1 = Similarity.ivfPqWriteIndexVersioned(base, p1, nlist = 16, m = 16, ksub = 8)
    assert(Similarity.ivfPqAppendAuto(gen(400L, 1000000L, 0), p1) == "append")
    val d1 = graft.Sessions.decisions.last
    assert(d1.op == "ivfPqAppendAuto" && d1.estimate < 2.0)

    // an index without its basecells baseline (the pre-r15 format) is
    // no complete generation: maintenance refuses it, never appends blind
    val fs = new org.apache.hadoop.fs.Path(p1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$g1/basecells"), true)
    intercept[IllegalArgumentException](
      Similarity.ivfPqAppendAuto(gen(10L, 3000000L, 0), p1))

    // drifted ingest: signal = share × cell skew crosses the threshold,
    // the auto rebuilds, and the rebuilt index's recall on the drifted
    // region restores to scratch-build parity (stale would be ~4× lower
    // — SCALE.md "Round 15: IVF+PQ append staleness")
    val p2 = java.nio.file.Files.createTempDirectory("ivfauto2").toString + "/idx"
    Similarity.ivfPqWriteIndexVersioned(base, p2, nlist = 16, m = 16, ksub = 8)
    val drifted = gen(500L, 2000000L, 32)
    assert(Similarity.ivfPqAppendAuto(drifted, p2) == "rebuild")
    val d2 = graft.Sessions.decisions.last
    assert(d2.estimate >= 2.0, s"drift signal ${d2.estimate} did not cross")

    // skew-alone trigger: a SMALL drifted sliver keeps the product
    // signal under 2.0 but its cell concentration is the drift
    // signature (same-dist skew is multinomially bounded ~1.4) —
    // measured under-fire case from the probe's 10x base
    val p4 = java.nio.file.Files.createTempDirectory("ivfauto4").toString + "/idx"
    Similarity.ivfPqWriteIndexVersioned(base, p4, nlist = 16, m = 16, ksub = 8)
    assert(Similarity.ivfPqAppendAuto(gen(100L, 4000000L, 32), p4) == "rebuild")
    val d4 = graft.Sessions.decisions.last
    assert(d4.estimate < 2.0 && d4.choice.startsWith("rebuild(skew"),
      s"expected the skew trigger, got ${d4.choice} at signal ${d4.estimate}")
    val combined = base.unionByName(drifted)
    val queries = drifted.orderBy("vec_id").limit(24).localCheckpoint()
    val exact = Similarity.bruteForceTopK(queries, combined, k = 5).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    def recallAt(path: String): Double = {
      val got = Similarity.ivfPqQueryIndex(queries, path, k = 5, nprobe = 8,
        rerankFactor = 6).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
      (got intersect exact).size.toDouble / exact.size
    }
    val fresh = java.nio.file.Files.createTempDirectory("ivfauto3").toString + "/idx"
    Similarity.ivfPqWriteIndex(combined, fresh, nlist = 16, m = 16, ksub = 8)
    val (rRebuilt, rFresh) = (recallAt(p2), recallAt(fresh))
    assert(rRebuilt >= rFresh - 0.15,
      s"rebuilt recall $rRebuilt lost parity with scratch build $rFresh")
    assert(rRebuilt >= 0.4, s"rebuilt recall $rRebuilt — rebuild didn't recover")
  }

  test("pqTopK: deterministic, and re-ranked recall beats raw ADC on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def run(factor: Int): Set[(Long, Long)] =
      Similarity.pqTopK(q, emb, k = 5, m = 16, ksub = 16, rerankFactor = factor)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val reranked = run(6)
    assert(run(6) == reranked) // seeded KMeans → reproducible
    val recall = (exact intersect reranked).size.toDouble / exact.size
    assert(recall >= 0.5,
      s"recall=$recall (16-byte codes on random 64-dim embeddings)")
    // re-ranked output's scores are EXACT cosines: spot-check against
    // brute force for overlapping pairs
    val exactScores = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    val prScores = Similarity.pqTopK(q, emb, k = 5, rerankFactor = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    val overlap = exactScores.keySet intersect prScores.keySet
    assert(overlap.nonEmpty)
    overlap.foreach { p =>
      assert(math.abs(exactScores(p) - prScores(p)) < 1e-5,
        s"re-ranked score must be the exact cosine for $p") }
  }

  test("IVF+PQ append: batch encodes under stored quantizers, queries span old and new") {
    val emb = Tables.embeddings(spark, sf0001)
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    val gen = Similarity.ivfPqWriteIndexVersioned(base, path, nlist = 8, m = 16, ksub = 8)
    val before = spark.read.parquet(s"$gen/data").count()
    Similarity.ivfPqAppendIndex(batch, path)
    val data = spark.read.parquet(s"$gen/data")
    assert(data.count() == before + batch.count(), "append adds exactly the batch")
    // appended codes are exactly what the stored codebook produces — no
    // retraining happened
    val meta = spark.read.parquet(s"$gen/codebook").collect().head
    val expect = Similarity.pqEncode(batch, meta.getSeq[Double](2).toArray,
      meta.getInt(0), meta.getInt(1)).collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getSeq[Int](1)).toMap
    val stored = data.join(batch.select($"vec_id".as("neighbor_id")), "neighbor_id")
      .select($"neighbor_id", $"codes").collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getSeq[Int](1)).toMap
    assert(stored == expect)
    // the queryable index now spans both halves: recall vs brute force
    // over the FULL corpus
    val q = emb.filter($"vec_id" < 5)
    val got = Similarity.ivfPqQueryIndex(q, path, k = 5, nprobe = 4, rerankFactor = 6)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"post-append recall=$recall")
    assert(got.exists { case (_, n) => n % 2 == 1 },
      "appended (odd-id) vectors must be findable")
  }

  test("ivfPqAppendAuto compaction axis: a drip of tiny same-dist batches " +
    "fires the batch-count trigger, and rebuilds reset the ledger") {
    def gen(n: Long, idOffset: Long) = {
      val dims = (0 until 64).map(d => randn(1234 + d).cast("float"))
      spark.range(n).select((col("id") + idOffset).as("vec_id"),
        array(dims: _*).as("embedding")).localCheckpoint()
    }
    val p = java.nio.file.Files.createTempDirectory("ivfdrip").toString + "/idx"
    Similarity.ivfPqWriteIndexVersioned(gen(1000L, 0L), p, nlist = 8, m = 16, ksub = 8)
    graft.Sessions.clearDecisions()
    // 20-row same-dist batches: drift signal cold, batch count climbs
    val picks = (1 to 16).map(i =>
      Similarity.ivfPqAppendAuto(gen(20L, 100000L * i), p))
    assert(picks.take(15).forall(_ == "append"),
      s"drift trigger fired on same-dist drip: $picks")
    assert(picks.last == "rebuild", s"batch-count trigger never fired: $picks")
    val d = graft.Sessions.decisions.filter(_.op == "ivfPqAppendAuto").last
    assert(d.choice.startsWith("rebuild(batches"), d.choice)
    // the rebuild compacted base + appends and reset the ledger
    assert(spark.read.parquet(s"${Similarity.ivfResolve(spark, p)}/data")
      .count() == 1000L + 16 * 20)
    assert(Similarity.ivfPqAppendAuto(gen(20L, 9900000L), p) == "append")
  }

  test("append and auto-rebuild refuse a flat index before any write, " +
    "naming the versioned writer") {
    val emb = Tables.embeddings(spark, sf0001)
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("ivfflat").toString + "/idx"
    Similarity.ivfPqWriteIndex(base, path, nlist = 8, m = 16, ksub = 8)
    val q = emb.filter($"vec_id" < 5).localCheckpoint()
    def answer = Similarity.ivfPqQueryIndex(q, path, k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val answered = answer
    val before = treeListing(path)
    val errs = Seq(
      intercept[IllegalArgumentException](Similarity.ivfPqAppendIndex(batch, path)),
      intercept[IllegalArgumentException](Similarity.ivfPqAppendAuto(batch, path)))
    errs.foreach(e => assert(e.getMessage.contains("ivfPqWriteIndexVersioned"),
      e.getMessage))
    assert(treeListing(path) == before, "a refused call wrote into the index")
    // readers are unchanged: the write-once flat index still answers
    assert(answered.nonEmpty && answer == answered)
  }

  test("centroidCosine: in-group vectors score high, a planted outlier scores lowest") {
    // two tight clusters around orthogonal axes + one outlier in group a
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, d) => x + (if (d == i % 4) 0.01f else 0f) }
    val aBase = Array(1f, 0f, 0f, 0f)
    val bBase = Array(0f, 1f, 0f, 0f)
    val rows =
      (0 until 8).map(i => (i.toLong, "a", jitter(aBase, i))) ++
        (8 until 16).map(i => (i.toLong, "b", jitter(bBase, i))) :+
        ((16L, "a", Array(0f, 0f, 1f, 0f))) // outlier in group a
    val df = rows.toDF("vec_id", "source", "embedding")
    val out = graft.llm.EmbeddingOps.centroidCosine(df, "source")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.size == 17)
    (0 until 16).foreach(i => assert(out(i.toLong) > 0.9, s"in-cluster $i: ${out(i.toLong)}"))
    assert(out(16L) < 0.5, s"outlier must score low: ${out(16L)}")
    assert(out(16L) < (0 until 8).map(i => out(i.toLong)).min)
  }
  test("pcaProject: right dimension, deterministic, captures anisotropic variance") {
    import spark.implicits._
    // anisotropic corpus: variance lives in dims 0 and 1, noise elsewhere
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat * 0.01f)
      v(0) = (i % 17).toFloat; v(1) = (i % 5).toFloat
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = EmbeddingOps.pcaProject(df, k = 2)
    val got = out.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.size == 200 && got.values.forall(_.length == 2))
    // deterministic across runs on the same input
    val again = EmbeddingOps.pcaProject(df, k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again == got)
    // the 2-dim projection must carry (almost) all the variance: distances
    // between projected points track the dominant original coordinates
    val v0 = rows.map(_._2(0).toDouble)
    val varOrig = v0.map(x => math.pow(x - v0.sum / v0.size, 2)).sum
    val p0 = got.values.map(_.head).toSeq
    val varProj = p0.map(x => math.pow(x - p0.sum / p0.size, 2)).sum +
      got.values.map(_(1)).toSeq.map { x =>
        val s = got.values.map(_(1)).toSeq; math.pow(x - s.sum / s.size, 2) }.sum
    assert(varProj > varOrig * 0.9,
      s"top-2 PCA variance $varProj should dominate dim-0 variance $varOrig")
  }

  test("covarianceExact matches a driver-computed covariance to micro precision") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1L to 150L).map { i =>
      (i, Array.fill(4)(rnd.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = EmbeddingOps.covarianceExact(df, dims = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.size == 10, s"4 dims -> 10 upper-triangle pairs, got ${got.size}")
    assert(got.values.forall(_._1 == 150L))
    // reference covariance from the micro-quantized values (the operator's
    // documented exactness contract is over micros, not raw floats)
    val micros = rows.map(_._2.map(x => math.round(x.toDouble * 1e6)))
    for (i <- 0 until 4; j <- i until 4) {
      val xs = micros.map(_(i)); val ys = micros.map(_(j))
      val n = xs.size.toDouble
      val want =
        (n * xs.zip(ys).map { case (a, b) => a.toDouble * b }.sum -
          xs.sum.toDouble * ys.sum.toDouble) / (n * (n - 1) * 1e12)
      assert(math.abs(got((i.toLong, j.toLong))._2 - want) < 1e-8,
        s"cov($i,$j): got ${got((i.toLong, j.toLong))._2} want $want")
    }
    // diagonal is the sample variance: ties out against dimStats' std
    val stds = EmbeddingOps.dimStats(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (d <- 0L until 4L)
      assert(math.abs(math.sqrt(got((d, d))._2) - stds(d)) < 1e-3,
        s"sqrt(cov($d,$d)) should be dimStats std")
  }

  test("assignToCentroids picks the squared-L2 argmin, ties to the lower cell") {
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(10.0, 0.0)))
      .toDF("cell", "centroid")
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)),   // near centroid 0
      (1L, Array(9.0f, -1.0f)),  // near centroid 1
      (2L, Array(5.0f, 3.0f)))   // equidistant -> tie -> cell 0
      .toDF("vec_id", "embedding")
    val got = EmbeddingOps.assignToCentroids(vecs, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
  }

  test("corpusClusters: partitions the embedded corpus, shares sum to 1, seed-deterministic") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    def run() = EmbeddingOps.corpusClusters(docs, emb, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sortBy(_._1)
    val out = run()
    assert(out.length <= 4 && out.nonEmpty)
    // every embedded doc lands in exactly one cluster
    val embedded = docs.join(emb, docs("doc_id") === emb("vec_id")).count()
    assert(out.map(_._2).sum == embedded, s"n_docs must partition $embedded")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4, "token_share sums to 1")
    assert(out.forall(c => c._5 >= 1 && c._3 >= c._2), // >=1 token/doc fixture
      "every cluster has sources and token mass")
    // same seed, same clustering — end to end
    assert(run().toSeq == out.toSeq)
    // sample-fit posture: quantizer fit on half the corpus still ASSIGNS
    // the full corpus (the 100 TB operating mode)
    val sampled = EmbeddingOps.corpusClusters(docs, emb, k = 4, fitFraction = 0.5)
      .collect().map(_.getAs[Long]("n_docs")).sum
    assert(sampled == embedded, "fitFraction must not shrink assignment")
  }

  test("corpusClustersFixed assignment agrees with a driver-side reference") {
    val emb = Tables.embeddings(spark, sf0001)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val cents = vecs.filter(_._1 < 8L)
    def d2(v: Array[Double], c: Array[Double]): Double = {
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      BigDecimal(dot(v, v) - 2.0 * dot(v, c) + dot(c, c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = vecs.map { case (id, v) =>
      id -> cents.minBy { case (cell, c) => (d2(v, c), cell) }._1
    }.toMap
    val got = EmbeddingOps.assignToCentroids(
      emb, emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cell"), $"embedding".as("centroid")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  // ——— generation-versioned roots: reader-atomic rebuilds (r17 #7) ———

  test("versioned IVF root: write/resolve parity, in-place append, " +
    "reader-atomic auto-rebuild with fresh ledgers, crash fallbacks") {
    def gen(n: Long, idOffset: Long, activeFrom: Int) = {
      val dims = (0 until 64).map { d =>
        val g = randn(4321 + d)
        (if (d >= activeFrom && d < activeFrom + 32) g else g * lit(0.02))
          .cast("float")
      }
      spark.range(n).select((col("id") + idOffset).as("vec_id"),
        array(dims: _*).as("embedding")).localCheckpoint()
    }
    val base = gen(1000L, 0L, 0)
    val root = java.nio.file.Files
      .createTempDirectory("ivfver").toString + "/idx"
    val g1 = Similarity.ivfPqWriteIndexVersioned(
      base, root, nlist = 16, m = 16, ksub = 8)
    assert(g1.endsWith("/v00001"))
    assert(Similarity.ivfResolve(spark, root) == g1)
    // reads resolve through the pointer: the query answers from gen 1
    val q = base.filter(col("vec_id") < 4).localCheckpoint()
    val out1 = Similarity.ivfPqQueryIndex(q, root, k = 3, nprobe = 4)
    assert(out1.count() == 12)
    // appends land INSIDE the live generation
    Similarity.ivfPqAppendIndex(gen(200L, 1000000L, 0), root)
    assert(spark.read.parquet(s"$g1/data").count() == 1200)
    // drifted ingest fires the auto-rebuild, which must publish the
    // NEXT generation (reader-atomic) and reset the append ledger
    assert(Similarity.ivfPqAppendAuto(gen(500L, 2000000L, 32), root)
      == "rebuild")
    val live = Similarity.ivfResolve(spark, root)
    assert(live.endsWith("/v00002"),
      s"auto-rebuild must publish the next generation, live=$live")
    assert(spark.read.parquet(s"$live/data").count() == 1700)
    assert(!new java.io.File(s"$live/appendlog").exists(),
      "new generation must not inherit the append ledger")
    // the superseded generation stays fully readable (keep=2) with the
    // content it held at supersession (base + both appends — appends
    // mutate the LIVE generation; immutability starts at supersession)
    assert(spark.read.parquet(s"$g1/data").count() == 1700)
    // the rebuilt generation answers queries through the same root path
    val out2 = Similarity.ivfPqQueryIndex(q, root, k = 3, nprobe = 4)
    assert(out2.count() == 12)
    // crash matrix: a gutted generation (missing subdirs) is never
    // served; a lost flip falls back to the highest complete generation
    gen(5L, 0L, 0).write.parquet(s"$root/v00003/data")
    assert(Similarity.ivfResolve(spark, root) == live,
      "a generation without all four subdirs must never be served")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      root, graft.sources.DimStore.Marker), false)
    assert(Similarity.ivfResolve(spark, root) == live)
    // simTopKAuto sees a versioned root as a ready index
    graft.Sessions.clearDecisions()
    val auto = Similarity.simTopKAuto(
      base.filter(col("vec_id") < 30), base, k = 3,
      indexPath = Some(root), queryThreshold = 8L)
    assert(auto.count() > 0)
    assert(graft.Sessions.decisions.last.choice == "ivfIndex")
  }

  test("versioned IVF root: a build crashed during its LAST job — all " +
    "four subdirs present, no terminal marker — is a torso, not a " +
    "complete generation (existence-only gate defect, r18 ADVICE)") {
    val base = spark.range(500).select(col("id").as("vec_id"),
      array((0 until 16).map(d => randn(100 + d).cast("float")): _*)
        .as("embedding")).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("ivfgut").toString + "/idx"
    val g1 = Similarity.ivfPqWriteIndexVersioned(
      base, root, nlist = 4, m = 4, ksub = 8)
    // fabricate the crash state Spark actually produces: every output
    // dir exists (created at job SETUP), the last-written one holds
    // only uncommitted content — no data files, no GenMarker
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sub <- Seq("data", "centroids", "codebook", "basecells"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v00002/$sub"))
    // the gutted torso is never served — by the marker, not by luck
    assert(Similarity.ivfResolve(spark, root) == g1)
    // ...even when the flip is ALSO lost (the lost-marker fallback the
    // r18 ADVICE showed could serve the torso under the old gate)
    fs.delete(new org.apache.hadoop.fs.Path(
      root, graft.sources.DimStore.Marker), false)
    assert(Similarity.ivfResolve(spark, root) == g1,
      "lost-marker fallback must skip a marker-less generation")
    // and the next publish REUSES the torso's number (no retention slot
    // spent on it)
    val g2 = Similarity.ivfPqRebuildVersioned(spark, root)
    assert(g2.endsWith("/v00002"), s"torso number must be reused, got $g2")
    assert(Similarity.ivfResolve(spark, root) == g2)
    assert(spark.read.parquet(s"$g2/data").count() == 500)
  }
}
