package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`embeddings` fixture: `vec_id`, `embedding: array<float>`,
  * FIXTURES.md §B).
  *
  * Baseline: brute-force cosine top-k (exact, the in-repo oracle for the
  * approximate variants). Scale paths: random-hyperplane LSH bucketing
  * and IVF-style coarse quantization — both turn the all-pairs cross join
  * into a bucket-equi-join so a 100 TB corpus only compares within
  * buckets/probed cells.
  */
object Similarity {

  /** Dot product of two double arrays — a native codegen'd expression
    * with left-to-right summation, deterministic and identical to
    * DuckDB's list_dot_product fold order, which the oracle relies on.
    * (The `aggregate(zip_with(...))` HOF formulation this replaces is
    * evaluated interpreted: one boxed lambda call per element.)
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecExpressions.vec_dot(asDouble(a), asDouble(b))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via fresh norms — hot paths precompute the norms once per
    * vector instead (see bruteForceTopK), which is the same arithmetic.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** dot/(qn·cn) with norms computed once per VECTOR rather than once
    * per candidate pair — identical doubles, 3× less dot work on a
    * join that compares each vector against many others.
    */
  private def cosinePre(qv: Column, cv: Column, qn: Column, cn: Column): Column =
    dot(qv, cv) / (qn * cn)

  /** array<float> → array<double> via a native Cast (codegen'd; erased
    * by SimplifyCasts when the input is already array<double>) — NOT the
    * `transform` HOF, which allocates and evaluates interpreted per
    * element.
    */
  private[llm] def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact brute-force cosine top-k: for each query vector, scan all
    * candidates, keep the best k. The query side is broadcast (queries
    * ≪ corpus), so the corpus never shuffles; the per-query top-k runs
    * through a bounded custom Aggregator (graft.functions.TopK) with
    * map-side partial merge — the exchange carries ≤ tasks × queries × k
    * rows instead of every (query, candidate) pair, and there is no
    * per-partition sort (the row_number formulation shuffles the full
    * cross product). Ties broken by vec_id for determinism.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(
      col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosinePre(col("qv"), col("cv"), col("qn"), col("cn")), 6)
          .as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Bounded top-k of (neighbor_id, cos_sim) per query_id. */
  private[llm] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k(col("neighbor_id"), col("cos_sim"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk.items")).as(Seq("pos", "item")))
      .select(
        col("query_id"),
        col("item.id").as("neighbor_id"),
        col("item.score").as("cos_sim"),
        (col("pos") + lit(1)).cast("int").as("rank"))

  /** Deterministic random hyperplanes (seeded java.util.Random), as a
    * literal column of array<array<double>> suitable for broadcasting via
    * the plan.
    */
  private[llm] def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** A dim mismatch makes every SRP bit null→0, hashing ALL vectors into
    * bucket 0 and silently degenerating the bucketed join into the full
    * cross product — validate against the data up front (one-row job).
    * Empty inputs (or a null first vector) skip the check: downstream
    * simply produces an empty/null-safe result.
    */
  private def requireDim(df: DataFrame, vecCol: String, dim: Int): Unit =
    df.select(size(col(vecCol))).limit(1).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .foreach { actual =>
        require(actual == dim,
          s"embedding dimension mismatch: data has $actual, operator configured with $dim")
      }

  /** Random-hyperplane (SRP) LSH signature: one bit per hyperplane = sign
    * of the projection; packed to a BIGINT bucket id. Hamming distance on
    * signatures approximates angular distance.
    */
  def srpSignature(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.map { p =>
      val planeCol = array(p.map(lit): _*)
      when(dot(asDouble(vec), planeCol) >= 0, lit(1L)).otherwise(lit(0L))
    }
    bits.reduceLeft((acc, b) => shiftleft(acc, 1) + b)
  }

  /** LSH-bucketed ANN: hash corpus and queries into SRP buckets with
    * `nTables` independent hash tables; compare only within colliding
    * buckets; exact cosine re-rank of the candidates. Recall grows with
    * nTables; cost stays |bucket| per query instead of |corpus|.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      nBits: Int = 8,
      nTables: Int = 4): DataFrame = {
    requireDim(corpus, "embedding", 64)
    requireDim(queries, "embedding", 64) // a short query vector degenerates identically
    def tablesFor(vec: Column) = (0 until nTables).map { t =>
      struct(lit(t).as("table"),
        srpSignature(vec, hyperplanes(nBits, 64, 42L + t)).as("bucket"))
    }
    // norms computed once per vector BEFORE the per-table explode — the
    // fan-out and every candidate comparison reuse them
    def bucketed(df: DataFrame, id: String, v: String, n: String, bk: String): DataFrame =
      df.select(col("vec_id").as(id), asDouble(col("embedding")).as(v))
        .withColumn(n, norm(col(v)))
        .select(col(id), col(v), col(n),
          explode(array(tablesFor(col(v)): _*)).as(bk))
    val c = bucketed(corpus, "neighbor_id", "cv", "cn", "c_bk")
    val q = bucketed(queries, "query_id", "qv", "qn", "q_bk")
    val cand = c
      .join(broadcast(q), col("c_bk") === col("q_bk") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("qv"), col("cv"), col("qn"), col("cn"))
      .dropDuplicates("query_id", "neighbor_id")
    rankTopK(
      cand.select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("qv"), col("cv"), col("qn"), col("cn")), 6)
          .as("cos_sim")),
      k)
  }

  /** IVF-style ANN (the scale path): a KMeans coarse quantizer partitions
    * the corpus into nlist cells; each query probes its nprobe nearest
    * cells and exact-reranks only those candidates. At 100 TB the corpus
    * is written partitioned by cell id, so a query reads nprobe/nlist of
    * the data — the standard inverted-file trade (recall vs cells probed).
    */
  /** Fit the KMeans coarse quantizer once: returns the cell-assigned
    * corpus (neighbor_id, cv, cell) and the tiny centroid relation
    * (cell, centroid). Shared by the in-memory and materialized IVF
    * paths so quantizer construction cannot drift between them.
    *
    * The FIT runs on a bounded deterministic key-hash sample
    * (≤ `maxFitVectors`, r14) while the ASSIGNMENT transforms the full
    * corpus — the standard IVF posture: Lloyd's iterates the training
    * set ~20×, so fitting on all of a 100 TB corpus multiplies the
    * scan 20-fold for centroids a large sample estimates just as well
    * (nlist centroids need ~1000× nlist samples; the 256 k default
    * gives 16 k× at nlist=16). Below the cap the sample IS the corpus,
    * so fixture-scale behavior — and every seeded oracle/spec — is
    * bit-identical. Sample-fit recall parity is spec-asserted
    * (SimilaritySpec, mirroring the PQ codebook's sample-fit spec).
    * Measured honestly at sf100/20 M vectors the local win is modest
    * (index write 15.9 → 13.4 s — the cell-partitioned WRITE dominates
    * there, and the assignment scan is irreducible); the bound matters
    * structurally at real scale, where Lloyd's maxIter would otherwise
    * multiply the corpus scan ~20× for the fit alone.
    */
  private[llm] def fitQuantizer(
      corpus: DataFrame,
      nlist: Int,
      seed: Long,
      vecCol: String,
      idCol: String,
      maxFitVectors: Long = 262144L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val corpusVec = corpus.select(
      col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"),
      array_to_vector(col(vecCol)).as("features"))
    // one column-pruned count, memoized per (plan, size); mod chosen so
    // the key-hash filter keeps ~maxFitVectors (deterministic — no
    // sample() row-order dependence across retries)
    val n = graft.Sessions.memoEstimate(corpus, s"veccount|$idCol") {
      corpus.select(col(idCol)).count().toDouble
    }.toLong
    val mod = math.max(1L, n / math.max(1L, maxFitVectors))
    val fitSet =
      if (mod == 1L) corpusVec
      else corpusVec.filter(pmod(xxhash64(col("neighbor_id")), lit(mod)) === 0)
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").fit(fitSet)
    val assigned = model.transform(corpusVec)
      .select(col("neighbor_id"), col("cv"), norm(col("cv")).as("cn"),
        col("prediction").as("cell"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** Rank each query's nprobe nearest cells: (query_id, qv, cell).
    * Deterministic tie-break on (dist, cell). Shared by both IVF paths.
    */
  private[llm] def probeCells(
      queries: DataFrame,
      centroids: DataFrame,
      nprobe: Int,
      vecCol: String,
      idCol: String): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cell"))
    q.crossJoin(broadcast(centroids))
      .withColumn("dist",
        aggregate(zip_with(col("qv"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
  }

  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5): DataFrame = {
    val (assigned, centroids) = fitQuantizer(corpus, 16, 42L, "embedding", "vec_id")
    val probed = probeCells(queries, centroids, 4, "embedding", "vec_id")
    rankTopK(
      assigned.join(broadcast(probed),
          assigned("cell") === probed("cell") && col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosinePre(col("qv"), col("cv"), col("qn"), col("cn")), 6)
            .as("cos_sim")),
      k)
  }

  /** Materialized IVF index: fit the coarse quantizer, write the corpus
    * PARTITIONED BY cell id, persist the centroids alongside. This is
    * the 100 TB layout [[ivfTopK]]'s plan implies: at query time only
    * the probed cells' files are read (parquet partition pruning), so a
    * query touches ~nprobe/nlist of the data instead of scanning the
    * corpus.
    */
  def ivfWriteIndex(
      corpus: DataFrame,
      path: String): Unit = {
    val (assigned, centroids) = fitQuantizer(corpus, 16, 42L, "embedding", "vec_id")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Query a written IVF index: rank the (tiny) centroid relation on the
    * driver side of the plan, push the probed cell ids into the
    * partition-pruned scan (`cell IN (...)` hits parquet partition
    * filters — non-probed directories are never opened), exact-rerank
    * within the probed cells. The scan-side win is the entire point of
    * the IVF layout.
    */
  def ivfQueryIndex(
      queries: DataFrame,
      root: String,
      k: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    // plan-time generation resolution (r18): a rebuild flipping the
    // pointer mid-query never changes the files under this scan
    val indexPath = ivfResolve(spark, root)
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    // materialize the (tiny: queries × nprobe) probe relation ONCE — it
    // feeds both the IN-list collect and the final join, and without the
    // checkpoint the crossJoin+window plan would execute twice
    val probed = probeCells(queries, centroids, 4, "embedding", "vec_id")
      .localCheckpoint()
    // probed cell ids become a literal IN-list the scan can prune on;
    // keeping them in a join would defeat partition pruning
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val raw = spark.read.parquet(s"$indexPath/data")
    // pre-norm index format compatibility: recompute cn when an older
    // index (written before norms were stored) lacks the column
    val withNorm =
      if (raw.columns.contains("cn")) raw
      else raw.withColumn("cn", norm(col("cv")))
    val data = withNorm
      .filter(col("cell").isin(cells: _*))
      .select(col("neighbor_id"), col("cv"), col("cn"), col("cell"))
    rankTopK(
      data.join(broadcast(probed),
          data("cell") === probed("cell") && col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosinePre(col("qv"), col("cv"), col("qn"), col("cn")), 6)
            .as("cos_sim")),
      k)
  }

  /** Product quantization (PQ): compress each (L2-normalized) vector to
    * m small codes — split the D dims into m subspaces, KMeans each to
    * ksub centroids, store argmin indices. At 100 TB this is the memory
    * story IVF alone lacks: a 64-dim float vector (256 B) becomes m = 8
    * codes (8 B, 32×), so the scan side of ANN reads codes + a per-query
    * 8×16-entry lookup table instead of float vectors, and the whole
    * corpus sketch fits where the raw embeddings never could. Composes
    * with IVF (IVF prunes cells, PQ scores the survivors); here PQ is
    * exposed standalone with an optional exact re-rank of the ADC top
    * candidates.
    */

  /** Train the codebook: JOINT Lloyd's iterations over all m subspace
    * k-means problems at once — each iteration is ONE encode pass
    * (codegen'd argmin per row) plus ONE (subspace, code, dim) mean
    * aggregation whose output is the m·ksub·dsub-cell codebook itself.
    * Per-subspace MLlib fits would cost m × iters Spark jobs (the job
    * overhead dwarfs the math at any m); this costs 2 jobs per iteration
    * regardless of m, and one corpus pass per job. Returns the flattened
    * m × ksub × dsub centroid array (subspace-major) — a few KB, shipped
    * to executors as a literal.
    *
    * Deterministic: init picks the md5-hash-first ksub vectors'
    * subvectors (content-addressed, partition-order-free), and centroid
    * means are rounded to 9 decimals each iteration so float summation
    * order cannot leak into an argmin tie. Empty clusters keep their
    * previous centroid. At full corpus scale, train on a
    * [[Sampling.deterministicSample]] — the codebook only needs
    * distribution coverage, not every row.
    */
  def pqTrain(
      corpus: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Array[Double] = {
    val normed = normalizedVec(corpus, vecCol)
      .select(col(idCol).as("_id"), col("nv")).localCheckpoint()
    val dim = normed.select(size(col("nv"))).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("pqTrain: empty corpus"))
    require(dim % m == 0, s"pqTrain: dim $dim not divisible into $m subspaces")
    val dsub = dim / m

    // init: subvectors of the ksub hash-first vectors (distinct rows by
    // construction of the ordering; ties on the id column)
    val initRows = normed
      .orderBy(md5(concat(col("_id").cast("string"), lit("42"))), col("_id"))
      .limit(ksub).select(col("nv")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(initRows.length == ksub,
      s"pqTrain: corpus has ${initRows.length} rows < ksub=$ksub")
    var cb = Array.tabulate(m * ksub * dsub) { i =>
      val j = i / (ksub * dsub); val c = (i / dsub) % ksub; val d = i % dsub
      initRows(c)(j * dsub + d)
    }

    var it = 0
    while (it < 8) {
      // one encode + one (subspace, code, dim) mean agg == full Lloyd's
      // step for every subspace simultaneously
      val updates = normed
        .select(
          graft.functions.VecExpressions
            .pq_encode(col("nv"), typedLit(cb.toSeq), m, ksub).as("codes"),
          col("nv"))
        .select(posexplode(col("nv")).as(Seq("d", "x")), col("codes"))
        .select(
          (col("d") / dsub).cast("int").as("j"),
          element_at(col("codes"), (col("d") / dsub).cast("int") + 1).as("c"),
          pmod(col("d"), lit(dsub)).as("t"),
          col("x"))
        .groupBy(col("j"), col("c"), col("t"))
        .agg(round(avg(col("x")), 9).as("mu"))
        .collect()
      val next = cb.clone() // empty clusters keep their centroid
      updates.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1); val t = r.getInt(2)
        next((j * ksub + c) * dsub + t) = r.getDouble(3)
      }
      cb = next
      it += 1
    }
    cb
  }

  /** L2-normalize so inner product = cosine (PQ approximates the inner
    * product; training/encoding/scoring must agree on the normalization).
    */
  private def normalizedVec(df: DataFrame, vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    df.withColumn("nv", zip_with(v, array_repeat(norm(v), size(v)), (x, n) => x / n))
  }

  /** Encode the corpus against a trained codebook: (neighbor_id, codes).
    * One codegen'd kernel call per row; the codebook rides along as a
    * literal (no join, no shuffle).
    */
  def pqEncode(
      corpus: DataFrame,
      codebook: Array[Double],
      m: Int = 8,
      ksub: Int = 16,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    normalizedVec(corpus, vecCol).select(
      col(idCol).as("neighbor_id"),
      graft.functions.VecExpressions.pq_encode(
        col("nv"), typedLit(codebook.toSeq), m, ksub).as("codes"))

  /** PQ-ANN top-k via asymmetric distance: per-query LUT of subspace
    * inner products (tiny side, HOF arithmetic is fine there), broadcast
    * against the coded corpus, score = m table lookups per candidate
    * (codegen'd), bounded TopK per query. With `rerankFactor` > 1 the
    * ADC top k·factor candidates are exact-cosine re-ranked — the
    * standard two-stage PQ search; the corpus's float vectors are only
    * read for the ~k·factor survivors per query.
    */
  /** (query_id, qv, lut) relation: unit-norm query vector plus its ADC
    * lookup table, lut[j*ksub + c] = <q_sub_j, centroid_{j,c}>. Query
    * side is tiny by contract (same as bruteForceTopK's broadcast), so
    * interpreted HOF arithmetic costs nothing here.
    */
  private def adcQuerySide(
      queries: DataFrame,
      cb: Array[Double],
      m: Int,
      ksub: Int,
      vecCol: String,
      idCol: String): DataFrame = {
    val cbCol = typedLit(cb.toSeq)
    val dsub = cb.length / (m * ksub)
    val lut = transform(sequence(lit(0), lit(m * ksub - 1)), i => {
      // i = j*ksub + c → query subvector j = i div ksub; codebook flat
      // base for centroid (j, c) is i * dsub
      val j = floor(i / lit(ksub)).cast("int")
      aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0),
        (acc, d) => acc +
          element_at(col("qv"), j * lit(dsub) + d + lit(1)) *
          element_at(cbCol, i * lit(dsub) + d + lit(1)))
    })
    normalizedVec(queries, vecCol)
      .select(col(idCol).as("query_id"), col("nv").as("qv"))
      .withColumn("lut", lut)
      .select(col("query_id"), col("qv"), col("lut"))
  }

  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      m: Int = 8,
      ksub: Int = 16,
      rerankFactor: Int = 4): DataFrame = {
    val cb = pqTrain(corpus, m, ksub)
    val coded = pqEncode(corpus, cb, m, ksub)
    val q = adcQuerySide(queries, cb, m, ksub, "embedding", "vec_id")
    val adcScored = coded
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VecExpressions.pq_adc(col("codes"), col("lut"), ksub), 6)
          .as("cos_sim"))
    if (rerankFactor <= 1) rankTopK(adcScored, k)
    else {
      // stage 2: exact cosine over the ADC survivors only
      val cand = rankTopK(adcScored, k * rerankFactor)
        .select(col("query_id"), col("neighbor_id"))
      val c = corpus.select(
        col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
        .withColumn("cn", norm(col("cv")))
      val qn = normalizedVec(queries, "embedding")
        .select(col("vec_id").as("query_id"), col("nv").as("qv"))
      rankTopK(
        cand.join(c, "neighbor_id").join(broadcast(qn), "query_id")
          .select(col("query_id"), col("neighbor_id"),
            // qv is unit-norm: dot/cn = cosine
            round(dot(col("qv"), col("cv")) / col("cn"), 6).as("cos_sim")),
        k)
    }
  }

  /** Materialized IVF+PQ index — the classic inverted-file +
    * product-quantization ANN layout expressed as parquet physics: the
    * coarse KMeans cell is the PARTITION directory (query-time partition
    * pruning — non-probed cells' files are never opened) and the PQ
    * codes are a narrow COLUMN beside the raw vector (query-time column
    * pruning — the ADC scan reads `codes` only; `cv`/`cn` bytes are
    * decoded just for the re-rank survivors). At 100 TB a query touches
    * ~nprobe/nlist of the files and ~m bytes per row in them; both
    * prunings are visible in the executed plan and spec-asserted.
    */
  def ivfPqWriteIndex(
      corpus: DataFrame,
      path: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      trainFraction: Option[Double] = None): Unit = {
    val (assigned, centroids) = fitQuantizer(corpus, nlist, 42L, vecCol, idCol)
    // The codebook needs DISTRIBUTION COVERAGE, not every row: train
    // Lloyd's on a deterministic (md5-keyed, partition-order-free) sample
    // sized ~100 rows per centroid by default, so the 2-jobs-per-iteration
    // training cost is constant in corpus size while ENCODING still covers
    // every row. This is the 100 TB codebook path in code, not a comment;
    // recall parity vs full-corpus training is spec-asserted.
    val trainTarget = ksub * 100L
    val trainRows = trainFraction match {
      case Some(f) if f < 1.0 =>
        Sampling.deterministicSample(corpus, col(idCol), f)
      case Some(_) => corpus
      case None =>
        val n = corpus.count()
        if (n <= trainTarget) corpus
        else Sampling.deterministicSample(corpus, col(idCol), trainTarget.toDouble / n)
    }
    val cb = pqTrain(trainRows, m, ksub, vecCol = vecCol, idCol = idCol)
    val coded = pqEncode(corpus, cb, m, ksub, vecCol, idCol)
    assigned.join(coded, "neighbor_id")
      .select(col("neighbor_id"), col("cv"), col("cn"), col("codes"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((m, ksub, cb.toSeq)).toDF("m", "ksub", "cb")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    // per-cell row counts AT BUILD TIME — the staleness baseline
    // [[ivfPqAppendAuto]] diffs against (footer-only scan: cell is the
    // partition column, count needs no data pages). A versioned
    // generation without it is incomplete, so it is never appended to.
    spark.read.parquet(s"$path/data").groupBy("cell").count()
      .withColumnRenamed("count", "base_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/basecells")
  }

  /** Append a new ingest batch to an existing IVF+PQ index WITHOUT
    * retraining: cells assigned against the STORED coarse centroids
    * (nprobe=1 probe ≡ nearest-cell assignment), codes computed with the
    * STORED codebook, rows appended into the same cell-partitioned
    * layout. This is the incremental 100 TB operating mode — the mirror
    * of [[Dedup.minhashWriteIndex]]/[[Dedup.minhashDeltaPairs]] for the
    * ANN side: the index is built once and each ingest batch encodes
    * only itself; the corpus is never re-encoded. Codes are
    * deterministic given the stored codebook (spec-asserted), so an
    * appended row is exactly what the original build would have written
    * for that vector. Distribution drift is handled by
    * [[ivfPqAppendAuto]], which measures a staleness signal per ingest
    * and triggers [[ivfPqRebuildVersioned]] from it — caller knowledge
    * ("rebuild periodically") promoted to engine behavior (r15).
    * The index is a [[ivfPqWriteIndexVersioned]] root; rows land
    * INSIDE its live generation (additive). A flat index is refused
    * before any write.
    */
  def ivfPqAppendIndex(
      newVecs: DataFrame,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    requireVersioned(spark, path, "ivfPqAppendIndex")
    val live = graft.sources.DimStore.currentPath(spark, path, ivfComplete)
    // empty batches are a no-op: a ledger row for them would let idle
    // micro-batches alone drive the compaction trigger into a rebuild
    if (newVecs.isEmpty) return
    val meta = spark.read.parquet(s"$live/codebook").collect().head
    val m = meta.getInt(0)
    val ksub = meta.getInt(1)
    val cb = meta.getSeq[Double](2).toArray
    val centroids = spark.read.parquet(s"$live/centroids")
    val assigned = probeCells(newVecs, centroids, 1, "embedding", "vec_id")
      .select(col("query_id").as("neighbor_id"), col("qv").as("cv"),
        col("qn").as("cn"), col("cell"))
    val coded = pqEncode(newVecs, cb, m, ksub)
    assigned.join(coded, "neighbor_id")
      .select(col("neighbor_id"), col("cv"), col("cn"), col("codes"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$live/data")
    // one ledger row per append: each batch adds ≥1 file to every cell
    // it touches, so per-cell file count — and probed-cell open cost —
    // grows linearly with append COUNT regardless of volume (the same
    // compaction axis zorderAppendAuto measures; SCALE.md r16 drip
    // table). ivfPqAppendAuto's MaxAppendBatches trigger reads this.
    import spark.implicits._
    Seq(1).toDF("batches")
      .coalesce(1).write.mode("append").parquet(s"$live/appendlog")
  }

  // ——— GENERATION-VERSIONED roots: the one maintained layout (r17 #7) ———
  // Same layout as the z-order layer (see ZOrder's section + the
  // DEPLOY.md decision page): rebuilds publish a complete new
  // generation (`$root/vNNNNN/{data,centroids,codebook,basecells}`)
  // and flip `$root/_CURRENT`; readers resolve the pointer at plan
  // time, so no quiesce window exists. Appends stay in-place inside
  // the live generation; a fresh generation carries no `appendlog`,
  // so the compaction ledger resets on rebuild for free. A flat
  // [[ivfPqWriteIndex]] index still answers queries through
  // [[ivfResolve]], but it is write-once: append and rebuild refuse it.

  /** IVF+PQ completeness as a [[graft.sources.DimStore.Complete]]:
    * all four index subdirs present AND the generation's terminal
    * [[graft.sources.DimStore.GenMarker]]. The marker matters: the
    * index is written by four jobs and Spark creates each output dir
    * at job setup, so a build crashed during the LAST job leaves all
    * four dirs present with only `_temporary` content — an existence-
    * only gate would classify that torso COMPLETE, let currentPath's
    * lost-marker fallback serve it, and spend a prune retention slot
    * on it (r18 ADVICE). The build closures stamp the marker as their
    * final step, so completeness is witnessed by a terminal artifact,
    * not directory existence.
    */
  private val ivfComplete: graft.sources.DimStore.Complete =
    graft.sources.DimStore.stamped((fs, dir) =>
      Seq("data", "centroids", "codebook", "basecells")
        .forall(sub => fs.exists(new org.apache.hadoop.fs.Path(dir, sub))))

  /** The maintenance entry points' first step: a flat index — including
    * one an older binary left mid-swap — is refused here, before any
    * write, with the one-time migration named.
    */
  private def requireVersioned(
      spark: org.apache.spark.sql.SparkSession, root: String, op: String): Unit =
    require(graft.sources.DimStore.isVersionedRoot(spark, root),
      s"$op: $root is not a generation-versioned root — append and rebuild " +
        "maintain versioned roots only; migrate a flat IVF+PQ index once " +
        "by writing its corpus with ivfPqWriteIndexVersioned")

  /** The live index directory of an IVF root: versioned roots resolve
    * through `_CURRENT` (mid-flip crash falls back to the highest
    * complete generation), flat write-once indexes resolve to themselves.
    */
  def ivfResolve(
      spark: org.apache.spark.sql.SparkSession, root: String): String =
    if (graft.sources.DimStore.isVersionedRoot(spark, root))
      graft.sources.DimStore.currentPath(spark, root, ivfComplete)
    else root

  /** [[ivfPqWriteIndex]] into a fresh generation of a versioned root
    * (creating the root on first call); returns the generation's
    * immutable path.
    */
  def ivfPqWriteIndexVersioned(
      corpus: DataFrame,
      root: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16): String =
    graft.sources.DimStore.publishWith(corpus.sparkSession, root,
      ivfComplete) { dir =>
      ivfPqWriteIndex(corpus, dir, nlist, m, ksub)
      graft.sources.DimStore.stamp(corpus.sparkSession, dir) // terminal
    }

  /** Reader-atomic rebuild: refit quantizer + codebook on the live
    * generation's current vectors (base + appends) into the NEXT
    * generation and flip. Readers never quiesce; two generations
    * are retained for readers pinned to a superseded path.
    */
  def ivfPqRebuildVersioned(
      spark: org.apache.spark.sql.SparkSession,
      root: String): String = {
    val live = graft.sources.DimStore.currentPath(spark, root, ivfComplete)
    val meta = spark.read.parquet(s"$live/codebook").collect().head
    val m = meta.getInt(0)
    val ksub = meta.getInt(1)
    val nlist = spark.read.parquet(s"$live/centroids").count().toInt
    val corpus = spark.read.parquet(s"$live/data")
      .select(col("neighbor_id"), col("cv"))
    val out = graft.sources.DimStore.publishWith(spark, root, ivfComplete) {
      dir =>
        ivfPqWriteIndex(corpus, dir, nlist = nlist, m = m, ksub = ksub,
          vecCol = "cv", idCol = "neighbor_id")
        graft.sources.DimStore.stamp(spark, dir) // terminal artifact
    }
    graft.sources.DimStore.prune(spark, root, 2, ivfComplete)
    out
  }

  /** [[ivfPqAppendAuto]]'s staleness triggers, calibrated there. */
  private val RebuildThreshold = 2.0
  private val SkewThreshold = 4.0
  private val MinShare = 0.05
  private val MaxAppendBatches = 16L

  /** Append + staleness decision — the EIGHTH adaptive element.
    * [[ivfPqAppendIndex]] encodes new rows against the FROZEN coarse
    * centroids and codebook; that is exactly right while the appended
    * data looks like the build distribution and exactly wrong once it
    * doesn't: vectors from an uncovered region all land in their few
    * nearest (wrong) cells, the PQ codebook quantizes them coarsely,
    * and recall for queries in that region decays as the appended mass
    * grows — measured, not asserted (SCALE.md "Round 15: IVF+PQ append
    * staleness": same-distribution appends hold recall flat at ANY
    * share, shifted appends decay it, and the decay tracks the signal
    * below).
    *
    * The rebuild trigger must be computable WITHOUT ground truth
    * (recall needs a brute-force pass — if you could afford it per
    * ingest you wouldn't need the index). Signal = appendedShare ×
    * cellSkew of the appended rows:
    *  - appendedShare = appended rows ÷ build-time rows (from the
    *    [[ivfPqWriteIndex]] `basecells` baseline vs the current
    *    per-cell counts — both footer-only scans of the partition
    *    column);
    *  - cellSkew = max appended-cell count ÷ uniform share (appended ÷
    *    nlist): 1.0 = appends spread like the quantizer expects,
    *    nlist = everything crammed into one cell, the
    *    uncovered-region signature.
    * Same-distribution ingest keeps the signal ≈ share (harmless at
    * any volume); a shifted batch drives it toward share × nlist.
    * `RebuildThreshold` comes from the probe's decay table.
    *
    * Second trigger, skew-alone: the probe's 10× base showed the
    * PRODUCT can under-fire — at (share 0.25, skew 5.8) the signal is
    * 1.46 while stale recall for the drifted region is 6× below the
    * rebuilt index. The separating axis is the SKEW itself: same-dist
    * ingest is multinomially balanced over the trained cells (measured
    * ≤ 1.4 at every share and both base sizes), while an uncovered
    * region concentrates 5.8–15.8×. So a rebuild also fires on
    * `skew ≥ SkewThreshold` once the appended share clears a floor
    * (below `MinShare` the damage is confined to a sliver of queries
    * and one more ingest crosses the floor anyway).
    *
    * Third trigger (r16), the COMPACTION axis: every append batch adds
    * ≥1 file to each cell it touches, so probed-cell file count — and
    * per-query open cost — grows linearly with append COUNT regardless
    * of volume, a decay the share-based signals never price for a drip
    * of tiny batches (the z-order sibling measured 10→25 % box-scan
    * decay over 16 one-file appends; same mechanism, SCALE.md r16).
    * The `appendlog` ledger counts batches; `MaxAppendBatches` (16)
    * fires a compacting rebuild, whose fresh generation resets it.
    * A fired rebuild is [[ivfPqRebuildVersioned]].
    * Returns the choice ("append" | "rebuild").
    */
  def ivfPqAppendAuto(
      newVecs: DataFrame,
      path: String): String = {
    val spark = newVecs.sparkSession
    requireVersioned(spark, path, "ivfPqAppendAuto")
    // resolve the generation ONCE: the append lands in it, the ledgers
    // are read from it, and a fired rebuild publishes the NEXT
    // generation
    val live = graft.sources.DimStore.currentPath(spark, path, ivfComplete)
    def rebuildNow(): Unit = { ivfPqRebuildVersioned(spark, path); () }
    ivfPqAppendIndex(newVecs, path)
    // compaction axis (r16, mirrors zorderAppendAuto's third trigger):
    // per-cell file count grows ~1 per append batch — rebuild compacts
    val logP = new org.apache.hadoop.fs.Path(s"$live/appendlog")
    val logFs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches =
      if (logFs.exists(logP)) spark.read.parquet(s"$live/appendlog").count()
      else 0L
    if (batches >= MaxAppendBatches) {
      graft.Sessions.recordDecision("ivfPqAppendAuto", batches.toDouble,
        MaxAppendBatches.toDouble, s"rebuild(batches $batches)")
      rebuildNow()
      return "rebuild"
    }
    val base = spark.read.parquet(s"$live/basecells")
    val nlist = base.count()
    val now = spark.read.parquet(s"$live/data").groupBy("cell")
      .count().withColumnRenamed("count", "now_rows")
    val r = now.join(base, Seq("cell"), "left")
      .select(col("now_rows"),
        coalesce(col("base_rows"), lit(0L)).as("b"))
      .agg(sum(col("now_rows")), sum(col("b")), max(col("now_rows") - col("b")))
      .head()
    val total = r.getLong(0)
    val baseTotal = r.getLong(1)
    val maxCellAppended = math.max(0L, r.getLong(2))
    val appended = math.max(0L, total - baseTotal)
    val (share, skew) =
      if (appended == 0L || baseTotal == 0L) (0.0, 0.0)
      else (appended.toDouble / baseTotal,
        maxCellAppended.toDouble / (appended.toDouble / nlist))
    val signal = share * skew
    val bySignal = signal >= RebuildThreshold
    val bySkew = skew >= SkewThreshold && share >= MinShare
    val rebuild = bySignal || bySkew
    graft.Sessions.recordDecision("ivfPqAppendAuto", signal, RebuildThreshold,
      if (bySignal) "rebuild(signal)"
      else if (bySkew) f"rebuild(skew=$skew%.1f)"
      else "append")
    if (rebuild) { rebuildNow(); "rebuild" }
    else "append"
  }

  /** Query a written IVF+PQ index: probe cells against the tiny centroid
    * relation, push the probed ids into the partition-pruned scan, ADC
    * score the codes column within each query's own probed cells, then
    * exact-cosine re-rank the top k·rerankFactor survivors against the
    * raw vectors (a second scan of the SAME pruned files that decodes
    * cv/cn instead of codes — columnar formats make the two stages read
    * disjoint bytes).
    */
  def ivfPqQueryIndex(
      queries: DataFrame,
      root: String,
      k: Int = 5,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    // readers never mutate the index; versioned roots resolve to the
    // live generation at plan time (r18), flat indexes to themselves
    val indexPath = ivfResolve(spark, root)
    val meta = spark.read.parquet(s"$indexPath/codebook").collect().head
    val m = meta.getInt(0)
    val ksub = meta.getInt(1)
    val cb = meta.getSeq[Double](2).toArray
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val probed = probeCells(queries, centroids, nprobe, "embedding", "vec_id")
      .localCheckpoint()
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // per-query LUT joined to its own probed cells: the (queries×nprobe)
    // relation the data side broadcast-joins on `cell`
    val q = adcQuerySide(queries, cb, m, ksub, "embedding", "vec_id")
      .join(probed.select(col("query_id"), col("cell")), "query_id")
    val data = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*))
    val adcScored = data.select(col("neighbor_id"), col("codes"), col("cell"))
      .join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VecExpressions.pq_adc(col("codes"), col("lut"), ksub), 6)
          .as("cos_sim"))
    if (rerankFactor <= 1) rankTopK(adcScored, k)
    else {
      val cand = rankTopK(adcScored, k * rerankFactor)
        .select(col("query_id"), col("neighbor_id"))
      val vecs = spark.read.parquet(s"$indexPath/data")
        .filter(col("cell").isin(cells: _*))
        .select(col("neighbor_id"), col("cv"), col("cn"))
      val qn = normalizedVec(queries, "embedding")
        .select(col("vec_id").as("query_id"), col("nv").as("qv"))
      rankTopK(
        cand.join(vecs, "neighbor_id").join(broadcast(qn), "query_id")
          .select(col("query_id"), col("neighbor_id"),
            round(dot(col("qv"), col("cv")) / col("cn"), 6).as("cos_sim")),
        k)
    }
  }

  /** Adaptive ANN top-k — the fourth adaptive operator (after
    * hoppingPivotAuto / asOfJoinAuto / saltedJoinAuto): picks the exact
    * brute-force scan vs the materialized IVF index from the measured
    * QUERY VOLUME, the regime split SCALE.md's third decade measured but
    * r13 left as caller knowledge ("brute still wins at 10 queries ×
    * 2 M vectors — the index pays with query VOLUME").
    *
    * Why volume is the axis: brute cost grows ≈ |queries| × |corpus|
    * dot products (the corpus scan amortizes across queries inside one
    * pass, but the compute doesn't), while the index path pays a fixed
    * setup (centroid read + probe ranking + driver IN-list) plus a scan
    * of the probed-cell UNION — which saturates at nprobe/nlist of the
    * corpus as queries grow. Low volume: setup dominates, brute wins.
    * High volume: per-query compute dominates, the ~nlist/nprobe-fold
    * work reduction wins. The crossover is measured, not asserted —
    * SCALE.md r14 established the volume axis and r15 CALIBRATED the
    * default with a fine sweep at two corpus sizes a decade apart
    * (2 M and 20 M vectors, warm; SCALE.md "Round 15: simTopKAuto
    * threshold calibrated"): the crossover sits at or below ~16
    * queries at BOTH sizes, differences below it are
    * noise-level (≤ ~0.3 s — the price of staying exact), and above
    * ~24 the index wins 1.4–1.8× growing with volume. The default is
    * 24 = 1.5× margin over the highest observed crossover: still
    * conservative toward brute (the EXACT answer) in the region where
    * the win is not decisive — and cold runs shift the crossover up
    * (centroid read + IN-list round-trip dominate there, r13), which
    * the margin also covers.
    *
    * Decision inputs, both O(small): |queries| (exact count of the
    * query relation — small by the operator's own contract, it gets
    * broadcast either way; memoized per plan+size) and index presence
    * (one FS existence probe). No index on disk → brute at ANY volume:
    * fitting KMeans + writing the layout for a single call never
    * amortizes — build it at ingest with [[ivfWriteIndex]]. Approximate
    * answers are only ever returned when the caller provisioned an
    * index, so the auto can't silently trade exactness for speed.
    */
  def simTopKAuto(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      indexPath: Option[String] = None,
      queryThreshold: Long = 24L): DataFrame = {
    val spark = queries.sparkSession
    val indexReady = indexPath.exists { p =>
      try {
        // versioned roots resolve to the live generation (throws when
        // no complete generation exists → not ready, brute)
        val cp = new org.apache.hadoop.fs.Path(s"${ivfResolve(spark, p)}/centroids")
        cp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cp)
      } catch { case scala.util.control.NonFatal(_) => false }
    }
    val nQueries =
      if (!indexReady) 0L // decision short-circuits to brute; skip the job
      else graft.Sessions.memoEstimate(queries, "querycount") {
        queries.count().toDouble
      }.toLong
    val useIndex = indexReady && nQueries >= queryThreshold
    graft.Sessions.recordDecision("simTopKAuto", nQueries.toDouble,
      queryThreshold.toDouble,
      if (useIndex) "ivfIndex"
      else if (indexReady) "brute" else "brute(noIndex)")
    if (useIndex)
      ivfQueryIndex(queries, indexPath.get, k)
    else
      bruteForceTopK(queries, corpus, k)
  }

  /** Embedding-cosine near-duplicate pairs (dedup family): all pairs with
    * cosine ≥ threshold, candidates from SRP buckets (same machinery as
    * lshTopK but corpus-vs-corpus).
    */
  def embeddingNearDups(
      corpus: DataFrame,
      threshold: Double = 0.95,
      maxBucket: Int = 1024): DataFrame = {
    requireDim(corpus, "embedding", 64)
    val tables = (0 until 8).map { t =>
      struct(lit(t).as("table"),
        srpSignature(col("v"), hyperplanes(8, 64, 42L + t)).as("bucket"))
    }
    val b = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("vn", norm(col("v"))) // once per vector, reused per pair
      .select(col("vec_id"), col("v"), col("vn"), explode(array(tables: _*)).as("bk"))
      // materialize once for both join branches; auto-released on GC.
      // KEPT after an r19 A/B (winnowOverlapPairs dropped its analog and
      // won): here the per-branch recompute is 8 SRP signatures over the
      // full vectors, and dropping the checkpoint measured SLOWER
      // (ProfileQuery median 2.12 -> 2.52 s, steady 1.75 -> 2.13 s at
      // sf0.1). The choice is per-operator and measured, not a rule.
      .localCheckpoint()
    // hot-bucket cap (same hygiene as Dedup.ngramJaccardPairs): a dense
    // SRP bucket — e.g. a near-zero-vector cluster collapsing to one
    // signature — would generate quadratic candidates. A dropped-hot-
    // bucket pair still meets in its nTables-1 other tables. No broadcast
    // hint: AQE broadcasts the bucket list when it is small.
    val useful = b.groupBy(col("bk")).count()
      .filter(col("count") >= 2 && col("count") <= maxBucket)
      .select("bk")
    val pruned = b.join(useful, "bk")
    val l = pruned.select(col("bk").as("l_bk"), col("vec_id").as("a"),
      col("v").as("va"), col("vn").as("na"))
    val r = pruned.select(col("bk").as("r_bk"), col("vec_id").as("b"),
      col("v").as("vb"), col("vn").as("nb"))
    l.join(r, col("l_bk") === col("r_bk") && col("a") < col("b"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"),
        round(cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
