package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding preprocessing for similarity/ANN pipelines: L2
  * normalization (so cosine becomes a plain dot product downstream) and
  * per-dimension corpus statistics (feature scaling / drift checks).
  *
  * Scale: normalization is a pure projection (no shuffle); dimension
  * stats are one explode + one aggregation on a 64-value key — shuffle
  * volume is |corpus| × dim compact rows with map-side partial
  * aggregation.
  */
object EmbeddingOps {

  // native Cast, not the interpreted transform HOF (see Similarity.asDouble)
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** L2-normalize, elements rounded for cross-engine comparison; zero
    * vectors pass through as zeros (guarded divide).
    */
  def normalize(
      emb: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    // norm computed ONCE in a prior projection: HOF lambdas get no
    // common-subexpression elimination, so an inline norm would be
    // re-evaluated per element (O(dim²) per row)
    emb
      .select(col("vec_id"), v.as("_v"))
      .withColumn("_n", sqrt(Similarity.dot(col("_v"), col("_v"))))
      .select(
        col("vec_id"),
        transform(col("_v"),
          x => round(when(col("_n") === 0.0, lit(0.0)).otherwise(x / col("_n")), 6))
          .as("unit_vec"))
  }

  /** Scalar (per-dimension min–max) 8-bit quantization — the PQ-lite
    * compression step an ANN index runs before storing vectors (4×
    * smaller than float32, 8× than double). Two passes over the
    * exploded relation: a 64-row per-dim stats aggregate (broadcast
    * back) and the quantizing projection — at 100 TB the stats pass is
    * a partial-agg treeover the corpus and the projection stays
    * scan-speed. All arithmetic in double with a fixed op order, so the
    * DuckDB oracle matches the int codes exactly.
    */
  def quantize(emb: DataFrame): DataFrame = {
    def exploded = emb
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))
    val stats = exploded.groupBy("dim")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    exploded.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(255.0),
            floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 256.0)))
          .cast("int").as("q"))
  }

  /** Cosine of every vector to its own group's centroid — the
    * embedding-space cohesion score a pipeline uses to flag semantic
    * outliers within a source/domain (low cosine = doc unlike its
    * domain). Centroid components are ROUNDED (6 decimals) before the
    * dot product: the per-dimension AVG is a float sum whose order
    * differs across engines/partitionings, and rounding pins it; the
    * dot itself is the native left-to-right array fold both engines
    * evaluate bit-identically.
    *
    * Scale: one explode + (group, dim)-keyed partial agg for centroids
    * (|groups|·dim rows — tiny), broadcast back; the scoring pass is a
    * pure projection, the corpus never shuffles.
    */
  def centroidCosine(
      emb: DataFrame,
      groupCol: String): DataFrame = {
    val comp = emb
      .select(col(groupCol).as("_grp"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("_grp"), col("dim"))
      .agg(round(avg(col("v")), 6).as("c"))
    val cent = comp.groupBy(col("_grp"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cv"))
    emb
      .join(broadcast(cent), col(groupCol) === col("_grp"))
      .select(col("vec_id"), col(groupCol),
        round(Similarity.dot(asDouble(col("embedding")), col("cv")) /
          (sqrt(Similarity.dot(asDouble(col("embedding")), asDouble(col("embedding")))) *
            sqrt(Similarity.dot(col("cv"), col("cv")))), 6)
          .as("cos_to_centroid"))
  }

  /** Per-dimension mean / sample-stddev / min / max across the corpus. */
  def dimStats(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("long").as("dim")) // bigint: matches the oracle's RANGE type
      .agg(
        round(avg(col("v")), 4).as("mean"),
        round(stddev_samp(col("v")), 4).as("std"),
        round(min(col("v")), 4).as("min_v"),
        round(max(col("v")), 4).as("max_v"))
  /** PCA projection of the embedding corpus to `k` dimensions — the
    * standard pre-ANN dimensionality reduction (cheaper distance math,
    * denser codebooks; OPQ-style pipelines run PQ on a rotated/reduced
    * basis). Fits the covariance eigenbasis once (MLlib PCA — a
    * distributed Gramian + local eigendecomposition on the driver's
    * dim×dim matrix, the correct split at any corpus size: only d² state
    * leaves the cluster) and projects in-plan.
    *
    * Rows-only (eigenvectors are sign-indeterminate across BLAS builds);
    * SimilaritySpec pins the invariants that matter: exact dimension,
    * deterministic output across runs, and captured variance dominating
    * the trailing components on an anisotropic corpus.
    */
  def pcaProject(
      emb: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    require(k >= 1, s"k must be >= 1, got $k")
    val withVec = emb.select(col("vec_id"),
      array_to_vector(asDouble(col("embedding"))).as("features"))
    val model = new PCA().setK(k)
      .setInputCol("features").setOutputCol("pca")
      .fit(withVec)
    model.transform(withVec)
      .select(col("vec_id"), vector_to_array(col("pca")).as("pca"))
  }

  /** EXACT sample covariance of the embedding corpus, upper triangle —
    * the d×d Gramian [[pcaProject]] eigendecomposes, surfaced as a
    * relation so the PCA family gains a driver-hash-checked row (the
    * eigenvectors themselves are sign-indeterminate across BLAS builds
    * and stay spec-side).
    *
    * Exactness discipline (the integer-cents pattern): each value is
    * first quantized to integer MICROS (`round(v·1e6)` as BIGINT); the
    * per-pair product is an exact 64-bit multiply (|x·y| ≤ 4e12) that
    * widens to DECIMAL(38,0) only inside the sum, so no corpus size can
    * overflow the running total — and the single inexact step is one
    * final double division + round, identical on any engine and any
    * partition order.
    *
    * Scale: one map-side expansion of d(d+1)/2 (i,j,xy) rows per input
    * row via a literal index-pair explode (no self-join, no per-row
    * array-of-struct allocation), collapsed by partial aggregation to
    * ≤ d(d+1)/2 rows per task before the only shuffle — a d(d+1)/2-key
    * hash aggregate. The per-dim sums Σx_i ride a separate narrow
    * single-row aggregate that broadcasts back onto the d²-row result
    * (no driver collect, no data-derived literals in codegen).
    * Driver/output state is d², the same bound MLlib's Gramian ships;
    * cov = (n·Σxy − Σx·Σy) / (n·(n−1)) in micros², reported in original
    * units rounded to 9 places.
    */
  def covarianceExact(
      emb: DataFrame,
      dims: Int): DataFrame = {
    require(dims >= 1 && dims <= 512, s"covarianceExact: 1 <= dims <= 512, got $dims")
    // the d(d+1)/2 expansion is the compute; it must not serialize
    // behind a narrow scan (a demo-sized corpus is often ONE file = ONE
    // split, and the whole 2080× blow-up would run in a single task —
    // measured 4.3 s → 1.0 s at sf0.1 from this spread alone; the
    // sf0.1 parquet reports 1 split vs defaultParallelism 32, so the
    // guard engages on exactly the fixture shape). Round-9 driver bench
    // REPRODUCES the 1.0 s (BENCH_r09 q_embed_covariance 1.009 s); the
    // round-8 15.4 s/7.6 s readings were the contended-box stretch the
    // r8->r9 bench_diff ledger now flags as uniform-load noise. A real
    // 100 TB corpus arrives in thousands of splits and skips this.
    val m = graft.operators.Spread.toCores(emb)
      .select(transform(slice(asDouble(col("embedding")), 1, dims),
        x => round(x * 1e6).cast("long")).as("m"))

    // Pass 1 (narrow, d additions/row): per-dim sums Σx_i and n in ONE
    // single-row aggregate, kept as a one-row RELATION that broadcasts
    // onto the d²-row result below — NOT collected and re-entered as
    // literals, which would embed dataset-derived constants in generated
    // code (the per-dataset Janino-recompile pathology SCALE.md lesson 1
    // documents; same broadcast-extent shape as percentilesGlobal). The
    // heavy pass carries ONE payload field instead of the former three
    // (xy, x, y): Σx for pair (i,j) is a per-dim quantity, never needed
    // per pair.
    val sumCols = count(lit(1)).as("_n") +:
      (0 until dims).map(i =>
        sum(element_at(col("m"), i + 1).cast("decimal(38,0)")).as(s"_s$i"))
    val sumsDf = m.agg(sumCols.head, sumCols.tail: _*)
      .select(col("_n"),
        array((0 until dims).map(i => col(s"_s$i")): _*).as("_sums"))

    // Pass 2 (the compute): explode one LITERAL array of the d(d+1)/2
    // (i,j) index pairs — codegen loops it per input row with no
    // per-row array-of-struct allocation (the former nested
    // transform+flatten built two 2080-struct arrays per row) — and the
    // per-row work is two O(1) element_at plus one LONG multiply
    // (|x·y| ≤ 4e12, exact in 64 bits); the single widening to
    // DECIMAL(38,0) happens in the sum so no corpus size can overflow
    // the running total. Map-side partial aggregation still collapses
    // to ≤ d(d+1)/2 rows per task before the only shuffle.
    val pairIdx = typedLit(
      for { i <- 0 until dims; j <- i until dims } yield (i, j))
    val agg = m
      .select(col("m"), explode(pairIdx).as("p"))
      .select(col("p._1").as("i"), col("p._2").as("j"),
        (element_at(col("m"), col("p._1") + 1) *
          element_at(col("m"), col("p._2") + 1)).as("xy"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xy").cast("decimal(38,0)")).as("sxy"))

    // the one-row sums relation broadcasts onto the ≤ d(d+1)/2-row agg
    // (the same tiny-stats crossJoin shape used throughout the repo)
    val sx = element_at(col("_sums"), col("i") + 1)
    val sy = element_at(col("_sums"), col("j") + 1)
    val nDec = col("_n").cast("decimal(38,0)")
    agg.crossJoin(broadcast(sumsDf))
      .select(col("i").cast("long").as("dim_i"),
        col("j").cast("long").as("dim_j"), col("_n").as("n"),
        round(
          (nDec * col("sxy") - sx * sy).cast("double")
            / (col("_n").cast("double") * (col("_n") - 1).cast("double")
              * 1e12),
          9).as("cov"))
  }

  /** Assign every vector to its nearest centroid (squared-L2 argmin)
    * against a TINY broadcast centroid relation `(cell: long,
    * centroid: array<double>)` — the shared kernel of the corpus
    * clustering pair below. Per-vector cost is k dot products with
    * ‖v‖² and ‖c‖² hoisted (computed once per vector / per centroid,
    * not once per pair); the argmin is a min over `struct(dist, cell)`
    * so ties break on the lower cell id deterministically in both
    * engines. Distances are rounded (default 6 dp) BEFORE the argmin —
    * the cross-engine comparison discipline q_sim_topk established.
    * Each vector's k candidate rows are produced consecutively in its
    * own partition (broadcast nested loop), so the vec_id groupBy's
    * partial aggregation collapses them map-side and the one exchange
    * carries a single compact (vec_id, cell) row per vector — corpus-
    * linear in row count, constant in k.
    */
  private[llm] def assignToCentroids(
      emb: DataFrame,
      centroids: DataFrame): DataFrame = {
    val cents = broadcast(centroids.select(
      col("cell").cast("long").as("cell"),
      asDouble(col("centroid")).as("_c"))
      .withColumn("_cc", Similarity.dot(col("_c"), col("_c"))))
    emb.select(col("vec_id"), asDouble(col("embedding")).as("_v"))
      .withColumn("_vv", Similarity.dot(col("_v"), col("_v")))
      .crossJoin(cents)
      // same algebraic form and op order as the DuckDB oracle:
      // (vv - 2·v·c) + cc, rounded before comparison
      .withColumn("_d2", round(
        col("_vv") - lit(2.0) * Similarity.dot(col("_v"), col("_c"))
          + col("_cc"), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("_d2"), col("cell"))).as("_m"))
      .select(col("vec_id"), col("_m").getField("cell").as("cluster"))
  }

  /** Per-cluster mixture statistics over the assigned corpus: document
    * count, whitespace-token mass and its corpus share, distinct
    * sources. This is the table a data-mixture policy consumes (domain
    * up/down-weighting à la DoReMi/DSIR buckets — here the buckets are
    * embedding-space domains instead of provenance tags). One k-key
    * aggregation; the share denominator rides a one-row broadcast
    * relation (no data-derived literal, no global window).
    */
  private def clusterStats(docs: DataFrame, assigned: DataFrame): DataFrame = {
    val stats = assigned
      .join(docs, assigned("vec_id") === docs("doc_id"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"))
    stats.crossJoin(broadcast(stats.agg(sum(col("n_tokens")).as("_tot"))))
      .select(col("cluster"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("_tot"), 6).as("token_share"),
        col("n_sources"))
  }

  /** Domain clustering for mixture balancing: k-means over the document
    * embeddings, then [[clusterStats]] per cluster — the "cluster the
    * corpus, rebalance the mixture" step of a large-scale training-data
    * pipeline (reference scope: the corpus/report family; the k-means
    * itself is MLlib's, seeded).
    *
    * Scale: the quantizer can be FIT on a deterministic md5-keyed
    * sample (`fitFraction`, same portable sampling rule as
    * Sampling.deterministicSample) while ASSIGNMENT always covers the
    * full corpus against the broadcast k×d centroid model — the
    * standard posture at 100 TB, where Lloyd's iterations over the full
    * corpus would dominate the pipeline for no recall benefit. Fitting
    * is the only iterative piece; assignment + stats are one broadcast
    * pass + one k-key aggregate.
    *
    * Not SQL-expressible (iterative k-means), so the query entry is
    * rows-only; [[corpusClustersFixed]] is the exact-oracle twin that
    * fences the shared assignment/stats machinery, and SimilaritySpec
    * asserts the k-means variant's invariants (argmin assignment,
    * partition of the embedded corpus, shares summing to 1, seed
    * determinism).
    */
  def corpusClusters(
      docs: DataFrame,
      emb: DataFrame,
      k: Int = 8,
      fitFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("_v"))
    val fitOn =
      if (fitFraction >= 1.0) base
      else Sampling.deterministicSample(base, col("vec_id"), fitFraction)
    val model = new KMeans().setK(k).setSeed(42L).setFeaturesCol("_f")
      .fit(fitOn.select(array_to_vector(col("_v")).as("_f")))
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    clusterStats(docs, assignToCentroids(emb, centroids))
  }

  /** Exact-oracle twin of [[corpusClusters]]: centroids are the
    * embeddings of the k lowest vec_ids (a deterministic, SQL-
    * expressible choice) instead of learned means, so DuckDB can
    * replay assignment + stats verbatim and hash-match. Fences every
    * moving part except MLlib's k-means fit itself.
    */
  def corpusClustersFixed(
      docs: DataFrame,
      emb: DataFrame,
      k: Int = 8): DataFrame = {
    val centroids = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    clusterStats(docs, assignToCentroids(emb, centroids))
  }

}
