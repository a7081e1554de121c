package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse retrieval over the document corpus: the inverted index and
  * BM25 ranking a training-data pipeline runs for retrieval-based
  * decontamination ("which training docs would this eval question
  * retrieve?"), query-driven dedup audits, and RAG corpus preparation.
  * Tokenization is [[TextOps.tokens]] — one shared definition so index,
  * scoring, and the text-quality family can never drift apart.
  *
  * Scale posture: everything is exploded map-side, aggregated with
  * partial combine, and every ranking window is partitioned by a key
  * whose group size is bounded by construction (maxDf for the index;
  * the query-term count for scoring). No all-pairs path, no driver
  * state beyond broadcast scalar aggregates.
  */
object Retrieval {

  /** Inverted index with BOUNDED postings: one row per retained term —
    * (term, df, top-`k` posting doc ids by descending tf, id-tiebroken,
    * comma-joined). Stopword-class terms (df > `maxDf`) are dropped
    * from a df-only aggregation BEFORE any per-term ranking, so the
    * posting window never partitions a term whose document list is
    * corpus-sized: the per-task sort bound is `maxDf` rows by
    * construction. That mirrors production IR practice — terms in
    * "most of the corpus" carry no retrieval signal and are excluded
    * from the index (they would also be the skew keys at 100 TB).
    * Postings serialize as an ordered string so the relation is
    * hash-comparable across engines (arrays don't sort in the driver's
    * compare).
    */
  def invertedIndex(
      docs: DataFrame,
      maxDf: Long = 1000L,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"invertedIndex: k >= 1, got $k")
    require(maxDf >= 1, s"invertedIndex: maxDf >= 1, got $maxDf")
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    tf
      .join(df, "term") // stopwords gone before the window sees them
      .withColumn("_rk",
        row_number().over(
          Window.partitionBy(col("term"))
            .orderBy(col("tf").desc, col("doc_id"))))
      .filter(col("_rk") <= k)
      .groupBy(col("term"), col("df"))
      .agg(concat_ws(",",
        transform(
          array_sort(collect_list(struct(col("_rk"), col("doc_id")))),
          s => s.getField("doc_id").cast("string"))).as("postings"))
  }

  /** Okapi BM25 scores for a fixed bag of query terms: one row per
    * document matching at least one term — (doc_id, n_hit, bm25).
    *
    * score(d) = Σ_t IDF(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * IDF(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (Lucene's form — never
    * negative). Document length rides the explode (carried alongside
    * each term, aggregated with `max`), so dl needs no second join;
    * corpus stats (N, avgdl) fold in as one broadcast scalar row; the
    * per-term df relation is ≤ |queryTerms| rows, broadcast. Per-term
    * scores quantize to integer MICROS before the per-doc sum — the
    * repo's integer-cents discipline — so the only FP summation is over
    * exact integers and no partition order can flip the 6th decimal.
    */
  def bm25(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    val base = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("dl"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val hits = docs
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("dl"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfs = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    hits
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("_s_micro",
        round(col("_idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))) * 1e6)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_hit"),
        round(sum(col("_s_micro")) / 1e6, 6).as("bm25"))
  }

  /** Exact phrase search over the positional token stream: documents
    * where `phrase` occurs as consecutive tokens, with match count and
    * first match position (0-based).
    *
    * Shape — the positional-index intersection without a k-way
    * self-join: posexplode to (doc, pos, term), FILTER to phrase terms
    * immediately (the corpus-sized stream shrinks to phrase-term
    * occurrences before anything stateful), then one window per doc
    * ordered by pos where `lead(pos, j) = pos + j ∧ lead(term, j) =
    * phrase(j)` for all j — the j-th next *phrase-term* occurrence must
    * sit exactly j positions ahead, which forces consecutive original
    * positions. Per-doc window state is bounded by the doc's
    * phrase-term frequency, a tiny corpus fraction; one shuffle total
    * (vs k−1 shuffles for the join-chain form).
    */
  def phraseSearch(
      docs: DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, s"phraseSearch: need >= 2 terms, got $phrase")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val matchCond = phrase.zipWithIndex.tail.foldLeft(
      col("term") === phrase.head) { case (acc, (t, j)) =>
        acc && lead(col("pos"), j).over(w) === col("pos") + j &&
          lead(col("term"), j).over(w) === t
    }
    docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .toDF("doc_id", "pos", "term")
      .filter(col("term").isin(phrase: _*))
      .withColumn("_hit", matchCond)
      .filter(col("_hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("int").as("first_pos"))
  }
}
