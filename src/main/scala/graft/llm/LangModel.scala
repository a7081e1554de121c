package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained statistical language-model scoring — the "perplexity
  * filter" of LLM data pipelines (docs whose cross-entropy under a
  * corpus-trained LM is an outlier are boilerplate, non-language, or
  * mis-identified language), with the corpus itself as the training set
  * so the operator needs no external model artifact.
  *
  * Unlike the KenLM-style filters it stands in for, everything here is
  * exact, deterministic, and DuckDB-oracle-checkable: train = one
  * groupBy over exploded tokens, score = one join + one groupBy. At
  * 100 TB the unigram relation is vocabulary-sized (tens of millions of
  * rows for whitespace tokens); the score join is a plain equi-join on
  * `token`, so Catalyst/AQE broadcast it while it fits and shuffle-join
  * past that — no driver-side model object, no per-row UDF.
  */
object LangModel {

  /** The add-k smoothing mass: > 0 so unseen tokens keep probability. */
  private val AddK = 0.5

  /** Unigram table: (token, cnt) over the whitespace tokenization shared
    * with [[TextOps]] (same `tokens`, so LM scores and token budgets can
    * never disagree about what a token is).
    */
  def unigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Per-document cross-entropy (bits/token) under the add-k-smoothed
    * unigram LM trained on `docs` itself:
    * p(t) = (cnt_t + k) / (total + k·|vocab|), xent = avg(−log2 p(t)).
    * Output (doc_id, n_tokens, xent); xent rounds to 6 places because the
    * per-doc average's float add order is engine-dependent.
    */
  def crossEntropy(
      docs: DataFrame): DataFrame = {
    val counts = unigramCounts(docs)
    // one-row (total, vocab) relation: broadcast cross join, no collect
    val totals = counts.agg(
      sum(col("cnt")).cast("double").as("total"),
      count(lit(1)).cast("double").as("vocab"))
    val probs = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        ((col("cnt") + lit(AddK)) / (col("total") + lit(AddK) * col("vocab"))).as("p"))
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(probs, "token") // equi-join on token; AQE broadcasts while vocab fits
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log2(col("p"))), 6).as("xent"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per-document
    * log-likelihood RATIO between a target-domain unigram LM and the
    * whole-corpus unigram LM, both add-k smoothed over the corpus
    * vocabulary. Documents whose token distribution resembles the
    * target domain score high; feeding `logratio` to
    * [[Sampling.weightedSample]] is the DSIR pipeline.
    *
    * Exactness: both LMs come from one exploded-token aggregation
    * LOGICALLY (target counts are a conditional sum in the same pass —
    * the target is a subset of the corpus, so its vocab needs no second
    * scan); the per-TOKEN ln-ratio is deterministic and quantized to
    * integer micros BEFORE the per-doc sum, so partition order cannot
    * perturb the 6th decimal (the bm25 discipline).
    *
    * Scale: the model is a vocabulary-sized relation joined on `token`
    * (AQE broadcasts while it fits); no driver-side model, no UDF.
    * PHYSICALLY the counts subtree evaluates twice (the totals
    * aggregate and the ratio projection prune different columns, so
    * exchange reuse does not fire — measured, not assumed). At demo
    * scale the redundant scan is cheaper than a checkpoint (A/B'd at
    * sf0.1: 0.52 s vs 0.63 s).
    */
  def dsirWeights(
      docs: DataFrame,
      targetPred: Column): DataFrame = {
    val counts = docs
      .select(targetPred.as("is_tgt"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))
    val totals = counts.agg(
      sum(col("c_all")).cast("double").as("t_all"),
      sum(col("c_tgt")).cast("double").as("t_tgt"),
      count(lit(1)).cast("double").as("vocab"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        round((
          log((col("c_tgt") + AddK) / (col("t_tgt") + lit(AddK) * col("vocab"))) -
            log((col("c_all") + AddK) / (col("t_all") + lit(AddK) * col("vocab")))
          ) * 1e6).cast("long").as("_r_micro"))
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(ratios, "token")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(sum(col("_r_micro")) / 1e6, 6).as("logratio"))
  }

  /** Per-document cross-entropy under the add-k BIGRAM LM — the
    * next-order refinement of [[crossEntropy]] (word order now matters:
    * shuffled boilerplate that fools a unigram filter scores high here):
    * p(w₂|w₁) = (c(w₁w₂) + k) / (c_ctx(w₁) + k·|vocab|) with
    * c_ctx(w₁) = Σ_w c(w₁w) (contexts, so probabilities per context sum
    * to 1 under the smoothing). Documents with < 2 tokens have no
    * bigrams and are absent from the output.
    *
    * Same scale shape as the unigram scorer: the model is a relation
    * (bigram counts + context counts), never a driver object; scoring is
    * an equi-join on the bigram string. The token array is projected
    * once per row before the transform lambda (an inline `split` inside
    * the lambda would re-tokenize per element — O(n²) per doc).
    */
  def crossEntropyBigram(
      docs: DataFrame): DataFrame = {
    // bigram string building is the compute; spread it off a narrow scan
    val tkd = graft.operators.Spread.toCores(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    def bigrams = tkd.select(col("doc_id"),
      explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => concat_ws(" ",
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
        .as("g"))
    val c = bigrams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val ctx = c
      .groupBy(split(col("g"), " ").getItem(0).as("w1"))
      .agg(sum(col("cnt")).as("ctx"))
    val vocab = unigramCounts(docs)
      .agg(count(lit(1)).cast("double").as("vocab"))
    val probs = c.withColumn("w1", split(col("g"), " ").getItem(0))
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("g"),
        ((col("cnt") + lit(AddK)) / (col("ctx") + lit(AddK) * col("vocab")))
          .as("p"))
    bigrams.join(probs, "g")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("p"))), 6).as("xent2"))
  }
}
