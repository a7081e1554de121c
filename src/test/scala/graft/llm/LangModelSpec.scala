package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** Corpus-LM scoring: hand-computed probabilities on a tiny corpus,
  * ordering sanity (repetitive text is cheap to encode), and fixture
  * determinism.
  */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  test("crossEntropy matches hand-computed add-k unigram values") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1, total=5, vocab=3, k=0.5
    val pa = 2.5 / 6.5; val pb = 2.5 / 6.5; val pc = 1.5 / 6.5
    def log2(x: Double) = math.log(x) / math.log(2)
    val want = Map(
      1L -> -(2 * log2(pa) + log2(pb)) / 3.0,
      2L -> -(log2(pb) + log2(pc)) / 2.0)
    val out = LangModel.crossEntropy(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 == 3L && out(2L)._1 == 2L)
    assert(math.abs(out(1L)._2 - want(1L)) < 1e-6)
    assert(math.abs(out(2L)._2 - want(2L)) < 1e-6)
  }

  test("crossEntropy: repetitive doc encodes cheaper than a diverse doc") {
    val docs = Seq(
      (1L, "the the the the the the the the"),
      (2L, "zephyr quartz jumble vortex knack whimsy oxide glyph"))
      .toDF("doc_id", "text")
    val xent = LangModel.crossEntropy(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(xent(1L) < xent(2L))
  }

  test("unigramCounts: counts partition the token stream") {
    val docs = Tables.documents(spark, sf0001)
    val fromCounts = LangModel.unigramCounts(docs)
      .agg(sum("cnt")).as[Long].head()
    val direct = docs
      .select(sum(size(split(col("text"), " ")))).as[Long].head()
    assert(fromCounts == direct)
    // every in-corpus token's smoothed probability mass is < 1 and the
    // scoring join covers the whole stream (no token dropped)
    val scored = LangModel.crossEntropy(docs)
    assert(scored.agg(sum("n_tokens")).as[Long].head() == direct)
  }
  test("bigram cross-entropy matches hand-computed smoothed probabilities") {
    import spark.implicits._
    // corpus: "a b a b" and "a b" -> bigrams: (a b)x3, (b a)x1
    // contexts: a->3, b->1; vocab = {a, b, solo} -> V=3, k=0.5
    // ("solo" forms no bigram but IS a unigram vocab entry)
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = LangModel.crossEntropyBigram(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pAB = (3 + 0.5) / (3 + 0.5 * 3) // p(b|a)
    val pBA = (1 + 0.5) / (1 + 0.5 * 3) // p(a|b)
    def l2(x: Double) = math.log(x) / math.log(2)
    val x1 = BigDecimal((-l2(pAB) - l2(pBA) - l2(pAB)) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val x2 = BigDecimal(-l2(pAB))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - x1) < 1e-6)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - x2) < 1e-6)
    assert(!out.contains(3L), "single-token docs have no bigrams")
  }

  test("dsirWeights matches hand-computed target-vs-corpus log-ratios") {
    import spark.implicits._
    // target doc 1: "a a b"; background doc 2: "b c"
    // counts: a(all 2, tgt 2) b(all 2, tgt 1) c(all 1, tgt 0)
    // T_all=5 T_tgt=3 V=3, k=0.5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = LangModel.dsirWeights(docs, targetPred = col("doc_id") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def rm(cTgt: Double, cAll: Double): Long =
      math.round((math.log((cTgt + 0.5) / (3 + 0.5 * 3)) -
        math.log((cAll + 0.5) / (5 + 0.5 * 3))) * 1e6)
    val (ra, rb, rc) = (rm(2, 2), rm(1, 2), rm(0, 1))
    assert(out(1L) == ((3L, (2 * ra + rb) / 1e6)))
    assert(out(2L) == ((2L, (rb + rc) / 1e6)))
    // the target doc must outscore the background doc
    assert(out(1L)._2 > out(2L)._2)
  }

}
