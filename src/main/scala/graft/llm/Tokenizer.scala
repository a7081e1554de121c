package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Byte-pair-encoding tokenizer training and application as relational
  * algebra (Sennrich et al. 2016, the tokenizer-construction step every
  * LLM pipeline runs before anything else; companion to
  * [[TextOps.vocabCoverage]] which sizes the vocab the merges feed).
  *
  * The whole algorithm runs on the WORD-FREQUENCY relation, not the
  * corpus: one corpus-wide shuffle aggregates whitespace words to
  * (word, freq) — vocabulary-sized, cached across iterations — and each
  * merge iteration is a pair-count aggregation over that bounded
  * relation plus a single-row `collect` of the argmax pair. At 100 TB
  * the corpus is touched exactly once; iterations cost O(|vocab| · avg
  * word length) regardless of corpus row count, which is the textbook
  * reason BPE trainers operate on word counts.
  *
  * Representation: a word's working form wraps every symbol in its own
  * spaces — "abc" ⇒ " a  b  c " (adjacent symbols share nothing). A
  * merge (x, y) is then the LITERAL string replace " x  y " → " xy ":
  * both boundaries are structurally guaranteed (" a  b " cannot match
  * inside " xa  bc "), left-to-right non-overlapping replace semantics
  * match the reference greedy merge ("a a a" + (a,a) ⇒ "aa a"), and the
  * same REPLACE runs verbatim in any engine — which is what makes the
  * training loop AND the tokenizer application DuckDB-oracle-checkable
  * end to end. Symbols are space-free by construction (words come from
  * whitespace splitting; merged symbols concatenate them), so the
  * invariant survives every iteration.
  *
  * Application ([[bpeTokenize]]) never sees the training shuffle: the
  * learned merge list folds into k chained codegen'd `replace` calls
  * inside a per-word `transform` lambda — scan-speed, shuffle-free, and
  * exactly the "apply merges in learned order" loop of the reference
  * implementation.
  */
object Tokenizer {

  /** One learned merge: replace adjacent symbols (lhs, rhs) with lhs+rhs.
    * `freq` is the weighted pair count at the iteration that chose it.
    */
  final case class Merge(rank: Int, lhs: String, rhs: String, freq: Long)

  /** " a  b  c " working form: every char becomes " c ". */
  private[llm] def symbolize(word: Column): Column =
    regexp_replace(word, "(.)", " $1 ")

  /** Literal (regex-free) application of one merge to a working form. */
  private def applyMerge(sym: Column, m: Merge): Column =
    call_function("replace", sym, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.lhs}${m.rhs} "))

  /** The working form after applying `merges` in rank order. */
  private def folded(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(symbolize(word))(applyMerge)

  /** Train `numMerges` BPE merges over the whitespace words of
    * `docs("text")`. Ties break deterministically by (freq desc, lhs,
    * rhs). Returns fewer merges if the vocabulary runs out of adjacent
    * pairs first.
    */
  def bpeTrain(
      docs: DataFrame,
      numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"bpeTrain: numMerges >= 1, got $numMerges")
    // the one corpus-wide pass; cached so iterations replay the
    // vocabulary-sized relation, never the corpus scan
    val wordFreq = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .persist()
    try {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var exhausted = false
      while (acc.length < numMerges && !exhausted) {
        val toks = split(trim(folded(col("word"), acc.toSeq)), "  ")
        val nPairs = greatest(size(col("toks")) - 1, lit(0))
        val top = wordFreq
          .select(col("freq"), toks.as("toks"))
          .select(col("freq"),
            explode(zip_with(
              slice(col("toks"), lit(1), nPairs),
              slice(col("toks"), lit(2), nPairs),
              (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
          .select(col("freq"), col("pr.a").as("a"), col("pr.b").as("b"))
          .groupBy(col("a"), col("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val r = top.head
          acc += Merge(acc.length + 1, r.getString(0), r.getString(1), r.getLong(2))
        }
      }
      acc.toList
    } finally { wordFreq.unpersist(); () }
  }

  /** The learned merge table as a relation: (rank, lhs, rhs, freq). */
  def bpeMerges(
      spark: SparkSession,
      docs: DataFrame,
      numMerges: Int): DataFrame = {
    import spark.implicits._
    bpeTrain(docs, numMerges).toDF()
      .select(col("rank"), col("lhs"), col("rhs"), col("freq"))
      .orderBy(col("rank"))
  }

  /** Tokenize `docs("text")` with a learned merge list: per whitespace
    * word, apply merges in rank order and emit the subword stream
    * space-joined (word-internal boundaries collapse; a doc's
    * `bpe_text` is its subword sequence). `n_subtokens` counts
    * non-empty subwords. Pure column expressions — no shuffle, no UDF.
    */
  /** Largest merge list the literal-replace expression path accepts:
    * each merge is one nested `replace` call per word, so the expression
    * tree (and the generated code) grows linearly in k — measured on
    * this JVM: k=64 plans in well under a second, k=256 pays ~2 s of
    * Janino for a ~500-deep per-word expression, and a production 30k
    * vocab would need a ~60k-deep tree that the planner cannot build.
    * Registered/oracled fixtures use k ≤ 64; production vocabs go
    * through [[bpeTokenizeScalable]].
    */
  val MaxLiteralMerges = 256

  def bpeTokenize(
      docs: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    require(merges.length <= MaxLiteralMerges,
      s"bpeTokenize folds each merge as one chained replace expression — " +
        s"${merges.length} merges exceed the $MaxLiteralMerges expression-" +
        s"depth ceiling; use bpeTokenizeScalable for production vocabs")
    val perWord: Column => Column = w =>
      call_function("replace", trim(folded(w, merges)), lit("  "), lit(" "))
    docs.select(col("doc_id"),
      concat_ws(" ", transform(TextOps.tokens(col("text")), perWord)).as("bpe_text"))
      .withColumn("n_subtokens",
        size(filter(split(col("bpe_text"), " "), t => t =!= "")))
  }

  /** One left-to-right non-overlapping merge pass over a symbol array —
    * EXACTLY the semantics of one literal `replace(" l  r ", " lr ")`
    * over the space-wrapped working form: scanning resumes after each
    * replacement, so a merge product never re-pairs within its own pass.
    */
  private[llm] def mergePass(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Rank-ordered merge application for ONE whitespace word, on symbol
    * arrays (code points, matching Java-regex `.` in [[symbolize]]).
    * A presence set skips merges whose symbols can't occur — at a 30k
    * vocab only O(word's merge chain) of the 30k passes run.
    */
  private[llm] def applyWord(w: String, merges: Array[(String, String)]): String = {
    if (w.isEmpty) return ""
    var syms = w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    val present = scala.collection.mutable.HashSet.empty[String]
    syms.foreach(present += _)
    var mi = 0
    while (mi < merges.length && syms.length > 1) {
      val (l, r) = merges(mi)
      if (present.contains(l) && present.contains(r)) {
        val merged = mergePass(syms, l, r)
        if (merged.length != syms.length) {
          syms = merged
          present += l + r
          // l / r may have vanished, but a stale presence entry only
          // costs a no-op pass later — never a wrong merge
        }
      }
      mi += 1
    }
    syms.mkString(" ")
  }

  /** Production-scale BPE application: the SAME rank-ordered literal
    * merge semantics as [[bpeTokenize]], but executed imperatively per
    * word inside one `mapPartitions` over a broadcast merge list — the
    * engine-native codec seam (the AvroCodec pattern) for vocabularies
    * far past [[MaxLiteralMerges]], where a chained-replace expression
    * tree cannot exist. No shuffle, no per-row driver work: tokenization
    * stays an embarrassingly parallel scan at any corpus size, and the
    * broadcast merge table is O(vocab), shipped once per executor.
    *
    * Output is row-for-row identical to the expression path
    * (TokenizerSpec asserts agreement on the trained fixture AND on
    * adversarial overlap words); the expression path remains the
    * DuckDB-oracle-checkable correctness reference.
    */
  def bpeTokenizeScalable(
      docs: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    val ranked = merges.sortBy(_.rank).map(m => (m.lhs, m.rhs)).toArray
    val bc = spark.sparkContext.broadcast(ranked)
    val in = docs.select(col("doc_id"), col("text").cast("string").as("_text"))
    val outSchema = StructType(Seq(
      in.schema.fields(0),
      StructField("bpe_text", StringType, nullable = true),
      StructField("n_subtokens", IntegerType, nullable = false)))
    in.mapPartitions { it =>
      val ms = bc.value
      it.map { row =>
        val text = row.getString(1)
        // split(text, " ") keeps empty tokens (limit -1); concat_ws
        // joins empties but skips null arrays — null text → ""
        val bpe =
          if (text == null) ""
          else text.split(" ", -1).map(applyWord(_, ms)).mkString(" ")
        val n = bpe.split(" ", -1).count(_.nonEmpty)
        Row(row.get(0), bpe, n)
      }
    }(Encoders.row(outSchema))
  }

  /** Train-then-tokenize in one call (the registered-query composition:
    * merge list and its application provably agree because both come
    * from the same `bpeTrain` output).
    */
  def bpeTrainTokenize(
      docs: DataFrame,
      numMerges: Int): DataFrame =
    bpeTokenize(docs, bpeTrain(docs, numMerges))

  /** The subword vocabulary after `numMerges` merges: every surviving
    * symbol with its corpus frequency and whether it is a merge product
    * (base symbols are single chars by construction). Together with
    * [[TextOps.vocabCoverage]] this closes the tokenizer-construction
    * loop: merges → tokenized corpus → resulting vocab + coverage.
    */
  def bpeVocab(
      docs: DataFrame,
      numMerges: Int): DataFrame =
    bpeTrainTokenize(docs, numMerges)
      .select(explode(filter(split(col("bpe_text"), " "), t => t =!= ""))
        .as("subword"))
      .groupBy(col("subword")).agg(count(lit(1)).as("cnt"))
      .withColumn("is_merged", length(col("subword")) > 1)
}
