package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (driver north star; runs on the `documents` fixture, FIXTURES.md §B).
  *
  * All operators are pure column expressions (whole-stage codegen, no
  * UDFs, no shuffle) — at 100 TB these run at parquet-scan speed with the
  * text column the only wide read.
  */
object TextOps {

  /** Whitespace tokenization as a column expression. */
  def tokens(text: Column): Column = split(text, " ")

  /** Count of tokens appearing in a SQL IN-list (shared by textStats /
    * langId / qualityFilter so tokenization changes stay in one place).
    */
  private def hitCount(textCol: String, sqlList: String): Column =
    size(expr(s"filter(split($textCol, ' '), x -> x IN $sqlList)"))

  /** Sliding-window document chunking with overlap — the context-window
    * preprocessing step (split long docs into `chunkTokens`-token pieces
    * every `stride` tokens, so consecutive chunks share
    * `chunkTokens - stride` tokens). Chunk count is 1 for short docs,
    * else 1 + ceil((n − chunkTokens) / stride): every chunk contributes
    * at least one new token, the tail is covered exactly once.
    *
    * Shape: tokenize once, explode a per-doc chunk-id sequence, slice —
    * all codegen'd native functions (slice/concat_ws/sequence, no lambda
    * HOFs), no shuffle: chunking runs at parquet-scan speed and the
    * output is already partitioned like its input.
    */
  def chunkDocs(
      docs: DataFrame,
      chunkTokens: Int = 64,
      stride: Int = 32,
      textCol: String = "text"): DataFrame = {
    require(stride >= 1, s"stride must be >= 1 (got $stride)")
    require(chunkTokens >= stride,
      s"chunkTokens ($chunkTokens) must be >= stride ($stride) or tokens get skipped")
    val toks = tokens(col(textCol))
    val n = size(toks)
    // positive int / int via double division + truncation = floor = ceil
    // of the original quotient after the (+ stride − 1) shift
    val extra = ((n - chunkTokens + stride - 1) / stride).cast("int")
    val nChunks = when(n <= chunkTokens, lit(1)).otherwise(extra + 1)
    docs
      .select(col("doc_id"), toks.as("toks"), n.as("n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(col("n") - col("chunk_id") * stride, lit(chunkTokens))
          .as("n_chunk_tokens"))
  }

  /** Quality-scoring stats: char/word counts, average word length,
    * punctuation and digit ratios. One projection, no shuffle.
    */
  def textStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    docs.select(
      col("doc_id"),
      length(t).as("n_chars_calc"),
      size(toks).as("n_words"),
      round(length(t).cast("double") / size(toks), 4).as("avg_token_span"),
      hitCount(textCol, Stopwords.EnSql).as("n_stopwords"),
      round(hitCount(textCol, Stopwords.EnSql).cast("double") / size(toks), 4)
        .as("stopword_ratio")
    )
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation marks), the usual
    * pre-tokenizer shape for byte-pair encoders.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      size(tokens(t)).as("ws_tokens"),
      size(regexp_extract_all(t, lit("[a-z]+|[A-Z]+|[0-9]+"), lit(0)))
        .as("bpe_ish_tokens")
    )
  }

  /** Corpus-level top-k n-grams (heavy hitters): the "most common
    * boilerplate phrases" report that seeds stop-phrase lists and
    * repeated-template detection. Two-stage: explode n-grams (map-side),
    * partial-agg count, then a global TakeOrdered for the top k — no full
    * sort, shuffle volume = |distinct grams| partials. Ties break on the
    * gram string so the top-k SET is deterministic.
    */
  /** One row per word-n-gram occurrence across the corpus — shared by
    * the exact [[topNgrams]] and the sketch-based approximate heavy
    * hitters ([[graft.operators.Sketches.approxTopK]]).
    */
  def ngrams(
      docs: DataFrame,
      n: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"need n >= 1, got n=$n")
    val toks = tokens(col(textCol))
    // n-gram string building is the compute; spread it off a narrow scan
    graft.operators.Spread.toCores(docs)
      // guard: sequence(0, negative) would generate a DESCENDING range
      .filter(size(toks) >= n)
      .select(explode(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))).as("gram"))
  }

  def topNgrams(
      docs: DataFrame,
      n: Int = 2,
      k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    ngrams(docs, n, textCol)
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Tokenizer vocabulary selection: the top-`v` corpus tokens by
    * frequency with rank and CUMULATIVE corpus coverage — "how big must
    * the vocab be to cover 95 % of tokens?", the relation a tokenizer
    * build reads before committing to a vocab size.
    *
    * Scale: token counts partial-aggregate map-side; the top-v cut is
    * `orderBy.limit` (planned as TakeOrderedAndProject — per-partition
    * top-v, never a global sort); the cumulative window then consumes
    * the ≤ v-row POST-LIMIT relation, so the one unpartitioned window
    * in the plan is bounded by construction (the q_revenue_share
    * contract; TextOpsSpec plan-asserts the limit sits below it).
    * Coverage stays an exact integer ratio until one rounded division.
    */
  def vocabCoverage(
      docs: DataFrame,
      v: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(v >= 1, s"vocabCoverage: v >= 1, got $v")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("_total"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(v)
    top
      .crossJoin(broadcast(total))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("term")))
          .cast("int"))
      .withColumn("cum",
        sum(col("cnt")).over(
          Window.orderBy(col("cnt").desc, col("term"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("rank"), col("term"), col("cnt"),
        round(col("cum") / col("_total"), 6).as("coverage"))
  }

  /** Per-group distinctive terms by add-one-smoothed log-odds ratio
    * (the Monroe-et-al "fightin' words" family, simplified): for each
    * (group, term), score = ln of the term's smoothed in-group odds over
    * its smoothed rest-of-corpus odds; emit the top-`k` per group. The
    * mixture-design read: which terms characterize each source/language
    * bucket before choosing domain weights.
    *
    * Exactness: the odds are ratios of exact integer counts, so the
    * score is one deterministic `ln` per (group, term) + one rounded
    * emission — no FP accumulation anywhere.
    *
    * Scale: one corpus shuffle to (group, term) counts; term and group
    * totals derive from that relation (vocabulary-sized and
    * group-count-sized). The ranking window partitions by group over
    * per-group vocabularies — bounded by Heaps-law vocab growth, not
    * corpus rows; `minCount` prunes the rare-term tail before the sort
    * (rare terms have noisy keyness and would dominate the list
    * otherwise). The counts subtree feeds four consumers whose pruned
    * projections defeat exchange reuse, so physically the corpus
    * aggregates more than once; at demo scale that beats a checkpoint
    * (same A/B finding as [[LangModel.dsirWeights]]).
    */
  def domainKeyness(
      docs: DataFrame,
      groupCol: String = "lang",
      k: Int = 5,
      minCount: Long = 1L,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"domainKeyness: k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("c_in"))
    val termTot = counts.groupBy(col("term")).agg(sum(col("c_in")).as("c_all"))
    val grpTot = counts.groupBy(col("grp")).agg(sum(col("c_in")).as("tot_in"))
    val grand = grpTot.agg(sum(col("tot_in")).as("_t"))
    val scored = counts
      .filter(col("c_in") >= minCount)
      .join(termTot, "term")
      .join(broadcast(grpTot), "grp")
      .crossJoin(broadcast(grand))
      .withColumn("score", round(
        log((col("c_in") + 1) / (col("tot_in") - col("c_in") + 1)) -
          log((col("c_all") - col("c_in") + 1) /
            (col("_t") - col("tot_in") - col("c_all") + col("c_in") + 1)), 6))
    scored
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("grp"))
            .orderBy(col("score").desc, col("term"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("grp").as(groupCol), col("term"), col("c_in"),
        col("score"), col("rank"))
  }

  /** Per-source dataset card: the one-look corpus report a pipeline
    * publishes with a training run — doc and token counts, exact
    * duplicate rate (distinct canonical fingerprints vs docs), English
    * share, mean document length. One grouped aggregation over the
    * corpus; the only non-trivial member is the per-group exact
    * distinct (Spark plans it as a two-phase expand + partial
    * aggregate). All ratios are exact integer quotients rounded once.
    */
  def corpusReport(
      docs: DataFrame,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("n_tokens"),
        countDistinct(fingerprint(col(textCol))).as("n_uniq"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col(groupCol),
        col("n_docs"), col("n_tokens"), col("n_uniq"),
        round(lit(1.0) - col("n_uniq") / col("n_docs"), 6).as("dup_rate"),
        round(col("n_en") / col("n_docs"), 6).as("en_share"),
        round(col("sum_chars") / col("n_docs"), 6).as("avg_chars"))

  /** Document fingerprint: canonical-form content hash — lowercase,
    * collapse non-alphanumerics, md5. The exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), fingerprint(col(textCol)).as("fp"))

  /** Winnowing (rolling-hash) local fingerprints — the MOSS scheme:
    * k-gram rolling hashes, per-window minima selection (native
    * expression, O(n) deque). Unlike the whole-document [[fingerprint]],
    * these catch PARTIAL overlap: any shared substring of length ≥
    * w + k - 1 chars shares ≥ 1 selected hash, so a plagiarized
    * paragraph inside an otherwise-new doc still collides. Emitted as
    * exploded (doc_id, fp) rows — the sketch relation a containment
    * join runs on (group by fp = candidate generation, same banded-join
    * shape as the other dedup families).
    */
  def winnowFingerprints(
      docs: DataFrame,
      textCol: String = "text",
      k: Int = 5,
      w: Int = 4): DataFrame =
    docs.select(
      col("doc_id"),
      explode(graft.functions.TextHashExpressions
        .winnow_fingerprint(col(textCol), k, w)).as("fp"))

  /** Composite quality score → keep/drop decision (the corpus-filtering
    * step of a training-data pipeline): length band, word-count band,
    * stopword-ratio band combined into [0,1]. All deterministic
    * arithmetic — oracle-checked; thresholds are the tunable policy.
    */
  def qualityFilter(
      docs: DataFrame,
      textCol: String = "text",
      keepThreshold: Double = 0.5): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = size(toks)
    val stopRatio = hitCount(textCol, Stopwords.EnSql).cast("double") / nWords
    val score = round(
      least(nWords.cast("double") / 50.0, lit(1.0)) * 0.5 +
        when(stopRatio.between(0.05, 0.6), lit(0.3)).otherwise(lit(0.0)) +
        when(length(t).between(100, 5000), lit(0.2)).otherwise(lit(0.0)),
      4)
    docs.select(
      col("doc_id"),
      score.as("quality_score"),
      (score >= keepThreshold).as("keep"))
  }

  /** TF-IDF keyword extraction: top-k terms per document by
    * tf × ln(N/df). The exploded term relation is materialized once
    * (localCheckpoint) and feeds both the tf and the df aggregation; the
    * df side is broadcast back (|vocabulary| ≪ |corpus·terms|). Top-k
    * per doc uses a ranking window — per-doc vocabulary is small, so the
    * per-partition sort is bounded by the largest single document.
    */
  def tfidfKeywords(
      docs: DataFrame,
      textCol: String = "text",
      k: Int = 3): DataFrame = {
    // N (corpus size, incl. zero-token docs) folded into the plan as a
    // broadcast 1-row aggregate instead of a separate blocking
    // docs.count() job on the driver
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs.select(col("doc_id"),
      explode(tokens(col(textCol))).as("term"))
      .localCheckpoint() // one scan+tokenize for both aggregations below
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** PII scrubbing (training-data hygiene): redact emails and IPv4
    * addresses with placeholder tokens and report per-doc match counts.
    * Pure regexp projection — scan-speed; patterns chosen to parse
    * identically under Java regex (Spark) and RE2-ish DuckDB regex so
    * the op is oracle-checkable.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).as("n_ips"),
      regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
        .as("scrubbed"))
  }

  /** Repetition / diversity stats (Gopher-style quality signals):
    * type-token ratio (distinct/total tokens) and top-token ratio (most
    * frequent token's share). Exploded token relation with partial
    * aggregation — shuffle rows are (doc_id, token) pairs, combined
    * map-side, so at 100 TB this is one well-shaped aggregation, not a
    * per-doc driver loop.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("tot"),
        count(lit(1)).as("dist"))
      .select(
        col("doc_id"),
        round(col("dist").cast("double") / col("tot"), 6).as("type_token_ratio"),
        round(col("mx").cast("double") / col("tot"), 6).as("top_token_ratio"))

  /** Character-bigram entropy per document — the classic gibberish /
    * randomness signal (low entropy = repeated filler or template spam,
    * near-maximal entropy = keyboard mash or encoded blobs; natural
    * text sits in a stable mid band, which makes this a cheap quality
    * band filter alongside [[qualityScore]]).
    *
    * H = log2(n) − Σ c·log2(c) / n over the doc's character-bigram
    * counts — the algebraically identical regrouping of −Σ p·log2(p)
    * that keeps every summand derived from INTEGER counts, so both
    * engines compute the same doubles up to summation order and the
    * 6-decimal round is stable. One explode + two hash aggregations,
    * all map-side combinable; docs shorter than one bigram are absent
    * (no 0/0 row).
    */
  def charEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val grams = docs
      .filter(length(t) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), length(t) - 2),
          i => t.substr(i + lit(1), lit(2)))).as("bg"))
    grams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c").cast("double") * log2(col("c"))).as("_clogc"))
      .select(col("doc_id"), col("n_bigrams"),
        round(log2(col("n_bigrams")) - col("_clogc") / col("n_bigrams"), 6)
          .as("entropy"))
  }

  /** Benchmark-contamination check: for every corpus doc, the fraction
    * of its distinct w-shingles that also appear in a benchmark corpus
    * (eval-set leakage detection before training).
    *
    * Scale shape: both sides reduce to 8-byte shingle hashes (native
    * expression); the benchmark's distinct-hash relation is orders of
    * magnitude smaller than the corpus and joins as a build side
    * (broadcast when it fits, shuffle-hash otherwise — declared
    * logically, AQE decides). A left join + conditional count gives
    * hits without dropping clean docs.
    */
  def contamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      w: Int = 3): DataFrame = {
    val corpusSh = corpus
      .select(col("doc_id"),
        explode(graft.functions.TextHashExpressions
          .shingle_hashes(col(textCol), w)).as("sh"))
    val benchSh = benchmark
      .select(explode(graft.functions.TextHashExpressions
        .shingle_hashes(col(textCol), w)).as("b_sh"))
      .distinct()
    corpusSh
      .join(benchSh, col("sh") === col("b_sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("b_sh")).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
          .as("contamination_ratio"))
  }

  /** Salted-hash pseudonymization of an identifier column (PII family,
    * beside [[piiScrub]]): replaces the raw id with
    * sha256(salt ‖ id) — stable within one salt (joins/grouping still
    * work downstream) and irreversible without it; rotating the salt is
    * the crypto-shredding move a privacy pipeline uses to unlink history.
    * Pure projection, codegen'd sha2, no shuffle.
    */
  def pseudonymize(df: DataFrame, keyCol: String, salt: String): DataFrame =
    df.withColumn(s"${keyCol}_pseudo",
      sha2(concat(lit(salt), col(keyCol).cast("string")), 256))
      .drop(keyCol)

  /** Apply the contamination decision: drop every corpus doc whose
    * shingle contamination ratio against the benchmark set reaches
    * `threshold` (left-anti join on the flagged ids) — the action a
    * pipeline takes after [[contamination]] flags eval-set leakage.
    * Threshold compares the ROUNDED ratio (6 decimals, what
    * [[contamination]] emits), so the keep/drop boundary is
    * engine-deterministic. Docs too short to shingle are never flagged.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      threshold: Double = 0.2,
      textCol: String = "text",
      w: Int = 3): DataFrame = {
    val flagged = contamination(corpus, benchmark, textCol, w)
      .filter(col("contamination_ratio") >= threshold)
      .select(col("doc_id"))
    corpus.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** [[decontaminate]] with a broadcast Bloom-filter prefilter — the
    * 100 TB shape of benchmark decontamination. The exact pipeline
    * shuffles EVERY corpus shingle into the probe join even though only
    * a tiny fraction can match the (comparatively small) benchmark set.
    * Here the benchmark's distinct shingle hashes are first folded into
    * a Bloom filter (~1.2 bytes/shingle at 1 % fpp, so a 10⁹-shingle
    * benchmark is a ~1.2 GB broadcast — executor-resident, scan-side),
    * and corpus shingles are tested map-side BEFORE any exchange: only
    * Bloom survivors (true hits + fpp·clean) reach the exact confirm
    * semi-join that kills false positives. Per-doc shingle totals never
    * join at all — they aggregate map-side partial → tiny doc_id rows.
    * Net: the wide shingle shuffle shrinks by ~1/contamination-rate
    * while the final relation stays bit-identical to [[decontaminate]]
    * (same rounded-ratio threshold, same unshingleable-doc handling).
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      threshold: Double = 0.2,
      textCol: String = "text",
      w: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val benchSh = benchmark
      .select(explode(graft.functions.TextHashExpressions
        .shingle_hashes(col(textCol), w)).as("b_sh"))
      .distinct()
    val expected = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter("b_sh", expected, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    // Scala UDF, but map-side on the scan (no exchange crossed) and O(1)
    // per shingle; the shuffle it removes dominates at scale.
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    val corpusSh = corpus.select(col("doc_id"),
      explode(graft.functions.TextHashExpressions
        .shingle_hashes(col(textCol), w)).as("sh"))
    val totals = corpusSh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = corpusSh
      .filter(mightContain(col("sh")))
      .join(benchSh, col("sh") === col("b_sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
    val flagged = totals.join(hits, Seq("doc_id"), "left")
      .filter(round(coalesce(col("n_contaminated"), lit(0L)).cast("double")
        / col("n_shingles"), 6) >= threshold)
      .select(col("doc_id"))
    corpus.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Fraction of corpus shingles that would SURVIVE the Bloom prefilter
    * (≈ the shingle hit rate against the benchmark set), estimated on a
    * bounded deterministic file sample of the corpus — the decision
    * input [[decontaminateAuto]] prices the prefilter with. One left
    * join + one agg over ≤ `sampleBytes` of corpus text against the
    * benchmark's distinct shingle hashes (small by the operator's
    * premise). Between-file variance is both-ways unbiased for a
    * hash-spread sample (the hoppingStateUpperBound lesson) — absorbed
    * here by the threshold sitting mid-regime, far from both measured
    * extremes. Returns 0.0 for an unshingleable sample (nothing would
    * shuffle either way).
    */
  def bloomSurvivorShare(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      w: Int = 3,
      sampleBytes: Long = 64L << 20): Double = {
    val (sample, _, _) =
      graft.Sessions.boundedFileSample(corpus, Seq(textCol), sampleBytes)
    val sampleSh = sample.select(
      explode(graft.functions.TextHashExpressions
        .shingle_hashes(col(textCol), w)).as("sh"))
    val benchSh = benchmark
      .select(explode(graft.functions.TextHashExpressions
        .shingle_hashes(col(textCol), w)).as("b_sh"))
      .distinct()
    val r = sampleSh.join(benchSh, col("sh") === col("b_sh"), "left")
      .agg(count(lit(1)), count(col("b_sh"))).head()
    if (r.getLong(0) == 0L) 0.0
    else r.getLong(1).toDouble / r.getLong(0)
  }

  /** Adaptive decontamination — the seventh adaptive element (after
    * hoppingPivotAuto / asOfJoinAuto / saltedJoinAuto / simTopKAuto /
    * rangeLookupJoinAuto / autoStateSession): picks [[decontaminate]]
    * (exact shingle join) vs [[decontaminateBloom]] (broadcast-Bloom
    * prefilter). Both plans emit the bit-identical relation (same
    * rounded-ratio threshold, same unshingleable-doc handling —
    * q_decontaminate and q_bloom_decontaminate share one oracle), so
    * unlike simTopKAuto this pick can never trade exactness; it only
    * prices the two plans' cost structures:
    *
    *  - exact: one corpus shingle pass, but EVERY exploded shingle
    *    crosses the probe-join exchange;
    *  - Bloom: the corpus is scanned twice (per-doc totals + survivor
    *    hits) and the benchmark pays a fixed build (distinct + count +
    *    Bloom aggregate + broadcast), but only true hits + fpp·clean
    *    shingles reach any exchange.
    *
    * The deciding regime variable is NOT corpus size alone — it is the
    * SURVIVOR SHARE. Measured (SCALE.md "Round 14: decontamination"):
    * against a low-overlap benchmark (share ≈ 0, the normal production
    * shape — eval sets barely intersect a crawl) the prefilter wins at
    * every corpus ≥ ~5 MB (sf1 0.85 s vs 1.07 s; sf10 1.72 s vs 2.09 s),
    * while against a same-distribution benchmark (share → 1, every
    * shingle survives) Bloom's second corpus scan + build cost is pure
    * loss (sf10: 3.19 s vs 2.88 s). So the decision is two-stage:
    *
    *  1. corpus under `corpusBytesThreshold` (free leaf-stats check, no
    *     job) → exact; the fixed Bloom build can't amortize and the
    *     estimator itself would cost more than the plan delta;
    *  2. else estimate the survivor share on a bounded corpus sample
    *     ([[bloomSurvivorShare]], memoized per corpus+benchmark plan) →
    *     Bloom iff share ≤ `survivorShareThreshold`. The default 0.5
    *     sits mid-regime between the measured extremes; both measured
    *     mis-pick costs are mild (≤ ~1.3×) and the asymmetry GROWS
    *     toward Bloom at cluster scale, where the deleted exchange
    *     crosses a network instead of local[32] memory.
    *
    * Guard: a benchmark whose OWN stats approach the corpus's breaks
    * the "small benchmark" premise (the build re-scans benchmark-sized
    * input and broadcasts a filter sized ~0.2× its text bytes);
    * `maxBenchBytes` caps it (default 4 GiB → ≤ ~0.8 GB broadcast at
    * 1 % fpp) and the auto falls back to the exact join, which AQE
    * plans shuffle-side at that size. Decision (the share estimate vs
    * its threshold, or −1 when stage 1 short-circuited) recorded in
    * [[graft.Sessions.decisions]].
    */
  def decontaminateAuto(
      corpus: DataFrame,
      benchmark: DataFrame,
      threshold: Double = 0.2,
      textCol: String = "text",
      w: Int = 3,
      fpp: Double = 0.01,
      corpusBytesThreshold: Long = 32L << 20,
      survivorShareThreshold: Double = 0.5,
      maxBenchBytes: Long = 4L << 30): DataFrame = {
    val corpusBytes = graft.Sessions.statsBytes(corpus)
    val benchOk = graft.Sessions.statsBytes(benchmark) <= maxBenchBytes
    val bigEnough = corpusBytes >= corpusBytesThreshold
    val share =
      if (!benchOk || !bigEnough) -1.0 // short-circuit: no estimator job
      else {
        val bench = s"${benchmark.queryExecution.optimizedPlan.semanticHash()}|" +
          s"${graft.Sessions.statsBytes(benchmark)}"
        graft.Sessions.memoEstimate(corpus, s"bloomshare|$bench") {
          bloomSurvivorShare(corpus, benchmark, textCol, w)
        }
      }
    val useBloom = benchOk && bigEnough && share <= survivorShareThreshold
    graft.Sessions.recordDecision("decontaminateAuto", share,
      survivorShareThreshold,
      if (useBloom) "bloomPrefilter"
      else if (!benchOk) "exact(benchTooBig)"
      else if (!bigEnough) "exact(small)" else "exact(highOverlap)")
    if (useBloom) decontaminateBloom(corpus, benchmark, threshold, textCol, w, fpp)
    else decontaminate(corpus, benchmark, threshold, textCol, w)
  }

  /** Characteristic character trigrams per language (high-frequency
    * trigrams of each language's function words) — the tiny profile the
    * n-gram language-ID heuristic scores against.
    */
  val EnTrigrams: Seq[String] = Seq("the", "and", "ing", " of", "ion")
  val DeTrigrams: Seq[String] = Seq("der", "und", "ein", "ich", "sch")
  val FrTrigrams: Seq[String] = Seq("les", "des", "ent", "que", "ais")

  /** Occurrences of a literal n-gram in text as a pure column expression:
    * (len(text) − len(remove(text, g))) / len(g). No regex, no HOF —
    * whole-stage codegen'd string ops, identical semantics in DuckDB.
    */
  private def ngramCount(t: Column, g: String): Column =
    (length(t) - length(replace(t, lit(g), lit("")))) / g.length

  /** Language ID via the character-n-gram heuristic: score each language
    * by total occurrences of its characteristic trigrams, argmax with
    * the same deterministic en ≥ de ≥ fr tie order as [[langId]]. One
    * projection, scan-speed; unlike the stopword variant this needs no
    * tokenization and catches inflected/concatenated forms.
    */
  def langIdNgram(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = lower(col(textCol))
    def score(grams: Seq[String]): Column =
      grams.map(g => ngramCount(t, g)).reduce(_ + _).cast("long")
    val en = score(EnTrigrams)
    val de = score(DeTrigrams)
    val fr = score(FrTrigrams)
    docs.select(
      col("doc_id"),
      en.as("en_score"), de.as("de_score"), fr.as("fr_score"),
      when(en >= de && en >= fr, lit("en"))
        .when(de >= fr, lit("de"))
        .otherwise(lit("fr"))
        .as("lang_pred"))
  }

  /** Language identification via stopword-hit scoring: count hits against
    * per-language function-word lists, argmax with deterministic
    * preference order on ties. Companion of [[langIdNgram]]; both stay
    * pure column expressions (scan-speed at scale).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val en = hitCount(textCol, Stopwords.EnSql)
    val de = hitCount(textCol, Stopwords.DeSql)
    val fr = hitCount(textCol, Stopwords.FrSql)
    docs.select(
      col("doc_id"),
      en.as("en_hits"),
      de.as("de_hits"),
      fr.as("fr_hits"),
      when(en >= de && en >= fr, lit("en"))
        .when(de >= fr, lit("de"))
        .otherwise(lit("fr"))
        .as("lang_pred")
    )
  }
  /** C4-style segment-level cleaning: split each document on a literal
    * delimiter, drop segments with fewer than `minWords` words, rejoin
    * the survivors in order. (C4 does this per *line* with "ends in
    * terminal punctuation / ≥ 3 words" rules; the fixture corpus has no
    * newlines, so the delimiter is a parameter and the word-count rule
    * carries the semantics.)
    *
    * Pure projection — `split` / `filter(λ)` / `array_join` evaluate
    * per-row with no shuffle and no explode, so the op is map-side-only
    * at any scale, and the lambda filter preserves segment order for
    * free.
    */
  def segmentFilter(
      docs: DataFrame,
      delim: String,
      minWords: Int = 3,
      textCol: String = "text"): DataFrame = {
    val segs = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val kept = filter(segs, s => size(split(s, " ")) >= minWords)
    docs.select(
      col("doc_id"),
      array_join(kept, delim).as("clean_text"),
      size(kept).as("n_kept"),
      size(segs).as("n_total"))
  }

  /** Boilerplate-segment removal: segments (split on `delim`) that occur
    * in at least `minDocs` *distinct* documents are boilerplate (nav
    * bars, cookie banners, license headers); strip every occurrence from
    * every document, preserving segment order.
    *
    * Plan shape (the 100 TB path): posexplode → per-segment distinct doc
    * counts → the boilerplate set — then a marker LEFT JOIN of the
    * exploded segments against it and an order-restoring re-assembly
    * (`array_sort` by position inside a NULL-skipping `collect_list`).
    * The join shuffles on the segment hash, never materializing a
    * per-document boilerplate list — unlike the collect-to-one-list
    * formulation the DuckDB oracle uses, which is only viable because
    * the fixture's boilerplate set is tiny. A marker join (not LEFT
    * ANTI) so a document whose every segment is boilerplate survives
    * with empty clean text instead of vanishing from the relation.
    */
  def removeBoilerplate(
      docs: DataFrame,
      delim: String,
      minDocs: Int = 2,
      textCol: String = "text"): DataFrame = {
    val segs = docs.select(col("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("pos", "seg")))
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("seg"), lit(1).as("_boiler"))
    segs.join(boiler, Seq("seg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            // collect_list skips NULLs, so boilerplate rows drop out
            // while still counting toward the group's existence
            array_sort(collect_list(
              when(col("_boiler").isNull, struct(col("pos"), col("seg"))))),
            x => x.getField("seg")),
          delim).as("clean_text"),
        sum(when(col("_boiler").isNull, 1).otherwise(0)).as("n_kept"))
  }

  /** Intra-document segment dedup: keep only the FIRST occurrence of
    * each segment within a document (self-repetition trim — the
    * document-local cousin of corpus-level dedup; repeated templates,
    * duplicated paragraphs, copy-paste artifacts).
    *
    * Pure projection: the first-occurrence predicate is
    * `array_position(segs, x) == index` evaluated inside a lambda
    * `filter` — no explode, no shuffle, no window; runs at scan speed
    * and preserves order by construction. (array_position is O(n) per
    * element giving O(n²) per doc over SEGMENTS — tens per doc — which
    * beats an explode+window+reassemble shuffle by orders of magnitude
    * at corpus scale.)
    */
  def dedupSegments(
      docs: DataFrame,
      delim: String,
      textCol: String = "text"): DataFrame = {
    val segs = split(col(textCol), java.util.regex.Pattern.quote(delim))
    // Spark's lambda index is 0-based, array_position 1-based
    val kept = filter(segs, (x, i) => array_position(segs, x) === (i + 1))
    docs.select(
      col("doc_id"),
      array_join(kept, delim).as("dedup_text"),
      size(kept).as("n_kept"),
      size(segs).as("n_total"))
  }

  /** Vocabulary coverage / OOV rate: build the top-`vocabSize` token
    * vocabulary by corpus frequency (ties to the lexically smaller
    * token, so the vocab SET is deterministic), then score every
    * document's out-of-vocabulary token count and ratio — the tokenizer
    * -prep health metric (how much of the corpus a fixed vocab covers).
    *
    * Scale: the vocab is a TakeOrdered over partial-aggregated token
    * counts (per-partition heap, driver merges k/partition) and ships
    * back BROADCAST; the per-doc score is then one explode + broadcast
    * probe + per-doc re-agg — the corpus shuffles once on doc_id-sized
    * partial aggs, never on tokens.
    */
  def oovRate(
      docs: DataFrame,
      vocabSize: Int = 500,
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t"))
      .limit(vocabSize)
      .select(col("t"), lit(1).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }
}

/** Function-word lists for the langId heuristic (public-knowledge stopword
  * sets, trimmed). `*Sql` renders the list as a SQL IN-list so the same
  * literal is usable from both Spark `expr` and the DuckDB oracle.
  */
object Stopwords {
  val En: Seq[String] =
    Seq("the", "of", "and", "to", "in", "is", "it", "that", "for", "with")
  val De: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu")
  val Fr: Seq[String] =
    Seq("le", "la", "les", "de", "et", "est", "un", "une", "pour", "dans")

  private def asSql(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  val EnSql: String = asSql(En)
  val DeSql: String = asSql(De)
  val FrSql: String = asSql(Fr)
}
