package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("textStats computes counts and ratios") {
    val df = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = TextOps.textStats(df).head()
    assert(r.getAs[Int]("n_chars_calc") == 22)
    assert(r.getAs[Int]("n_words") == 6)
    assert(r.getAs[Int]("n_stopwords") == 2) // "the" twice
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-3)
  }

  test("tokenCounts: whitespace and BPE-ish regex tokens") {
    val df = Seq((1L, "hello world42 FOO")).toDF("doc_id", "text")
    val r = TextOps.tokenCounts(df).head()
    assert(r.getAs[Int]("ws_tokens") == 3)
    // hello | world | 42 | FOO
    assert(r.getAs[Int]("bpe_ish_tokens") == 4)
  }

  test("fingerprint is invariant to case and punctuation") {
    val df = Seq((1L, "Hello, World!"), (2L, "hello world")).toDF("doc_id", "text")
    val fps = TextOps.fingerprints(df).collect().map(_.getString(1))
    assert(fps(0) == fps(1))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht in das haus und die katze"),
      (3L, "le chat est dans la maison et les oiseaux"))
      .toDF("doc_id", "text")
    val out = TextOps.langId(df).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("lang_pred")).toSeq == Seq("en", "de", "fr"))
  }

  test("winnowing: partial overlap shares fingerprints, disjoint text shares none") {
    val shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, shared),
      (2L, "completely different opening words here. " + shared), // contains doc 1
      (3L, "zzz qqq vvv kkk www uuu mmm nnn ooo ppp")) // disjoint
      .toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, a) => id -> a.map(_._2).toSet }
    // winnowing guarantee: the long shared substring must collide
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(1L).intersect(fps(3L)).isEmpty)
    // sketch is a compression, not the full k-gram set
    assert(fps(1L).size < shared.length)
    // deterministic across partitionings
    val again = TextOps.winnowFingerprints(docs.repartition(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == fps.toSeq.flatMap { case (id, s2) => s2.map(id -> _) }.toSet)
  }

  test("piiScrub redacts emails and IPv4s and counts them") {
    val df = Seq(
      (1L, "contact bob.smith+x@example.co.uk or 10.0.255.3 now"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = TextOps.piiScrub(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_emails") == 1 && out(0).getAs[Int]("n_ips") == 1)
    assert(out(0).getAs[String]("scrubbed") == "contact <EMAIL> or <IP> now")
    assert(out(1).getAs[Int]("n_emails") == 0 && out(1).getAs[String]("scrubbed") == "no pii here at all")
  }

  test("repetitionStats: type-token and top-token ratios") {
    val df = Seq(
      (1L, "a a a a b"),      // 2 distinct / 5 total; 'a' 4/5
      (2L, "w x y z"))        // all distinct
      .toDF("doc_id", "text")
    val out = TextOps.repetitionStats(df).orderBy("doc_id").collect()
    assert(out(0).getDouble(1) == 0.4 && out(0).getDouble(2) == 0.8)
    assert(out(1).getDouble(1) == 1.0 && out(1).getDouble(2) == 0.25)
  }

  test("charEntropy: constant text scores 0, distinct bigrams score log2(n), brute force agrees") {
    val df = Seq(
      (1L, "aaaa"),    // one distinct bigram "aa" x3 -> H = 0
      (2L, "abcd"),    // bigrams ab bc cd, all distinct -> H = log2(3)
      (3L, "x"),       // shorter than a bigram -> absent
      (4L, "abab"))    // ab x2, ba x1 -> H = log2(3) - (2*1)/3
      .toDF("doc_id", "text")
    val out = TextOps.charEntropy(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(3L))
    assert(out(1L) == ((3L, 0.0)))
    assert(out(2L)._1 == 3L &&
      math.abs(out(2L)._2 - math.log(3) / math.log(2)) < 1e-6)
    def brute(s: String): Double = {
      val counts = s.sliding(2).toSeq.groupBy(identity).values.map(_.size.toDouble)
      val n = counts.sum
      counts.map(c => -(c / n) * (math.log(c / n) / math.log(2))).sum
    }
    assert(math.abs(out(4L)._2 - brute("abab")) < 1e-6)
    // natural text sits strictly between the degenerate extremes
    val nat = TextOps.charEntropy(Seq((9L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")).collect().head.getDouble(2)
    // 24 distinct bigrams: H = log2(24) exactly; the 6-decimal round can
    // land a hair above the unrounded bound
    assert(nat > 2.0 && nat < math.log(24) / math.log(2) + 1e-5)
  }

  test("contamination: planted benchmark overlap detected, clean docs score 0") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),       // fully contained
      (2L, "alpha beta gamma unrelated tail here"), // partial overlap
      (3L, "totally different clean document text")) // clean
      .toDF("doc_id", "text")
    val out = TextOps.contamination(corpus, bench)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((1L, 3L, 3L, 1.0)))
    assert(out(1)._3 == 1L) // only "alpha beta gamma" shared
    assert(out(2) == ((3L, 3L, 0L, 0.0)))
  }

  test("langIdNgram: char-trigram profiles pick the right language") {
    val df = Seq(
      (1L, "the thing and the other thing of everything"),
      (2L, "der hund und der wunderschoene reichtum einiger"),
      (3L, "les questions des presidents qui entraient"))
      .toDF("doc_id", "text")
    val out = TextOps.langIdNgram(df).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("lang_pred")).toSeq == Seq("en", "de", "fr"))
    // scores are exact substring-occurrence counts
    assert(out(0).getAs[Long]("en_score") >= 4)
  }

  test("topNgrams: planted boilerplate ranks first, short docs skipped, ties deterministic") {
    val docs = Seq(
      (1L, "click here to subscribe now"),
      (2L, "click here for more info"),
      (3L, "click here please"),
      (4L, "unrelated text entirely"),
      (5L, "solo")) // 1 token < n — must not crash or contribute
      .toDF("doc_id", "text")
    val out = TextOps.topNgrams(docs, n = 2, k = 3)
      .as[(String, Long)].collect()
    assert(out.head == (("click here", 3L)))
    assert(out.length == 3)
    // remaining grams all have count 1 → tie broken by gram string asc
    assert(out.tail.map(_._1).toSeq == out.tail.map(_._1).sorted.toSeq)
    // trigrams over the fixture: deterministic across runs
    val f1 = TextOps.topNgrams(graft.model.Tables.documents(spark, sf0001), 3, 10)
      .collect().toSeq
    val f2 = TextOps.topNgrams(graft.model.Tables.documents(spark, sf0001), 3, 10)
      .collect().toSeq
    assert(f1 == f2 && f1.size == 10)
  }

  test("pseudonymize: stable within a salt, unlinked across salts, raw id gone") {
    val df = Seq((1L, 42L), (2L, 42L), (3L, 7L)).toDF("event_id", "user_id")
    val a = TextOps.pseudonymize(df, "user_id", "s1")
    assert(!a.columns.contains("user_id"))
    val rows = a.orderBy("event_id").collect().map(_.getString(1))
    assert(rows(0) == rows(1), "same id + same salt → same pseudonym (joins survive)")
    assert(rows(0) != rows(2))
    assert(rows(0).matches("[0-9a-f]{64}"))
    // rotating the salt unlinks every pseudonym (crypto-shredding)
    val b = TextOps.pseudonymize(df, "user_id", "s2")
      .orderBy("event_id").collect().map(_.getString(1))
    assert(rows.toSet.intersect(b.toSet).isEmpty)
  }

  test("decontaminate drops flagged docs, keeps clean and unshingleable ones") {
    val bench = Seq((100L, "secret eval question about llamas today")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "secret eval question about llamas today padded"), // heavy overlap
      (2L, "a completely unrelated document about weather patterns"),
      (3L, "too short")) // < w tokens: never flagged
      .toDF("doc_id", "text")
    val kept = TextOps.decontaminate(corpus, bench, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept=$kept")
  }

  test("decontaminateBloom ≡ decontaminate on the fixture corpus") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val bench = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val exact = TextOps.decontaminate(corpus, bench, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = TextOps.decontaminateBloom(corpus, bench, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom == exact)
  }

  test("decontaminateBloom survives a deliberately terrible fpp (confirm join kills FPs)") {
    // fpp=0.5 floods the prefilter with false positives; the exact
    // semi-join must still produce the bit-identical relation.
    val docs = graft.model.Tables.documents(spark, sf0001)
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val bench = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val exact = TextOps.decontaminate(corpus, bench, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sloppy = TextOps.decontaminateBloom(corpus, bench, threshold = 0.2, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sloppy == exact)
  }

  test("decontaminateAuto: corpus bytes flip the pick, the benchmark-size " +
    "guard forces exact, every pick is result-identical") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val bench = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val exact = TextOps.decontaminate(corpus, bench, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def lastPick(): graft.Sessions.Decision = {
      val ds = graft.Sessions.decisions.filter(_.op == "decontaminateAuto")
      assert(ds.nonEmpty, "auto must record its pick"); ds.last
    }
    // 1) fixture corpus sits under the size floor → exact join, and the
    // decision records NO share estimate (stage 1 is job-free)
    graft.Sessions.clearDecisions()
    val small = TextOps.decontaminateAuto(corpus, bench, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lastPick().choice == "exact(small)")
    assert(lastPick().estimate == -1.0)
    assert(small == exact)
    // 2) past the size floor, a maximal-overlap benchmark (the corpus
    // itself: every corpus shingle hits) measures share = 1 → the
    // prefilter would delete no shuffle, the auto stays exact — and the
    // recorded estimate is a real measured share
    val exactSelf = TextOps.decontaminate(corpus, corpus, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Sessions.clearEstimates(); graft.Sessions.clearDecisions()
    val hot = TextOps.decontaminateAuto(corpus, corpus, threshold = 0.2,
      corpusBytesThreshold = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lastPick().choice == "exact(highOverlap)",
      s"self-benchmark must measure share ≈ 1, got ${lastPick()}")
    assert(lastPick().estimate > 0.99 && lastPick().estimate <= 1.0)
    assert(hot == exactSelf)
    // 3) a LOW-overlap benchmark (vowel-substituted: ~no shared
    // shingles) measures share ≈ 0 → Bloom prefilter, and the
    // prefiltered plan is still result-identical for ITS benchmark
    // (the auto never trades exactness, it only re-prices the shuffle)
    val benchLo = bench.withColumn("text",
      translate($"text", "aeiou", "01234"))
    val exactLo = TextOps.decontaminate(corpus, benchLo, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Sessions.clearEstimates(); graft.Sessions.clearDecisions()
    val bloomed = TextOps.decontaminateAuto(corpus, benchLo, threshold = 0.2,
      corpusBytesThreshold = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lastPick().choice == "bloomPrefilter",
      s"disjoint benchmark must measure share ≈ 0, got ${lastPick()}")
    assert(lastPick().estimate < 0.1)
    assert(bloomed == exactLo)
    // 4) a benchmark over the broadcast-budget guard forces the exact
    // join even in the Bloom regime (the "small benchmark" premise the
    // prefilter's broadcast depends on) — and skips the estimator
    graft.Sessions.clearDecisions()
    val guarded = TextOps.decontaminateAuto(corpus, benchLo, threshold = 0.2,
      corpusBytesThreshold = 1L, maxBenchBytes = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lastPick().choice == "exact(benchTooBig)")
    assert(guarded == exactLo)
  }

  test("segmentFilter drops short segments and preserves order") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma SEP x y SEP one two three four"))
      .toDF("doc_id", "text")
    val out = TextOps.segmentFilter(df, " SEP ", minWords = 3).head()
    assert(out.getString(1) == "alpha beta gamma SEP one two three four")
    assert(out.getInt(2) == 2 && out.getInt(3) == 3)
  }

  test("vocabCoverage: exact ranks, cumulative shares, bounded post-limit window") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b b c"),  // a:3 b:2 c:1
      (2L, "a b d")         // a:4 b:3 c:1 d:1 of 9 total
    ).toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(df, v = 3)
      .collect().map(r =>
        r.getInt(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 3)
    assert(out(1) == (("a", 4L, math.rint(4.0 / 9 * 1e6) / 1e6)))
    assert(out(2) == (("b", 3L, math.rint(7.0 / 9 * 1e6) / 1e6)))
    // rank 3 tie (c/d, cnt 1) breaks by term: c first, cum 8/9
    assert(out(3) == (("c", 1L, math.rint(8.0 / 9 * 1e6) / 1e6)))
    // the one unpartitioned window consumes the post-limit relation:
    // a Limit/TakeOrdered node must sit between the window and any scan
    val lines = TextOps.vocabCoverage(df, v = 3)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    val wi = lines.indexWhere(_.contains("Window"))
    assert(wi >= 0)
    val below = lines.drop(wi + 1)
    val limAt = below.indexWhere(l =>
      l.contains("TakeOrdered") || l.contains("Limit"))
    val scanAt = below.indexWhere(_.contains("Scan"))
    assert(limAt >= 0 && (scanAt < 0 || limAt < scanAt),
      s"window input must be the post-limit relation:\n${lines.take(30).mkString("\n")}")
  }

  test("domainKeyness: hand-computed log-odds scores, ranks, partitioned window") {
    import spark.implicits._
    val df = Seq(
      (1L, "x x y", "A"),
      (2L, "y z", "B")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.domainKeyness(df, groupCol = "lang", k = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // A: x c_in=2 tot_in=3 c_all=2, T=5 → ln(3/2) − ln(1/3)
    assert(out(("A", "x")) == ((2L, r6(math.log(3.0 / 2) - math.log(1.0 / 3)), 1)))
    assert(out(("A", "y")) == ((1L, r6(math.log(2.0 / 3) - math.log(1.0)), 2)))
    // B: z beats y (ln 4 > ln(3/2)·…)
    assert(out(("B", "z")) == ((1L, r6(math.log(1.0) - math.log(1.0 / 4)), 1)))
    assert(out(("B", "y")) == ((1L, r6(math.log(1.0) - math.log(2.0 / 3)), 2)))
    // r8 discipline: the ranking window must carry its partition key
    val plan = TextOps.domainKeyness(df, groupCol = "lang", k = 5)
      .queryExecution.optimizedPlan.toString
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("grp")),
      s"keyness window must partition by group:\n$plan")
  }

  test("corpusReport: exact per-source counts, dup rate, shares") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s1", 5L),
      (2L, "a b c", "fr", "s1", 5L),   // exact dup of doc 1 (fingerprint)
      (3L, "x y", "en", "s1", 3L),
      (4L, "p q r s", "de", "s2", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.corpusReport(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // s1: 3 docs, 8 tokens, 2 uniq fingerprints → dup 1/3; en 2/3; chars 13/3
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out("s1") == ((3L, 8L, 2L, r6(1.0 - 2.0 / 3), r6(2.0 / 3), r6(13.0 / 3))))
    assert(out("s2") == ((1L, 4L, 1L, 0.0, 0.0, 7.0)))
  }

  test("removeBoilerplate strips repeated segments; all-boilerplate doc survives empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "unique one two SEP common footer"),
      (2L, "common footer SEP other text here"),
      (3L, "common footer")).toDF("doc_id", "text")
    val out = TextOps.removeBoilerplate(df, " SEP ", minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 3, "the all-boilerplate doc must not vanish")
    assert(out(0).getString(1) == "unique one two" && out(0).getLong(2) == 1L)
    assert(out(1).getString(1) == "other text here")
    assert(out(2).getString(1) == "" && out(2).getLong(2) == 0L)
  }

}
