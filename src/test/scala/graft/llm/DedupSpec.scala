package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups case/punctuation-normalized duplicates") {
    val docs = Seq(
      (1L, "The quick brown fox"),
      (2L, "the quick  brown fox!"),
      (3L, "a different document"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (3L, 1L)))
  }

  test("short documents (< w tokens) yield empty shingle sets, no crash") {
    val docs = Seq((1L, "one two"), (2L, "solo"), (3L, ""), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("s"),
      Dedup.shingleHashes($"text").as("h")).orderBy("doc_id").collect()
    assert(sh(0).getSeq[String](1).isEmpty && sh(0).getSeq[Long](2).isEmpty)
    assert(sh(1).getSeq[String](1).isEmpty)
    assert(sh(2).getSeq[String](1).isEmpty)
    assert(sh(3).getSeq[String](1).size == 2)
    // full near-dup pipelines tolerate short docs
    assert(Dedup.minhashNearDups(docs, threshold = 0.1).count() >= 0)
    assert(Dedup.ngramJaccardPairs(docs, threshold = 0.1).count() >= 0)
  }

  test("shingles produces distinct w-grams") {
    val out = Seq("a b c d").toDF("text")
      .select(Dedup.shingles($"text", 2).as("sh"))
      .head().getSeq[String](0)
    assert(out.toSet == Set("a b", "b c", "c d"))
  }

  test("simhash: identical text → identical hash; similar → small hamming") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 50).map(i => if (i == 25) "CHANGED" else s"tok$i").mkString(" ")
    val far = (100 to 150).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
    val hs = Dedup.simhashes(df).orderBy("doc_id").collect()
      .map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(0) == hs(1))
    assert(ham(hs(0), hs(2)) < ham(hs(0), hs(3)),
      s"near ${ham(hs(0), hs(2))} should beat far ${ham(hs(0), hs(3))}")
    assert(ham(hs(0), hs(2)) <= 12)
  }

  test("simhashNearDups finds the duplicate pair") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, "something else entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("ngramJaccardPairs computes exact jaccard on candidates") {
    val a = "w1 w2 w3 w4 w5 w6"      // shingles(3): 4
    val b = "w1 w2 w3 w4 w5 other"   // shares 3 of its 4
    val df = Seq((1L, a), (2L, b), (3L, "x y z q r s")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, threshold = 0.1).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    // |A∩B| = 3, |A∪B| = 5
    assert(math.abs(r.getDouble(2) - 0.6) < 1e-9)
  }

  test("minhash estimated jaccard approximates true jaccard") {
    val a = (1 to 40).map(i => s"t$i").mkString(" ")
    val b = ((1 to 30).map(i => s"t$i") ++ (100 to 109).map(i => s"t$i")).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    // bands=32 of width 2: detection prob ≈ 1-(1-J²)³² ≈ 0.999 at J≈0.58
    val out = Dedup.minhashNearDups(df, k = 64, bands = 32, threshold = 0.1)
      .collect()
    assert(out.length == 1)
    val est = out.head.getDouble(2)
    // true jaccard of 3-shingle sets ≈ 28/48 ≈ 0.58
    assert(est > 0.3 && est < 0.85, s"est=$est")
  }

  test("resolveClusters: connected components elect min-id survivor") {
    // components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}; 5 isolated (no pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L))
      .toDF("a", "b").withColumn("jaccard", lit(0.9))
    val out = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false))
    assert(out(3L) == (1L, false))
    assert(out(7L) == (1L, false))
    assert(out(10L) == (10L, true))
    assert(out(11L) == (10L, false))
    assert(!out.contains(5L)) // docs without pairs never enter the graph
  }

  test("resolveClusters: 10k-node path (diameter ≫ old 50-round bound) " +
    "converges in O(log d) star-contraction rounds") {
    // r15 VERDICT #4: min-label propagation needed DIAMETER rounds and
    // threw past 50 — a sliding boilerplate-template chain produces
    // exactly this shape at corpus scale. Large/small-star must resolve
    // it in ~log₂(n) rounds with the same min-survivor answer.
    val n = 10000L
    val pairs = spark.range(1L, n) // edges (i, i+1): one long path
      .select($"id".as("a"), ($"id" + 1L).as("b"))
    graft.Sessions.clearDecisions()
    val out = Dedup.resolveClusters(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == n)
    assert(out(1L) == (1L, true))
    assert(out(n) == (1L, false))
    assert(out.forall { case (_, (s, _)) => s == 1L },
      "every path node joins component min=1")
    assert(out.count { case (_, (_, keep)) => keep } == 1)
    val d = graft.Sessions.decisions.filter(_.op == "resolveClusters").last
    val rounds = d.estimate.toInt
    assert(rounds <= 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt,
      s"10k path took $rounds rounds — not log-scale")
  }

  test("resolveClusters matches a driver-side union-find on a seeded random graph") {
    // adversarial mix of chains, stars and cross-links; ground truth via
    // plain union-find in the TEST (driver-side is fine in a spec)
    val rnd = new scala.util.Random(7)
    val edges = Seq.tabulate(400)(_ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(x => x -> find(x)).toMap
    val got = Dedup.resolveClusters(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("applyDedup keeps survivors and untouched docs, drops cluster members") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "y"), (5L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val kept = Dedup.applyDedup(docs, Dedup.resolveClusters(pairs))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L)) // 2 dropped; 3 and 5 never in any pair
  }

  test("dedup end-to-end: pairs → clusters over the fixture corpus") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.3)
    val clusters = Dedup.resolveClusters(pairs)
    val n = clusters.count()
    val survivors = clusters.filter($"keep").count()
    assert(n > 0 && survivors > 0 && survivors < n)
    // every non-survivor's label is a kept doc
    val keepSet = clusters.filter($"keep").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val labels = clusters.select("survivor").collect().map(_.getLong(0)).toSet
    assert(labels.subsetOf(keepSet))
  }

  test("ngramJaccardPairsExact equals brute-force all-pairs jaccard") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e g"),   // high overlap with 1
      (3L, "a b c x y z"),   // partial overlap
      (4L, "p q r s t u"))   // disjoint
      .toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Map(1L -> "a b c d e f", 2L -> "a b c d e g",
      3L -> "a b c x y z", 4L -> "p q r s t u")
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = shingleSet(texts(a)); sb = shingleSet(texts(b))
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.1
    } yield (a, b, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.ngramJaccardPairsExact(docs, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("simhashNearDups hot-bucket cap bounds a degenerate boilerplate corpus") {
    // 100 identical docs: every band bucket holds all 100 → quadratic
    // candidates unless the cap prunes them
    val boiler = (1L to 100L).map(i => (i, "the same boilerplate text repeated"))
    val df = boiler.toDF("doc_id", "text")
    // a finite cap demands bands >= maxHamming+2 (>=2 guaranteed collision
    // bands per true pair), so cap tests run at bands=8
    assert(Dedup.simhashNearDups(df, bands = 8, maxBucket = 10).count() == 0)
    // default (no cap) keeps exact banding recall
    assert(Dedup.simhashNearDups(df).count() == 100L * 99 / 2)
    // normal near-dups are still found when an unrelated bucket is hot
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val mixed = (Seq((1000L, base), (1001L, base)) ++ boiler).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(mixed, bands = 8, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1000L, 1001L)))
    // the fragile configuration (single guaranteed band + finite cap) is
    // rejected instead of silently losing recall
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(df, maxHamming = 3, bands = 4, maxBucket = 10)
    }
  }

  test("registered simhash parameterization: cap prunes boilerplate, keeps planted radius-3 pairs") {
    // adversarial corpus for the REGISTERED q_simhash_pairs shape
    // (maxHamming=3, bands=8, finite cap): a boilerplate block whose 8-bit
    // band chunks are all hot, plus planted pairs within hamming <= 3
    // that must survive because >= 5 of their 8 bands are guaranteed
    // collisions and at most a coincidental few can land in hot buckets
    val boiler = (1L to 80L).map(i =>
      (i, "the same boilerplate text repeated again and again"))
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    // candidate variants: appending one token flips only zero-margin bits
    // → many land within hamming 1..3 of base (xxhash64 is seedless, so
    // the selection below is deterministic across runs)
    val candidates = (999L, base) +: (1 to 200).map(j => (1000L + j, s"$base extra$j"))
    val hs = Dedup.simhashes(candidates.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val planted = candidates.tail
      .filter { case (id, _) => (1 to 3).contains(ham(hs(999L), hs(id))) }
      .take(6)
    assert(planted.size >= 2, s"need >= 2 planted radius-3 variants, got ${planted.size}")
    val corpus = (boiler ++ ((999L, base) +: planted)).toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(corpus,
      maxHamming = 3, bands = 8, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: every planted pair found despite the hot boilerplate buckets
    planted.foreach { case (id, _) =>
      assert(capped.contains((999L, id)), s"planted pair (999,$id) lost under cap")
    }
    // bounded candidates: the 80×79/2 boilerplate pairs are pruned, not joined
    assert(!capped.exists(p => p._1 <= 80L && p._2 <= 80L),
      "hot boilerplate bucket must be capped out")
    // and the cap loses nothing OUTSIDE hot buckets: restricted to
    // non-boilerplate ids, capped ≡ uncapped
    val uncapped = Dedup.simhashNearDups(corpus, maxHamming = 3, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped.filterNot(p => p._1 <= 80L && p._2 <= 80L))
  }

  test("minhashNearDups hot-band cap bounds a degenerate corpus, keeps distinct near-dups") {
    // 200 identical docs: every band bucket holds all 200 → quadratic
    // candidates unless the cap prunes them (r12: the one banded family
    // that still lacked bucket hygiene)
    val boiler = (1L to 200L).map(i => (i, "identical degenerate document text"))
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val corpus =
      (boiler ++ Seq((1000L, base), (1001L, s"$base extra"))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(Dedup.minhashNearDups(corpus, maxBucket = 50))
    // recall: the distinct-vocabulary near-dup pair survives the cap
    assert(capped.contains((1000L, 1001L)))
    // bounded candidates: the 200×199/2 degenerate pairs are pruned, not joined
    assert(!capped.exists(p => p._1 <= 200L && p._2 <= 200L),
      "hot band buckets must be capped out")
    // the cap loses nothing OUTSIDE hot buckets...
    val uncapped = pairs(Dedup.minhashNearDups(corpus, maxBucket = Int.MaxValue))
    assert(capped == uncapped.filterNot(p => p._1 <= 200L && p._2 <= 200L))
    // ...and the registered default (4096, two orders above the largest
    // measured real bucket, SCALE.md "Cap knobs, observed biting") is
    // inert even on this corpus: the r11 uncapped results are
    // reproduced bit-identically
    assert(pairs(Dedup.minhashNearDups(corpus)) == uncapped)
  }

  test("minhash-driven clusters ≡ exact-jaccard clusters on the fixture corpus") {
    // the registered q_dedup_clusters / q_dedup_apply are rows-only
    // (seeded signature hashes); this pins their SEMANTICS to the
    // oracle-grade exact pipeline: on the fixture the estimated-jaccard
    // pairs at 0.3 drive the same connected components, survivors and
    // keep/drop decisions as exact jaccard — so the rows the driver
    // counts are the rows the exact oracle family proves correct
    val docs = graft.model.Tables.documents(spark, sf0001)
    def decisions(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.resolveClusters(pairs).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val mh = decisions(Dedup.minhashNearDups(docs, threshold = 0.3))
    val ex = decisions(Dedup.ngramJaccardPairsExact(docs, threshold = 0.3))
    assert(mh.nonEmpty)
    assert(mh == ex, {
      val onlyMh = mh.keySet -- ex.keySet; val onlyEx = ex.keySet -- mh.keySet
      s"cluster decisions diverge: onlyMinhash=$onlyMh onlyExact=$onlyEx " +
        s"diff=${mh.filter { case (k, v) => ex.get(k).exists(_ != v) }}"
    })
    // and the applied corpora agree row-for-row
    val mhKept = Dedup.applyDedup(docs,
      Dedup.resolveClusters(Dedup.minhashNearDups(docs, threshold = 0.3)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exKept = Dedup.applyDedup(docs,
      Dedup.resolveClusters(Dedup.ngramJaccardPairsExact(docs, threshold = 0.3)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mhKept == exKept)
  }

  test("exact delta pairs ≡ full-corpus exact pairs restricted to batch-involving") {
    // the incremental contract, stated with the oracle-grade exact
    // operator: delta(batch vs corpus) emits exactly the full-corpus
    // pairs that involve >= 1 batch doc, as unordered (pair, jaccard)
    val docs = graft.model.Tables.documents(spark, sf0001)
    val delta = Dedup.ngramJaccardDeltaPairsExact(
      docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
      threshold = 0.1)
      .collect().map(r => (Set(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val full = Dedup.ngramJaccardPairsExact(docs, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 == 1 || b % 2 == 1 }
      .map { case (a, b, j) => (Set(a, b), j) }.toSet
    assert(delta.nonEmpty, "fixture must produce delta pairs")
    assert(delta == full,
      s"onlyDelta=${(delta -- full).take(3)} onlyFull=${(full -- delta).take(3)}")
    // replay guard: a batch that contains an already-indexed doc must
    // not pair it with itself
    val replay = Dedup.ngramJaccardDeltaPairsExact(
      docs.filter($"doc_id" % 2 === 0).limit(5), docs.filter($"doc_id" % 2 === 0),
      threshold = 0.1)
      .filter($"a" === $"b").count()
    assert(replay == 0L)
  }

  test("containment catches a quoted sub-document that jaccard dilutes away") {
    val short = (1 to 10).map(i => s"q$i").mkString(" ")
    val long = s"${(1 to 60).map(i => s"pad$i").mkString(" ")} $short"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val c = Dedup.ngramContainmentPairsExact(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(c.length == 1)
    val (a, b, ca, cb) = c.head
    assert((a, b) == ((1L, 2L)))
    assert(ca == 1.0, "short doc fully contained")     // |A∩B| / |A|
    assert(cb < 0.2, "long doc only partially covered")
    // jaccard on the same pair is far below the containment signal
    val j = Dedup.ngramJaccardPairsExact(docs, threshold = 0.01)
      .collect().map(_.getDouble(2))
    assert(j.forall(_ < 0.2))
  }

  test("winnowOverlapPairs flags a copied paragraph, not unrelated docs") {
    val para = (1 to 30).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro text alpha beta $para closing remarks one"),
      (2L, s"completely different opener $para and a new ending here"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)), "shared paragraph must collide")
    assert(pairs((1L, 2L)) >= 2)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("winnowOverlapPairs maxBucket prunes a hot fingerprint without touching cold pairs") {
    // a boilerplate sentence shared by MORE than maxBucket docs must be
    // dropped from candidate generation (its pairs vanish), while a
    // paragraph shared by exactly two docs still pairs — the
    // capped-emission contract of the grouped-list reshape
    val boiler = (1 to 20).map(i => s"boiler$i").mkString(" ")
    val para = (1 to 30).map(i => s"para$i").mkString(" ")
    val hotDocs = (1L to 8L).map(i =>
      (i, s"unique${i}a unique${i}b $boiler unique${i}c unique${i}d"))
    val coldPair = Seq(
      (100L, s"opener one $para closing alpha"),
      (101L, s"different two $para closing beta"))
    val docs = (hotDocs ++ coldPair).toDF("doc_id", "text")
    val capped = Dedup.winnowOverlapPairs(docs, k = 25, w = 8, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((100L, 101L)), "cold pair must survive the cap")
    assert(!capped.exists(p => p._1 <= 8L && p._2 <= 8L),
      s"pairs among the 8 hot-boilerplate docs must be pruned, got $capped")
    // uncapped control: the same hot docs DO pair
    val uncapped = Dedup.winnowOverlapPairs(docs, k = 25, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists(p => p._1 <= 8L && p._2 <= 8L))
  }

  test("winnowOverlapPairs self-join tail reproduces brute-force shared_fps multiplicities") {
    // r19 pin for the reworked pair tail (collect/chunk machinery ->
    // capped fp self-join): shared_fps must equal, pair by pair, the
    // count of distinct fingerprints two docs share, computed here by
    // brute force from the SAME fingerprint relation the operator
    // consumes. minShared = 1 so low-multiplicity pairs are compared
    // too; a random 6-letter corpus gives uneven bucket sizes.
    val rnd = new scala.util.Random(7)
    val docs = (1L to 12L).map { i =>
      (i, (1 to 60).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    }.toDF("doc_id", "text")
    val got = Dedup.winnowOverlapPairs(docs, minShared = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val fps = docs.select(col("doc_id"),
      explode(graft.functions.TextHashExpressions
        .winnow_fingerprint(col("text"), 5, 4)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val expected = (for {
      a <- byDoc.keys; b <- byDoc.keys; if a < b
      n = (byDoc(a) intersect byDoc(b)).size; if n >= 1
    } yield (a, b) -> n.toLong).toMap
    assert(got == expected)
  }

  test("boilerplate-stripped winnowing: pair count collapses, true overlaps survive") {
    // the q_winnow_clean composition: the fixture's 40-word vocabulary
    // makes sub-word (k = 5) grams collide across essentially all docs,
    // so unstripped winnowing is output-bound (pair set quadratic in
    // corpus size); boilerplate-stripping + paragraph-scale grams
    // (k = 25, w = 8 — only ≥ 32-char shared runs fingerprint together)
    // must collapse the pair count by orders of magnitude while keeping
    // genuinely copied content
    val docs = graft.model.Tables.documents(spark, sf0001)
    val raw = Dedup.winnowOverlapPairs(docs).count()
    val clean = TextOps.removeBoilerplate(docs, " merge ", minDocs = 2)
      .select($"doc_id", $"clean_text".as("text"))
    val strippedN = Dedup.winnowOverlapPairs(clean, k = 25, w = 8).count()
    assert(strippedN >= 1L, "composition must still find the planted overlaps")
    assert(raw >= 100L * strippedN,
      s"composition must collapse the pair set: raw=$raw stripped=$strippedN")
    // a planted non-boilerplate overlap still comes through the
    // composition: copy one doc's cleaned text into a fresh doc id
    val donor = clean.filter(length($"text") > 100).limit(1)
    val planted = clean.unionAll(
      donor.select(lit(999999L).as("doc_id"), $"text"))
    val found = Dedup.winnowOverlapPairs(planted, k = 25, w = 8)
      .filter($"b" === 999999L).count()
    assert(found >= 1L, "planted post-strip duplicate must still pair")
  }

  test("winnowOverlapPairsExact per-row selection equals a windowed reference") {
    // r19 rework: the exact twin selects window minima inside one
    // per-row expression chain instead of posexplode + Window. Pin it
    // against a brute-force reference (all k-grams, min per complete
    // w-window, distinct) on a small random 4-letter corpus where
    // shared fingerprints are plentiful.
    val rnd = new scala.util.Random(7)
    val texts = (1L to 6L).map(id =>
      id -> (1 to 120).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val docs = texts.toDF("doc_id", "text")
    val k = 5; val w = 4
    def fpsOf(t: String): Set[String] = {
      val grams = (0 to t.length - k).map(i => t.substring(i, i + k))
      (0 to grams.length - w).map(p => grams.slice(p, p + w).min).toSet
    }
    val expected = (for {
      (ida, ta) <- texts
      (idb, tb) <- texts
      if ida < idb
      shared = fpsOf(ta).intersect(fpsOf(tb)).size
      if shared >= 2
    } yield (ida, idb) -> shared.toLong).toMap
    val got = Dedup.winnowOverlapPairsExact(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("winnowOverlapPairsExact plan keeps exactly one gram build per Generate") {
    // The O(n) vs O(n²) behavior of the exact twin hinges on the
    // optimizer NOT inlining the gram-build transform through
    // element_at(transform(array(grams), …), 1) into the per-window
    // lambda (each window's slice would then rebuild the whole gram
    // array). Pin the optimized plan: one Substring-bearing gram build
    // per Generate, so a future optimizer rule change that re-inlines it
    // fails loudly here instead of silently regressing performance.
    import org.apache.spark.sql.catalyst.expressions.Substring
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val docs = Seq((1L, "abcabcabcabc"), (2L, "bcabcabcabca")).toDF("doc_id", "text")
    val plan = Dedup.winnowOverlapPairsExact(docs).queryExecution.optimizedPlan
    val generates = plan.collect { case g: Generate => g }
    val substrings = plan.collect { case node =>
      node.expressions.map(e => e.collect { case s: Substring => s }.size).sum
    }.sum
    assert(generates.size == 2, s"expected the two self-join fps Generates, got ${generates.size}")
    assert(substrings == generates.size,
      s"gram build duplicated: $substrings Substring nodes for ${generates.size} Generates\n$plan")
  }

  test("incremental delta dedup ≡ full-corpus pairing restricted to new docs") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val old = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
    Dedup.minhashWriteIndex(old, dir)
    val delta = Dedup.minhashDeltaPairs(
      fresh,
      spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/sigs"),
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // oracle: batch pairing over the union corpus, keeping pairs that
    // involve >= 1 new doc, oriented as (new, other)
    val full = Dedup.minhashNearDups(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.flatMap { case (a, b, j) =>
      val aNew = a % 2 == 1; val bNew = b % 2 == 1
      if (aNew && bNew) Seq((math.min(a, b), math.max(a, b), j))
      else if (aNew) Seq((a, b, j))
      else if (bNew) Seq((b, a, j))
      else Nil
    }.toSet
    assert(delta == expected)
    assert(delta.nonEmpty) // fixture corpus has planted cross-half dups

    // replayed ingest: a doc already in the index re-arrives in the batch
    // — it must not pair with itself, and pairs it appears in must not
    // duplicate through the doubled signature row
    val replay = Dedup.minhashDeltaPairs(
      fresh.union(old.limit(5)), // batch = fresh + 5 already-indexed docs
      spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/sigs"),
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!replay.exists(p => p._1 == p._2), "self-pair from replayed doc")
    assert(replay.length == replay.distinct.length, "duplicated pair rows")
    // orientation-normalized: a fresh-x/replayed-y pair must not appear as
    // BOTH (x,y) from the cross path and (y,x) from the within-batch path
    val undirected = replay.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    assert(undirected.length == undirected.distinct.length,
      "mirrored duplicate pair rows")
    // replayed docs ARE batch members: their pairs with fresh docs must
    // still be present (min/max-oriented via the within-batch path)
    val replayedIds = old.limit(5).select("doc_id").collect().map(_.getLong(0)).toSet
    val expectReplayPairs = expected.filter { case (a, b, _) =>
      replayedIds.contains(a) || replayedIds.contains(b) }
    assert(expectReplayPairs.forall { case (a, b, _) =>
      undirected.contains((math.min(a, b), math.max(a, b))) },
      "replayed-doc pairs with fresh docs must survive the anti-join fix")
  }

  test("bucketed band index: same delta pairs, fewer exchanges than plain parquet") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val old = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 === 1)
    for (t <- Seq("mhidx_sigs", "mhidx_bands")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
        }
        rm(d)
      }
    }
    Dedup.minhashWriteIndexBucketed(old, "mhidx")
    val pdir = java.nio.file.Files.createTempDirectory("graft_mh_plain").toString
    Dedup.minhashWriteIndex(old, pdir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = Dedup.minhashDeltaPairs(fresh,
        spark.table("mhidx_bands"), spark.table("mhidx_sigs"), threshold = 0.3)
      val plain = Dedup.minhashDeltaPairs(fresh,
        spark.read.parquet(s"$pdir/bands"), spark.read.parquet(s"$pdir/sigs"),
        threshold = 0.3)
      val a = bucketed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = plain.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a == b && a.nonEmpty)
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(exchanges(bucketed) < exchanges(plain),
        "bucketed index must remove at least one exchange from the delta join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sketch expressions compile under whole-stage codegen (no silent fallback)") {
    // with fallback disabled a Janino compile error in our doGenCode
    // surfaces instead of silently dropping to interpreted eval
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
        .toDF("doc_id", "text")
      val out = df.select(
        Dedup.simhash($"text").as("sh"),
        Dedup.shingleHashes($"text").as("hs"),
        Dedup.minhashSignature($"text").as("sig")).collect()
      assert(out.length == 2)
      assert(out(0).getSeq[Long](2).length == 32)
      // generated path ≡ interpreted path (same kernels, sanity-check values)
      val interpreted = df.repartition(1).select(Dedup.simhash($"text")).collect()
      assert(interpreted.map(_.getLong(0)).toSet == out.map(_.getLong(0)).toSet)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("dedup families are deterministic across repartitioning") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val h1 = Dedup.simhashes(docs).orderBy("doc_id").collect().toSeq
    val h2 = Dedup.simhashes(docs.repartition(7)).orderBy("doc_id").collect().toSeq
    assert(h1 == h2)
  }
  test("semanticDedup: planted near-dups dropped, min id kept, distinct kept") {
    import spark.implicits._
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    def jitter(v: Array[Float], d: Int): Array[Float] =
      v.zipWithIndex.map { case (x, i) => if (i == d) x + 0.01f else x }
    val rows = Seq(
      (1L, base(0)), (2L, jitter(base(0), 1)), // dup pair -> keep 1
      (3L, base(1)), (4L, jitter(base(1), 2)), // dup pair -> keep 3
      (5L, base(2))) // singleton
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(rows, nlist = 3, threshold = 0.99, seed = 7L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("semanticDedup maxCell salting: never false-drops, stays deterministic") {
    import spark.implicits._
    val rows = (1L to 12L).map { i =>
      val v = Array.fill(12)(0f); v(i.toInt - 1) = 1f; (i, v)
    }.toDF("vec_id", "embedding")
    // 12 distinct axis vectors: every cross cosine is 0, so nothing is a
    // dup; with maxCell=1 every cell salts into sub-cells
    val kept = Dedup.semanticDedup(rows, nlist = 2, threshold = 0.99,
      maxCell = 1, seed = 7L).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == (1L to 12L).toSet, "salting must only ever reduce the dropped set")
    val again = Dedup.semanticDedup(rows, nlist = 2, threshold = 0.99,
      maxCell = 1, seed = 7L).select("id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("trimRepeatedSpans: later occurrences trimmed, first kept, short docs untouched") {
    import spark.implicits._
    val span = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"intro words here $span tail one"),     // first occurrence -> kept
      (2L, s"other leading text $span closing bit"), // later -> trimmed
      (3L, "a tiny doc"))                            // < 8 tokens -> untouched
      .toDF("doc_id", "text")
    val out = Dedup.trimRepeatedSpans(docs, spanTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (s"intro words here $span tail one", 0L))
    assert(out(2L) == ("other leading text closing bit", 8L))
    assert(out(3L) == ("a tiny doc", 0L))
  }

  test("trimRepeatedSpans: overlapping repeats union their positions; hashed ≡ string grams") {
    import spark.implicits._
    // doc 2 repeats a 9-token window of doc 1 -> two overlapping 8-grams,
    // 9 distinct covered positions
    val nine = "a b c d e f g h i"
    val docs = Seq((1L, s"$nine unique tail"), (2L, s"prefix $nine suffix"))
      .toDF("doc_id", "text")
    val out = Dedup.trimRepeatedSpans(docs, spanTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(2L) == ("prefix suffix", 9L))
    val hashed = Dedup.trimRepeatedSpans(docs, spanTokens = 8, hashGrams = true)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(hashed == out, "8-byte gram keys must not change the relation")
  }

  test("sourceOverlap counts distinct shared shingles per source pair, no self-join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "s1"),   // shingles: "a b c", "b c d"
      (2L, "a b c x", "s2"),   // "a b c", "b c x"
      (3L, "b c d y", "s3"),   // "b c d", "c d y"
      (4L, "a b c d", "s1"),   // duplicate content, same source — no double count
      (5L, "zz", "s1")         // too short, no shingles
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // s1∩s2 = {"a b c"}; s1∩s3 = {"b c d"}; s2∩s3 = {}
    assert(out == Map(("s1", "s2") -> 1L, ("s1", "s3") -> 1L))
    // aggregate-first shape: the plan must contain NO join at all
    val plan = Dedup.sourceOverlap(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"sourceOverlap must not self-join:\n$plan")
  }

  test("dupProfile: cluster-size histogram over exact fingerprints") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Same text!"), (2L, "same TEXT"),   // fingerprint-identical pair
      (3L, "unique one"), (4L, "unique two"), (5L, "unique three")
    ).toDF("doc_id", "text")
    val out = Dedup.dupProfile(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (3L, 3L), 2L -> (1L, 2L)))
  }

  test("simhashExactPairs ≡ banding geometry over the same oracle-checked sigs") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val exact = Dedup.simhashExactPairs(docs, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact.nonEmpty, "fixture planted near-dups must surface at radius 8/32")
    // run the PRODUCTION banded candidate generator over the twin's
    // 32-bit signatures: pigeonhole (radius 8 < 16 bands over 64 bits,
    // no cap) guarantees identical pair sets with the quadratic scan
    val sigs = Dedup.simhash32Sigs(docs)
    val banded = Dedup
      .simhashNearDupsFromSigs(sigs, "sig", maxHamming = 8, bands = 16,
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == exact,
      s"banding lost/invented pairs: only-banded=${banded -- exact} " +
        s"only-exact=${exact -- banded}")
  }

}
