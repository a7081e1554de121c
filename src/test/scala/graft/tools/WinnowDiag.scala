package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch diagnostic for the r19 winnow rework: times the fps
  * computation and the pair-expansion tail separately so a regression
  * can be attributed to a stage instead of guessed at. Deleted or kept
  * as a probe — not part of the shipped surface.
  *
  * Usage: sbt "Test/runMain graft.tools.WinnowDiag"
  */
object WinnowDiag {
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(label: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"[diag] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.1")

    // ---- r20 A/Bs: where exactly do the branch recomputes cost? ----
    // The r19 B″ A/B checkpointed the EXPLODED fps relation (lost).
    // Untested variants: checkpoint only the tiny hot list (the hot agg
    // is computed once per self-join branch today), and — for the clean
    // composition — checkpoint the removeBoilerplate output (the whole
    // strip pipeline is replicated 4× in q_winnow_clean's plan today).
    if (args.headOption.contains("r20")) { r20(spark, docs); spark.stop(); return }

    val k = 5; val w = 4
    val n = length(col("text"))
    val grams = transform(sequence(lit(0), n - k),
      i => col("text").substr(i + lit(1), lit(k)))
    val fpsArr = element_at(
      transform(array(grams), gms =>
        array_distinct(transform(sequence(lit(0), size(gms) - w),
          p => array_min(slice(gms, p + lit(1), lit(w)))))),
      1)
    val fps = graft.operators.Spread
      .toCores(docs.filter(n >= k + w - 1))
      .select(col("doc_id"), explode(fpsArr).as("fp"))

    // warm codegen
    force(fps.limit(1))

    time("fps compute (noop)") { force(fps) }
    time("fps compute rep2") { force(fps) }
    val buckets = fps.groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    time("buckets collect (noop)") { force(buckets) }

    // pair tail: the chunk-block shape deleted from Dedup in r19
    // (value-ordered 256-id chunks, (i <= j) block grid) — kept here as
    // the only surviving record of that measured-slower variant
    val chunk = 256
    val blocks = flatten(transform(
      sequence(lit(0), col("nc") - 1),
      i => transform(sequence(i, col("nc") - 1),
        j => struct(i.as("i"), j.as("j")))))
    def tail(width: Int): DataFrame = buckets
      .select(array_sort(col("ds")).as("ds"),
        ceil(size(col("ds")) / lit(chunk.toDouble)).cast("int").as("nc"))
      .select(col("ds"), explode(blocks).as("b"))
      .select(
        slice(col("ds"), col("b.i") * chunk + 1, lit(chunk)).as("ca"),
        slice(col("ds"), col("b.j") * chunk + 1, lit(chunk)).as("cb"),
        (col("b.i") === col("b.j")).as("diag"))
      .repartition(width)
      .select(col("cb"), col("diag"), explode(col("ca")).as("a"))
      .select(col("a"), col("diag"), explode(col("cb")).as("b"))
      .filter(!col("diag") || col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 2)
    // expansion WITHOUT the final count agg: how much is generate vs agg
    def expandOnly(width: Int): DataFrame = buckets
      .select(array_sort(col("ds")).as("ds"),
        ceil(size(col("ds")) / lit(chunk.toDouble)).cast("int").as("nc"))
      .select(col("ds"), explode(blocks).as("b"))
      .select(
        slice(col("ds"), col("b.i") * chunk + 1, lit(chunk)).as("ca"),
        slice(col("ds"), col("b.j") * chunk + 1, lit(chunk)).as("cb"),
        (col("b.i") === col("b.j")).as("diag"))
      .repartition(width)
      .select(col("cb"), col("diag"), explode(col("ca")).as("a"))
      .select(col("a"), col("diag"), explode(col("cb")).as("b"))
      .filter(!col("diag") || col("a") < col("b"))
      .select(col("a"), col("b"))
    time("expand only w=128") { force(expandOnly(128)) }
    time("pair tail w=128") { force(tail(128)) }
    time("pair tail w=128 rep2") { force(tail(128)) }
    time("pair tail w=32") { force(tail(32)) }

    // old shape for comparison: plain double-explode per bucket
    def oldTail(width: Int): DataFrame = buckets
      .repartition(width)
      .select(col("ds"), explode(col("ds")).as("a"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 2)
    time("old tail w=128") { force(oldTail(128)) }
    time("old tail w=128 rep2") { force(oldTail(128)) }

    // the pre-r19 join tail: fps self-join on fp + a<b + groupBy count
    def joinTail(): DataFrame = {
      fps.select(col("fp"), col("doc_id").as("a"))
        .join(fps.select(col("fp").as("r_fp"), col("doc_id").as("b")),
          col("fp") === col("r_fp") && col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 2)
    }
    time("join tail") { force(joinTail()) }
    time("join tail rep2") { force(joinTail()) }
    time("pair tail w=64") { force(tail(64)) }

    // production (hashed, capped) END-TO-END variants, fingerprinting
    // included — the hot-filter plumbing question: shipped shape
    // (localCheckpoint + hot agg + broadcast anti-join) vs a
    // count-over-window filter that rides the self-join's own fp
    // exchange (no checkpoint, no second agg) vs the anti-join shape
    // without the checkpoint (fingerprints recomputed per branch).
    val maxBucket = 1024
    def pfpsRaw() = graft.operators.Spread.toCores(docs).select(col("doc_id"),
      explode(graft.functions.TextHashExpressions
        .winnow_fingerprint(col("text"), 5, 4)).as("fp"))
    def pairTail(kept: DataFrame): DataFrame =
      kept.select(col("fp"), col("doc_id").as("a"))
        .join(kept.select(col("fp").as("r_fp"), col("doc_id").as("b")),
          col("fp") === col("r_fp") && col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 2)
    def prodShipped(): DataFrame = {
      val pfps = pfpsRaw().localCheckpoint()
      val phot = pfps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") > maxBucket)
        .select("fp")
      pairTail(pfps.join(phot, Seq("fp"), "left_anti"))
    }
    def prodWindow(): DataFrame = {
      val win = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      pairTail(pfpsRaw()
        .withColumn("c", count(lit(1)).over(win))
        .filter(col("c") <= maxBucket).drop("c"))
    }
    def prodNoCkpt(): DataFrame = {
      val pfps = pfpsRaw()
      val phot = pfps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") > maxBucket)
        .select("fp")
      pairTail(pfps.join(phot, Seq("fp"), "left_anti"))
    }
    time("prod shipped e2e") { force(prodShipped()) }
    time("prod shipped e2e rep2") { force(prodShipped()) }
    time("prod window e2e") { force(prodWindow()) }
    time("prod window e2e rep2") { force(prodWindow()) }
    time("prod nockpt e2e") { force(prodNoCkpt()) }
    time("prod nockpt e2e rep2") { force(prodNoCkpt()) }
    spark.stop()
  }

  private def r20(spark: SparkSession, docs: DataFrame): Unit = {
    val maxBucket = 1024

    def pairTail(kept: DataFrame, minShared: Int = 2): DataFrame =
      kept.select(col("fp"), col("doc_id").as("a"))
        .join(kept.select(col("fp").as("r_fp"), col("doc_id").as("b")),
          col("fp") === col("r_fp") && col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= minShared)

    def hashedFps(in: DataFrame, k: Int, w: Int): DataFrame =
      graft.operators.Spread.toCores(in).select(col("doc_id"),
        explode(graft.functions.TextHashExpressions
          .winnow_fingerprint(col("text"), k, w)).as("fp"))

    def exactFps(in: DataFrame, k: Int, w: Int): DataFrame = {
      val n = length(col("text"))
      val grams = transform(sequence(lit(0), n - k),
        i => col("text").substr(i + lit(1), lit(k)))
      val fpsArr = element_at(
        transform(array(grams), gms =>
          array_distinct(transform(sequence(lit(0), size(gms) - w),
            p => array_min(slice(gms, p + lit(1), lit(w)))))),
        1)
      graft.operators.Spread
        .toCores(in.filter(n >= k + w - 1))
        .select(col("doc_id"), explode(fpsArr).as("fp"))
    }

    def capped(fps: DataFrame, hotCkpt: Boolean): DataFrame = {
      val hot0 = fps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") > maxBucket)
        .select("fp")
      val hot = if (hotCkpt) hot0.localCheckpoint() else hot0
      fps.join(hot, Seq("fp"), "left_anti")
    }

    def cleanDocs(): DataFrame = graft.llm.TextOps
      .removeBoilerplate(docs, " merge ", minDocs = 2)
      .select(col("doc_id"), col("clean_text").as("text"))

    // warm codegen once
    force(pairTail(capped(hashedFps(docs, 5, 4), hotCkpt = false)).limit(1))

    for (rep <- 1 to 3) {
      // q_winnow_overlap shape: hashed fps, capped
      time(s"ovl shipped (nockpt) r$rep") {
        force(pairTail(capped(hashedFps(docs, 5, 4), hotCkpt = false))) }
      time(s"ovl hotCkpt r$rep") {
        force(pairTail(capped(hashedFps(docs, 5, 4), hotCkpt = true))) }
      // q_winnow_clean shape: strip, then hashed k=25/w=8 capped
      time(s"cln shipped r$rep") {
        force(pairTail(capped(hashedFps(cleanDocs(), 25, 8), hotCkpt = false))) }
      time(s"cln cleanCkpt r$rep") {
        force(pairTail(capped(
          hashedFps(cleanDocs().localCheckpoint(), 25, 8), hotCkpt = false))) }
      time(s"cln bothCkpt r$rep") {
        force(pairTail(capped(
          hashedFps(cleanDocs().localCheckpoint(), 25, 8), hotCkpt = true))) }
      // q_winnow_overlap_exact shape: string fps, uncapped
      time(s"exact shipped r$rep") {
        force(pairTail(exactFps(docs, 5, 4))) }
      time(s"exact fpsCkpt r$rep") {
        force(pairTail(exactFps(docs, 5, 4).localCheckpoint())) }
      // q_winnow_clean_exact shape: strip, then string fps k=25/w=8
      time(s"clnExact shipped r$rep") {
        force(pairTail(exactFps(cleanDocs(), 25, 8))) }
      time(s"clnExact cleanCkpt r$rep") {
        force(pairTail(exactFps(cleanDocs().localCheckpoint(), 25, 8))) }
    }
  }
}
