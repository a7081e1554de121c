package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.llm.TextOps
import graft.model.Tables

/** Measures the exact-vs-Bloom decontamination crossover
  * decontaminateAuto decides on (r14, seventh adaptive element): the
  * Bloom prefilter pays a fixed benchmark build (distinct + count +
  * Bloom aggregate + broadcast) plus a second corpus scan to delete the
  * corpus-shingle shuffle; the exact join scans once but shuffles every
  * exploded shingle. Runs both plans and the auto per corpus (benchmark
  * = the doc_id%10==0 slice, same fixture split as q_decontaminate) and
  * prints the auto's pick beside its statsBytes estimate, so the
  * default `corpusBytesThreshold` is anchored to a measured crossover,
  * not an assertion.
  *
  * Usage: sbt "Test/runMain graft.tools.DecontamProbe [dir ...]"
  * (default: /root/testdata/sf0.01 /root/testdata/sf0.1
  * target/scaledata/sf1 target/scaledata/sf10).
  */
object DecontamProbe {

  private def force(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1",
        "target/scaledata/sf1", "target/scaledata/sf10")
    val spark = graft.Sessions.local()

    for (dir <- dirs) {
      val docs = Tables.documents(spark, dir)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      graft.Sessions.autosizeFor(corpus)
      val bytes = graft.Sessions.statsBytes(corpus)
      force(corpus.select("doc_id")) // warm the scan path once per corpus
      val tExact = force(
        TextOps.decontaminate(corpus, bench, 0.2).select("doc_id"))
      val tBloom = force(
        TextOps.decontaminateBloom(corpus, bench, 0.2).select("doc_id"))
      graft.Sessions.clearDecisions()
      val tAuto = force(
        TextOps.decontaminateAuto(corpus, bench, 0.2).select("doc_id"))
      val d = graft.Sessions.decisions
        .filter(_.op == "decontaminateAuto").last
      println(f"[decontam] $dir%-28s corpusBytes=$bytes%11d  " +
        f"exact=$tExact%7.2f s  bloom=$tBloom%7.2f s  " +
        f"auto=$tAuto%7.2f s (pick=${d.choice}, share=${d.estimate}%.3f)")
      // Low-overlap leg: a vowel-substituted benchmark shares ~no
      // shingles with the corpus, so the prefilter's survivor set is
      // ~empty — the BEST case for Bloom (max shuffle deleted). If the
      // exact join still wins here, the prefilter cannot pay at this
      // corpus size on any hit rate.
      val benchDisjoint = bench.withColumn("text",
        org.apache.spark.sql.functions.translate(col("text"), "aeiou", "01234"))
      val tExactLo = force(
        TextOps.decontaminate(corpus, benchDisjoint, 0.2).select("doc_id"))
      val tBloomLo = force(
        TextOps.decontaminateBloom(corpus, benchDisjoint, 0.2).select("doc_id"))
      graft.Sessions.clearDecisions()
      val tAutoLo = force(
        TextOps.decontaminateAuto(corpus, benchDisjoint, 0.2).select("doc_id"))
      val dLo = graft.Sessions.decisions
        .filter(_.op == "decontaminateAuto").last
      println(f"[decontam] $dir%-28s   low-overlap benchmark:       " +
        f"exact=$tExactLo%7.2f s  bloom=$tBloomLo%7.2f s  " +
        f"auto=$tAutoLo%7.2f s (pick=${dLo.choice}, share=${dLo.estimate}%.3f)")
    }
    spark.stop()
  }
}
