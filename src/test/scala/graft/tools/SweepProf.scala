package graft.tools

import org.apache.spark.sql.DataFrame

/** Fresh-JVM sweep over every benched query at sf0.1 — the
  * whole-suite version of [[ProfileQuery]]'s judge-methodology audit
  * (cold JVM, per-query sf0.001 warmup, one timed run each). Run before
  * a round ends to catch in-suite-masked perf cliffs:
  *
  *   sbt "Test/runMain graft.tools.SweepProf"
  *
  * Round-11 reference: 71.9 s total / 89 queries; only
  * q_winnow_overlap_exact (14.9 s, all-pairs oracle twin by design) and
  * q_winnow_overlap (5.1 s, 12.5 M output pairs) exceed 2.7 s.
  */
object SweepProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val dir = "/root/testdata/sf0.1"
    val results = graft.SparkEntry.benchQueries.flatMap { q =>
      graft.SparkEntry.queries.get(q).map { f =>
        try {
          // once-per-corpus provisioning (index writes) runs UNTIMED,
          // mirroring Bench (r15 VERDICT #6): without this the timed
          // rep of a provisioned query charges the one-time ingest
          // write to the query (q_zorder_versioned read 4.24 s here vs
          // 0.19 s on the ledger before the fix, r19)
          graft.SparkEntry.provisions.get(q).foreach(_(spark, dir))
          force(f(spark, "/root/testdata/sf0.001")) // codegen warmup
          val t0 = System.nanoTime()
          force(f(spark, dir))
          q -> (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable => println(s"[sweep] $q ERROR ${e.getMessage.take(120)}"); q -> -1.0 }
      }
    }
    println("[sweep] ==== slowest ====")
    results.sortBy(-_._2).take(20).foreach { case (q, s) => println(f"[sweep] $q%-32s $s%7.2f s") }
    println(f"[sweep] total ${results.map(_._2).filter(_ > 0).sum}%7.1f s over ${results.size} queries")
    spark.stop()
  }
}
