package graft.tools

/** Single-query plan-stability checker: run one query N times (fresh
  * `newSession` each rep, same JVM), print the PlanAudit counts per rep,
  * and dump each rep's final plan to /tmp/qplan_<i>.txt for diffing.
  * This is the adjudication tool for a plan_diff flag: a count that
  * differs ACROSS REPS here is AQE nondeterminism (e.g. a build-side
  * pick racing on near-equal sides — how the q_fuzzy_match cap join was
  * caught and then pinned), not a regression introduced by the diffed
  * commit.
  *
  * Usage: sbt "Test/runMain graft.tools.PlanLoop <query> [reps] [sfDir]"
  */
object PlanLoop {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(6)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.local(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.maxMetadataStringLength" -> "10000")
    for (i <- 1 to reps) {
      val df = graft.SparkEntry.queries(q)(spark.newSession(), dir)
      df.collect()
      val txt = PlanAudit.finalPlanText(df)
      val c = PlanAudit.countsOf(txt)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"/tmp/qplan_$i.txt"), txt.getBytes("UTF-8"))
      println(s"run $i: nodes=${c.codegenNodes} sx=${c.shuffleExchanges} " +
        s"bx=${c.broadcastExchanges} smj=${c.sortMergeJoins} " +
        s"bhj=${c.broadcastHashJoins} empty=${c.emptyRelations}")
    }
    spark.stop()
  }
}
