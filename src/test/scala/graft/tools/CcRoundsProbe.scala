package graft.tools

import org.apache.spark.sql.functions._

/** Measures [[graft.llm.Dedup.resolveClusters]] convergence rounds vs
  * pair-graph diameter — the r15 VERDICT #4 evidence table. The old
  * min-label propagation needed exactly `diameter` shuffle rounds (and
  * threw past 50); alternating large/small-star contraction must stay
  * ~log₂(diameter). Shapes probed per diameter d:
  *  - a single d-node PATH (worst case: diameter = d−1);
  *  - 1000 parallel 4-node chains (the realistic dup-cluster shape) at
  *    the same edge volume, to show rounds follow the DEEPEST
  *    component, not graph size.
  *
  * Usage: sbt "Test/runMain graft.tools.CcRoundsProbe [maxDiameter]"
  * Prints one table row per shape: diameter, nodes, rounds, seconds.
  */
object CcRoundsProbe {
  def main(args: Array[String]): Unit = {
    val maxD = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.Sessions.local()

    def rounds(pairs: org.apache.spark.sql.DataFrame): (Int, Long, Double) = {
      graft.Sessions.clearDecisions()
      val t0 = System.nanoTime()
      val out = graft.llm.Dedup.resolveClusters(pairs, maxIter = 64)
      val keeps = out.filter(col("keep")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val r = graft.Sessions.decisions.filter(_.op == "resolveClusters")
        .last.estimate.toInt
      (r, keeps, sec)
    }

    println(f"${"shape"}%-28s ${"diam"}%8s ${"nodes"}%9s ${"rounds"}%6s " +
      f"${"log2(d)"}%8s ${"keeps"}%7s ${"sec"}%7s")
    for (d <- Seq(16, 256, 4096, 65536).filter(_ <= maxD)) {
      val path = spark.range(1L, d.toLong)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      val (r, k, s) = rounds(path)
      println(f"path-$d%-22s ${d - 1}%8d $d%9d $r%6d " +
        f"${math.log(d.toDouble) / math.log(2.0)}%8.1f $k%7d $s%7.1f")
    }
    // realistic shape: many SHALLOW clusters at once (chains of 4)
    val chains = spark.range(0L, 3000L)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
      .filter(col("id") % 4 =!= 3) // break into 750 disjoint 4-node chains
    val (r2, k2, s2) = rounds(chains)
    println(f"${"750x chain-4"}%-28s ${3}%8d ${3000}%9d $r2%6d " +
      f"${math.log(4.0) / math.log(2.0)}%8.1f $k2%7d $s2%7.1f")
    spark.stop()
  }
}
