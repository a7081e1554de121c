package graft.tools

import graft.model.Tables
import graft.operators.WindowOps

/** Measures the hopping-multiplicity estimator's cost with and without
  * the bounded-file-subset I/O cap (r14: the r13 shape pruned ROWS but
  * still streamed two columns of the whole corpus) and asserts the plan
  * pick is unchanged — the r13 VERDICT #2 "done" evidence.
  *
  * Usage: sbt "Test/runMain graft.tools.EstimatorProbe [dir ...]"
  * (defaults to the derived sf10 and sf100 corpora).
  */
object EstimatorProbe {

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("target/scaledata/sf10", "target/scaledata/sf100")
    val spark = graft.Sessions.local()

    for (dir <- dirs) {
      val ev = Tables.events(spark, dir)
      val (view, total, read) =
        graft.Sessions.boundedFileSample(ev, Seq("user_id", "ts"))
      def timed(maxBytes: Long): (Double, Double) = {
        graft.Sessions.clearEstimates()
        val t0 = System.nanoTime()
        val m = WindowOps.hoppingMultiplicity(ev, maxSampleBytes = maxBytes)
        (m, (System.nanoTime() - t0) / 1e9)
      }
      timed(Long.MaxValue) // codegen/file-listing warm, both paths below hot
      timed(64L << 20)
      val (mFull, tFull) = timed(Long.MaxValue)
      val (mBounded, tBounded) = timed(64L << 20)
      val pick = (m: Double) => if (m < 3.0) "preShuffle" else "default"
      println(f"[estprobe] $dir: files read $read/$total  " +
        f"full m=$mFull%.3f ${tFull}%.2fs pick=${pick(mFull)}  " +
        f"bounded m=$mBounded%.3f ${tBounded}%.2fs pick=${pick(mBounded)}")
      assert(pick(mFull) == pick(mBounded), "plan pick changed under the bound")
      val _ = view
    }
    spark.stop()
  }
}
