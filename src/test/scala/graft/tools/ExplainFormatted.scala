package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Writes `.explain("formatted")` output for named SparkEntry queries to
  * files — the optimization rounds' committed plan evidence
  * (plans/r{N}/<query>_{before,after}.txt). Plan-only: nothing executes,
  * so it is safe to run while the box is busy and at any SF.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.ExplainFormatted <sfDir> <outDir> <suffix> <q1,q2,...>"
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object ExplainFormatted {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: ExplainFormatted <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(dir, outDir, suffix, csv) = args
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    csv.split(",").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/${q}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
