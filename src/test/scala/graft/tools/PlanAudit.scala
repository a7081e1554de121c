package graft.tools

/** Whole-suite physical-plan audit: runs every batch query at a small
  * SF (noop sink, so AQE finalizes its runtime decisions), extracts
  * plan-health counts from the FINAL plan, and writes one deterministic
  * JSON object per query to `PLANS.json` — the ".explain and iterate
  * until it's the plan you'd want" mandate made systematic and
  * diffable: a join silently degrading from broadcast to sort-merge, a
  * new exchange sneaking into a pipeline, or a scan losing its pushed
  * filters shows up as a count diff against the committed artifact
  * (tools/plan_diff.py), the same way a perf regression shows up in
  * BENCH. Streaming queries are skipped (their construction executes
  * the stream; their plan shape is covered by batch twins + the
  * streaming specs' sink assertions).
  *
  * Counts are extracted textually from the final-plan dump — the same
  * strings `.explain` shows a human — so the artifact stays stable
  * across Spark's internal exec-class renames as long as the user-facing
  * plan vocabulary is stable.
  *
  * Usage: sbt "Test/runMain graft.tools.PlanAudit [sfDir] [outFile] [onlyCsv]"
  * (defaults /root/testdata/sf0.01 PLANS.json all-queries; `onlyCsv` is a
  * comma-separated query subset for big-SF runs — the decade plan-shape
  * audit in SCALE.md uses it so the full-output queries don't have to
  * run at sf10 to learn that a JOIN's strategy held).
  * sf0.001 is too small to
  * audit: AQE's empty-relation propagation collapses selective joins
  * outright (q19 planned to a single EmptyRelation there), and
  * near-equal tiny sides make broadcast build-side picks racy. sf0.01 is
  * the smallest SF whose plans are shaped like the big-SF plans; the
  * `emptyRelations` count in each row is the canary.
  */
object PlanAudit {

  final case class Counts(
      shuffleExchanges: Int, broadcastExchanges: Int,
      sortMergeJoins: Int, broadcastHashJoins: Int, shuffledHashJoins: Int,
      nestedLoopJoins: Int, cartesianProducts: Int,
      codegenNodes: Int, parquetScans: Int, scansWithPushedFilters: Int,
      emptyRelations: Int, maxScanCols: Int)

  def countsOf(finalPlan: String): Counts = {
    def n(re: String): Int = re.r.findAllMatchIn(finalPlan).length
    Counts(
      // shuffle exchanges print as "Exchange <partitioning>"; the \b
      // excludes Broadcast/ReusedExchange (both end in a word char
      // before "Exchange", so the boundary can't match inside them)
      shuffleExchanges = n("\\bExchange "),
      broadcastExchanges = n("BroadcastExchange"),
      sortMergeJoins = n("SortMergeJoin"),
      broadcastHashJoins = n("BroadcastHashJoin"),
      shuffledHashJoins = n("ShuffledHashJoin"),
      nestedLoopJoins = n("BroadcastNestedLoopJoin"),
      cartesianProducts = n("CartesianProduct"),
      // executedPlan prints codegen membership as "*(id) Node" star
      // notation. We count member NODES, not distinct span ids: under
      // AQE, whether an operator fuses into the adjacent join span or
      // gets its own depends on query-stage materialization ORDER
      // (measured: q_span_trim alternates 10/11 spans run-to-run with
      // an identical 18-node membership), so span count is inherently
      // nondeterministic while node membership — what is and isn't
      // inside whole-stage codegen — is stable and is the audit signal
      // we actually want (a node FALLING OUT of codegen is the
      // regression).
      codegenNodes = n("\\*\\(\\d+\\) "),
      parquetScans = n("FileScan parquet"),
      scansWithPushedFilters =
        n("PushedFilters: \\[[^\\]]"), // non-empty bracket
      // AQEPropagateEmptyRelation replaced a subtree: the audited query
      // produced zero rows somewhere at this SF, so downstream counts
      // (joins, scans) vanish with it. A non-zero value here says "run
      // the audit at a bigger SF before reading anything into this row"
      // — q19's whole join collapsed at sf0.001.
      emptyRelations = n("EmptyRelation"),
      // widest ReadSchema across the query's scans (top-level fields:
      // comma-split tokens containing ':' — robust to decimal(p,s), our
      // scans are flat). Column-pruning regressions show as this number
      // jumping: it caught the salted operators' all-column salt forcing
      // a 6-column events scan (2× the bytes: timestamp + JSON props
      // included) under a 2-column aggregate.
      // [^>\n]: a ReadSchema Spark truncated at maxMetadataStringLength
      // has no closing '>' — an unanchored [^>]* would gobble across
      // lines into the NEXT scan's schema (q9 "counted" 17 columns of an
      // 11-column table that way). Unterminated schemas now simply don't
      // match; the audit session raises the conf so they don't occur.
      maxScanCols = "ReadSchema: struct<([^>\\n]*)>".r
        .findAllMatchIn(finalPlan)
        .map(_.group(1).split(",").count(_.contains(":")))
        .foldLeft(0)(_ max _)
    )
  }

  /** The final (post-AQE) plan text: everything before the echoed
    * initial plan that AdaptiveSparkPlanExec appends after execution.
    */
  def finalPlanText(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.json")
    val spark = graft.Sessions.local(
      "spark.sql.shuffle.partitions" -> "8",
      // default 100 truncates wide ReadSchemas mid-field (lineitem's 11
      // columns overflow it) — print plan metadata in full so the scan
      // width the artifact records is the scan width
      "spark.sql.maxMetadataStringLength" -> "10000")

    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map {
      case (name, _) if name.startsWith("q_stream") =>
        s"""  "$name": {"skipped": "streaming"}"""
      case (name, fn) =>
        try {
          val df = fn(spark, dir)
          // The WIDTH dimension of the decade audits (r14 VERDICT #4):
          // what Sessions.autosizeFor WOULD choose for this query at
          // this SF, from the query's own leaf stats — recorded, not
          // applied, so the plan counts stay pinned at the
          // deterministic fixed width while the per-query sizing
          // choices become a diffable artifact. A wrong width at 100×
          // is as expensive as a wrong strategy; PlanWidthSpec pins
          // that the recorded widths grow with leaf bytes across
          // sf0.01 → sf1 → sf10 and never drop below the core floor.
          val leafBytes = graft.Sessions.statsBytes(df)
          val autoWidth = graft.Sessions.shufflePartitionsFor(
            leafBytes, spark.sparkContext.defaultParallelism)
          // drive df's OWN QueryExecution so AQE finalizes THIS plan —
          // but through toRdd.count(), not collect(): the audit must not
          // materialize a pass-through query's whole output on the
          // driver at big SFs. (A write would finalize a DIFFERENT
          // QueryExecution, the write command's.)
          df.queryExecution.toRdd.count()
          val txt = finalPlanText(df)
          sys.env.get("GRAFT_PLAN_DUMP_DIR").foreach { d =>
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, s"$name.txt"), txt.getBytes("UTF-8"))
          }
          val c = countsOf(txt)
          s"""  "$name": {"shuffleExchanges": ${c.shuffleExchanges}, """ +
            s""""broadcastExchanges": ${c.broadcastExchanges}, """ +
            s""""sortMergeJoins": ${c.sortMergeJoins}, """ +
            s""""broadcastHashJoins": ${c.broadcastHashJoins}, """ +
            s""""shuffledHashJoins": ${c.shuffledHashJoins}, """ +
            s""""nestedLoopJoins": ${c.nestedLoopJoins}, """ +
            s""""cartesianProducts": ${c.cartesianProducts}, """ +
            s""""codegenNodes": ${c.codegenNodes}, """ +
            s""""parquetScans": ${c.parquetScans}, """ +
            s""""scansWithPushedFilters": ${c.scansWithPushedFilters}, """ +
            s""""emptyRelations": ${c.emptyRelations}, """ +
            s""""maxScanCols": ${c.maxScanCols}, """ +
            s""""leafBytes": $leafBytes, """ +
            s""""autoWidth": $autoWidth}"""
        } catch {
          case scala.util.control.NonFatal(e) =>
            s"""  "$name": {"error": "${e.getClass.getSimpleName}"}"""
        }
    }
    val json = rows.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[planaudit] wrote ${rows.length} queries to $out")
    spark.stop()
  }
}
