package graft.perfbench

/** The harness's own arithmetic, kept pure so its tests pin it. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of `xs`; the "inclusive"
    * definition, the same as numpy's default.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest of the usual report percentiles that leaves at least ten
    * of `n` samples above it; None below 20 samples.
    */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) >= 1000)

  /** Failed operations of a batch run: every execution that threw, plus
    * every remaining execution of a query whose output check failed.
    */
  def batchFailures(executions: Seq[(String, Boolean)], checkFailed: Set[String]): Long =
    executions.count { case (name, ok) => !ok || checkFailed.contains(name) }.toLong

  /** A finished micro-batch: its id, input rows, and when its sink write
    * ended.
    */
  final case class Trigger(batchId: Long, inputRows: Long, endUs: Long)

  /** For each file (in consumption order, with its row count), the index
    * into `triggers` of the micro-batch that consumed it, or None when no
    * trigger reached it. The file source consumes whole files in order, so
    * file i is consumed by the first trigger whose cumulative input rows
    * reach the rows of files 0..i.
    */
  def fileTriggers(fileRows: Seq[Long], triggers: Seq[Trigger]): Seq[Option[Int]] = {
    val cum = triggers.scanLeft(0L)(_ + _.inputRows).tail.toIndexedSeq
    var t = 0
    var need = 0L
    fileRows.map { rows =>
      need += rows
      while (t < cum.size && cum(t) < need) t += 1
      if (t < cum.size) Some(t) else None
    }
  }

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its length minus the part of it that its
    * children cover, with overlapping children counted once and each child
    * clipped to the span.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
