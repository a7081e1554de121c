package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile is the highest that keeps ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(999).contains(95))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(199).contains(90))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(39).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("the stream's fixed tail percentile keeps ten live files beyond it") {
    assert(Stats.tailPercentile(Flagship.MinLiveFiles).exists(_ >= Flagship.TailPct))
  }

  test("the geometric mean weighs ratios alike") {
    assert(math.abs(Stats.geoMean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geoMean(Seq(0.5, 2.0, 1.0)) - 1.0) < 1e-12)
    // doubling one of ten queries moves the figure by 2^(1/10)
    val base = Seq.tabulate(10)(i => 0.1 * (i + 1))
    val slower = base.updated(3, base(3) * 2)
    assert(math.abs(Stats.geoMean(slower) / Stats.geoMean(base) - math.pow(2, 0.1)) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geoMean(Seq(1.0, 0.0)))
  }

  test("the catalog mix takes the middle rank of each latency decile") {
    val lat = Seq.tabulate(96)(i => f"q$i%02d" -> (96 - i).toDouble)  // q95 is fastest
    val mix = MixSurvey.pick(lat)
    assert(mix.size == 10)
    // deciles of 9 or 10 ranks: [0,9) [9,19) [19,28) ... [86,96), fastest first
    assert(mix.head == "q91" && mix.last == "q05")
    assert(mix.map(n => lat.toMap.apply(n)) == mix.map(n => lat.toMap.apply(n)).sorted)
    assert(MixSurvey.pick(Seq.tabulate(10)(i => s"q$i" -> i.toDouble)) ==
      Seq.tabulate(10)(i => s"q$i"))
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
  }

  test("live files map to the first trigger whose cumulative rows reach them") {
    val t = Seq(
      Stats.Trigger(0, 300, 10),   // files 0-2
      Stats.Trigger(1, 0, 20),     // a no-data batch
      Stats.Trigger(2, 100, 30),   // file 3
      Stats.Trigger(3, 200, 40))   // files 4-5
    val got = Stats.fileTriggers(Seq.fill(7)(100L), t)
    assert(got == Seq(Some(0), Some(0), Some(0), Some(2), Some(3), Some(3), None))
  }

  test("files of unequal size map by cumulative rows") {
    val t = Seq(Stats.Trigger(0, 150, 1), Stats.Trigger(1, 50, 2))
    assert(Stats.fileTriggers(Seq(100L, 50L, 50L), t) == Seq(Some(0), Some(0), Some(1)))
  }

  test("self time subtracts overlapping children once and clips them to the span") {
    // span [0, 100); children [10, 40) and [30, 60) overlap on [30, 40);
    // [90, 120) sticks out past the span's end
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L), (90L, 120L))) == 40)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (20L, 30L))) == 0)
    assert(Stats.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L), (10L, 12L))) == 5)
  }

  test("self times partition the trace: deeper spans own overlaps, overlaps count once") {
    val spans = Seq(
      Span("a", "op", 0, 100),
      Span("a", "entry.build", 0, 30),
      Span("a", "scheduler.action", 30, 100),
      Span("a", "scheduler.job", 40, 90),
      Span("a", "exec.tasks", 45, 70),
      Span("a", "exec.tasks", 60, 95),    // overlaps its sibling, outlasts its job
      Span("a", "scheduler.job", 50, 80), // a concurrent job inside the first
      Span("b", "op", 50, 60))            // another trace never nests under "a"
    val tree = SelfTimes.tree(spans)
    val self = tree.map { case (s, _, st) => (s.trace, s.name, s.startUs) -> st }.toMap
    assert(self(("a", "op", 0)) == 0)
    assert(self(("a", "entry.build", 0)) == 30)
    assert(self(("a", "scheduler.action", 30)) == 15)
    assert(self(("a", "scheduler.job", 40)) == 5)
    assert(self(("a", "scheduler.job", 50)) == 0)
    assert(self(("a", "exec.tasks", 45)) == 25)
    assert(self(("a", "exec.tasks", 60)) == 25)
    assert(self(("b", "op", 50)) == 10)
    assert(tree.filter(_._1.trace == "a").map(_._3).sum == 100)
    def parentOf(name: String, start: Long) = tree.collectFirst {
      case (s, p, _) if s.name == name && s.startUs == start =>
        if (p < 0) "" else tree(p)._1.name
    }.get
    assert(parentOf("op", 0) == "")
    assert(parentOf("scheduler.job", 40) == "scheduler.action")
    assert(parentOf("scheduler.job", 50) == "scheduler.action")
    assert(parentOf("exec.tasks", 60) == "scheduler.job")
  }

  test("failures count throws and every execution of a query that failed its check") {
    val execs = Seq("q1" -> true, "q2" -> false, "q1" -> true, "q3" -> true, "q2" -> true)
    assert(Stats.batchFailures(execs, Set.empty) == 1)
    assert(Stats.batchFailures(execs, Set("q1")) == 3)
    assert(Stats.batchFailures(execs, Set("q2")) == 2)
    assert(Stats.batchFailures(execs, Set("q1", "q2", "q3")) == 5)
  }
}
