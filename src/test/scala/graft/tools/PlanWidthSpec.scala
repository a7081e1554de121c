package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** In-suite gate over the WIDTH dimension of the committed plan audits
  * (r14 VERDICT #4): the decade artifacts used to pin plan STRATEGY at
  * a fixed shuffle width, while the per-query width choices —
  * `Sessions.autosizeFor`'s third-decade lesson — left no artifact. A
  * wrong width at 100× is as expensive as a wrong strategy, so the
  * audit now records (leafBytes, autoWidth) per query and this spec
  * pins the two properties a sizing policy must have:
  *
  *  1. self-consistency — every recorded width IS what the sizing
  *     function derives from the recorded leaf bytes at the audit
  *     session's core floor (an artifact regenerated with a drifted
  *     sizing function fails here);
  *  2. decade monotonicity — per query, width(sf0.01) ≤ width(sf1) ≤
  *     width(sf10), never below the core floor, and the decade
  *     actually MOVES the knob (widths strictly grow for most of the
  *     audited subset; a constant column would mean the stats feed is
  *     broken, not that sizing is conservative).
  */
class PlanWidthSpec extends AnyFunSuite {

  private val floor = 8L // the audits are generated with SPARK_GRAFT_CPUS=8

  test("PLANS.json widths: at the core floor or above, and consistent " +
    "with the sizing function applied to the recorded leaf bytes") {
    val rows = PlanArtifacts.read("PLANS.json")
      .collect { case (q, m) if m.contains("autoWidth") =>
        q -> (m("autoWidth"), m("leafBytes")) }
    assert(rows.size >= 190, s"only ${rows.size} audited widths found")
    rows.foreach { case (q, (w, b)) =>
      assert(w >= floor, s"$q: width $w below the core floor")
      assert(w == graft.Sessions.shufflePartitionsFor(b, floor.toInt),
        s"$q: artifact width $w != sizing(leafBytes=$b)")
    }
  }

  test("decade audits: width grows with leaf bytes across sf0.01 -> sf1 " +
    "-> sf10 and never drops below the floor") {
    val small = PlanArtifacts.read("PLANS.json")
    val sf1 = PlanArtifacts.read("PLANS_sf1.json")
    val sf10 = PlanArtifacts.read("PLANS_sf10.json")
    val common = sf1.keySet intersect sf10.keySet intersect small.keySet
    val audited = common.filter(q => Seq(small, sf1, sf10)
      .forall(_(q).contains("autoWidth")))
    assert(audited.size >= 15, s"only ${audited.size} common audited queries")
    audited.foreach { q =>
      val (a, b, c) =
        (small(q)("autoWidth"), sf1(q)("autoWidth"), sf10(q)("autoWidth"))
      assert(a >= floor && b >= floor && c >= floor, s"$q: below floor ($a,$b,$c)")
      assert(a <= b && b <= c, s"$q: width not monotone with SF ($a,$b,$c)")
    }
    // the knob must actually move: at the decade SFs the audited
    // queries scan 10-1000x the base bytes, so most widths must grow
    // strictly somewhere along the chain
    val strictly = audited.count { q =>
      small(q)("autoWidth") < sf10(q)("autoWidth")
    }
    assert(strictly * 2 >= audited.size,
      s"only $strictly of ${audited.size} widths grew across two decades")
  }
}
