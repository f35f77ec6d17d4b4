package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LshPlan._

/** [[graft.operators.LshPlan]] — the S-curve planner behind the minhash
  * banding constants. Pure math, no Spark session. */
class LshPlanSpec extends AnyFunSuite {

  test("candidate probability is a proper S-curve: monotone in s, 0 at 0, 1 at 1") {
    val ps = (0 to 20).map(i => candidateProbability(8, 4, i / 20.0))
    assert(ps.head == 0.0 && math.abs(ps.last - 1.0) < 1e-12)
    ps.sliding(2).foreach { case Seq(a, b) => assert(a <= b); case _ => }
  }

  test("shipped Dedup constants are the planner's own choice for threshold 0.8") {
    assert(plan(32, 0.8) == ((8, 4)))
    assert(recallAt(8, 4, 0.8) > 0.98)
  }

  test("layouts multiply back to the budget and the plan is one of them") {
    for (n <- Seq(16, 32, 64, 128)) {
      assert(layouts(n).forall { case (b, r) => b * r == n })
      assert(layouts(n).contains(plan(n, 0.7)))
    }
  }

  test("a higher threshold shifts the choice toward more rows per band") {
    val (_, rLow) = plan(64, 0.5)
    val (_, rHigh) = plan(64, 0.9)
    assert(rHigh >= rLow, s"rows per band should not shrink as the threshold rises ($rLow -> $rHigh)")
  }

  test("feasible plans always clear the recall floor") {
    for (n <- Seq(32, 64); t <- Seq(0.6, 0.7, 0.8)) {
      val (b, r) = plan(n, t)
      val best = layouts(n).map { case (bb, rr) => recallAt(bb, rr, t) }.max
      assert(recallAt(b, r, t) >= math.min(0.95, best) - 1e-12)
    }
  }

  test("infeasible budget degrades to the max-recall layout") {
    // 2 hashes at a 0.95 threshold: nothing reaches 95% recall
    val (b, r) = plan(2, 0.95)
    val best = layouts(2).maxBy { case (bb, rr) => recallAt(bb, rr, 0.95) }
    assert(recallAt(b, r, 0.95) == recallAt(best._1, best._2, 0.95))
  }
}
