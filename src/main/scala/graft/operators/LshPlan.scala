package graft.operators

/** Banding-parameter planner for minhash LSH (the S-curve analysis of
  * Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" §3.4): with `b`
  * bands of `r` rows, a pair with Jaccard similarity `s` becomes a
  * candidate with probability `P(s) = 1 − (1 − s^r)^b`.
  *
  * Driver-side pure math (runs once to CONFIGURE the cluster-side
  * [[Dedup.minhashPairs]] family, whose banded-join cost at 100 TB is set
  * almost entirely by this choice): because every candidate passes an
  * exact-Jaccard verify, false positives only cost verify work while false
  * negatives are unrecoverable recall loss — so the planner picks, among
  * the divisor pairs of the signature budget, the cheapest layout whose
  * recall at the verify threshold still clears `minRecall`.
  *
  * [[Dedup]] takes its band layout from `plan(32, 0.8)` (8 bands × 4
  * rows), so the constant cannot drift from the analysis that justifies
  * it. */
object LshPlan {

  /** P(pair at similarity `s` shares ≥1 band bucket) = 1 − (1 − s^r)^b. */
  def candidateProbability(b: Int, r: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)

  /** Lower bound on recall for pairs with similarity ≥ `t` (P is monotone
    * increasing in s, so the worst case is exactly at the threshold). */
  def recallAt(b: Int, r: Int, t: Double): Double =
    candidateProbability(b, r, t)

  /** False-positive mass: ∫₀ᵗ P(s) ds on a uniform grid — proportional to
    * the expected wasted verify work under a uniform similarity prior
    * (any monotone prior preserves the argmin ordering in practice). */
  def falsePositiveMass(b: Int, r: Int, t: Double, grid: Int = 1000): Double = {
    val h = t / grid
    (0 until grid).map(i => candidateProbability(b, r, (i + 0.5) * h)).sum * h
  }

  /** All (bands, rows) layouts of exactly `nPerm` signature slots. */
  def layouts(nPerm: Int): Seq[(Int, Int)] =
    (1 to nPerm).filter(nPerm % _ == 0).map(b => (b, nPerm / b))

  /** Choose (bands, rows): the feasible layout (recall at `threshold` ≥
    * `minRecall`) with the least false-positive mass; if none is feasible
    * at this signature budget, the max-recall layout (tie → fewer bands,
    * i.e. cheaper). */
  def plan(nPerm: Int, threshold: Double, minRecall: Double = 0.95): (Int, Int) = {
    require(nPerm >= 1 && threshold > 0.0 && threshold < 1.0)
    val all = layouts(nPerm)
    val feasible = all.filter { case (b, r) => recallAt(b, r, threshold) >= minRecall }
    if (feasible.nonEmpty)
      feasible.minBy { case (b, r) => (falsePositiveMass(b, r, threshold), b) }
    else
      all.maxBy { case (b, r) => (recallAt(b, r, threshold), -b) }
  }
}
