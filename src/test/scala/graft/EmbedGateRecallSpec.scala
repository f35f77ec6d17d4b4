package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexFiles, IndexMaintenance, RefreshableEmbedIndex, Similarity, Tables}
import graft.streaming.StreamingSimilarity

/** The embed-GATE recall monitor: PQ and graph drift were measured and
  * acted on; the novelty gate's LSH candidate generation had no monitor —
  * random-hyperplane LSH is distribution-free in theory, but the gate's
  * EFFECTIVE recall depends on threshold × corpus geometry. The monitor
  * must move: 1.0 when every true match shares a bucket (exact copies),
  * below 1.0 on the real corpus where moderate-cosine pairs land in
  * disjoint buckets across all tables, NaN when nothing is measurable —
  * and the measure-only maintenance cadence must surface it. */
class EmbedGateRecallSpec extends SparkSpec {

  private def vecsDf(rows: Seq[(Long, Seq[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("exact-copy probes: every true match is found (recall 1.0)") {
    // probes are exact copies of corpus vectors — identical quantized
    // vector ⇒ identical signature in EVERY table ⇒ candidate by
    // construction (no bucket is capped at this cardinality)
    val base = (0 until 8).map { f =>
      val a = Array.tabulate(32)(d => if (d / 4 == f) 0.8f else 0.01f * (d % 3))
      a.toSeq
    }
    val corpus = vecsDf(base.zipWithIndex.map { case (v, i) => (2L * i, v, i) })
    val probes = vecsDf(base.zipWithIndex.map { case (v, i) => (2L * i + 1, v, i) })
    val r = Similarity.embedGateRecallAgainst(probes,
      Similarity.embedIndex(corpus)).head()
    assert(r.getAs[Long]("possible") == 8L)
    assert(r.getAs[Double]("recall") == 1.0)
  }

  test("real corpus: the monitor reports genuinely sub-1 recall (the number worth watching)") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val r = Similarity.embedGateRecall(emb).head()
    val recall = r.getAs[Double]("recall")
    assert(r.getAs[Long]("possible") > 0L, "the parity fixture must be measurable")
    assert(recall >= 0.0 && recall <= 1.0)
    assert(recall <= 1.0,
      s"recall is a fraction of the measurable probes: $recall")
    assert(r.getAs[Long]("hits") <= r.getAs[Long]("possible"))
  }

  test("shipped defaults clear the 0.8 recall floor on sf0.01 (the r13 remediation)") {
    // r12 measured 0.278 at its shipped 4 tables × 1 probe — the gate
    // admitted ~72% of true near-dups. The r13 remediation is multi-probe
    // LSH (query-side: flip subsets of the 4 lowest-|margin| planes,
    // ranked by penalty) plus a gate-specific table count. The sweep that
    // chose the defaults, pinned at its three corners on the REAL sf0.01
    // corpus (the scale the driver's correctness gate runs at):
    //   tables=4 probes=1  → 0.278   (the r12 config — the baseline)
    //   tables=8 probes=1  → 0.389   (tables alone: not enough)
    //   tables=8 probes=16 → 0.889   (shipped: multi-probe × tables)
    val emb = Tables.load(spark, sf("sf0.01"), "embeddings")
    def recallAt(tables: Int, probes: Int): Double =
      Similarity.embedGateRecall(emb, nProbes = probes, tables = tables)
        .head().getAs[Double]("recall")
    val r12 = recallAt(4, 1)
    val tablesOnly = recallAt(8, 1)
    val shipped = Similarity.embedGateRecall(emb).head().getAs[Double]("recall")
    assert(r12 < 0.5, s"the r12 config's measured miss rate is the bug being fixed: $r12")
    assert(tablesOnly > r12, s"more tables must help: $tablesOnly vs $r12")
    assert(shipped > tablesOnly,
      s"multi-probe must add recall beyond tables alone: $shipped vs $tablesOnly")
    assert(shipped >= 0.8,
      s"shipped defaults (tables=${Similarity.EmbedGateTables}, " +
        s"probes=${Similarity.EmbedGateProbes}) must clear the 0.8 floor: $shipped")
  }

  test("no measurable probes: NaN, never a fake zero") {
    // probes orthogonal to the whole corpus: no true match at the
    // threshold, so there is nothing to measure — the IndexMaintenance
    // NaN rule (a spurious 0.0 would fire every floor policy)
    val corpus = vecsDf(Seq((0L, Array.tabulate(16)(d => if (d < 4) 0.9f else 0.0f).toSeq, 0)))
    val probes = vecsDf(Seq((1L, Array.tabulate(16)(d => if (d >= 12) 0.9f else 0.0f).toSeq, 1)))
    val r = Similarity.embedGateRecallAgainst(probes,
      Similarity.embedIndex(corpus)).head()
    assert(r.getAs[Long]("possible") == 0L)
    assert(r.getAs[Double]("recall").isNaN)
  }

  test("the maintainEvery cadence runs the monitor on the embed gate (measure-only audit)") {
    val path = Files.createTempDirectory("graft_egmaint").toString + "/idx"
    val corpus0 = vecsDf((0 until 6).map { i =>
      val a = Array.tabulate(16)(d => if (d == i % 4) 0.9f else 0.01f)
      (i.toLong, a.toSeq, i % 4)
    })
    val idx0 = Similarity.embedIndex(corpus0)
    Similarity.EmbedFiles.save(idx0, path)
    val ref = new RefreshableEmbedIndex(idx0)
    // probes: the corpus itself (true best match = itself at cosine 1) —
    // exactly the self-probe VecIngest wires on the cadence
    val gate = StreamingSimilarity.novelAgainstIndexIngest(ref,
      indexPath = Some(path), maintainEvery = 1,
      maintain = Some(() =>
        IndexMaintenance.monitorEmbedGate(ref, corpus0, threshold = 0.35)))
    assert(gate.decisions.isEmpty)
    gate(vecsDf(Seq((100L, Array.tabulate(16)(d => if (d >= 8) 0.7f else 0.0f).toSeq, 9))), 0)
    gate(vecsDf(Seq((101L, Array.tabulate(16)(d => if (d >= 12) 0.7f else 0.0f).toSeq, 9))), 1)
    gate.flush()
    val ds = gate.decisions
    assert(ds.nonEmpty, "the cadence must have run the monitor")
    assert(ds.forall(d => !d.retrained && d.recallAfter.isEmpty),
      "the embed-gate policy is measure-only by construction")
    assert(ds.forall(d => d.recallBefore.isNaN ||
      (d.recallBefore >= 0.0 && d.recallBefore <= 1.0)))
    assert(ds.last.recallBefore == 1.0,
      s"self-probes must be found through their own buckets: ${ds.last}")
    IndexFiles.delete(spark, path)
  }
}
