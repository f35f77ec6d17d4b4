package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{RefreshableKnnGraph, Similarity}

/** kNN-GRAPH LIFECYCLE: the incrementally-folded graph must equal a
  * from-scratch build over the union corpus UNDER THE SAME (frozen)
  * centroids — new-node edges, affected-node re-rank, untouched rows — and
  * the graph consumers (pagerank, quality propagation) must produce
  * from-scratch results when driven off the refreshed holder. (The
  * `knn_graph_refresh` registry row additionally pins the folded edges
  * hash-exact against the DuckDB oracle.) */
class KnnGraphLifecycleSpec extends SparkSpec {

  private def edgeSet(edges: DataFrame): Set[(Long, Long, Double, Long)] =
    edges.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("cos"), r.getAs[Long]("rnk"))).toSet

  test("knnGraphIndex edges equal the knnGraph operator's") {
    val e = operators.Tables.load(spark, sf(), "embeddings")
    assert(edgeSet(Similarity.knnGraphIndex(e).edges) ==
      edgeSet(Similarity.knnGraph(e)))
  }

  test("chained folds equal from-scratch under the frozen centroids; affected nodes really re-rank") {
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val b2 = e.filter(pmod(col("vec_id"), lit(4)) === 2)

    val g0 = Similarity.knnGraphIndex(base)
    val cents = g0.cents
    val baseIds = base.select("vec_id").collect().map(_.getLong(0)).toSet
    val before = edgeSet(g0.edges).filter(t => baseIds(t._1))
    val holder = new RefreshableKnnGraph(g0)
    holder.fold(b1)
    val g2 = holder.fold(b2)

    val union = e.filter(pmod(col("vec_id"), lit(4)) < 3)
    val scratch = Similarity.knnGraphEdgesWith(union, cents)
    assert(edgeSet(g2.edges) == edgeSet(scratch))

    // non-degenerate: the fold displaced some OLD query's neighbor — the
    // affected-node merge path did real work, not just appended new nodes
    val after = edgeSet(g2.edges).filter(t => baseIds(t._1))
    assert(before != after, "a new vector must displace at least one old top-k edge")
    // and some old rows survived verbatim (unaffected path exercised too)
    assert(before.intersect(after).nonEmpty)
  }

  // the PqDriftSpec two-region fixture: the original corpus lives in
  // dims 0-31 (families = shared block + member perturbation, true
  // neighbors = co-members), the shifted batch in dims 32-63 — a region
  // the frozen centroids are near-orthogonal to, so shifted vectors'
  // cell assignments ride noise, co-members scatter across cells, and
  // edge recall decays. knnGraphRecall OBSERVES it; rebuildWith over the
  // union recovers it.
  private def vec(blockStart: Int, f: Int, m: Int, id: Long): (Long, Seq[Float], Int) = {
    val a = Array.fill(64)(0.0f)
    (0 until 64).foreach(d => a(d) = 0.001f * ((id * 13 + d) % 3))
    (0 until 8).foreach { j =>
      a(blockStart + j) = 0.5f + 0.1f * ((f * 7 + j * 3) % 5)
    }
    a((blockStart + (m % 8)).toInt) += 0.01f * (m + 1)
    (id, a.toSeq, f)
  }
  private lazy val driftOriginal = {
    import spark.implicits._
    (for { f <- 0 until 14; m <- 0 until 10 }
      yield vec(8 * (f % 4), f, m, 1000L + f * 10 + m)).toDF("vec_id", "embedding", "label")
  }
  private lazy val driftShifted = {
    import spark.implicits._
    (for { f <- 0 until 5; m <- 0 until 10 }
      yield vec(32 + 8 * (f % 4), f, m, f * 10L + m)).toDF("vec_id", "embedding", "label")
  }

  test("frozen-quantizer drift is measured: recall drops on a shifted batch, rebuild-and-swap recovers") {
    val original = driftOriginal
    val shifted = driftShifted

    // centroidMod 13 → ~11 centroids over the original ids: the shifted
    // vectors (near-orthogonal to every frozen centroid) assign and probe
    // by NOISE across those cells, so co-members scatter beyond the
    // nProbe=2 reach — the measurable failure mode. (At the default 127
    // this corpus would have one centroid: a single cell trivially covers
    // everything and hides the drift.)
    val holder = new RefreshableKnnGraph(
      Similarity.knnGraphIndex(original, centroidMod = 13))
    holder.fold(shifted)
    val frozen = Similarity.knnGraphRecall(holder.current).head()
    val frozenRecall = frozen.getAs[Double]("recall")

    holder.rebuildWith(Similarity.knnGraphIndex(original.unionAll(shifted),
      centroidMod = 13))
    val rebuilt = Similarity.knnGraphRecall(holder.current).head()
    val rebuiltRecall = rebuilt.getAs[Double]("recall")

    assert(frozenRecall + 0.1 <= rebuiltRecall,
      s"rebuild must recover shifted-region recall: frozen $frozenRecall vs rebuilt $rebuiltRecall")
    assert(rebuiltRecall >= 0.75, s"the rebuilt graph must index the shifted region: $rebuiltRecall")
  }

  test("maintenance policy: a floor breach fires the rebuild exactly once, above-floor is measure-only") {
    val holder = new RefreshableKnnGraph(
      Similarity.knnGraphIndex(driftOriginal, centroidMod = 13))
    holder.fold(driftShifted)

    // the %7 sample includes healthy original-region queries, so the
    // aggregate frozen recall sits ~0.83 (only shifted queries decay) —
    // the floor goes between frozen and rebuilt
    val union = driftOriginal.unionAll(driftShifted)
    val d1 = operators.IndexMaintenance.maintainKnnGraph(
      holder, union, floor = 0.9, centroidMod = 13)
    assert(d1.retrained, s"a breach must fire the rebuild: $d1")
    assert(d1.recallBefore < 0.9)
    assert(d1.recallAfter.exists(_ >= 0.9), s"the rebuild must recover: $d1")

    val before = edgeSet(holder.current.edges)
    val d2 = operators.IndexMaintenance.maintainKnnGraph(
      holder, union, floor = 0.9, centroidMod = 13)
    assert(!d2.retrained && d2.recallAfter.isEmpty)
    assert(edgeSet(holder.current.edges) == before,
      "a no-op pass must not touch the graph")
  }

  test("segmented holder: folds across an in-memory compaction equal from-scratch under frozen centroids") {
    // maxSegments=2 over three folds exercises segments before, across,
    // and after a compaction; equality with the from-scratch build proves
    // the tombstone replay (later folds' affected-query ids suppressing
    // earlier segments' superseded edge rows) is exactly latest-wins —
    // including queries re-affected across the compaction boundary.
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val g0 = Similarity.knnGraphIndex(base)
    val cents = g0.cents
    val holder = new RefreshableKnnGraph(g0, maxSegments = 2)
    (1 to 3).foreach(r => holder.fold(e.filter(pmod(col("vec_id"), lit(4)) === r)))
    assert(edgeSet(holder.current.edges) ==
      edgeSet(Similarity.knnGraphEdgesWith(e, cents)))
  }

  test("segmented graph view recomputes nothing per read: no aggregate in any published component plan") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val holder = new RefreshableKnnGraph(
      Similarity.knnGraphIndex(e.filter(pmod(col("vec_id"), lit(4)) === 0)))
    holder.fold(e.filter(pmod(col("vec_id"), lit(4)) === 1))
    val v = holder.current
    Seq("cents" -> v.cents, "qn" -> v.qn, "probes" -> v.probes,
      "edges" -> v.edges).foreach { case (name, df) =>
      val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      assert(aggs.isEmpty,
        s"graph view component '$name' must read checkpointed inputs: $aggs")
    }
  }

  test("persisted base+tombstone-delta round trip ≡ the in-memory fold; compaction and post-compaction folds stay sound") {
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val b2 = e.filter(pmod(col("vec_id"), lit(4)) === 2)
    val path = java.nio.file.Files.createTempDirectory("graft-kg-delta").toString

    Similarity.GraphFiles.save(Similarity.knnGraphIndex(base), path)
    val holder = new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, path))
    holder.fold(b1, deltaPath = Some(path))

    // reload over base+delta (tombstone replay at load) ≡ from-scratch
    // under the frozen base centroids
    val cents = holder.current.cents
    val expected = edgeSet(Similarity.knnGraphEdgesWith(base.unionAll(b1), cents))
    val r1 = Similarity.GraphFiles.load(spark, path)
    assert(edgeSet(r1.edges) == expected,
      "base+delta replay must equal the from-scratch build")
    r1.release()

    // compaction: contents identical, deltas swept
    Similarity.GraphFiles.compact(spark, path)
    assert(graft.operators.IndexFiles.numbered(spark, path, "delta_").isEmpty)
    val r2 = Similarity.GraphFiles.load(spark, path)
    assert(edgeSet(r2.edges) == expected)
    r2.release()

    // a post-compaction fold must number above the stamp and stay visible
    val holder2 = new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, path))
    holder2.fold(b2, deltaPath = Some(path))
    val contEdges = edgeSet(
      Similarity.knnGraphEdgesWith(base.unionAll(b1).unionAll(b2), cents))
    val r3 = Similarity.GraphFiles.load(spark, path)
    assert(edgeSet(r3.edges) == contEdges,
      "the post-compaction delta must be visible to loads")
    r3.release()
    graft.operators.IndexFiles.delete(spark, path)
  }

  test("save/load snapshot: a restarted graph lifecycle resumes instead of rebuilding") {
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val b2 = e.filter(pmod(col("vec_id"), lit(4)) === 2)

    // fold b1, snapshot, "restart" (load), fold b2 on the LOADED index —
    // must equal the from-scratch build under the frozen centroids
    val g1 = new RefreshableKnnGraph(Similarity.knnGraphIndex(base)).fold(b1)
    val path = java.nio.file.Files.createTempDirectory("graft-kg").toString
    Similarity.GraphFiles.save(g1, path)
    assert(Similarity.GraphFiles.exists(spark, path))
    val loaded = Similarity.GraphFiles.load(spark, path)
    assert(loaded.k == g1.k && loaded.nProbe == g1.nProbe)
    assert(edgeSet(loaded.edges) == edgeSet(g1.edges))
    val resumed = new RefreshableKnnGraph(loaded).fold(b2)
    val continued = edgeSet(Similarity.knnGraphEdgesWith(
      base.unionAll(b1).unionAll(b2), g1.cents))
    assert(edgeSet(resumed.edges) == continued)
    // a second save supersedes the first base (versioned publish + prune)
    Similarity.GraphFiles.save(resumed, path)
    assert(edgeSet(Similarity.GraphFiles.load(spark, path).edges) == continued)
    graft.operators.IndexFiles.delete(spark, path)
  }

  test("holder: consumers over the refreshed graph equal from-scratch (no stale graph)") {
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val d = operators.Tables.load(spark, sf(), "documents")
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val fold = e.filter(pmod(col("vec_id"), lit(3)) === 1)
    val union = e.filter(pmod(col("vec_id"), lit(3)) < 2)

    val holder = new RefreshableKnnGraph(Similarity.knnGraphIndex(base))
    holder.fold(fold)
    val scratchEdges = Similarity.knnGraphEdgesWith(union, holder.current.cents)

    // pagerank over the folded graph == pagerank over the from-scratch graph
    val prGot = Similarity.pageRankOver(holder.current.edges, union.select("vec_id"))
      .collect().toSeq
    val prWant = Similarity.pageRankOver(scratchEdges, union.select("vec_id"))
      .collect().toSeq
    assert(prGot == prWant && prGot.nonEmpty)

    // quality propagation likewise (docs restricted to the union ids so
    // the join population matches)
    val docsU = d.join(union.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    val qpGot = Similarity.qualityPropagationOver(docsU, holder.current.edges)
      .collect().toSeq
    val qpWant = Similarity.qualityPropagationOver(docsU, scratchEdges)
      .collect().toSeq
    assert(qpGot == qpWant && qpGot.nonEmpty)

    // rebuild-and-swap (the codebook-retrain escape): a from-scratch index
    // over the union replaces the folded one atomically
    val rebuilt = Similarity.knnGraphIndex(union)
    holder.rebuildWith(rebuilt)
    assert(edgeSet(holder.current.edges) == edgeSet(Similarity.knnGraph(union)))
  }

  test("durable streaming graph ingest: a crash between batches loses nothing; replays and re-folds fold nothing") {
    import graft.streaming.StreamingSimilarity
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b0 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 2)
    val path = java.nio.file.Files.createTempDirectory("graft-kg-ingest").toString
    Similarity.GraphFiles.save(Similarity.knnGraphIndex(base), path)

    // control: the from-scratch graph under the frozen base centroids
    val control = Similarity.knnGraphEdgesWith(base.unionAll(b0).unionAll(b1),
      Similarity.knnGraphIndex(base).cents)

    val gate = StreamingSimilarity.knnGraphIngest(
      new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, path)), Some(path))
    gate.apply(b0, 0L) // stages batch 0; the lagged fold runs at batch 1

    // CRASH before batch 1: a new holder + gate rebuilt purely from disk
    val gate2 = StreamingSimilarity.knnGraphIngest(
      new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, path)), Some(path))
    gate2.apply(b1, 1L) // folds the staged batch 0 first, then stages b1
    gate2.apply(b1, 1L) // double delivery: re-stage is byte-idempotent
    gate2.flush()       // clean shutdown folds batch 1

    // crash-after-fold-before-delete: a re-staged ALREADY-FOLDED batch
    // must fold nothing (the anti-join idempotence guard — a re-fold
    // would duplicate qn rows and corrupt every later re-rank)
    b1.select("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$path/staged/batch=5")
    gate2.flush()

    val reloaded = Similarity.GraphFiles.load(spark, path)
    assert(edgeSet(reloaded.edges) == edgeSet(control),
      "the durable loop must equal the from-scratch build")
    assert(reloaded.qn.count() == reloaded.qn.select("vec_id").distinct().count(),
      "no duplicate qn rows after the re-staged replay")
    reloaded.release()
    graft.operators.IndexFiles.delete(spark, path)
  }

  test("graph gate compaction: the delta chain stays bounded, decisions unchanged") {
    import graft.streaming.StreamingSimilarity
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b0 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 2)
    val path = java.nio.file.Files.createTempDirectory("graft-kg-compact").toString
    Similarity.GraphFiles.save(Similarity.knnGraphIndex(base), path)

    // compactEvery=1: every fold compacts — the chain must stay at zero
    // deltas with the base version advancing, answers identical to the
    // from-scratch build
    val gate = StreamingSimilarity.knnGraphIngest(
      new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, path)),
      Some(path), compactEvery = 1)
    gate.apply(b0, 0L); gate.apply(b1, 1L); gate.flush()
    assert(graft.operators.IndexFiles.numbered(spark, path, "delta_").isEmpty,
      "compactEvery=1 must sweep every folded delta")
    assert(graft.operators.IndexFiles.numbered(spark, path, "base_v")
      .map(_._1).max > 1, "compaction must advance the base version")

    val control = Similarity.knnGraphEdgesWith(base.unionAll(b0).unionAll(b1),
      Similarity.knnGraphIndex(base).cents)
    val reloaded = Similarity.GraphFiles.load(spark, path)
    assert(edgeSet(reloaded.edges) == edgeSet(control),
      "the compacting loop must answer exactly like the from-scratch build")
    reloaded.release()
    graft.operators.IndexFiles.delete(spark, path)
  }

  test("gated maintenance, durable: the loop observes drift, rebuilds, and PERSISTS the rebuilt graph") {
    import graft.streaming.StreamingSimilarity
    val path = java.nio.file.Files.createTempDirectory("graft-kg-maint").toString
    Similarity.GraphFiles.save(
      Similarity.knnGraphIndex(driftOriginal, centroidMod = 13), path)
    val holder = new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, path))
    val union = driftOriginal.unionAll(driftShifted)
    val gate = StreamingSimilarity.knnGraphIngest(holder, Some(path),
      maintainEvery = 1,
      maintain = Some(() => operators.IndexMaintenance.maintainKnnGraph(
        holder, union, floor = 0.9, centroidMod = 13, indexPath = Some(path))))

    gate.apply(driftShifted, 0L) // stages the drifting batch
    gate.flush()                 // folds it; the cadence fires the policy

    assert(gate.decisions.size == 1)
    val d = gate.decisions.head
    assert(d.retrained && d.recallBefore < 0.9 && d.recallAfter.exists(_ >= 0.9),
      s"the loop must observe the drift and recover: $d")

    // the rebuilt graph must be what a RESTART loads — without the
    // persist, the disk would still replay the stale-quantizer chain
    val reloaded = Similarity.GraphFiles.load(spark, path)
    assert(edgeSet(reloaded.edges) == edgeSet(holder.current.edges),
      "a restart must load the rebuilt graph, not the stale one")
    reloaded.release()
    graft.operators.IndexFiles.delete(spark, path)
  }
}
