package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{IndexFiles, IndexMaintenance, RefreshablePqIndex, Similarity}

/** CODEBOOK DRIFT, measured and recovered: append-encoding a
  * distribution-shifted batch under a FROZEN learned-PQ codebook degrades
  * recall@k (the codebook has no code words for the new region, so ADC
  * collapses its candidates), [[Similarity.pqRecall]] OBSERVES the drop,
  * and [[graft.operators.RefreshablePqIndex.retrain]] (new Lloyd codebook
  * over the refreshed corpus + full re-encode + version bump) recovers it.
  *
  * Fixture: 64-dim vectors in "families" (a shared block pattern + a tiny
  * per-member perturbation, so a member's true top-k is its co-members).
  * The ORIGINAL corpus lives entirely in subspaces 0–3 (dims 0–31); the
  * SHIFTED batch lives in subspaces 4–7 (dims 32–63) — a region the
  * version-1 codebook trained on near-constant slices, so its code words
  * there are degenerate. Shifted ids are the query set (vec_id < 10). */
class PqDriftSpec extends SparkSpec {

  // deterministic synthetic vector: family pattern on an 8-dim active
  // block, small member perturbation, tiny structured noise elsewhere
  private def vec(blockStart: Int, f: Int, m: Int, id: Long): (Long, Seq[Float], Int) = {
    val a = Array.fill(64)(0.0f)
    (0 until 64).foreach(d => a(d) = 0.001f * ((id * 13 + d) % 3))
    (0 until 8).foreach { j =>
      a(blockStart + j) = 0.5f + 0.1f * ((f * 7 + j * 3) % 5)
    }
    a((blockStart + (m % 8)).toInt) += 0.01f * (m + 1)
    (id, a.toSeq, f)
  }

  private def frame(rows: Seq[(Long, Seq[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  // original: 10 families × 10 members in subspaces 0–3, ids 1000+
  private lazy val original = frame(for {
    f <- 0 until 10; m <- 0 until 10
  } yield vec(8 * (f % 4), f, m, 1000L + f * 10 + m))

  // shifted: 5 families × 10 members in subspaces 4–7, ids 0–49 (so the
  // default query set vec_id < 10 is one full shifted family)
  private lazy val shifted = frame(for {
    f <- 0 until 5; m <- 0 until 10
  } yield vec(32 + 8 * (f % 4), f, m, f * 10L + m))

  test("drift is measured: frozen-codebook recall drops on a shifted batch, retrain-and-swap recovers it") {
    val holder = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
    assert(holder.current.version == 1)

    // routine ingest: frozen-codebook append (version unchanged, O(batch))
    holder.fold(shifted)
    assert(holder.current.version == 1)
    assert(holder.current.codes.select("vec_id").distinct().count() == 150)

    val frozen = Similarity.pqRecall(holder.current, k = 5, nQueries = 10, rerank = 8)
      .head()
    val frozenRecall = frozen.getAs[Double]("recall")
    assert(frozen.getAs[Int]("version") == 1)

    // the monitoring signal fires → retrain over the full refreshed corpus
    holder.retrain(original.unionAll(shifted))
    assert(holder.current.version == 2, "retrain must bump the codebook version")
    val retrained = Similarity.pqRecall(holder.current, k = 5, nQueries = 10, rerank = 8)
      .head()
    val retrainedRecall = retrained.getAs[Double]("recall")

    assert(frozenRecall + 0.2 <= retrainedRecall,
      s"retraining must recover shifted-region recall: frozen $frozenRecall vs retrained $retrainedRecall")
    assert(retrainedRecall >= 0.7,
      s"the retrained codebook must actually index the shifted region: $retrainedRecall")
    assert(frozenRecall < 0.7,
      s"the fixture must genuinely drift (frozen recall should be poor): $frozenRecall")
  }

  test("segmented holder: appends across an in-memory compaction equal the monolithic chain") {
    // maxSegments=2 forces a compaction on the second append — the folded
    // view must stay contents-identical to the union encoded in one fold
    // under the same codebook, through the boundary (and each append
    // checkpoints only its own two batch-sized frames, never the whole
    // codes/qn)
    val batches = Seq(
      frame(for { m <- 0 until 10 } yield vec(32, 0, m, 0L + m)),
      frame(for { m <- 0 until 10 } yield vec(40, 1, m, 100L + m)),
      frame(for { m <- 0 until 10 } yield vec(48, 2, m, 200L + m)))
    val holder = new RefreshablePqIndex(
      Similarity.pqIndexBuild(original), maxSegments = 2)
    batches.foreach(b => holder.fold(b))
    val mono = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
      .fold(batches.reduce(_ unionAll _))
    assert(codeSetOf(holder.current) == codeSetOf(mono))
    assert(holder.current.qn.count() == mono.qn.count())
    assert(holder.current.version == 1)
  }

  test("segmented PQ view recomputes nothing per read: no aggregate in any published component plan") {
    // the same discipline IndexDeltaSpec pins for the corpus view: every
    // published component must read checkpointed segments, never
    // re-aggregate (an encode or code-grouping left lazy in the view would
    // re-shuffle per reader)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val holder = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
    holder.fold(shifted)
    val v = holder.current
    Seq("cents" -> v.cents, "codes" -> v.codes, "qn" -> v.qn).foreach {
      case (name, df) =>
        val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
        assert(aggs.isEmpty,
          s"PQ view component '$name' must read checkpointed inputs: $aggs")
    }
  }

  test("maintenance policy: a floor breach fires the retrain exactly once, above-floor is measure-only") {
    val holder = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
    holder.fold(shifted)

    // drifted → below floor → the policy retrains and re-measures
    val d1 = IndexMaintenance.maintainPq(holder, original.unionAll(shifted),
      floor = 0.7, rerank = 8)
    assert(d1.retrained, s"a breach must fire the retrain: $d1")
    assert(d1.recallBefore < 0.7)
    assert(d1.recallAfter.exists(_ >= 0.7), s"the retrain must recover: $d1")
    assert(holder.current.version == 2)

    // recovered → the next pass measures and does nothing
    val d2 = IndexMaintenance.maintainPq(holder, original.unionAll(shifted),
      floor = 0.7, rerank = 8)
    assert(!d2.retrained && d2.recallAfter.isEmpty)
    assert(holder.current.version == 2, "a no-op pass must not touch the index")
  }

  test("PQ gate compaction: the delta chain stays bounded, codes unchanged") {
    import graft.streaming.StreamingSimilarity
    val path = java.nio.file.Files.createTempDirectory("graft-pq-compact").toString
    Similarity.PqFiles.save(Similarity.pqIndexBuild(original), path)
    val b0 = frame(for { m <- 0 until 10 } yield vec(32, 0, m, 0L + m))
    val b1 = frame(for { m <- 0 until 10 } yield vec(40, 1, m, 100L + m))

    val gate = StreamingSimilarity.pqIngest(
      new RefreshablePqIndex(Similarity.PqFiles.load(spark, path)),
      Some(path), compactEvery = 1)
    gate.apply(b0, 0L); gate.apply(b1, 1L); gate.flush()
    assert(IndexFiles.numbered(spark, path, "delta_").isEmpty,
      "compactEvery=1 must sweep every folded delta")
    assert(IndexFiles.numbered(spark, path, "base_v").map(_._1).max > 1,
      "compaction must advance the base version")

    val control = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
      .fold(b0.unionAll(b1))
    val reloaded = Similarity.PqFiles.load(spark, path)
    assert(codeSetOf(reloaded) == codeSetOf(control),
      "the compacting loop must encode exactly like one fold of the union")
    reloaded.release()
    IndexFiles.delete(spark, path)
  }

  test("gated maintenance: the ingest loop itself observes drift on cadence and retrains") {
    import graft.streaming.StreamingSimilarity
    val holder = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
    // the corpus supplier hands the retrain the FULL raw population — the
    // gate's index (quantized forms) cannot reconstruct it
    val gate = StreamingSimilarity.pqIngest(holder, maintainEvery = 1,
      maintain = Some(() => IndexMaintenance.maintainPq(
        holder, original.unionAll(shifted), floor = 0.7, rerank = 8)))

    gate.apply(shifted, 0L) // stages the drifting batch
    gate.flush()            // folds it; the cadence fires the policy

    assert(gate.decisions.size == 1, "one fold at maintainEvery=1 → one pass")
    val d = gate.decisions.head
    assert(d.retrained && d.recallBefore < 0.7 && d.recallAfter.exists(_ >= 0.7),
      s"the loop must observe the drift and recover: $d")
    assert(holder.current.version == 2)

    // a healthy follow-up fold: the pass measures and does nothing
    val healthy = frame(for { m <- 0 until 5 } yield vec(0, 2, m, 3000L + m))
    gate.apply(healthy, 1L)
    gate.flush()
    assert(gate.decisions.size == 2)
    assert(!gate.decisions(1).retrained && holder.current.version == 2,
      "an above-floor pass must not touch the index")
  }

  private def codeSetOf(i: Similarity.PqIndex): Set[(Long, Long, Long)] =
    i.codes.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("m"),
      r.getAs[Long]("code"))).toSet

  test("persisted base+delta round trip ≡ in-memory append; compaction and post-compaction folds stay sound") {
    val path = java.nio.file.Files.createTempDirectory("graft-pq-persist").toString
    Similarity.PqFiles.save(Similarity.pqIndexBuild(original), path)

    val expected = new RefreshablePqIndex(Similarity.PqFiles.load(spark, path))
      .fold(shifted, deltaPath = Some(path))
    val r1 = Similarity.PqFiles.load(spark, path)
    assert(codeSetOf(r1) == codeSetOf(expected),
      "base+delta replay must equal the in-memory fold")
    assert(r1.qn.count() == 150)
    r1.release()

    // compaction: contents identical, deltas swept, replay chain reset
    Similarity.PqFiles.compact(spark, path)
    assert(IndexFiles.numbered(spark, path, "delta_").isEmpty,
      "compaction must sweep folded deltas")
    val r2 = Similarity.PqFiles.load(spark, path)
    assert(codeSetOf(r2) == codeSetOf(expected))
    r2.release()

    // the high-water gotcha: a fold AFTER compaction must number above the
    // compacted base's stamp, or it would be invisible to every load
    val extra = frame(for { m <- 0 until 5 } yield vec(0, 3, m, 2000L + m))
    new RefreshablePqIndex(Similarity.PqFiles.load(spark, path))
      .fold(extra, deltaPath = Some(path))
    val id = IndexFiles.highWater(spark, path)
    assert(id > 1, s"post-compaction delta id must exceed the stamp, got $id")
    val r3 = Similarity.PqFiles.load(spark, path)
    assert(r3.qn.count() == 155, "the post-compaction delta must be visible to loads")
    r3.release()
    IndexFiles.delete(spark, path)
  }

  test("durable streaming PQ ingest: a crash between batches loses nothing; replays and re-folds append nothing") {
    import graft.streaming.StreamingSimilarity
    val path = java.nio.file.Files.createTempDirectory("graft-pq-ingest").toString
    Similarity.PqFiles.save(Similarity.pqIndexBuild(original), path)
    val b0 = frame(for { m <- 0 until 10 } yield vec(32, 0, m, 0L + m))
    val b1 = frame(for { m <- 0 until 10 } yield vec(40, 1, m, 100L + m))

    // control: both batches encoded in one fold under the same codebook
    val control = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
      .fold(b0.unionAll(b1))

    val gate = StreamingSimilarity.pqIngest(
      new RefreshablePqIndex(Similarity.PqFiles.load(spark, path)), Some(path))
    gate.apply(b0, 0L) // stages batch 0; the lagged fold runs at batch 1

    // CRASH before batch 1: a new holder + gate rebuilt purely from disk
    val gate2 = StreamingSimilarity.pqIngest(
      new RefreshablePqIndex(Similarity.PqFiles.load(spark, path)), Some(path))
    gate2.apply(b1, 1L) // folds the staged batch 0 first, then stages b1
    gate2.apply(b1, 1L) // double delivery: re-stage is byte-idempotent
    gate2.flush()       // clean shutdown folds batch 1

    // crash-after-fold-before-delete: a re-staged ALREADY-FOLDED batch
    // must append nothing (the anti-join idempotence guard)
    b1.select("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$path/staged/batch=5")
    gate2.flush()

    val reloaded = Similarity.PqFiles.load(spark, path)
    assert(codeSetOf(reloaded) == codeSetOf(control),
      "the durable loop must equal one fold of the union")
    assert(reloaded.qn.count() == 100L + 20L, "no duplicate encodes")
    reloaded.release()
    IndexFiles.delete(spark, path)
  }

  test("retrain persists a new base whose stamp swallows dead-codebook deltas") {
    val path = java.nio.file.Files.createTempDirectory("graft-pq-retrain").toString
    Similarity.PqFiles.save(Similarity.pqIndexBuild(original), path)
    val holder = new RefreshablePqIndex(Similarity.PqFiles.load(spark, path))

    holder.fold(shifted, deltaPath = Some(path))
    assert(IndexFiles.numbered(spark, path, "delta_").nonEmpty)

    // retrain → version-2 base; the frozen-codebook delta was encoded
    // against the dead codebook and must be ignored by every future load
    holder.retrain(original.unionAll(shifted), indexPath = Some(path))
    val reloaded = Similarity.PqFiles.load(spark, path)
    assert(reloaded.version == 2)
    assert(reloaded.qn.count() == 150,
      "stale deltas must not double-count vectors after a retrain base")
    assert(codeSetOf(reloaded) == codeSetOf(holder.current),
      "reload must see exactly the retrained encode")
    reloaded.release()
    IndexFiles.delete(spark, path)
  }

  test("append-encode is exact encoding under the frozen codebook (the holder adds no drift of its own)") {
    val idx = Similarity.pqIndexBuild(original)
    val before = codeSetOf(idx)
    // the union encoded in one fold vs the same vectors over two folds
    // across an in-memory compaction (maxSegments = 1)
    val appended = new RefreshablePqIndex(Similarity.pqIndexBuild(original))
      .fold(shifted)
    val holder = new RefreshablePqIndex(idx, maxSegments = 1)
    holder.fold(shifted.filter("vec_id < 25"))
    holder.fold(shifted.filter("vec_id >= 25"))
    assert(codeSetOf(holder.current) == codeSetOf(appended))
    // old codes pass through verbatim; new ids encode against v1's codebook
    assert(codeSetOf(appended).filter(_._1 >= 1000L) == before)
    assert(codeSetOf(appended).count(_._1 < 1000L) == 50 * idx.subspaces)
  }
}
