package graft.operators

import org.apache.spark.sql.DataFrame

/** INDEX LIFECYCLE — the refresh-and-swap discipline that turns the
  * per-corpus retrieval/dedup artifacts ([[Dedup.corpusIndex]],
  * [[Similarity.embedIndex]]) into LIVING indexes a 100 TB ingest loop can
  * keep current:
  *
  *   - `fold(batch)` is O(batch) END TO END: the holders keep the index as
  *     CHECKPOINTED SEGMENTS (the in-memory twin of the persisted
  *     base+delta layout), so a fold computes the batch's fresh pieces
  *     ([[Dedup.segmentFold]] — collide split, rep re-key, shingle/minhash
  *     of genuinely-new texts), checkpoints ONLY that fresh segment plus
  *     the tiny folded tables (the composed re-key map; the Bloom word
  *     tables, whose size is capacity-bounded by `logBloomBits`, a
  *     build-time knob constant in corpus growth), optionally persists the
  *     same pieces as the fold's O(batch) [[Dedup.IndexDelta]]
  *     (`deltaPath`; a restart loads base+deltas through
  *     [[Dedup.CorpusFiles]] instead of rebuilding), and publishes a LAZY VIEW over the segments
  *     ([[Dedup.segmentedView]]: union per component, one broadcast
  *     re-key, one dropped-bucket anti-join) through one volatile write —
  *     a concurrent reader (a streaming micro-batch gating against
  *     [[current]]) sees only complete, checkpointed inputs;
  *   - every `maxSegments` folds the holder COMPACTS in memory
  *     (materialize the view into one segment — the same discipline as the
  *     on-disk [[Dedup.CorpusFiles.compact]]), bounding both view plan depth (the
  *     OOM the old checkpoint-everything fold existed to prevent) and the
  *     segment count, and amortizing the one O(index) re-materialization
  *     across that many O(batch) folds;
  *   - every fold-local frame is a tracked `persist` dropped right after
  *     the segment checkpoints (pinning them would root one index per fold
  *     in the PinnedCaches TrieMap — the r10-advice leak); the
  *     storage-bound and checkpoint-flatness specs in IndexDeltaSpec pin
  *     both properties;
  *   - refreshed ≡ from-scratch is the spec'd contract: the folded view's
  *     fps/sets/buckets (resp. qc/cb) contents and the gate decisions equal
  *     a from-scratch build over the union corpus — including across
  *     in-memory compactions and re-keys arriving after one
  *     (IndexLifecycleSpec, IndexDeltaSpec; the `dedup_index_refresh` /
  *     `embed_index_refresh` registry rows pin the gate output against the
  *     DuckDB oracle on a 3-way corpus split, and `dedup_index_delta` /
  *     `embed_index_delta` pin it through the persisted base+delta round
  *     trip).
  *
  * Readers hold the index VALUE they read, not the holder: a micro-batch
  * that read the old view mid-swap finishes against a consistent (merely
  * stale) index — the same monotonicity contract as any snapshot-isolated
  * index server; its inputs are checkpointed segments that stay valid until
  * unreferenced. Released pins only unpersist cached frames; a reader still
  * executing against them recomputes from lineage, so staleness costs
  * speed, never correctness.
  */
final class RefreshableCorpusIndex(initial: Dedup.CorpusIndex,
    maxSegments: Int = RefreshableCorpusIndex.DefaultMaxSegments) {
  import RefreshableCorpusIndex.Seg

  // SEGMENTED state: one checkpointed segment per fold (plus the base) and
  // tiny folded tables. The published index is a LAZY VIEW over them
  // (Dedup.segmentedView), so a fold checkpoints only its O(batch) fresh
  // segment + the collision-sized composed re-key map + the bounded Bloom
  // word tables — never the whole index (the monolithic truncated() path
  // re-materialized every component per fold: O(index) memory writes per
  // batch, the in-memory sibling of the per-fold full-rewrite the on-disk
  // deltas removed). Segment count is bounded by in-memory compaction
  // (materialize the view into one segment every `maxSegments` folds — the
  // same base+deltas+compact discipline as the persisted layout), which
  // also bounds view plan depth, the OOM the old truncated()-per-fold
  // existed to prevent.
  private final case class State(segs: Vector[Seg], remap: DataFrame,
      fpBloom: DataFrame, bucketBloom: DataFrame, oversized: DataFrame,
      view: Dedup.CorpusIndex)

  @volatile private var state: State = {
    val t = initial.truncated() // segment 0: checkpointed off the caller's pins
    val sizes = Dedup.initialSizes(initial).localCheckpoint(true)
    val seg0 = Seg(t.fps, t.sets, t.buckets, sizes)
    val remap0 = Dedup.emptyRemap(initial.fps.sparkSession)
    State(Vector(seg0), remap0, t.fpBloom, t.bucketBloom, t.oversized,
      view(Vector(seg0), remap0, t.fpBloom, t.bucketBloom, t.oversized))
  }
  // the caller's initial pins are released on the first fold (releaseOld),
  // matching the pre-segmented contract
  private var initialToRelease: Option[Dedup.CorpusIndex] = Some(initial)

  private def view(segs: Vector[Seg], remap: DataFrame,
      fpBloom: DataFrame, bucketBloom: DataFrame,
      oversized: DataFrame): Dedup.CorpusIndex =
    Dedup.segmentedView(segs.map(_.fps), segs.map(_.sets), segs.map(_.buckets),
      oversized, remap, fpBloom, bucketBloom,
      initial.logBloomBits, initial.bucketCap)

  /** The currently-published index (a lazy view whose inputs are all
    * checkpointed — complete by construction for any concurrent reader). */
  def current: Dedup.CorpusIndex = state.view

  /** Fold `newDocs` in and atomically publish the refreshed view.
    * Synchronized: concurrent folders would otherwise both refresh the same
    * base and lose one batch. When `deltaPath` is set, the fold's O(batch)
    * delta lands there BEFORE the swap ([[Dedup.CorpusFiles.saveDelta]] is
    * content-idempotent under replay: re-folding already-indexed docs
    * yields an empty-fresh delta). Returns the published index. */
  def fold(newDocs: DataFrame, releaseOld: Boolean = true,
      deltaPath: Option[String] = None): Dedup.CorpusIndex =
    synchronized {
      val s = state
      val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def track(df: DataFrame): DataFrame = { val c = df.persist(); tracked += c; c }
      val parts = Dedup.segmentFold(s.view.fps, initial.logBloomBits, newDocs, track)

      // checkpoint exactly the batch-sized fresh pieces + the tiny tables
      // (incl. the refreshed dropped-bucket table: computing it here — one
      // partial-aggregated pass over the per-segment size tables, the same
      // per-fold totals cost the monolithic fold always paid — keeps every
      // GATE execution free of it; leaving it lazy in the view would
      // re-shuffle all distinct buckets' counts per micro-batch)
      val allSizes = s.segs.map(_.sizes) :+ parts.freshSizes
      val ck = IndexFiles.inParallel(Seq(
        () => parts.freshFps.localCheckpoint(true),
        () => parts.freshSets.localCheckpoint(true),
        () => parts.freshBuckets.localCheckpoint(true),
        () => parts.freshSizes.localCheckpoint(true),
        () => parts.remap.localCheckpoint(true),
        () => s.fpBloom.unionAll(parts.fpWords)
          .groupBy("w").agg(org.apache.spark.sql.functions.bit_or(
            org.apache.spark.sql.functions.col("bits")).as("bits"))
          .localCheckpoint(true),
        () => s.bucketBloom.unionAll(parts.bucketWords)
          .groupBy("w").agg(org.apache.spark.sql.functions.bit_or(
            org.apache.spark.sql.functions.col("bits")).as("bits"))
          .localCheckpoint(true),
        () => Dedup.segmentOversized(allSizes, initial.bucketCap)
          .localCheckpoint(true)))
      val seg = Seg(ck(0), ck(1), ck(2), ck(3))
      val remap2 = Dedup.composeRemaps(s.remap, ck(4)).localCheckpoint(true)

      var segs2 = s.segs :+ seg
      var next = view(segs2, remap2, ck(5), ck(6), ck(7))
      // the persisted delta carries THIS fold's pieces + the refreshed
      // dropped-bucket table
      deltaPath.foreach { p =>
        Dedup.CorpusFiles.saveDelta(Dedup.IndexDelta(seg.fps, seg.sets, seg.buckets,
          parts.fpWords, parts.bucketWords, ck(4), ck(7)), p)
      }
      tracked.foreach(_.unpersist())

      // in-memory compaction: bound segment count (and view plan depth)
      if (segs2.size > maxSegments) {
        val totalsCk = segs2.map(_.sizes).reduce(_ unionByName _)
          .groupBy("band", "sig")
          .agg(org.apache.spark.sql.functions.sum("n").as("n"))
          .localCheckpoint(true)
        val t = next.truncated()
        segs2 = Vector(Seg(t.fps, t.sets, t.buckets, totalsCk))
        val remap0 = Dedup.emptyRemap(initial.fps.sparkSession)
        next = view(segs2, remap0, t.fpBloom, t.bucketBloom, t.oversized)
        state = State(segs2, remap0, t.fpBloom, t.bucketBloom, t.oversized, next)
      } else {
        state = State(segs2, remap2, ck(5), ck(6), ck(7), next)
      }
      if (releaseOld) { initialToRelease.foreach(_.release()); initialToRelease = None }
      next
    }
}

object RefreshableCorpusIndex {
  /** Segments folded between in-memory compactions — bounds the view's
    * plan depth and amortizes the one O(index) re-materialization across
    * that many O(batch) folds. */
  val DefaultMaxSegments: Int = 8
  private[operators] final case class Seg(fps: DataFrame, sets: DataFrame,
      buckets: DataFrame, sizes: DataFrame)
}

/** The kNN GRAPH under the same refresh-and-swap discipline — the graph is
  * a per-corpus index artifact ([[Similarity.knnGraphIndex]]), and its
  * consumers ([[Similarity.pageRankOver]],
  * [[Similarity.qualityPropagationOver]]) must never traverse a stale graph
  * after the corpus they rank refreshed. `fold` is the INCREMENTAL path
  * ([[Similarity.refreshKnnGraph]]'s arithmetic — frozen centroids,
  * new-node edges plus affected-node re-rank, ≡ from-scratch under the same
  * codebook, spec-pinned); rebuild-and-swap for codebook retraining is
  * [[rebuildWith]]; drift is observed through [[Similarity.knnGraphRecall]]
  * (or the [[IndexMaintenance.maintainKnnGraph]] policy).
  *
  * SEGMENTED with TOMBSTONE REPLAY — the edge component is not pure-append
  * (a fold REPLACES affected old queries' rows), but a fold never edits a
  * row in place: it supersedes whole query_ids. So each fold checkpoints
  * only its O(batch) segment (the batch's qn/probe rows, the fold's fresh
  * edge rows, and the affected-query tombstone set — itself batch-bounded:
  * probe cells are frozen, so only cells the batch lands in can be
  * affected), and the published edge view is "each segment's rows minus
  * every LATER segment's tombstones" — ≤ maxSegments broadcast anti-joins
  * against batch-sized id sets, latest-wins by construction. qn/probes
  * union plainly. In-memory compaction every `maxSegments` folds
  * re-materializes the view into one tombstone-free segment, bounding both
  * plan depth and the anti-join chain. */
final class RefreshableKnnGraph(initial: Similarity.KnnGraphIndex,
    maxSegments: Int = RefreshableCorpusIndex.DefaultMaxSegments) {
  private final case class GSeg(qn: DataFrame, probes: DataFrame,
      edges: DataFrame, tombs: DataFrame)
  private final case class State(cents: DataFrame, segs: Vector[GSeg],
      view: Similarity.KnnGraphIndex)

  @volatile private var state: State = stateOf(initial.truncated())
  private var initialToRelease: Option[Similarity.KnnGraphIndex] = Some(initial)

  /** Single-segment state off an already-checkpointed index (init,
    * post-compaction, post-rebuild). The base segment carries no
    * tombstones: `limit(0)` over the checkpointed edges keeps the plan
    * rooted on a checkpoint, never on released caller lineage. */
  private def stateOf(t: Similarity.KnnGraphIndex): State = {
    val seg0 = GSeg(t.qn, t.probes, t.edges,
      t.edges.select("query_id").limit(0))
    State(t.cents, Vector(seg0), viewOf(t.cents, Vector(seg0)))
  }

  private def viewOf(cents: DataFrame,
      segs: Vector[GSeg]): Similarity.KnnGraphIndex = {
    val edges = segs.zipWithIndex.map { case (s, i) =>
      val later = segs.drop(i + 1).map(_.tombs)
      if (later.isEmpty) s.edges
      else s.edges.join(
        org.apache.spark.sql.functions.broadcast(later.reduce(_ unionByName _)),
        Seq("query_id"), "left_anti")
    }.reduce(_ unionByName _)
    Similarity.KnnGraphIndex(cents,
      segs.map(_.qn).reduce(_ unionByName _),
      segs.map(_.probes).reduce(_ unionByName _),
      edges, initial.k, initial.nProbe)
  }

  /** The currently-published graph (a lazy view whose inputs are all
    * checkpointed — complete by construction for any concurrent reader). */
  def current: Similarity.KnnGraphIndex = state.view

  /** Fold `newVecs` in under the frozen centroids and atomically publish —
    * checkpointing only the fold's O(batch) segment. With `deltaPath` set,
    * the same four frames land there BEFORE the swap
    * ([[Similarity.GraphFiles.saveDelta]]) — a restart
    * loads base+deltas ([[Similarity.GraphFiles]]) instead of re-folding. */
  def fold(newVecs: DataFrame, releaseOld: Boolean = true,
      deltaPath: Option[String] = None): Similarity.KnnGraphIndex =
    synchronized {
      val s = state
      val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val parts = Similarity.knnGraphSegmentFold(s.view, newVecs,
        df => { val c = df.persist(); tracked += c; c })
      val ck = IndexFiles.inParallel(Seq(
        () => parts.qnNew.localCheckpoint(true),
        () => parts.probesNew.localCheckpoint(true),
        () => parts.edgesSeg.localCheckpoint(true),
        () => parts.tombstones.localCheckpoint(true)))
      deltaPath.foreach(p => Similarity.GraphFiles.saveDelta(
        Similarity.KnnGraphDelta(ck(0), ck(1), ck(2), ck(3)), p))
      tracked.foreach(_.unpersist())

      var segs2 = s.segs :+ GSeg(ck(0), ck(1), ck(2), ck(3))
      var next = viewOf(s.cents, segs2)
      if (segs2.size > maxSegments) {
        val t = next.truncated()
        state = stateOf(t)
      } else {
        state = State(s.cents, segs2, next)
      }
      if (releaseOld) { initialToRelease.foreach(_.release()); initialToRelease = None }
      state.view
    }

  /** Swap in a from-scratch rebuild (new codebook — the retrain escape
    * when the frozen centroids have drifted from the corpus). Resets to
    * one tombstone-free segment. */
  def rebuildWith(rebuilt: Similarity.KnnGraphIndex,
      releaseOld: Boolean = true): Similarity.KnnGraphIndex =
    synchronized {
      val t = rebuilt.truncated()
      rebuilt.release() // the swap owns the checkpointed copy; drop the build's pins
      state = stateOf(t)
      if (releaseOld) { initialToRelease.foreach(_.release()); initialToRelease = None }
      state.view
    }
}

/** The learned-PQ index under the swap discipline — the codebook-drift
  * lifecycle ([[Similarity.PqIndex]]'s scaladoc documents the policy):
  * [[append]] is the routine frozen-codebook ingest; [[retrain]] trains a
  * fresh codebook over the given (refreshed) corpus, re-encodes, bumps the
  * version, and swaps. Drift is observed through
  * [[Similarity.pqRecall]](current) on a monitoring cadence (or the
  * [[IndexMaintenance.maintainPq]] policy) — PqDriftSpec pins the whole
  * story: a shifted batch degrades recall@k under the frozen codebook and
  * retrain-and-swap recovers it.
  *
  * SEGMENTED like the corpus/embed holders — and more simply: under a
  * frozen codebook both mutable components (codes, quantized vectors) are
  * PURE append and the codebook itself never changes between retrains, so
  * a segment is exactly the append's two batch-sized frames, the published
  * view is a plain union per component (no re-key map, no dropped-bucket
  * filter), and an append checkpoints O(batch) — the old path re-
  * checkpointed the whole codes/qn per append. In-memory compaction every
  * `maxSegments` appends bounds view plan depth; a RETRAIN is the natural
  * full compaction (it re-encodes everything into one fresh segment). */
final class RefreshablePqIndex(initial: Similarity.PqIndex,
    maxSegments: Int = RefreshableCorpusIndex.DefaultMaxSegments) {
  private final case class PSeg(codes: DataFrame, qn: DataFrame)
  private final case class State(cents: DataFrame, segs: Vector[PSeg],
      version: Int, view: Similarity.PqIndex)

  @volatile private var state: State = stateOf(initial.truncated())
  private var initialToRelease: Option[Similarity.PqIndex] = Some(initial)

  /** Single-segment state off an already-checkpointed index (init,
    * post-compaction, post-retrain). */
  private def stateOf(t: Similarity.PqIndex): State =
    State(t.cents, Vector(PSeg(t.codes, t.qn)), t.version,
      viewOf(t.cents, Vector(PSeg(t.codes, t.qn)), t.version))

  private def viewOf(cents: DataFrame, segs: Vector[PSeg],
      version: Int): Similarity.PqIndex =
    Similarity.PqIndex(cents,
      segs.map(_.codes).reduce(_ unionByName _),
      segs.map(_.qn).reduce(_ unionByName _),
      version, initial.subspaces, initial.nCodes, initial.iters)

  /** The currently-published index (a lazy union view over checkpointed
    * segments — complete by construction for any concurrent reader). */
  def current: Similarity.PqIndex = state.view

  /** Frozen-codebook append-encode of a new batch — O(batch) end to end:
    * the encode reads only the broadcast codebook, and only the batch's
    * two fresh frames are checkpointed (a new segment). With `deltaPath`
    * set, the same frames land there BEFORE the swap
    * ([[Similarity.PqFiles.saveDelta]]) — the durable O(batch)-per-fold
    * discipline; a restart loads base+deltas ([[Similarity.PqFiles]])
    * instead of re-encoding. */
  def append(newVecs: DataFrame, releaseOld: Boolean = true,
      deltaPath: Option[String] = None): Similarity.PqIndex =
    synchronized {
      val s = state
      val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val delta = Similarity.pqAppendDelta(s.cents, initial.subspaces, newVecs,
        df => { val c = df.persist(); tracked += c; c })
      val ck = IndexFiles.inParallel(Seq(
        () => delta.codesNew.localCheckpoint(true),
        () => delta.qNew.localCheckpoint(true)))
      deltaPath.foreach(p =>
        Similarity.PqFiles.saveDelta(Similarity.PqDelta(ck(0), ck(1)), p))
      tracked.foreach(_.unpersist())

      var segs2 = s.segs :+ PSeg(ck(0), ck(1))
      var next = viewOf(s.cents, segs2, s.version)
      if (segs2.size > maxSegments) {
        val t = next.truncated()
        segs2 = Vector(PSeg(t.codes, t.qn))
        next = viewOf(t.cents, segs2, s.version)
        state = State(t.cents, segs2, s.version, next)
      } else {
        state = State(s.cents, segs2, s.version, next)
      }
      if (releaseOld) { initialToRelease.foreach(_.release()); initialToRelease = None }
      next
    }

  /** Retrain over `corpus` (the full refreshed population), re-encode,
    * version-bump, swap — resets to one fresh segment (the full
    * compaction a retrain is anyway). With `indexPath` set the retrained
    * index persists as a NEW BASE whose stamp swallows the
    * frozen-codebook deltas — they were encoded against the dead codebook;
    * the stamp makes every future load ignore them and the base save
    * sweeps them. */
  def retrain(corpus: DataFrame, releaseOld: Boolean = true,
      indexPath: Option[String] = None): Similarity.PqIndex =
    synchronized {
      val rebuilt = Similarity.retrainPqIndex(corpus, state.view)
      val next = rebuilt.truncated()
      rebuilt.release()
      indexPath.foreach(p => Similarity.PqFiles.save(next, p))
      state = stateOf(next)
      if (releaseOld) { initialToRelease.foreach(_.release()); initialToRelease = None }
      state.view
    }
}

/** MONITOR-DRIVEN MAINTENANCE — the policy tier that closes the drift
  * loop. The monitors exist ([[Similarity.pqRecall]],
  * [[Similarity.knnGraphRecall]] — both hash-pinned as registry rows) and
  * the escapes exist ([[RefreshablePqIndex.retrain]],
  * [[RefreshableKnnGraph.rebuildWith]]); these functions connect them:
  * measure recall, and when it breaches the deployment's floor,
  * retrain-and-swap over the refreshed corpus and re-measure. Run on a
  * monitoring cadence (at 100 TB: sampled query set, maintenance window) —
  * the returned [[IndexMaintenance.Decision]] is the audit record a
  * deployment logs either way. Deterministic by construction (the monitors
  * and retrains are), so the whole policy is spec-pinned on the drift
  * fixtures: below-floor fires exactly once and recovers, above-floor is a
  * measure-only no-op. */
object IndexMaintenance {
  /** One maintenance pass's audit record: the recall that was measured,
    * whether the floor fired, and the post-retrain recall (None when no
    * retrain ran). */
  final case class Decision(recallBefore: Double, retrained: Boolean,
      recallAfter: Option[Double])

  /** PQ-codebook maintenance: recall@k of the holder's ADC chain vs the
    * floor; a breach retrains over `corpus` (the FULL refreshed
    * population — a retrain re-encodes everything) and, with `indexPath`
    * set, persists the new base (whose stamp swallows the dead-codebook
    * deltas — see [[Similarity.PqFiles.save]]). */
  def maintainPq(holder: RefreshablePqIndex, corpus: DataFrame, floor: Double,
      k: Int = 5, nQueries: Int = 10, rerank: Int = 32,
      indexPath: Option[String] = None): Decision = {
    def recall() = Similarity.pqRecall(holder.current, k, nQueries, rerank)
      .head().getAs[Double]("recall")
    val before = recall()
    // an EMPTY query sample measures nothing (0/0 = NaN) — and NaN fails
    // every comparison, so `before >= floor` would silently route an
    // unmeasurable pass into a spurious retrain; treat it as measure-only
    if (before.isNaN || before >= floor) Decision(before, retrained = false, None)
    else {
      holder.retrain(corpus, indexPath = indexPath)
      Decision(before, retrained = true, Some(recall()))
    }
  }

  /** Embed-GATE maintenance — MEASURE-ONLY by construction: the gate's
    * LSH buckets are content-derived (no trained codebook), so there is
    * no retrain escape; what drifts is the gate's EFFECTIVE recall as
    * corpus geometry shifts against the fixed hyperplane family, and the
    * deployment's response is a knob change (threshold, table count,
    * bucket cap), not an automated swap. The monitor row is
    * [[Similarity.embedGateRecallAgainst]] over a probe sample (NaN when
    * no probe has a true match — nothing measurable); the Decision lands
    * in the gate's audit trail / telemetry either way. */
  def monitorEmbedGate(holder: RefreshableEmbedIndex, probes: DataFrame,
      threshold: Double): Decision = {
    val r = Similarity.embedGateRecallAgainst(probes, holder.current, threshold)
      .head().getAs[Double]("recall")
    Decision(r, retrained = false, None)
  }

  /** kNN-graph maintenance: edge recall on the deterministic query sample
    * vs the floor; a breach rebuilds the graph from scratch over `corpus`
    * (fresh coarse quantizer — the graph has no partial retrain, see
    * [[RefreshableKnnGraph]]) and swaps it in. With `indexPath` set the
    * rebuilt graph persists as a new base whose stamp
    * swallows (and whose save sweeps) the dead-quantizer deltas
    * ([[Similarity.GraphFiles]]) —
    * without it a durable deployment would reload the STALE graph after
    * the swap (the PQ side's retrain already persists this way). */
  def maintainKnnGraph(holder: RefreshableKnnGraph, corpus: DataFrame,
      floor: Double, sampleMod: Int = 7, centroidMod: Int = 127,
      indexPath: Option[String] = None): Decision = {
    def recall() = Similarity.knnGraphRecall(holder.current, sampleMod)
      .head().getAs[Double]("recall")
    val before = recall()
    // empty sample → NaN → measure-only (see maintainPq)
    if (before.isNaN || before >= floor) Decision(before, retrained = false, None)
    else {
      holder.rebuildWith(Similarity.knnGraphIndex(corpus,
        holder.current.k, holder.current.nProbe, centroidMod))
      indexPath.foreach(p => Similarity.GraphFiles.save(holder.current, p))
      Decision(before, retrained = true, Some(recall()))
    }
  }
}

/** [[RefreshableCorpusIndex]]'s vector-side twin over
  * [[Similarity.EmbedIndex]] — the same segmented O(batch)-checkpoint
  * fold (simpler: no re-key map, no Blooms). */
final class RefreshableEmbedIndex(initial: Similarity.EmbedIndex,
    maxSegments: Int = RefreshableCorpusIndex.DefaultMaxSegments) {
  private final case class ESeg(qc: DataFrame, cb: DataFrame, sizes: DataFrame)
  private final case class State(segs: Vector[ESeg], oversized: DataFrame,
      view: Similarity.EmbedIndex)

  @volatile private var state: State = {
    val t = initial.truncated()
    val sizes = Similarity.embedInitialSizes(initial).localCheckpoint(true)
    val seg0 = ESeg(t.qc, t.cb, sizes)
    State(Vector(seg0), t.oversized, view(Vector(seg0), t.oversized))
  }
  private var initialToRelease: Option[Similarity.EmbedIndex] = Some(initial)

  private def view(segs: Vector[ESeg], oversized: DataFrame): Similarity.EmbedIndex =
    Similarity.embedSegmentedView(segs.map(_.qc), segs.map(_.cb),
      oversized, initial.bucketCap, initial.tables)

  def current: Similarity.EmbedIndex = state.view

  def fold(newVecs: DataFrame, releaseOld: Boolean = true,
      deltaPath: Option[String] = None): Similarity.EmbedIndex =
    synchronized {
      val s = state
      val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def track(df: DataFrame): DataFrame = { val c = df.persist(); tracked += c; c }
      val parts = Similarity.embedSegmentFold(newVecs, track, initial.tables)
      val allSizes = s.segs.map(_.sizes) :+ parts.freshSizes
      val ck = IndexFiles.inParallel(Seq(
        () => parts.qNew.localCheckpoint(true),
        () => parts.freshBuckets.localCheckpoint(true),
        () => parts.freshSizes.localCheckpoint(true),
        () => Similarity.embedSegmentOversized(allSizes, initial.bucketCap)
          .localCheckpoint(true)))
      val seg = ESeg(ck(0), ck(1), ck(2))
      var segs2 = s.segs :+ seg
      var next = view(segs2, ck(3))
      deltaPath.foreach { p =>
        Similarity.EmbedFiles.saveDelta(
          Similarity.EmbedDelta(seg.qc, seg.cb, ck(3)), p)
      }
      tracked.foreach(_.unpersist())
      if (segs2.size > maxSegments) {
        val totalsCk = segs2.map(_.sizes).reduce(_ unionByName _)
          .groupBy("table", "bucket")
          .agg(org.apache.spark.sql.functions.sum("n").as("n"))
          .localCheckpoint(true)
        val t = next.truncated()
        segs2 = Vector(ESeg(t.qc, t.cb, totalsCk))
        state = State(segs2, t.oversized, view(segs2, t.oversized))
      } else {
        state = State(segs2, ck(3), next)
      }
      if (releaseOld) { initialToRelease.foreach(_.release()); initialToRelease = None }
      state.view
    }
}
