package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** An index value the lifecycle holders manage: the four index families
  * ([[Dedup.CorpusIndex]], [[Similarity.EmbedIndex]],
  * [[Similarity.KnnGraphIndex]], [[Similarity.PqIndex]]) each declare the
  * frames they own and how to rebuild themselves over checkpointed
  * copies. */
trait IndexValue[I] {
  /** Every frame the index owns — materialization / release order. */
  private[operators] def frames: Seq[DataFrame]

  /** Materialize AND truncate lineage (one eager `localCheckpoint` per
    * component, submitted concurrently): a refreshed index's frames
    * otherwise embed the previous index's plans plus the fold batch's, and
    * a per-batch loop grows plan depth without bound. */
  private[graft] def truncated(): I

  /** Force-materialize all components (an atomic swap must never publish a
    * half-built index to a concurrent micro-batch). */
  def materialize(): this.type = {
    IndexFiles.inParallel(frames.map(f => () => f.count())); this
  }

  /** Unpin this index's frames (executor-storage hygiene after a swap). A
    * pin whose plan is shared with another live operator just re-caches on
    * that operator's next call. A [[truncated]] index's frames are
    * checkpoint RDDs rather than pins; their storage frees via the
    * ContextCleaner once the value is unreferenced, and a reader mid-query
    * over a released frame recomputes from lineage — staleness costs
    * speed, never correctness. */
  def release(): Unit = frames.foreach(PinnedCaches.unpin)
}

object IndexValue {
  /** An eager `localCheckpoint` of each frame, the jobs submitted
    * concurrently — [[IndexValue.truncated]]'s and a fold's checkpoint. */
  private[operators] def checkpointed(frames: Seq[DataFrame]): Seq[DataFrame] =
    IndexFiles.inParallel(frames.map(f => () => f.localCheckpoint(true)))
}

/** INDEX LIFECYCLE — the refresh-and-swap discipline that turns a
  * per-corpus index into a LIVING index a 100 TB ingest loop keeps current.
  * This skeleton is the one fold path of all four index families; a
  * family supplies only its segment pieces ([[pieces]], [[appended]]), its
  * view over the segments ([[view]]) and its one-segment state
  * ([[single]], which is also what compaction and a rebuild reset to):
  *
  *   - `fold(batch)` is O(batch) END TO END: the holder keeps the index as
  *     CHECKPOINTED SEGMENTS (the in-memory twin of the persisted
  *     base+delta layout, [[IndexFiles.Artifact]]). A fold computes the
  *     batch's pieces against the published view — exactly the family's
  *     persisted delta — checkpoints them (plus any tiny folded table),
  *     optionally persists them as the fold's delta (`deltaPath`, BEFORE
  *     the swap, so a restart loads base+deltas instead of rebuilding),
  *     and publishes a LAZY VIEW over the segments through one volatile
  *     write: a concurrent reader (a streaming micro-batch gating against
  *     [[current]]) sees only complete, checkpointed inputs;
  *   - folds are `synchronized`: concurrent folders would otherwise both
  *     refresh the same state and lose one batch;
  *   - every fold-local frame is a tracked `persist` dropped right after
  *     the segment checkpoints (pinning them would root one index per fold
  *     in the PinnedCaches TrieMap); IndexDeltaSpec pins the storage bound
  *     and the checkpoint flatness;
  *   - once a holder has more than `maxSegments` segments it COMPACTS in
  *     memory (materialize the view into one segment — the on-disk
  *     `compact` discipline), bounding view plan depth and amortizing the
  *     one O(index) re-materialization across that many O(batch) folds;
  *   - [[rebuildWith]] swaps in a from-scratch rebuild (a PQ retrain, a
  *     graph re-quantization), persisted first as a new base when
  *     `indexPath` is set;
  *   - the caller's pins on the initial index are released on the first
  *     swap.
  *
  * Refreshed ≡ from-scratch is the spec'd contract, including across
  * in-memory compactions (IndexLifecycleSpec, IndexDeltaSpec,
  * KnnGraphLifecycleSpec, PqDriftSpec), and the `*_refresh` / `*_delta`
  * registry rows fold through these holders, so the DuckDB oracle checks
  * the fold the daemons run.
  *
  * Readers hold the index VALUE they read, not the holder: a micro-batch
  * that read the old view mid-swap finishes against a consistent (merely
  * stale) index; its inputs are checkpointed segments that stay valid
  * until unreferenced.
  *
  * A family's [[single]] and [[view]] run from this constructor, so they
  * may read only their arguments. */
abstract class SegmentedIndex[I <: IndexValue[I], D, S] private[graft] (initial: I,
    files: IndexFiles.Artifact[I, D], maxSegments: Int) {

  /** The state over one checkpointed index: init, compaction, rebuild. */
  protected def single(base: I): S
  /** The lazy index the state publishes. */
  protected def view(s: S): I
  /** The batch's pieces against the published index — the family's
    * persisted delta, with every fold-local frame passed through
    * `track`. */
  protected def pieces(current: I, batch: DataFrame,
      track: DataFrame => DataFrame): D
  /** Checkpoint `pieces` and append them to `s` as one segment; returns the
    * next state and the checkpointed delta to persist. */
  protected def appended(s: S, pieces: D): (S, D)

  private final class Published(val state: S, val segments: Int) {
    val index: I = view(state)
  }

  @volatile private var published = new Published(single(initial.truncated()), 1)
  private var initialPins: Option[I] = Some(initial)

  /** The currently-published index (a lazy view whose inputs are all
    * checkpointed — complete by construction for any concurrent reader). */
  def current: I = published.index

  /** Fold `batch` in and atomically publish the refreshed view. With
    * `deltaPath` set, the fold's O(batch) delta lands there BEFORE the
    * swap. Returns the published index. */
  def fold(batch: DataFrame, deltaPath: Option[String] = None): I = synchronized {
    val p = published
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (next, delta) = appended(p.state,
      pieces(p.index, batch, df => { val c = df.persist(); tracked += c; c }))
    deltaPath.foreach(files.saveDelta(delta, _))
    tracked.foreach(_.unpersist())
    swap(
      if (p.segments < maxSegments) new Published(next, p.segments + 1)
      else new Published(single(view(next).truncated()), 1))
  }

  /** Swap in a from-scratch rebuild, reset to one segment. With
    * `indexPath` set the rebuild persists first as a NEW BASE whose stamp
    * swallows the older deltas (they were folded against the replaced
    * index; the base save sweeps them). */
  def rebuildWith(rebuilt: I, indexPath: Option[String] = None): I = synchronized {
    val t = rebuilt.truncated()
    rebuilt.release() // the swap owns the checkpointed copy
    indexPath.foreach(files.save(t, _))
    swap(new Published(single(t), 1))
  }

  private def swap(next: Published): I = {
    published = next
    initialPins.foreach(_.release())
    initialPins = None
    next.index
  }
}

object SegmentedIndex {
  /** Segments folded between in-memory compactions — bounds the view's
    * plan depth and amortizes the one O(index) re-materialization across
    * that many O(batch) folds. */
  val DefaultMaxSegments: Int = 8

  /** A base index plus the checkpointed deltas folded since — the state of
    * the families whose deltas carry everything their view reads. */
  final case class Segments[I, D](base: I, folds: Vector[D])

  private[operators] def union(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_ unionByName _)
}

import IndexValue.checkpointed
import SegmentedIndex.{DefaultMaxSegments, Segments, union}

/** The text corpus index ([[Dedup.CorpusIndex]]). A segment is one fold's
  * fresh fps / sets / UNFILTERED bucket rows ([[Dedup.segmentFold]]); the
  * folded tables are the composed rep re-key map and the OR-ed Bloom word
  * tables (both capped in size) and the dropped-bucket table. The view
  * unions each component, re-keys once through the composed map and drops
  * the CURRENT oversized buckets once — sizes only grow, so the latest
  * drop set subsumes every earlier one. */
final class RefreshableCorpusIndex(initial: Dedup.CorpusIndex,
    maxSegments: Int = DefaultMaxSegments)
    extends SegmentedIndex[Dedup.CorpusIndex, Dedup.IndexDelta, RefreshableCorpusIndex.State](
      initial, Dedup.CorpusFiles, maxSegments) {
  import RefreshableCorpusIndex.{Seg, State}

  protected def single(t: Dedup.CorpusIndex): State =
    State(t, Vector.empty, Dedup.emptyRemap(t.fps.sparkSession),
      t.fpBloom, t.bucketBloom, t.oversized)

  protected def view(s: State): Dedup.CorpusIndex =
    if (s.fresh.isEmpty) s.base
    else {
      val rekey = Dedup.rekeyWith(s.remap) _
      def all(base: DataFrame, f: Seg => DataFrame) = union(base +: s.fresh.map(f))
      s.base.copy(
        fps = rekey(all(s.base.fps, _.fps), "match_id"),
        sets = rekey(all(s.base.sets, _.sets), "doc_id"),
        buckets = rekey(all(s.base.buckets, _.buckets), "doc_id").join(
          broadcast(s.oversized.select("band", "sig")), Seq("band", "sig"), "left_anti"),
        fpBloom = s.fpBloom, bucketBloom = s.bucketBloom, oversized = s.oversized)
    }

  protected def pieces(current: Dedup.CorpusIndex, batch: DataFrame,
      track: DataFrame => DataFrame): Dedup.IndexDelta =
    Dedup.segmentFold(current, batch, track)

  protected def appended(s: State, d: Dedup.IndexDelta): (State, Dedup.IndexDelta) = {
    val ck = checkpointed(Seq(d.freshFps, d.freshSets, d.freshBuckets, d.remap,
      d.oversized, Dedup.orWords(s.fpBloom.unionAll(d.fpBloomWords)),
      Dedup.orWords(s.bucketBloom.unionAll(d.bucketBloomWords))))
    val delta = d.copy(freshFps = ck(0), freshSets = ck(1), freshBuckets = ck(2),
      remap = ck(3), oversized = ck(4))
    (State(s.base, s.fresh :+ Seg(ck(0), ck(1), ck(2)),
      Dedup.composeRemaps(s.remap, ck(3)).localCheckpoint(true), ck(5), ck(6), ck(4)),
      delta)
  }
}

object RefreshableCorpusIndex {
  final case class Seg private[operators] (fps: DataFrame, sets: DataFrame,
      buckets: DataFrame)
  final case class State private[operators] (base: Dedup.CorpusIndex,
      fresh: Vector[Seg], remap: DataFrame, fpBloom: DataFrame,
      bucketBloom: DataFrame, oversized: DataFrame)
}

/** The embedding gate index ([[Similarity.EmbedIndex]]) — the corpus
  * holder's vector twin, simpler: no re-key map, no Blooms. A segment is
  * one fold's [[Similarity.EmbedDelta]]; the view drops the latest delta's
  * oversized buckets once. */
final class RefreshableEmbedIndex(initial: Similarity.EmbedIndex,
    maxSegments: Int = DefaultMaxSegments)
    extends SegmentedIndex[Similarity.EmbedIndex, Similarity.EmbedDelta,
      Segments[Similarity.EmbedIndex, Similarity.EmbedDelta]](
      initial, Similarity.EmbedFiles, maxSegments) {
  private type State = Segments[Similarity.EmbedIndex, Similarity.EmbedDelta]

  protected def single(t: Similarity.EmbedIndex): State = Segments(t, Vector.empty)

  protected def view(s: State): Similarity.EmbedIndex =
    if (s.folds.isEmpty) s.base
    else {
      val oversized = s.folds.last.oversized
      s.base.copy(
        qc = union(s.base.qc +: s.folds.map(_.qNew)),
        cb = union(s.base.cb +: s.folds.map(_.freshBuckets)).join(
          broadcast(oversized.select("table", "bucket")), Seq("table", "bucket"), "left_anti"),
        oversized = oversized)
    }

  protected def pieces(current: Similarity.EmbedIndex, batch: DataFrame,
      track: DataFrame => DataFrame): Similarity.EmbedDelta =
    Similarity.embedSegmentFold(current, batch, track)

  protected def appended(s: State,
      d: Similarity.EmbedDelta): (State, Similarity.EmbedDelta) = {
    val ck = checkpointed(d.frames)
    val delta = Similarity.EmbedDelta(ck(0), ck(1), ck(2))
    (s.copy(folds = s.folds :+ delta), delta)
  }
}

/** The kNN GRAPH ([[Similarity.KnnGraphIndex]]) — its consumers
  * ([[Similarity.pageRankOver]], [[Similarity.qualityPropagationOver]])
  * must never traverse a stale graph after the corpus they rank refreshed.
  * A fold is [[Similarity.knnGraphSegmentFold]] under the FROZEN centroids
  * (≡ from-scratch under the same codebook, spec-pinned); drift is
  * observed through [[Similarity.knnGraphRecall]] and answered by
  * [[rebuildWith]] ([[IndexMaintenance.maintainKnnGraph]]).
  *
  * TOMBSTONE REPLAY: the edge component is not pure-append (a fold
  * REPLACES affected old queries' rows), but a fold never edits a row in
  * place — it supersedes whole query_ids. A segment is one fold's
  * [[Similarity.KnnGraphDelta]] (the batch's qn/probe rows, its fresh edge
  * rows and the affected-query tombstones, all batch-bounded: probe cells
  * are frozen, so only cells the batch lands in can be affected), and the
  * view's edges are "each segment's rows minus every LATER segment's
  * tombstones" — latest-wins by construction; qn/probes union plainly. */
final class RefreshableKnnGraph(initial: Similarity.KnnGraphIndex,
    maxSegments: Int = DefaultMaxSegments)
    extends SegmentedIndex[Similarity.KnnGraphIndex, Similarity.KnnGraphDelta,
      Segments[Similarity.KnnGraphIndex, Similarity.KnnGraphDelta]](
      initial, Similarity.GraphFiles, maxSegments) {
  private type State = Segments[Similarity.KnnGraphIndex, Similarity.KnnGraphDelta]

  protected def single(t: Similarity.KnnGraphIndex): State = Segments(t, Vector.empty)

  protected def view(s: State): Similarity.KnnGraphIndex =
    if (s.folds.isEmpty) s.base
    else {
      val tombs = s.folds.map(_.tombstones)
      // segment i (0 = the base) is superseded by folds i, i+1, …
      val edges = (s.base.edges +: s.folds.map(_.edgesSeg)).zipWithIndex.map {
        case (e, i) if i == s.folds.size => e
        case (e, i) => e.join(broadcast(union(tombs.drop(i))), Seq("query_id"), "left_anti")
      }
      s.base.copy(
        qn = union(s.base.qn +: s.folds.map(_.qnNew)),
        probes = union(s.base.probes +: s.folds.map(_.probesNew)),
        edges = union(edges))
    }

  protected def pieces(current: Similarity.KnnGraphIndex, batch: DataFrame,
      track: DataFrame => DataFrame): Similarity.KnnGraphDelta =
    Similarity.knnGraphSegmentFold(current, batch, track)

  protected def appended(s: State,
      d: Similarity.KnnGraphDelta): (State, Similarity.KnnGraphDelta) = {
    val ck = checkpointed(d.frames)
    val delta = Similarity.KnnGraphDelta(ck(0), ck(1), ck(2), ck(3))
    (s.copy(folds = s.folds :+ delta), delta)
  }
}

/** The learned-PQ index ([[Similarity.PqIndex]]) under the codebook-drift
  * lifecycle: [[fold]] append-encodes a batch under the FROZEN codebook
  * (the routine ingest); [[retrain]] trains a fresh codebook over the
  * refreshed corpus, re-encodes, bumps the version and swaps. Drift is
  * observed through [[Similarity.pqRecall]] (or the
  * [[IndexMaintenance.maintainPq]] policy) — PqDriftSpec pins the whole
  * story. Under a frozen codebook both mutable components (codes,
  * quantized vectors) are PURE append, so a segment is one fold's
  * [[Similarity.PqDelta]] and the view is a plain union per component. */
final class RefreshablePqIndex(initial: Similarity.PqIndex,
    maxSegments: Int = DefaultMaxSegments)
    extends SegmentedIndex[Similarity.PqIndex, Similarity.PqDelta,
      Segments[Similarity.PqIndex, Similarity.PqDelta]](
      initial, Similarity.PqFiles, maxSegments) {
  private type State = Segments[Similarity.PqIndex, Similarity.PqDelta]

  protected def single(t: Similarity.PqIndex): State = Segments(t, Vector.empty)

  protected def view(s: State): Similarity.PqIndex =
    if (s.folds.isEmpty) s.base
    else s.base.copy(
      codes = union(s.base.codes +: s.folds.map(_.codesNew)),
      qn = union(s.base.qn +: s.folds.map(_.qNew)))

  protected def pieces(current: Similarity.PqIndex, batch: DataFrame,
      track: DataFrame => DataFrame): Similarity.PqDelta =
    Similarity.pqAppendDelta(current.cents, current.subspaces, batch, track)

  protected def appended(s: State,
      d: Similarity.PqDelta): (State, Similarity.PqDelta) = {
    val ck = checkpointed(d.frames)
    val delta = Similarity.PqDelta(ck(0), ck(1))
    (s.copy(folds = s.folds :+ delta), delta)
  }

  /** Retrain over `corpus` (the full refreshed population), re-encode,
    * version-bump and swap ([[rebuildWith]]); with `indexPath` set the
    * retrained index persists first as a new base whose stamp swallows the
    * frozen-codebook deltas. */
  def retrain(corpus: DataFrame, indexPath: Option[String] = None): Similarity.PqIndex =
    synchronized(rebuildWith(Similarity.retrainPqIndex(corpus, current), indexPath))
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
        holder.current.k, holder.current.nProbe, centroidMod), indexPath)
      Decision(before, retrained = true, Some(recall()))
    }
  }
}

