package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** Streaming embedding-ingest novelty — the vector twin of
  * [[StreamingDedup.novelNearCorpus]]: embeddings arrive as a stream (an
  * encoder emitting vectors for freshly crawled documents) and each is
  * admitted only if it has no corpus match at the cosine threshold.
  *
  * Same architecture and for the same reason: the gate returns the
  * per-micro-batch transform for `DataStreamWriter.foreachBatch` rather
  * than a stream-native plan — the best-match fold is an aggregation, and
  * a streaming aggregation would accrete state per vector forever; as a
  * `foreachBatch` body the whole gate is stateless joins against the
  * PINNED corpus LSH index ([[Similarity.embedIndex]], built once here at
  * closure creation, never per batch) plus a batch-local fold, so state is
  * ZERO regardless of stream length and per-batch cost is proportional to
  * the BATCH. Restart semantics are `foreachBatch`'s exactly-once batch
  * replay; the sink must be idempotent per (batchId, vec_id).
  *
  * In-stream duplicates are not matched against each other (the same
  * contract as the text gate — compose an upstream
  * [[StreamingDedup.firstOccurrences]]-style pass on a vector fingerprint
  * when the stream itself must collapse).
  *
  * Proven equivalent to [[Similarity.embedNovelty]] on a parity-split
  * corpus, across a kill/restart, in StreamingDedupSpec. */
object StreamingSimilarity {

  /** The in-stream exact-dup key for vectors: md5 of the QUANTIZED
    * embedding — the same round(x·1000) grid the whole engine scores on,
    * so two floats that quantize identically are "the same vector" for
    * dedup exactly as they are for similarity. 16 bytes shuffle/keyed
    * regardless of dimension. */
  private def withVecFp(vecs: DataFrame): DataFrame =
    vecs.withColumn("vfp", org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.expr(
        "concat_ws(',', transform(embedding, " +
          "x -> cast(cast(round(cast(x as double) * 1000) as bigint) as string)))")))

  /** First arrival per distinct (quantized) vector —
    * [[StreamingDedup.firstOccurrences]]'s vector twin, the upstream pass
    * the novelty gates' contract asks for (in-stream duplicates are not
    * matched against each other; this collapses them before the gate).
    * Deterministic: the MIN-vec_id row wins per distinct quantized
    * vector — what a replayed foreachBatch body needs (an
    * arbitrary-winner collapse would stage a different vec_id on replay
    * and break byte-idempotent re-staging). One keyed window, never
    * partitionless. */
  def firstVectorOccurrencesById(vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vfp").orderBy("vec_id")
    withVecFp(vecs).withColumn("vrn", row_number().over(w))
      .filter(col("vrn") === 1).drop("vrn", "vfp")
  }

  def novelAgainstIndex(corpus: DataFrame, threshold: Double = 0.35,
      bucketCap: Int = graft.operators.Dedup.DefaultBucketCap): DataFrame => DataFrame = {
    val idx = Similarity.embedIndex(corpus, bucketCap)
    batch => Similarity.embedNoveltyAgainst(batch, idx, threshold)
  }

  /** The vector side of the CLOSED ingest loop
    * ([[StreamingDedup.novelNearCorpusIngest]]'s twin): gate each
    * micro-batch against the living embed index and fold the admitted
    * (novel) vectors back in, LAGGED one batch — batch N's admissions fold
    * at the start of batch N+1, so a replay of N gates against exactly the
    * index N saw first. Returns an [[EmbedIngestGate]] (a value, not a
    * bare closure): [[EmbedIngestGate.flush]] folds whatever is still
    * staged at clean shutdown — without it a one-batch
    * `Trigger.AvailableNow` run would never fold at all (the lag defers
    * every fold to a next batch that never comes) and the staged persisted
    * frame would leak. With `indexPath` set the loop is durable end to
    * end, exactly like the text gate: staged admissions land under
    * `indexPath/staged/batch=<id>`, folds persist O(batch) deltas
    * ([[Similarity.saveEmbedIndexDelta]]), restarts load base+deltas and
    * fold the leftovers. Without it the staged batch is driver-memory —
    * at-least-once on novelty. */
  def novelAgainstIndexIngest(ref: graft.operators.RefreshableEmbedIndex,
      threshold: Double = 0.35,
      indexPath: Option[String] = None,
      compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None): EmbedIngestGate =
    new EmbedIngestGate(ref, threshold, indexPath, compactEvery,
      maintainEvery, maintain)

  /** [[StreamingDedup.IngestGate]]'s vector twin. Staged batches are
    * SLIMMED to the three columns the fold consumes — `(vec_id, label,
    * embedding)`, exactly [[Similarity]]'s `quantized()` input — so staging
    * bytes are the vectors themselves, not whatever payload columns the
    * stream happens to carry alongside them. */
  final class EmbedIngestGate(ref: graft.operators.RefreshableEmbedIndex,
      threshold: Double, indexPath: Option[String], compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None)
      extends (DataFrame => DataFrame) {
    import org.apache.spark.sql.SparkSession
    import graft.operators.IndexFiles

    private val foldsSinceMaintain = new java.util.concurrent.atomic.AtomicLong(0L)
    private val audit = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.operators.IndexMaintenance.Decision]()

    /** Every maintenance pass this gate has run, in order — for the embed
      * gate the policy is MEASURE-ONLY ([[graft.operators.IndexMaintenance
      * .monitorEmbedGate]]: LSH buckets are content-derived, there is no
      * retrain escape), so the audit trail is the alert feed itself. */
    def decisions: Seq[graft.operators.IndexMaintenance.Decision] = {
      import scala.jdk.CollectionConverters._
      audit.iterator().asScala.toSeq
    }

    private def maybeMaintain(): Unit =
      maintain.foreach { m =>
        if (maintainEvery > 0 &&
            foldsSinceMaintain.incrementAndGet() >= maintainEvery) {
          audit.add(m())
          foldsSinceMaintain.set(0L)
        }
      }

    private val pending =
      new java.util.concurrent.atomic.AtomicReference[Option[DataFrame]](None)
    private val nextSyntheticId = new java.util.concurrent.atomic.AtomicLong(0L)
    private val foldsSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
    // writer fencing on the durable path (see IndexFiles.WriterLease /
    // StreamingDedup.IngestGate): a second gate on this index path fences
    // this one fail-fast instead of silently corrupting the delta chain
    private val lease: Option[IndexFiles.WriterLease] =
      indexPath.map(p => IndexFiles.claimWriter(ref.current.qc.sparkSession, p))

    private def foldStaged(spark: SparkSession, before: Option[Long]): Unit =
      indexPath match {
        case Some(p) =>
          IndexFiles.numbered(spark, s"$p/staged", "batch=")
            .filter { case (id, _) => before.forall(id < _) }
            .foreach { case (_, dir) =>
              val staged = spark.read.parquet(dir.toString)
              if (!staged.isEmpty) {
                ref.fold(staged, deltaPath = Some(p))
                // periodic LSM compaction — see IngestGate.foldStaged
                if (compactEvery > 0 &&
                    foldsSinceCompact.incrementAndGet() >= compactEvery) {
                  Similarity.compactEmbedIndex(spark, p)
                  foldsSinceCompact.set(0L)
                }
                maybeMaintain()
              }
              IndexFiles.delete(spark, dir.toString)
            }
        case None =>
          pending.getAndSet(None).foreach { st =>
            ref.fold(st); st.unpersist(); maybeMaintain()
          }
      }

    /** Fold whatever is staged (clean-shutdown flush / quiet point). */
    def flush(): Unit = {
      lease.foreach(_.check())
      foldStaged(ref.current.qc.sparkSession, None)
    }

    /** The per-micro-batch transform with the REAL foreachBatch id (use
      * this form from foreachBatch so durable staging keys on the engine's
      * replay-stable ids). */
    def apply(batch: DataFrame, batchId: Long): DataFrame = {
      lease.foreach(_.check())
      foldStaged(batch.sparkSession, Some(batchId))
      val decisions = Similarity.embedNoveltyAgainst(batch, ref.current, threshold)
      val admitted = batch
        .select("vec_id", "label", "embedding")
        .join(
          decisions.filter(org.apache.spark.sql.functions.col("novel"))
            .select("vec_id"), Seq("vec_id"))
      indexPath match {
        case Some(p) =>
          admitted.write.mode("overwrite").parquet(s"$p/staged/batch=$batchId")
        case None =>
          val a = admitted.persist()
          if (a.count() > 0) pending.set(Some(a)) else a.unpersist()
      }
      decisions
    }

    override def apply(batch: DataFrame): DataFrame =
      apply(batch, nextSyntheticId.getAndIncrement())
  }

  /** DURABLE streaming PQ ingest — the deployment form of the PQ
    * lifecycle: every micro-batch append-encodes into the living
    * [[graft.operators.RefreshablePqIndex]] under the frozen codebook,
    * staged and lagged exactly like the text/embed gates so a restart
    * resumes from disk ([[Similarity.loadPqIndex]] over base+deltas).
    *
    * One wrinkle the novelty gates don't have: their folds are
    * content-IDEMPOTENT (re-folding already-indexed docs yields an
    * empty-fresh delta), but a raw append-encode is NOT — a replayed fold
    * would duplicate every code row. The gate therefore anti-joins each
    * staged batch against the index's vec_ids before appending
    * (`already-encoded ⇒ skip`), restoring the idempotence the
    * crash-at-any-boundary argument needs. Cost: one scan of the
    * in-memory qn view per fold with the batch ids broadcast — the same
    * order as the novelty gates' per-batch index probe. */
  def pqIngest(ref: graft.operators.RefreshablePqIndex,
      indexPath: Option[String] = None,
      compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None): PqIngestGate =
    new PqIngestGate(ref, indexPath, compactEvery, maintainEvery, maintain)

  /** [[StreamingDedup.IngestGate]]'s PQ sibling: apply() stages the batch
    * and folds everything staged BEFORE it; [[PqIngestGate.flush]] folds
    * the rest at a quiet point (an AvailableNow run's final batch).
    *
    * With `maintainEvery` > 0 and a `maintain` closure (typically
    * `() => IndexMaintenance.maintainPq(holder, corpus, floor,
    * indexPath = …)`), the gate runs the monitor-driven maintenance
    * policy every N folds — the deployment loop that actually OBSERVES
    * codebook drift instead of leaving the recall monitor as a tool
    * nobody calls; each pass's [[graft.operators.IndexMaintenance.Decision]]
    * audit record accumulates in [[PqIngestGate.decisions]]. The closure
    * supplies the corpus because a retrain re-encodes the RAW vectors,
    * which the index (quantized forms only) cannot reconstruct — the
    * deployment hands back whatever population it lands (e.g. its own
    * sink). */
  final class PqIngestGate(ref: graft.operators.RefreshablePqIndex,
      indexPath: Option[String], compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None)
      extends (DataFrame => DataFrame) {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.broadcast
    import graft.operators.IndexFiles

    private val pending =
      new java.util.concurrent.atomic.AtomicReference[Option[DataFrame]](None)
    private val nextSyntheticId = new java.util.concurrent.atomic.AtomicLong(0L)
    private val foldsSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
    private val foldsSinceMaintain = new java.util.concurrent.atomic.AtomicLong(0L)
    private val audit = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.operators.IndexMaintenance.Decision]()
    // writer fencing on the durable path (see IndexFiles.WriterLease)
    private val lease: Option[IndexFiles.WriterLease] =
      indexPath.map(p => IndexFiles.claimWriter(ref.current.cents.sparkSession, p))

    /** Every maintenance pass this gate has run, in order — the audit
      * trail a deployment logs/alerts on. */
    def decisions: Seq[graft.operators.IndexMaintenance.Decision] = {
      import scala.jdk.CollectionConverters._
      audit.iterator().asScala.toSeq
    }

    /** The every-N-folds maintenance cadence (measure recall; a floor
      * breach retrains-and-swaps through the holder — see [[pqIngest]]). */
    private def maybeMaintain(): Unit =
      maintain.foreach { m =>
        if (maintainEvery > 0 &&
            foldsSinceMaintain.incrementAndGet() >= maintainEvery) {
          audit.add(m())
          foldsSinceMaintain.set(0L)
        }
      }

    /** Append `staged`, skipping vec_ids the index already encoded — the
      * idempotence guard that makes a crash-boundary re-fold a no-op.
      * Shuffle-free: the qn view is scanned once against the BROADCAST
      * staged ids (semi-join builds right), and the resulting
      * already-encoded id set (≤ batch-sized) broadcasts into the anti. */
    private def appendFresh(staged: DataFrame, deltaPath: Option[String]): Unit = {
      val already = ref.current.qn.select("vec_id")
        .join(broadcast(staged.select("vec_id")), Seq("vec_id"), "left_semi")
      val fresh = staged.join(broadcast(already), Seq("vec_id"), "left_anti")
      if (!fresh.isEmpty) ref.append(fresh, deltaPath = deltaPath)
    }

    private def foldStaged(spark: SparkSession, before: Option[Long]): Unit =
      indexPath match {
        case Some(p) =>
          IndexFiles.numbered(spark, s"$p/staged", "batch=")
            .filter { case (id, _) => before.forall(id < _) }
            .foreach { case (_, dir) =>
              val staged = spark.read.parquet(dir.toString)
              if (!staged.isEmpty) {
                appendFresh(staged, Some(p))
                if (compactEvery > 0 &&
                    foldsSinceCompact.incrementAndGet() >= compactEvery) {
                  Similarity.compactPqIndex(spark, p)
                  foldsSinceCompact.set(0L)
                }
                maybeMaintain()
              }
              IndexFiles.delete(spark, dir.toString)
            }
        case None =>
          pending.getAndSet(None).foreach { st =>
            appendFresh(st, None); st.unpersist(); maybeMaintain()
          }
      }

    /** Fold whatever is staged (clean-shutdown flush / quiet point). */
    def flush(): Unit = {
      lease.foreach(_.check())
      foldStaged(ref.current.cents.sparkSession, None)
    }

    /** The per-micro-batch transform with the REAL foreachBatch id. */
    def apply(batch: DataFrame, batchId: Long): DataFrame = {
      lease.foreach(_.check())
      foldStaged(batch.sparkSession, Some(batchId))
      val slim = batch.select("vec_id", "label", "embedding")
      indexPath match {
        case Some(p) =>
          slim.write.mode("overwrite").parquet(s"$p/staged/batch=$batchId")
        case None =>
          val a = slim.persist()
          if (a.count() > 0) pending.set(Some(a)) else a.unpersist()
      }
      slim
    }

    override def apply(batch: DataFrame): DataFrame =
      apply(batch, nextSyntheticId.getAndIncrement())
  }

  /** DURABLE streaming kNN-GRAPH ingest — the deployment form of the
    * graph lifecycle, completing the gate family (text / embed / PQ /
    * graph): every micro-batch folds into the living
    * [[graft.operators.RefreshableKnnGraph]] under the frozen coarse
    * quantizer, staged and lagged exactly like the other gates so a
    * restart resumes from disk ([[Similarity.loadKnnGraph]] over
    * base+tombstone-deltas).
    *
    * Like the PQ gate — and unlike the novelty gates — a graph fold is NOT
    * content-idempotent: re-folding an already-indexed vector would
    * duplicate its qn/probes rows, and the duplicated qn rows would then
    * duplicate candidate scores inside every later fold's re-rank. The
    * gate therefore anti-joins each staged batch against the graph's
    * vec_ids before folding (`already-folded ⇒ skip`), restoring the
    * idempotence the crash-at-any-boundary replay argument needs. Cost:
    * one scan of the in-memory qn view per fold with the batch ids
    * broadcast — the same order as the fold's own centroid assignment. */
  def knnGraphIngest(ref: graft.operators.RefreshableKnnGraph,
      indexPath: Option[String] = None,
      compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None): KnnGraphIngestGate =
    new KnnGraphIngestGate(ref, indexPath, compactEvery, maintainEvery, maintain)

  /** [[StreamingDedup.IngestGate]]'s graph sibling: apply() stages the
    * batch and folds everything staged BEFORE it;
    * [[KnnGraphIngestGate.flush]] folds the rest at a quiet point (an
    * AvailableNow run's final batch). Staged batches are slimmed to
    * `(vec_id, label, embedding)` — the fold's `quantized()` input.
    * `maintainEvery`/`maintain` run the monitor-driven maintenance policy
    * (typically `() => IndexMaintenance.maintainKnnGraph(holder, corpus,
    * floor)`) every N folds, accumulating the audit trail in
    * [[KnnGraphIngestGate.decisions]] — see [[pqIngest]] for why the
    * closure supplies the corpus. */
  final class KnnGraphIngestGate(ref: graft.operators.RefreshableKnnGraph,
      indexPath: Option[String], compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None)
      extends (DataFrame => DataFrame) {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.broadcast
    import graft.operators.IndexFiles

    private val pending =
      new java.util.concurrent.atomic.AtomicReference[Option[DataFrame]](None)
    private val nextSyntheticId = new java.util.concurrent.atomic.AtomicLong(0L)
    private val foldsSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
    private val foldsSinceMaintain = new java.util.concurrent.atomic.AtomicLong(0L)
    private val audit = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.operators.IndexMaintenance.Decision]()
    // writer fencing on the durable path (see IndexFiles.WriterLease)
    private val lease: Option[IndexFiles.WriterLease] =
      indexPath.map(p => IndexFiles.claimWriter(ref.current.cents.sparkSession, p))

    /** Every maintenance pass this gate has run, in order. */
    def decisions: Seq[graft.operators.IndexMaintenance.Decision] = {
      import scala.jdk.CollectionConverters._
      audit.iterator().asScala.toSeq
    }

    private def maybeMaintain(): Unit =
      maintain.foreach { m =>
        if (maintainEvery > 0 &&
            foldsSinceMaintain.incrementAndGet() >= maintainEvery) {
          audit.add(m())
          foldsSinceMaintain.set(0L)
        }
      }

    /** Fold `staged`, skipping vec_ids the graph already holds — the
      * idempotence guard that makes a crash-boundary re-fold a no-op. */
    private def foldFresh(staged: DataFrame, deltaPath: Option[String]): Unit = {
      val already = ref.current.qn.select("vec_id")
        .join(broadcast(staged.select("vec_id")), Seq("vec_id"), "left_semi")
      val fresh = staged.join(broadcast(already), Seq("vec_id"), "left_anti")
      if (!fresh.isEmpty) ref.fold(fresh, deltaPath = deltaPath)
    }

    private def foldStaged(spark: SparkSession, before: Option[Long]): Unit =
      indexPath match {
        case Some(p) =>
          IndexFiles.numbered(spark, s"$p/staged", "batch=")
            .filter { case (id, _) => before.forall(id < _) }
            .foreach { case (_, dir) =>
              val staged = spark.read.parquet(dir.toString)
              if (!staged.isEmpty) {
                foldFresh(staged, Some(p))
                if (compactEvery > 0 &&
                    foldsSinceCompact.incrementAndGet() >= compactEvery) {
                  Similarity.compactKnnGraph(spark, p)
                  foldsSinceCompact.set(0L)
                }
                maybeMaintain()
              }
              IndexFiles.delete(spark, dir.toString)
            }
        case None =>
          pending.getAndSet(None).foreach { st =>
            foldFresh(st, None); st.unpersist(); maybeMaintain()
          }
      }

    /** Fold whatever is staged (clean-shutdown flush / quiet point). */
    def flush(): Unit = {
      lease.foreach(_.check())
      foldStaged(ref.current.cents.sparkSession, None)
    }

    /** The per-micro-batch transform with the REAL foreachBatch id. */
    def apply(batch: DataFrame, batchId: Long): DataFrame = {
      lease.foreach(_.check())
      foldStaged(batch.sparkSession, Some(batchId))
      val slim = batch.select("vec_id", "label", "embedding")
      indexPath match {
        case Some(p) =>
          slim.write.mode("overwrite").parquet(s"$p/staged/batch=$batchId")
        case None =>
          val a = slim.persist()
          if (a.count() > 0) pending.set(Some(a)) else a.unpersist()
      }
      slim
    }

    override def apply(batch: DataFrame): DataFrame =
      apply(batch, nextSyntheticId.getAndIncrement())
  }
}
