package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.operators.{IndexFiles, IndexMaintenance}

/** THE STAGED INGEST GATE — the one closed ingest loop behind every
  * streaming index gate ([[StreamingDedup.novelNearCorpusIngest]],
  * [[StreamingSimilarity.novelAgainstIndexIngest]],
  * [[StreamingSimilarity.pqIngest]], [[StreamingSimilarity.knnGraphIngest]]).
  * A family supplies the per-batch decision (`decide`: the frame to return
  * and the frame to stage), an idempotent fold of a staged frame into its
  * living index, its artifact's compaction and an optional maintenance
  * pass. Each micro-batch:
  *
  *   1. re-checks the writer lease on `indexPath`;
  *   2. folds every staged batch with an id BELOW its own, ascending;
  *   3. decides against the index as it stands, and stages the admitted
  *      frame for the NEXT batch's fold.
  *
  * The fold is LAGGED one batch by design: a `foreachBatch` re-delivery of
  * batch N decides against exactly the index N saw the first time
  * (folding inside N would poison its own replay: re-gated documents would
  * match themselves and flip to non-novel). The exactly-once argument rests
  * on `foreachBatch`'s replay-stable batch ids (Structured Streaming,
  * SIGMOD 2018): durable staging lands under `indexPath/staged/batch=<id>`
  * and a replay overwrites identical bytes; a fold persists its O(batch)
  * delta BEFORE the staged dir is deleted, so a crash at any boundary
  * re-folds on restart, and every fold is idempotent (a re-fold of indexed
  * rows adds nothing), so the one ambiguous window (fold done, checkpoint
  * not) re-folds to the identical index. Without `indexPath` the staged
  * frame lives in driver memory — at-least-once on novelty, never lost
  * data.
  *
  * Every `compactEvery` folds the artifact compacts, bounding the delta
  * chain a restart replays (after the fold's delta landed and before the
  * staged dir deletes, so a crash mid-compaction is the artifact's
  * ignored-by-construction case); every `maintainEvery`
  * folds `maintain` runs and its [[IndexMaintenance.Decision]] joins
  * [[decisions]]. [[flush]] folds everything still staged at a quiet point
  * — without it a one-batch `Trigger.AvailableNow` run would never fold. */
final class IngestGate private[streaming] (spark: SparkSession,
    indexPath: Option[String],
    decide: DataFrame => (DataFrame, DataFrame),
    fold: (DataFrame, Option[String]) => Unit,
    compact: (SparkSession, String) => Unit,
    compactEvery: Int,
    maintainEvery: Int = 0,
    maintain: Option[() => IndexMaintenance.Decision] = None)
    extends (DataFrame => DataFrame) {

  private val pending = new AtomicReference[Option[DataFrame]](None)
  private val nextSyntheticId = new AtomicLong(0L)
  private val foldsSinceCompact = new AtomicLong(0L)
  private val foldsSinceMaintain = new AtomicLong(0L)
  private val audit = new ConcurrentLinkedQueue[IndexMaintenance.Decision]()
  // the durable form claims the path's writer lease at construction: a
  // second gate on the same index path fences this one (fail-fast) instead
  // of silently interleaving delta numbers with it
  private val lease: Option[IndexFiles.WriterLease] =
    indexPath.map(p => IndexFiles.claimWriter(spark, p))

  /** Every maintenance pass this gate has run, in order — the audit trail
    * a deployment logs and alerts on. */
  def decisions: Seq[IndexMaintenance.Decision] = {
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

  /** Fold every staged batch with id strictly below `before` (ALL staged
    * when None), ascending. */
  private def foldStaged(before: Option[Long]): Unit =
    indexPath match {
      case Some(p) =>
        IngestGate.staged(spark, p)
          .filter { case (id, _) => before.forall(id < _) }
          .foreach { case (_, dir) =>
            val staged = spark.read.parquet(dir.toString)
            if (!staged.isEmpty) {
              fold(staged, Some(p))
              if (compactEvery > 0 &&
                  foldsSinceCompact.incrementAndGet() >= compactEvery) {
                compact(spark, p)
                foldsSinceCompact.set(0L)
              }
              maybeMaintain()
            }
            IndexFiles.delete(spark, dir.toString)
          }
      case None =>
        pending.getAndSet(None).foreach { st =>
          fold(st, None); st.unpersist(); maybeMaintain()
        }
    }

  /** Fold whatever is staged. Safe at any quiet point; the next batch then
    * decides against the folded index. */
  def flush(): Unit = {
    lease.foreach(_.check())
    foldStaged(None)
  }

  /** The per-micro-batch transform with the REAL foreachBatch id — the
    * form to call from `foreachBatch`, so durable staging keys on the
    * engine's replay-stable ids. */
  def apply(batch: DataFrame, batchId: Long): DataFrame = {
    lease.foreach(_.check())
    foldStaged(Some(batchId))
    val (out, admitted) = decide(batch)
    indexPath match {
      case Some(p) =>
        admitted.write.mode("overwrite").parquet(s"$p/${IngestGate.StagedDir}/batch=$batchId")
      case None =>
        // stage MATERIALIZED: a foreachBatch frame's backing data is only
        // guaranteed during its own batch
        val a = admitted.persist()
        if (a.count() > 0) pending.set(Some(a)) else a.unpersist()
    }
    out
  }

  override def apply(batch: DataFrame): DataFrame =
    apply(batch, nextSyntheticId.getAndIncrement())
}

object IngestGate {
  private val StagedDir = "staged"

  /** The staged batch dirs under an index path awaiting their lagged fold,
    * ascending by batch id. */
  def staged(spark: SparkSession, indexPath: String): Seq[(Long, Path)] =
    IndexFiles.numbered(spark, s"$indexPath/$StagedDir", "batch=")

  /** The rows of `staged` whose `vec_id` the index does not hold yet — the
    * guard that makes a raw append (PQ encode, graph fold) an idempotent
    * fold, so a crash-boundary re-fold adds nothing. Shuffle-free: the
    * indexed ids are scanned once against the BROADCAST staged ids, and the
    * already-indexed set (≤ batch-sized) broadcasts into the anti-join. */
  private[streaming] def unindexed(indexed: DataFrame, staged: DataFrame): DataFrame = {
    val already = indexed.select("vec_id")
      .join(broadcast(staged.select("vec_id")), Seq("vec_id"), "left_semi")
    staged.join(broadcast(already), Seq("vec_id"), "left_anti")
  }
}
