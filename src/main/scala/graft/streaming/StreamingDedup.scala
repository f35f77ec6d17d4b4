package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the streaming twin of
  * [[graft.operators.Dedup.exact]] for a corpus that arrives as a stream
  * (crawl output, log shipping): emit each distinct text's FIRST arrival,
  * drop every later copy, across micro-batches and restarts.
  *
  * Spark-first: this is the engine's own stateful `dropDuplicates`
  * operator keyed on the 16-byte content fingerprint — no custom state
  * machine. State is one entry per DISTINCT text (the md5 key, not the
  * body), checkpointed exactly-once, and at 100 TB it lives in the RocksDB
  * state store like the merge's ([[StreamingMerge]] docs; same
  * `providerClass` knob, spec-exercised there).
  *
  *   - [[firstOccurrences]] keeps state forever — correct unbounded dedup,
  *     the batch-equivalent semantics.
  *   - [[firstOccurrencesWithinWatermark]] bounds state with an event-time
  *     watermark (`dropDuplicatesWithinWatermark`): copies are only
  *     suppressed while their fingerprint is within the delay — the
  *     standard state-size/recall trade at unbounded scale.
  */
object StreamingDedup {

  /** Add the dedup key. The fingerprint column is what shuffles and what
    * the state store keys — 16 bytes regardless of document size. */
  private def withFp(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text")))

  /** First arrival per distinct text (unbounded state). Works on a
    * streaming OR batch frame — on a batch frame Spark's dropDuplicates
    * keeps an arbitrary row, so batch callers wanting the min-id row should
    * use [[graft.operators.Dedup.exact]]; the streaming semantics are
    * arrival-order (the reference's own dup rule: first wins). */
  def firstOccurrences(docs: DataFrame): DataFrame =
    withFp(docs).dropDuplicates("fp")

  /** First arrival per distinct text with watermark-bounded state: `tsCol`
    * must be an event-time timestamp column; state for a fingerprint is
    * dropped once the watermark passes its arrival time + `delay`. */
  def firstOccurrencesWithinWatermark(docs: DataFrame, tsCol: String,
      delay: String): DataFrame =
    withFp(docs).withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  /** The CLOSED near-dup ingest loop — the streaming twin of
    * [[graft.operators.Dedup.incremental]]'s full semantics: each
    * micro-batch reports every document's best corpus match `(doc_id,
    * best_match, best_jaccard, novel)` against the LIVING corpus index
    * ([[graft.operators.Dedup.bestMatchAgainst]]: the exact md5 join plus
    * the banded-LSH candidate join with exact shingle-Jaccard verify), and
    * the admitted (novel) documents fold back in lagged one batch, so batch
    * N+1's copies of batch N's admissions are rejected — the full
    * crawl-admission shape. The gate is a `foreachBatch` body, not a
    * stream-native plan: the per-doc best-match fold is an aggregation, and
    * a streaming aggregation would accrete one state entry per document
    * forever, while as a `foreachBatch` body state is ZERO regardless of
    * stream length. [[graft.operators.RefreshableCorpusIndex.fold]] is
    * content-idempotent, which is the fold the [[IngestGate]]'s replay
    * argument needs.
    *
    * With `indexPath` set the loop is durable end to end (staged
    * admissions, per-fold deltas and compaction every `compactEvery` folds
    * through [[graft.operators.Dedup.CorpusFiles]]). In-stream copies are
    * NOT matched against each other: compose [[firstOccurrences]] upstream
    * so a batch never carries its own copies. */
  def novelNearCorpusIngest(ref: graft.operators.RefreshableCorpusIndex,
      threshold: Double = 0.8,
      indexPath: Option[String] = None,
      compactEvery: Int = 0): IngestGate =
    new IngestGate(ref.current.fps.sparkSession, indexPath,
      batch => {
        val decisions =
          graft.operators.Dedup.bestMatchAgainst(batch, ref.current, threshold)
        // (doc_id, text) is all a fold consumes
        (decisions, batch.join(decisions.filter(col("novel")).select("doc_id"),
          Seq("doc_id")).select("doc_id", "text"))
      },
      (staged, deltaPath) => { ref.fold(staged, deltaPath = deltaPath); () },
      graft.operators.Dedup.CorpusFiles.compact, compactEvery)
}
