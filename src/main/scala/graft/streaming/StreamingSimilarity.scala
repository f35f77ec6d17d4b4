package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Similarity

/** Streaming embedding ingest — the vector side of the ingest gates:
  * embeddings arrive as a stream (an encoder emitting vectors for freshly
  * crawled documents), each is admitted only if it has no corpus match at
  * the cosine threshold, and the admitted vectors fold into the living
  * embed, PQ and kNN-graph indexes through the one [[IngestGate]].
  *
  * In-stream duplicates are not matched against each other (the same
  * contract as the text gate): [[firstVectorOccurrencesById]] collapses
  * them upstream. */
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

  /** The vector side of the CLOSED ingest loop
    * ([[StreamingDedup.novelNearCorpusIngest]]'s twin): each micro-batch
    * reports every vector's best match `(vec_id, best_match, best_cos,
    * novel)` against the living embed index
    * ([[Similarity.embedNoveltyAgainst]]), and the admitted (novel)
    * vectors fold back in lagged one batch ([[IngestGate]]). Staged
    * batches are SLIMMED to the three columns the fold consumes —
    * `(vec_id, label, embedding)`, exactly [[Similarity]]'s `quantized()`
    * input — so staging bytes are the vectors themselves, not whatever
    * payload the stream carries alongside them. With `indexPath` set the
    * loop is durable end to end ([[Similarity.EmbedFiles]]). `maintain`
    * is MEASURE-ONLY for this gate
    * ([[graft.operators.IndexMaintenance.monitorEmbedGate]]: LSH buckets
    * are content-derived, there is no retrain escape), so the gate's
    * `decisions` are the alert feed itself. */
  def novelAgainstIndexIngest(ref: graft.operators.RefreshableEmbedIndex,
      threshold: Double = 0.35,
      indexPath: Option[String] = None,
      compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None): IngestGate =
    new IngestGate(ref.current.qc.sparkSession, indexPath,
      batch => {
        val decisions = Similarity.embedNoveltyAgainst(batch, ref.current, threshold)
        (decisions, batch.select("vec_id", "label", "embedding")
          .join(decisions.filter(col("novel")).select("vec_id"), Seq("vec_id")))
      },
      (staged, deltaPath) => { ref.fold(staged, deltaPath = deltaPath); () },
      Similarity.EmbedFiles.compact, compactEvery, maintainEvery, maintain)

  /** A gate whose decision admits the whole batch, slimmed to the
    * `(vec_id, label, embedding)` a fold's `quantized()` reads. */
  private def admitAll(batch: DataFrame): (DataFrame, DataFrame) = {
    val slim = batch.select("vec_id", "label", "embedding")
    (slim, slim)
  }

  /** DURABLE streaming PQ ingest — the deployment form of the PQ
    * lifecycle: every micro-batch append-encodes into the living
    * [[graft.operators.RefreshablePqIndex]] under the frozen codebook,
    * staged and lagged by the [[IngestGate]] so a restart resumes from
    * disk ([[Similarity.PqFiles]]). A raw append-encode is NOT
    * content-idempotent (a replayed fold would duplicate every code row),
    * so the fold skips vec_ids the index already encoded
    * ([[IngestGate.unindexed]]).
    *
    * With `maintainEvery` > 0 and a `maintain` closure (typically
    * `() => IndexMaintenance.maintainPq(holder, corpus, floor,
    * indexPath = …)`), the gate runs the monitor-driven maintenance policy
    * every N folds, and each pass's audit record accumulates in the gate's
    * `decisions`. The closure supplies the corpus because a retrain
    * re-encodes the RAW vectors, which the index (quantized forms only)
    * cannot reconstruct. */
  def pqIngest(ref: graft.operators.RefreshablePqIndex,
      indexPath: Option[String] = None,
      compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None): IngestGate =
    new IngestGate(ref.current.cents.sparkSession, indexPath, admitAll,
      (staged, deltaPath) => {
        val fresh = IngestGate.unindexed(ref.current.qn, staged)
        if (!fresh.isEmpty) { ref.fold(fresh, deltaPath = deltaPath); () }
      },
      Similarity.PqFiles.compact, compactEvery, maintainEvery, maintain)

  /** DURABLE streaming kNN-GRAPH ingest — the deployment form of the graph
    * lifecycle: every micro-batch folds into the living
    * [[graft.operators.RefreshableKnnGraph]] under the frozen coarse
    * quantizer, staged and lagged by the [[IngestGate]] so a restart
    * resumes from disk ([[Similarity.GraphFiles]]). Like a PQ append, a
    * graph fold is NOT content-idempotent (re-folding an indexed vector
    * would duplicate its qn/probes rows and then its candidate scores), so
    * the fold skips vec_ids the graph already holds
    * ([[IngestGate.unindexed]]). `maintainEvery`/`maintain` run the
    * monitor-driven policy (typically `() =>
    * IndexMaintenance.maintainKnnGraph(holder, corpus, floor)`) — see
    * [[pqIngest]]. */
  def knnGraphIngest(ref: graft.operators.RefreshableKnnGraph,
      indexPath: Option[String] = None,
      compactEvery: Int = 0,
      maintainEvery: Int = 0,
      maintain: Option[() => graft.operators.IndexMaintenance.Decision] = None): IngestGate =
    new IngestGate(ref.current.cents.sparkSession, indexPath, admitAll,
      (staged, deltaPath) => {
        val fresh = IngestGate.unindexed(ref.current.qn, staged)
        if (!fresh.isEmpty) { ref.fold(fresh, deltaPath = deltaPath); () }
      },
      Similarity.GraphFiles.compact, compactEvery, maintainEvery, maintain)
}
