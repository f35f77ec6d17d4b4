package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Sampling, TextAnalysis}

/** The streaming INGEST twin of [[graft.operators.CurationPipeline.e2e]] —
  * the composed incremental pipeline a crawler actually runs, built from
  * the already-proven streaming pieces:
  *
  *   within-stream exact dedup  ([[firstArrivalsMinId]])
  *     → repetition filter      ([[TextAnalysis.repetitionKeep]])
  *     → quality classifier     ([[TextAnalysis.qualityClassifierKeep]])
  *     → mixture sampling       ([[Sampling.keepCondition]])
  *     → incremental packing    ([[packBatch]], per-source running offsets)
  *
  * Equivalence to the batch pass: every filter is a per-document pure
  * function of `(text, source, n_chars)`, so it commutes with dedup (all
  * copies of a text filter identically), and [[firstArrivalsMinId]] (min-id
  * wins within a batch, first batch wins across batches) equals batch
  * `Dedup.exact`'s min-id rule whenever ingest order is id order — the
  * natural contract of an incremental pipeline, where ARRIVAL order IS the
  * packing order. Under that contract the packed
  * output is row-identical to `CurationPipeline.e2e` over the union of all
  * ingested batches (StreamingCurationSpec proves it across a
  * checkpointed restart).
  *
  * Restart/exactly-once: each micro-batch lands in its own
  * `ingest_batch=<id>` partition directory with overwrite — a replayed
  * batch (crash between sink write and checkpoint commit) rewrites the
  * same directory instead of appending duplicates. Per-source token bases
  * are rebuilt ONCE per run from the batches already on disk (strictly
  * below the first replayed id, so a half-written replay directory never
  * double-counts), then maintained in memory.
  *
  * 100 TB shape: dedup state is 16-byte fingerprints in the state store;
  * every filter is map-side; packing is one keyed window over ONE
  * micro-batch (ingest-sized, not corpus-sized) plus a per-source base
  * map whose size is the source cardinality. The corpus never re-enters
  * a batch. */
object StreamingCuration {

  /** The three fused map-side keep filters — literally the batch
    * pipeline's `curationTail` predicate chain over a streaming frame. */
  def curationFilters(df: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame =
    df.filter(TextAnalysis.repetitionKeep())
      .filter(TextAnalysis.qualityClassifierKeep)
      .filter(Sampling.keepCondition(rates, defaultRate))

  /** The ingest record schema the curation chain needs: the three filters
    * read `(text, source, n_chars)`, dedup and packing read `doc_id`. */
  final case class IngestDoc(doc_id: Long, text: String, source: String, n_chars: Long)

  private def fpOf(text: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** DETERMINISTIC first-arrival dedup: the min-`doc_id` copy per distinct
    * text wins its whole micro-batch (where [[StreamingDedup.firstOccurrences]]'
    * `dropDuplicates` keeps an ARBITRARY in-batch copy — fine for a
    * crawler, fatal for batch-equivalence proofs). Keyed
    * `flatMapGroupsWithState`: each fingerprint group folds its batch to
    * one candidate, emits it only when no earlier batch claimed the key;
    * state per distinct text is the single `seen` mark. With id-ordered
    * ingest this reproduces batch `Dedup.exact`'s min-id rule exactly. */
  def firstArrivalsMinId(docs: org.apache.spark.sql.Dataset[IngestDoc]): org.apache.spark.sql.Dataset[IngestDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.groupByKey(d => fpOf(d.text))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[IngestDoc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator(rows.minBy(_.doc_id))
          }
      }
  }

  /** [[firstArrivalsMinId]] with TTL-BOUNDED state — the dedup-horizon
    * variant for unbounded crawls (the corpus-lifetime form above holds
    * one mark per distinct text EVER seen; this one holds marks only for
    * texts seen within the last `ttlMs` of processing time).
    *
    * Semantics (documented, spec-pinned): a fingerprint idle for `ttlMs`
    * of wall-clock is EVICTED; a copy arriving after eviction is
    * RE-ADMITTED (emitted again) — dedup weakens from "exactly one copy
    * ever" to "at most one copy per `ttlMs` window", the standard
    * state-size / recall trade ([[StreamingDedup
    * .firstOccurrencesWithinWatermark]] makes the same one, watermark-
    * driven, for frames that carry event time; ingest docs carry none, so
    * the horizon here is processing time). Downstream contracts that
    * assume global uniqueness (e.g. the packed-corpus ≡ batch-e2e
    * equivalence) hold only while re-arrivals stay inside the horizon —
    * which is why [[ingestTo]] keeps the unbounded form. */
  def firstArrivalsMinIdTtl(docs: org.apache.spark.sql.Dataset[IngestDoc],
      ttlMs: Long): org.apache.spark.sql.Dataset[IngestDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.groupByKey(d => fpOf(d.text))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (_: String, rows: Iterator[IngestDoc], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed: the next copy re-admits
            Iterator.empty
          } else if (state.exists) {
            // a sighting inside the horizon SLIDES the deadline (the
            // horizon is "since last seen", not "since first seen")
            state.setTimeoutDuration(ttlMs)
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(ttlMs)
            Iterator(rows.minBy(_.doc_id))
          }
      }
  }

  /** Deduped + filtered streaming frame over `(doc_id, text, source,
    * n_chars)` input (extra columns dropped). */
  def curated(stream: DataFrame, rates: Map[String, Double] = Sampling.DefaultRates,
      defaultRate: Double = Sampling.DefaultRate): DataFrame = {
    import stream.sparkSession.implicits._
    val typed = stream.select(col("doc_id").cast("long"), col("text"),
      col("source"), col("n_chars").cast("long")).as[IngestDoc]
    curationFilters(firstArrivalsMinId(typed).toDF(), rates, defaultRate)
  }

  /** Pack ONE micro-batch against the per-source running token bases:
    * batch-local prefix sums ride a source-KEYED window (micro-batches are
    * ingest-sized; the registry-wide partitionless-window ban applies here
    * too), then shift by each source's base. Output schema =
    * [[Sampling.packChunks]]. */
  def packBatch(batch: DataFrame, bases: Map[String, Long],
      budget: Long = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import batch.sparkSession.implicits._
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-source bases apply via a BROADCAST JOIN against a tiny bases
    // frame — exactly how the batch packChunks shifts offsets
    // (Sampling.packChunks). The former foldLeft when-chain built an
    // expression of depth O(source cardinality), re-codegen'd per
    // micro-batch: at the documented "source = per-domain" scale
    // (10⁴–10⁶ sources) the PLAN blows up long before the data does.
    // NB the driver-held `bases` map itself shares that cardinality
    // ceiling (a Long per source — fine to ~10⁶; past that the bases
    // belong in a table the join reads directly).
    val basesDf = bases.toSeq.toDF("source", "src_base")
    batch
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // same null-key guard as the batch packChunks: a null-source doc is
      // dropped there, so packing it here would break stream ≡ batch
      .filter(col("source").isNotNull)
      .join(broadcast(basesDf), Seq("source"), "left_outer")
      .withColumn("lsum", sum("n_tokens").over(w))
      .withColumn("tok_offset",
        coalesce(col("src_base"), lit(0L)) + col("lsum") - col("n_tokens"))
      .withColumn("chunk_first", (col("tok_offset") / budget).cast("long"))
      .withColumn("chunk_last",
        ((col("tok_offset") + col("n_tokens") - 1) / budget).cast("long"))
      .select("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
  }

  /** Per-source token totals of everything already FINAL in the sink at a
    * restart: the compacted base (ids ≤ its stamp, which the replay-skip
    * rule never re-lands) plus live batch directories below `beforeBatch`
    * — the restart-safe base rebuild (a crashed run's half-written replay
    * directory has id ≥ `beforeBatch` and is excluded; its overwrite then
    * makes the totals whole). Listing goes through the path's own Hadoop
    * filesystem, never java.io.File — the sink lives on s3://-like stores
    * in a real deployment; foreign directories under the root are skipped,
    * not restart-killing errors ([[graft.operators.IndexFiles.numbered]]). */
  private[streaming] def basesFromSink(spark: SparkSession, outPath: String,
      beforeBatch: Long): Map[String, Long] =
    OutputCompaction.readFinalBefore(spark, outPath, beforeBatch) match {
      case None => Map.empty
      case Some(df) => df.groupBy("source").agg(sum("n_tokens").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** One run's per-batch body, separable from the streaming query for
    * spec-level driving (the [[graft.VecIngest.Pipeline]] shape) — in
    * particular the replay-after-compaction case, which a live engine only
    * produces by crashing between a compaction and its checkpoint commit. */
  private[graft] final class CurationRun(spark: SparkSession, outPath: String,
      budget: Long,
      nearGate: Option[IngestGate],
      statsPath: Option[String], statsCompactEvery: Int,
      outCompactEvery: Int,
      outMergeRatio: Int = 4,
      outMergeMin: Int = 4,
      telemetry: Option[IngestTelemetry] = None,
      layoutFn: Option[DataFrame => DataFrame] = None) {
    // NOTE: source-rate sampling happens upstream in [[curated]] (inside
    // ingestTo) — this class deliberately takes no rates, so a direct
    // driver can never believe it sampled when it didn't

    private val bases = new AtomicReference[Map[String, Long]](null)
    private val statsDeltasSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
    private val landedSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
    // output ops gauges, maintained in memory: FS-listed once at run
    // start and after each compaction, incremented per landed batch —
    // never a per-batch listing (ADVICE r12: per-batch segment-meta
    // re-reads were the telemetry's own small-files problem)
    private val segGauge = new java.util.concurrent.atomic.AtomicLong(0L)
    private val liveDirsGauge = new java.util.concurrent.atomic.AtomicLong(0L)
    private val gaugesInit = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the output-compaction stamp, read once at run start and advanced by
    // this run's own compactions — a replayed batch at or below it landed
    // AND compacted before the crash, so its rows are already in the base
    // and re-landing would double them in every read (the --bm25-stats
    // swallowed-replay rule, applied to the output side)
    private val outStamp = new java.util.concurrent.atomic.AtomicLong(
      OutputCompaction.highWater(spark, outPath))
    // writer fencing on the OUTPUT path too (the index gates fence their
    // own paths): two daemons accidentally sharing one --out would
    // interleave batch dirs and compaction sweeps — the same
    // silent-corruption class, same epoch-lease fix (IndexFiles.claimWriter)
    private val outLease = graft.operators.IndexFiles.claimWriter(spark, outPath)

    def onBatch(batch: DataFrame, batchId: Long): Unit = {
      if (batchId <= outStamp.get) return // replay of a compacted batch
      outLease.check()
      val t0 = System.nanoTime()
      if (bases.get == null) bases.set(basesFromSink(spark, outPath, batchId))
      // gate exactly the frame the packer can LAND: packBatch drops
      // null-source docs, so gating the raw batch would fold such a doc
      // into the index as "seen" while it never reaches the curated
      // output — later legitimate copies would then be rejected forever.
      // Admission and packing must agree on the population. Persisted:
      // the gate, the stats delta, the packer, and the telemetry input
      // count all read it — one source scan per batch, not four.
      val packable = batch.filter(col("source").isNotNull).persist()
      try {
        // optional NEAR-dup admission against the living corpus index
        // (StreamingDedup.novelNearCorpusIngest): non-novel docs drop here,
        // before packing; the gate folds admissions back lagged one batch,
        // so a replayed batch re-gates identically. The gate gets the REAL
        // foreachBatch id so its durable staging keys on the engine's
        // replay-stable ids (a restart must distinguish "this batch's own
        // re-staged admissions" from leftovers of earlier batches).
        val admitted = nearGate.map { g =>
          packable.join(g(packable, batchId).filter(col("novel"))
            .select("doc_id"), Seq("doc_id"))
        }.getOrElse(packable)
        // living retrieval stats over exactly the admitted (packed)
        // population: an O(batch) delta keyed on the replay-stable batch
        // id — a replayed batch overwrites identical bytes, and a replay
        // arriving after compaction swallowed its id skips (see
        // TextAnalysis.Bm25Files.saveDeltaAt)
        statsPath.foreach { sp =>
          if (!admitted.isEmpty) {
            val landed = graft.operators.TextAnalysis.Bm25Files.saveDeltaAt(
              graft.operators.TextAnalysis.bm25Stats(admitted), sp, batchId + 1)
            // compaction cadence for the stats delta chain — without it a
            // long-running ingest grows delta dirs (and the restart
            // load's union) unboundedly; counts only deltas that actually
            // landed (a swallowed replay must not advance the cadence)
            if (landed.isDefined && statsCompactEvery > 0 &&
                statsDeltasSinceCompact.incrementAndGet() >= statsCompactEvery) {
              graft.operators.TextAnalysis.Bm25Files.compact(spark, sp)
              statsDeltasSinceCompact.set(0L)
            }
          }
        }
        val packed = packBatch(admitted, bases.get, budget).persist()
        var landedRows = 0L
        try {
          if (telemetry.nonEmpty && gaugesInit.compareAndSet(false, true)) {
            segGauge.set(OutputCompaction.segmentCount(spark, outPath).toLong)
            liveDirsGauge.set(graft.operators.IndexFiles.numbered(spark,
              outPath, OutputCompaction.BatchPrefix).size.toLong)
          }
          val batchDir = s"$outPath/${OutputCompaction.BatchPrefix}$batchId"
          // one stat, not a listing: a replayed dir overwrites in place
          // and must not bump the gauge
          val fresh = telemetry.nonEmpty && {
            val p = new org.apache.hadoop.fs.Path(batchDir)
            !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
          }
          // optional write-time clustering (--layout zorder:<k1>,<k2>): the
          // landed files carry box-prunable min/max stats on both keys
          layoutFn.map(f => f(packed)).getOrElse(packed)
            .write.mode("overwrite").parquet(batchDir)
          if (fresh) liveDirsGauge.incrementAndGet()
          if (telemetry.nonEmpty) landedRows = packed.count()
          val deltas = packed.groupBy("source").agg(sum("n_tokens").as("t"))
            .collect().map(r => r.getString(0) -> r.getLong(1))
          bases.set(deltas.foldLeft(bases.get) { case (m, (s, t)) =>
            m.updated(s, m.getOrElse(s, 0L) + t)
          })
        } finally { packed.unpersist(); () }
        // output compaction cadence — MINOR folds the accumulated batch
        // dirs into one new segment every N landed batches (O(window));
        // then the SIZE-TIERED merge bounds segment count, rewriting a
        // byte at most once per tier (O(n·log n) lifetime — never the
        // r12 count-cadence full rewrite).
        // `upTo = batchId`: never touch a dir this run hasn't (over)written.
        if (outCompactEvery > 0 &&
            landedSinceCompact.incrementAndGet() >= outCompactEvery) {
          OutputCompaction.compact(spark, outPath, upTo = batchId,
            layout = layoutFn)
          OutputCompaction.mergeTiers(spark, outPath, layout = layoutFn,
            ratio = outMergeRatio, minMerge = outMergeMin)
          outStamp.set(batchId)
          landedSinceCompact.set(0L)
          // re-list the output gauges ONLY on the compaction cadence
          // (segment listing costs one tiny meta read per segment —
          // per-batch it was the telemetry's own small-files problem)
          if (telemetry.nonEmpty) {
            segGauge.set(OutputCompaction.segmentCount(spark, outPath).toLong)
            liveDirsGauge.set(graft.operators.IndexFiles.numbered(spark,
              outPath, OutputCompaction.BatchPrefix).size.toLong)
          }
        }
        // ops counters: input is the persisted packable frame's count
        // (the same cached scan the gate and packer read — never a
        // source recompute), landed read the persisted packed frame;
        // gauges come from the in-memory counters (FS listed only at
        // init and after compactions, incremented per landed batch)
        telemetry.foreach { t =>
          t.setOutput(segGauge.get, liveDirsGauge.get)
          t.onBatch(packable.count(), landedRows,
            (System.nanoTime() - t0) / 1e9)
        }
      } finally { packable.unpersist(); () }
    }
  }

  /** Run the full incremental ingest: curate the stream, pack each
    * micro-batch, land it exactly-once under `outPath/ingest_batch=<id>`.
    * [[OutputCompaction.read]] yields the accumulated packed corpus
    * (without compaction configured, reading `outPath` as parquet with
    * partition discovery still works, as before). With `outCompactEvery`
    * > 0 the batch directories fold into a stamped `compacted_v<V>` base
    * every N batches — contents-identical, directory count bounded,
    * replay-safe ([[OutputCompaction]]). */
  def ingestTo(spark: SparkSession, stream: DataFrame, outPath: String,
      checkpointDir: String, budget: Long = 512,
      rates: Map[String, Double] = Sampling.DefaultRates,
      defaultRate: Double = Sampling.DefaultRate,
      availableNow: Boolean = false,
      nearGate: Option[IngestGate] = None,
      statsPath: Option[String] = None,
      statsCompactEvery: Int = 0,
      outCompactEvery: Int = 0,
      outMergeRatio: Int = 4,
      outMergeMin: Int = 4,
      telemetry: Option[IngestTelemetry] = None,
      layoutFn: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    val run = new CurationRun(spark, outPath, budget,
      nearGate, statsPath, statsCompactEvery, outCompactEvery,
      outMergeRatio, outMergeMin, telemetry, layoutFn)
    val w = curated(stream, rates, defaultRate).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        run.onBatch(batch, batchId)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
