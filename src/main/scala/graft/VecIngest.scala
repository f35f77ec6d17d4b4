package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IndexMaintenance, RefreshableEmbedIndex, RefreshableKnnGraph, RefreshablePqIndex, Similarity}
import graft.streaming.{IngestGate, OutputCompaction, StreamingSimilarity}

/** The vector-ingest daemon — [[Ingest]]'s embedding-side sibling and the
  * runnable surface for the vector gate family: watch a directory for
  * embedding parquet, admit only vectors with no near-match in the LIVING
  * embed index (cosine novelty), land admissions exactly-once under
  * `--out/ingest_batch=<id>`, and optionally keep the downstream ANN
  * artifacts current — PQ append-encode at `--pq-index`, kNN-graph folds
  * at `--graph-index` — with a monitor-driven maintenance cadence
  * (`--maintain-every`/`--maintain-floor`) that retrains a drifted
  * codebook / rebuilds a drifted graph and persists the new stamped base.
  *
  * {{{
  *   spark-submit --class graft.VecIngest <jar> \
  *     --src /data/vectors --out /curated/vectors \
  *     --checkpoint /ckpt --index /indexes/embed \
  *     [--threshold 0.35] [--pq-index /indexes/pq] \
  *     [--graph-index /indexes/graph] [--compact-every 16] \
  *     [--maintain-every 8 --maintain-floor 0.7] \
  *     [--centroid-mod 127] [--bootstrap-min 1] \
  *     [--out-compact-every 16 --out-merge-ratio 4 --out-merge-min 4] \
  *     [--max-files-per-trigger 64] [--listen 0.0.0.0:19903] \
  *     [--no-self-metrics] [--once]
  * }}}
  *
  * Everything is durable: the novelty/PQ/graph gates stage each batch
  * under their index paths and fold LAGGED one batch, so a crash at any
  * boundary resumes from disk without re-admitting or double-encoding
  * (the staged/lagged + idempotence-guard arguments of
  * [[graft.streaming.StreamingSimilarity]]). The PQ and graph indexes
  * BOOTSTRAP once `--bootstrap-min` admissions have accumulated (default
  * 1 = the first non-empty batch), training over the WHOLE landed corpus
  * at the crossing — the frozen codebook/centroids need a population, and
  * deferring costs nothing because pre-bootstrap admissions are already
  * in the training set; the maintenance cadence corrects a skewed draw
  * either way. Retrains re-encode the accumulated
  * `--out` corpus (the raw vectors this daemon itself landed — the
  * quantized indexes cannot reconstruct them), which may include a batch
  * folded later: the gates' already-encoded guards skip it, so a retrain
  * racing a staged fold stays consistent. */
object VecIngest {

  final case class Config(
      src: String = "",
      out: String = "",
      checkpoint: String = "",
      index: String = "",
      threshold: Double = 0.35,
      pqIndex: Option[String] = None,
      graphIndex: Option[String] = None,
      compactEvery: Int = 16,
      maintainEvery: Int = 0,
      maintainFloor: Double = 0.7,
      maintainRerank: Int = 32,
      centroidMod: Int = 127,
      bootstrapMin: Long = 1L,
      outCompactEvery: Int = 0,
      outMergeRatio: Int = 4,
      outMergeMin: Int = 4,
      maxFilesPerTrigger: Option[Int] = None,
      listen: String = "0.0.0.0:19903",
      selfMetrics: Boolean = true,
      once: Boolean = false)

  def parseArgs(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--src" :: v :: t => loop(t, c.copy(src = v))
      case "--out" :: v :: t => loop(t, c.copy(out = v))
      case "--checkpoint" :: v :: t => loop(t, c.copy(checkpoint = v))
      case "--index" :: v :: t => loop(t, c.copy(index = v))
      case "--threshold" :: v :: t => loop(t, c.copy(threshold = v.toDouble))
      case "--pq-index" :: v :: t => loop(t, c.copy(pqIndex = Some(v)))
      case "--graph-index" :: v :: t => loop(t, c.copy(graphIndex = Some(v)))
      case "--compact-every" :: v :: t => loop(t, c.copy(compactEvery = v.toInt))
      case "--maintain-every" :: v :: t => loop(t, c.copy(maintainEvery = v.toInt))
      case "--maintain-floor" :: v :: t => loop(t, c.copy(maintainFloor = v.toDouble))
      // the PQ monitor's re-rank buffer: smaller = stricter (less exact
      // re-ranking masking ADC decay); the monitor knob, not the query's
      case "--maintain-rerank" :: v :: t => loop(t, c.copy(maintainRerank = v.toInt))
      case "--centroid-mod" :: v :: t => loop(t, c.copy(centroidMod = v.toInt))
      // defer the PQ/graph codebook bootstrap until this many admissions
      // have accumulated — a frozen artifact trained on a skewed first
      // batch is correct (maintenance retrains it) but needlessly poor
      case "--bootstrap-min" :: v :: t => loop(t, c.copy(bootstrapMin = v.toLong))
      // fold the landed ingest_batch=<id> dirs into one stamped base every
      // N batches (0 = never) — OutputCompaction, the same knob as Ingest's
      case "--out-compact-every" :: v :: t =>
        loop(t, c.copy(outCompactEvery = v.toInt))
      // SIZE-TIERED segment merging after each minor (LSM size-tiered
      // compaction — O(n·log n) lifetime rewrite, never a scheduled
      // full-corpus pass; see OutputCompaction.mergeTiers)
      case "--out-merge-ratio" :: v :: t =>
        loop(t, c.copy(outMergeRatio = v.toInt))
      case "--out-merge-min" :: v :: t =>
        loop(t, c.copy(outMergeMin = v.toInt))
      // admission control for a cold --src backlog (see Ingest: bounded
      // micro-batches instead of one giant drain; AvailableNow still
      // processes everything, in steps)
      case "--max-files-per-trigger" :: v :: t =>
        loop(t, c.copy(maxFilesPerTrigger = Some(v.toInt)))
      // ops surface (see Ingest): /metrics + /healthz, on by default
      case "--listen" :: v :: t => loop(t, c.copy(listen = v))
      case "--no-self-metrics" :: t => loop(t, c.copy(selfMetrics = false))
      case "--once" :: t => loop(t, c.copy(once = true))
      case Nil =>
        require(c.src.nonEmpty && c.out.nonEmpty && c.checkpoint.nonEmpty &&
          c.index.nonEmpty,
          "--src, --out, --checkpoint, and --index are required")
        c
      case other :: _ => throw new IllegalArgumentException(
        s"unknown flag: $other (supported: --src <dir> --out <path> --checkpoint <dir> " +
          "--index <path> --threshold <t> --pq-index <path> --graph-index <path> " +
          "--compact-every <n> --maintain-every <n> --maintain-floor <r> " +
          "--maintain-rerank <n> --centroid-mod <m> --bootstrap-min <n> " +
          "--out-compact-every <n> --out-merge-ratio <r> --out-merge-min <k> --max-files-per-trigger <n> " +
          "--listen <host:port> --no-self-metrics --once)")
    }
    loop(args.toList, Config())
  }

  private val srcSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** The daemon's file source with admission control applied (Ingest's
    * twin — factored for the bounded-drain spec). */
  private[graft] def source(spark: SparkSession, config: Config): DataFrame = {
    val r = spark.readStream.schema(srcSchema)
    config.maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(config.src)
  }

  /** One run's gates + per-batch body, separable from the streaming query
    * for spec-level driving (the same shape as [[Ingest.nearGate]]). */
  private[graft] final class Pipeline(spark: SparkSession, c: Config,
      telemetry: Option[graft.streaming.IngestTelemetry] = None) {

    /** Novelty gate against the living embed index: load the persisted
      * base+deltas, else bootstrap an empty-corpus base (everything is
      * novel until folds accumulate; deltas need a base to fold onto). */
    private[graft] val embedGate: IngestGate = {
      val idx0 =
        if (Similarity.EmbedFiles.exists(spark, c.index))
          Similarity.EmbedFiles.load(spark, c.index)
        else {
          import spark.implicits._
          val empty = Similarity.embedIndex(
            Seq.empty[(Long, Int, Seq[Float])].toDF("vec_id", "label", "embedding"))
          Similarity.EmbedFiles.save(empty, c.index)
          empty
        }
      val ref = new RefreshableEmbedIndex(idx0)
      // the embed-gate recall monitor on the same --maintain-every cadence
      // as the PQ/graph policies — MEASURE-ONLY (no retrain escape exists
      // for content-derived LSH buckets; see IndexMaintenance
      // .monitorEmbedGate): probes are the deterministic %7 sample of the
      // landed corpus, whose true best match (itself at cosine 1) the gate
      // must keep finding through its candidate tables
      val monitor =
        if (c.maintainEvery > 0) Some(() =>
          IndexMaintenance.monitorEmbedGate(ref,
            corpus().filter(org.apache.spark.sql.functions.pmod(
              col("vec_id"), org.apache.spark.sql.functions.lit(7)) === 0),
            c.threshold))
        else None
      StreamingSimilarity.novelAgainstIndexIngest(ref,
        c.threshold, indexPath = Some(c.index), compactEvery = c.compactEvery,
        maintainEvery = c.maintainEvery, maintain = monitor)
    }

    private var pqGate: Option[IngestGate] = None
    private var graphGate: Option[IngestGate] = None

    private[graft] def embedDecisions: Seq[IndexMaintenance.Decision] =
      embedGate.decisions
    private[graft] def pqDecisions: Seq[IndexMaintenance.Decision] =
      pqGate.map(_.decisions).getOrElse(Nil)
    private[graft] def graphDecisions: Seq[IndexMaintenance.Decision] =
      graphGate.map(_.decisions).getOrElse(Nil)

    /** The accumulated admitted raw vectors — what a retrain re-encodes
      * and what a deferred bootstrap trains on. The path is MUTABLE
      * (every batch appends a partition), so refresh it first: a cached
      * fragment rooted on an earlier listing would otherwise be
      * substituted into the identical retrain plan and serve a STALE
      * corpus (the classic cache-over-a-growing-path gotcha — caught by
      * the daemon-maintenance spec, whose retrain re-encoded only the
      * bootstrap-era rows). */
    private def corpus(): DataFrame = {
      spark.catalog.refreshByPath(c.out)
      OutputCompaction.read(spark, c.out)
        .select("vec_id", "label", "embedding")
    }

    /** Cumulative admitted count, resumed from the landed output on a
      * restart — the `--bootstrap-min` trigger must not reset to zero
      * when the daemon bounces below the threshold. (A replayed batch
      * increments twice within one run — harmless: the threshold is a
      * warmup heuristic and the bootstrap trains over the landed corpus,
      * whose exactly-once writes never double-count.) */
    private var cumAdmitted: Long =
      OutputCompaction.readIfAny(spark, c.out)
        .map(_.count()).getOrElse(0L)

    private def ensurePq(): Option[IngestGate] =
      c.pqIndex.flatMap { p =>
        pqGate.orElse {
          // below the bootstrap threshold with no persisted base yet:
          // stage nothing — the crossing batch's bootstrap trains over
          // everything landed so far, so nothing is lost by waiting
          if (!Similarity.PqFiles.exists(spark, p) && cumAdmitted < c.bootstrapMin) None
          else {
            val ref =
              if (Similarity.PqFiles.exists(spark, p))
                new RefreshablePqIndex(Similarity.PqFiles.load(spark, p))
              else {
                // train over EVERYTHING admitted so far (this batch
                // already landed), not just the crossing batch — the
                // bootstrap codebook sees the whole accumulated population
                val b = Similarity.pqIndexBuild(corpus())
                Similarity.PqFiles.save(b, p)
                val r = new RefreshablePqIndex(b)
                // the holder owns CHECKPOINTED copies; the build's pins
                // root cached plans on the MUTABLE out path and must not
                // outlive the bootstrap (see corpus())
                b.release()
                r
              }
            val maintain =
              if (c.maintainEvery > 0) Some(() =>
                IndexMaintenance.maintainPq(ref, corpus(), c.maintainFloor,
                  rerank = c.maintainRerank, indexPath = Some(p)))
              else None
            val g = StreamingSimilarity.pqIngest(ref, Some(p), c.compactEvery,
              c.maintainEvery, maintain)
            pqGate = Some(g)
            pqGate
          }
        }
      }

    private def ensureGraph(): Option[IngestGate] =
      c.graphIndex.flatMap { p =>
        graphGate.orElse {
          if (!Similarity.GraphFiles.exists(spark, p) && cumAdmitted < c.bootstrapMin) None
          else {
            val ref =
              if (Similarity.GraphFiles.exists(spark, p))
                new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, p))
              else {
                val b = Similarity.knnGraphIndex(corpus(), centroidMod = c.centroidMod)
                Similarity.GraphFiles.save(b, p)
                val r = new RefreshableKnnGraph(b)
                b.release() // same mutable-path pin discipline as the PQ bootstrap
                r
              }
            val maintain =
              if (c.maintainEvery > 0) Some(() =>
                IndexMaintenance.maintainKnnGraph(ref, corpus(), c.maintainFloor,
                  centroidMod = c.centroidMod, indexPath = Some(p)))
              else None
            val g = StreamingSimilarity.knnGraphIngest(ref, Some(p), c.compactEvery,
              c.maintainEvery, maintain)
            graphGate = Some(g)
            graphGate
          }
        }
      }

    // EAGER gate construction when the persisted index already exists: a
    // restarted run that sees only empty batches never reaches onBatch's
    // lazy ensurePq/ensureGraph, so without this a prior crashed run's
    // staged PQ/graph leftovers would sit unfolded until some later run
    // receives traffic — flush() on a traffic-free run must fold them.
    // (A fresh path stays lazy: the bootstrap needs admissions first.)
    locally {
      c.pqIndex.foreach { p =>
        if (Similarity.PqFiles.exists(spark, p)) { ensurePq(); () }
      }
      c.graphIndex.foreach { p =>
        if (Similarity.GraphFiles.exists(spark, p)) { ensureGraph(); () }
      }
    }

    /** The foreachBatch body: gate → land admissions exactly-once →
      * feed the ANN gates (which stage now and fold lagged). Landing
      * BEFORE the ANN gates keeps the retrain corpus a superset of the
      * encoded population — the gates' already-encoded guards absorb the
      * overlap (see the object scaladoc). */
    // the output-compaction stamp: batches at or below it landed AND were
    // folded into the compacted base before a crash, so a replay must skip
    // re-landing them (re-creating the dir would double their rows in
    // every OutputCompaction.read) — see StreamingCuration.CurationRun
    private val outStamp = new java.util.concurrent.atomic.AtomicLong(
      OutputCompaction.highWater(spark, c.out))
    private val landedSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
    // output ops gauges, in-memory between compactions (see
    // StreamingCuration.CurationRun's gauge discipline)
    private val outSegGauge = new java.util.concurrent.atomic.AtomicLong(0L)
    private val outDirsGauge = new java.util.concurrent.atomic.AtomicLong(0L)
    private val outGaugesInit = new java.util.concurrent.atomic.AtomicBoolean(false)
    // output-path writer fencing (see StreamingCuration.CurationRun)
    private val outLease = graft.operators.IndexFiles.claimWriter(spark, c.out)

    def onBatch(batch: DataFrame, batchId: Long): Unit = {
      if (batchId <= outStamp.get) return // replay of a compacted batch
      outLease.check()
      val t0 = System.nanoTime()
      // collapse in-batch exact duplicates FIRST (the gates' contract:
      // in-stream duplicates are not matched against each other) — the
      // min-id winner keeps the collapse replay-deterministic
      val slim = StreamingSimilarity.firstVectorOccurrencesById(
        batch.select("vec_id", "label", "embedding"))
      val decisions = embedGate(slim, batchId)
      val admitted = slim.join(
        decisions.filter(col("novel")).select("vec_id"), Seq("vec_id")).persist()
      try {
        val n = admitted.count() // materializes the persisted frame once
        // gauge init BEFORE landing, so the fresh-dir increment below
        // never double-counts the dir the init listing already saw
        if (telemetry.nonEmpty && outGaugesInit.compareAndSet(false, true)) {
          outSegGauge.set(OutputCompaction.segmentCount(spark, c.out).toLong)
          outDirsGauge.set(graft.operators.IndexFiles.numbered(spark, c.out,
            OutputCompaction.BatchPrefix).size.toLong)
        }
        val batchDir = s"${c.out}/${OutputCompaction.BatchPrefix}$batchId"
        // one stat, not a listing: a replayed dir overwrites in place and
        // must not bump the live-dirs gauge
        val freshDir = telemetry.nonEmpty && {
          val p = new org.apache.hadoop.fs.Path(batchDir)
          !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        admitted.write.mode("overwrite").parquet(batchDir)
        if (freshDir) outDirsGauge.incrementAndGet()
        if (n > 0) {
          cumAdmitted += n
          ensurePq().foreach(_.apply(admitted, batchId))
          ensureGraph().foreach(_.apply(admitted, batchId))
        }
        // ops counters (the extra input count runs only when telemetry is on)
        telemetry.foreach(_.onBatch(slim.count(), n,
          (System.nanoTime() - t0) / 1e9))
      } finally { admitted.unpersist(); () }
      // output compaction cadence — minor every N batches (O(window)),
      // then the size-tiered merge bounds segment count (O(n·log n)
      // lifetime rewrite; see OutputCompaction.mergeTiers); upTo =
      // batchId so a foreign half-written dir is never folded
      var compacted = false
      if (c.outCompactEvery > 0 &&
          landedSinceCompact.incrementAndGet() >= c.outCompactEvery) {
        OutputCompaction.compact(spark, c.out, upTo = batchId)
        OutputCompaction.mergeTiers(spark, c.out,
          ratio = c.outMergeRatio, minMerge = c.outMergeMin)
        outStamp.set(batchId)
        landedSinceCompact.set(0L)
        compacted = true
      }
      // output gauges re-listed only at run start and on the compaction
      // cadence (per-batch segment-meta re-reads were the r12 telemetry's
      // own small-files problem); live dirs tracked in memory otherwise
      telemetry.foreach { t =>
        if (compacted) {
          outSegGauge.set(OutputCompaction.segmentCount(spark, c.out).toLong)
          outDirsGauge.set(graft.operators.IndexFiles.numbered(spark, c.out,
            OutputCompaction.BatchPrefix).size.toLong)
        }
        t.setOutput(outSegGauge.get, outDirsGauge.get)
      }
    }

    /** Clean-shutdown fold of every gate's staged leftovers (the lag
      * defers each fold to a next batch a terminated run never gets). */
    def flush(): Unit = {
      embedGate.flush()
      pqGate.foreach(_.flush())
      graphGate.foreach(_.flush())
    }
  }

  private[graft] def ingestTo(spark: SparkSession, stream: DataFrame,
      c: Config,
      telemetry: Option[graft.streaming.IngestTelemetry] = None): (StreamingQuery, Pipeline) = {
    val pipe = new Pipeline(spark, c, telemetry)
    val w = stream.writeStream
      .option("checkpointLocation", c.checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => pipe.onBatch(b, id))
    val q = (if (c.once) w.trigger(Trigger.AvailableNow()) else w).start()
    (q, pipe)
  }

  def main(args: Array[String]): Unit = {
    val config = parseArgs(args.toSeq)
    val spark = DaemonSession("graft-vector-ingest")
    val in = source(spark, config)
    val telemetry =
      if (config.selfMetrics) Some(new graft.streaming.IngestTelemetry) else None
    val server = telemetry.map { t =>
      val (host, port) = Ingest.parseListen(config.listen)
      new graft.streaming.MetricsHttpServer(port, host).attachTelemetry(t).start()
    }
    val (query, pipe) = ingestTo(spark, in, config, telemetry)
    // the probe reads the gates' maintenance audit through the pipeline,
    // so it installs after construction (pure FS listings + in-memory seqs)
    telemetry.foreach { t =>
      t.indexProbe = () =>
        Seq(t.probeIndexPath(spark, "embed", config.index, pipe.embedDecisions)) ++
          config.pqIndex.map(p => t.probeIndexPath(spark, "pq", p, pipe.pqDecisions)) ++
          config.graphIndex.map(p => t.probeIndexPath(spark, "graph", p, pipe.graphDecisions))
    }
    server.foreach(_.health(() => query.isActive))
    sys.addShutdownHook { query.stop() }
    query.awaitTermination()
    pipe.flush()
    server.foreach(_.stop())
  }
}
