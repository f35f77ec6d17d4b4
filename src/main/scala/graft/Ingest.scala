package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Sampling
import graft.streaming.StreamingCuration

/** The curation-ingest daemon — the LLM-pipeline side's runnable binary,
  * as [[Exporter]] is the log side's: watch a directory for document
  * files, run the incremental curation pipeline (deterministic exact
  * dedup → repetition filter → quality classifier → mixture sampling →
  * sequence packing), and land packed chunks exactly-once under
  * `--out/ingest_batch=<id>`.
  *
  * {{{
  *   spark-submit --class graft.Ingest <jar> \
  *     --src /data/incoming --out s3://bucket/packed \
  *     --checkpoint s3://bucket/ckpt [--budget 512] [--rate 0.5] \
  *     [--rate-for web=0.25 --rate-for wiki=1.0] \
  *     [--near-index /idx --near-threshold 0.8 --near-compact-every 16] \
  *     [--bm25-stats /stats --bm25-compact-every 16] \
  *     [--out-compact-every 16 --out-merge-ratio 4 --out-merge-min 4] \
  *     [--max-files-per-trigger 64] [--layout zorder:doc_id,tok_offset] \
  *     [--listen 0.0.0.0:19902] [--no-self-metrics] [--once]
  * }}}
  *
  * Input files are parquet with `(doc_id long, text string, source
  * string, n_chars long)`; reading `--out` as parquet yields the
  * accumulated packed corpus. `--once` processes everything currently
  * in `--src` and exits (the batch-refresh deployment); without it the
  * query follows the directory forever. Restart-safe: the checkpoint
  * resumes the dedup state, and per-source packing offsets rebuild from
  * the committed batches already in `--out`
  * ([[StreamingCuration.ingestTo]]). */
object Ingest {

  final case class Config(
      src: String = "",
      out: String = "",
      checkpoint: String = "",
      budget: Long = 512L,
      rates: Map[String, Double] = Sampling.DefaultRates,
      defaultRate: Double = Sampling.DefaultRate,
      once: Boolean = false,
      nearIndex: Option[String] = None,
      nearThreshold: Double = 0.8,
      nearCompactEvery: Int = 16,
      bm25Stats: Option[String] = None,
      bm25CompactEvery: Int = 16,
      outCompactEvery: Int = 0,
      outMergeRatio: Int = 4,
      outMergeMin: Int = 4,
      maxFilesPerTrigger: Option[Int] = None,
      layout: Option[(String, String)] = None,
      listen: String = "0.0.0.0:19902",
      selfMetrics: Boolean = true)

  def parseArgs(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--src" :: v :: t => loop(t, c.copy(src = v))
      case "--out" :: v :: t => loop(t, c.copy(out = v))
      case "--checkpoint" :: v :: t => loop(t, c.copy(checkpoint = v))
      case "--budget" :: v :: t => loop(t, c.copy(budget = v.toLong))
      case "--rate" :: v :: t => loop(t, c.copy(defaultRate = v.toDouble))
      case "--rate-for" :: v :: t => v.split("=", 2) match {
        case Array(srcName, r) => loop(t, c.copy(rates = c.rates + (srcName -> r.toDouble)))
        case _ => throw new IllegalArgumentException(s"bad --rate-for (want source=rate): $v")
      }
      case "--once" :: t => loop(t, c.copy(once = true))
      // NEAR-dup admission against a LIVING corpus index persisted at this
      // path: loaded at start if present (else the run starts from an
      // empty index), each batch's admissions stage durably and fold back
      // lagged one batch, and every fold appends an O(batch) DELTA — never
      // an O(index) rewrite — so restarts resume the index instead of
      // re-admitting history (StreamingDedup.novelNearCorpusIngest +
      // Dedup.CorpusFiles: O(batch) deltas, load, compact)
      case "--near-index" :: v :: t => loop(t, c.copy(nearIndex = Some(v)))
      case "--near-threshold" :: v :: t =>
        loop(t, c.copy(nearThreshold = v.toDouble))
      // compact the persisted index's delta chain every N folds (0 = never)
      // — bounds what a restart replays; default 16 keeps maintenance cheap
      // relative to the folds it amortizes over
      case "--near-compact-every" :: v :: t =>
        loop(t, c.copy(nearCompactEvery = v.toInt))
      // LIVING BM25 corpus statistics over the admitted population: each
      // batch folds an O(batch) delta keyed on the replay-stable batch id
      // (TextAnalysis.Bm25Files.saveDeltaAt); Bm25Files.load over
      // base+deltas feeds bm25TopKWith between runs
      case "--bm25-stats" :: v :: t => loop(t, c.copy(bm25Stats = Some(v)))
      // compact the stats delta chain every N landed deltas (0 = never) —
      // --near-compact-every's stats twin (TextAnalysis.Bm25Files.compact);
      // bounds the delta dirs and the restart load's union
      case "--bm25-compact-every" :: v :: t =>
        loop(t, c.copy(bm25CompactEvery = v.toInt))
      // fold the landed ingest_batch=<id> dirs into one stamped base every
      // N batches (0 = never) — bounds the OUTPUT's directory count the way
      // the index chains bound their deltas (OutputCompaction; the
      // small-files scale-killer at a minute-level trigger)
      case "--out-compact-every" :: v :: t =>
        loop(t, c.copy(outCompactEvery = v.toInt))
      // SIZE-TIERED segment merging after each minor: merge a log-`ratio`
      // size tier once `min` segments accumulate in it (LSM size-tiered
      // compaction — bounds segment count at O(min·log(corpus/batch))
      // with O(n·log n) lifetime rewrite volume, never a scheduled
      // full-corpus pass; OutputCompaction.mergeTiers)
      case "--out-merge-ratio" :: v :: t =>
        loop(t, c.copy(outMergeRatio = v.toInt))
      case "--out-merge-min" :: v :: t =>
        loop(t, c.copy(outMergeMin = v.toInt))
      // ADMISSION CONTROL for a cold --src backlog: without it the file
      // source drains everything present in ONE giant micro-batch (the
      // tail sources' maxBytesPerTrigger lesson — a month of backlog must
      // not become one batch's working set); file-source native, so
      // AvailableNow still drains the whole backlog, just in bounded steps
      case "--max-files-per-trigger" :: v :: t =>
        loop(t, c.copy(maxFilesPerTrigger = Some(v.toInt)))
      // write-time Z-ORDER clustering of the packed output on two of its
      // columns (e.g. zorder:doc_id,tok_offset): landed files — and every
      // compacted base — carry min/max stats that prune box predicates on
      // BOTH keys (Layout.zOrderByNormalized)
      case "--layout" :: v :: t => v.split(":", 2) match {
        case Array("zorder", keys) => keys.split(",", 2) match {
          case Array(k1, k2) if k1.nonEmpty && k2.nonEmpty =>
            loop(t, c.copy(layout = Some((k1.trim, k2.trim))))
          case _ => throw new IllegalArgumentException(
            s"bad --layout (want zorder:<k1>,<k2>): $v")
        }
        case _ => throw new IllegalArgumentException(
          s"unknown --layout scheme (supported: zorder:<k1>,<k2>): $v")
      }
      // the ops surface (ExporterTelemetry's ingest sibling): /metrics
      // with the graft_ingest_* self-telemetry block + /healthz wired to
      // query.isActive — on by default, --no-self-metrics to run dark
      case "--listen" :: v :: t => loop(t, c.copy(listen = v))
      case "--no-self-metrics" :: t => loop(t, c.copy(selfMetrics = false))
      case Nil =>
        require(c.src.nonEmpty && c.out.nonEmpty && c.checkpoint.nonEmpty,
          "--src, --out, and --checkpoint are required")
        c
      case other :: _ => throw new IllegalArgumentException(
        s"unknown flag: $other (supported: --src <dir> --out <path> --checkpoint <dir> " +
          "--budget <tokens> --rate <r> --rate-for <source=r> --once " +
          "--near-index <path> --near-threshold <t> --near-compact-every <n> " +
          "--bm25-stats <path> --bm25-compact-every <n> --out-compact-every <n> " +
          "--out-merge-ratio <r> --out-merge-min <k> " +
          "--max-files-per-trigger <n> --layout zorder:<k1>,<k2> " +
          "--listen <host:port> --no-self-metrics)")
    }
    loop(args.toList, Config())
  }

  private val srcSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, source STRING, n_chars BIGINT")

  /** The daemon's file source with admission control applied — factored so
    * the bounded-cold-start-drain spec drives exactly the CLI's source. */
  private[graft] def source(spark: SparkSession, config: Config): org.apache.spark.sql.DataFrame = {
    val r = spark.readStream.schema(srcSchema)
    config.maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(config.src)
  }

  /** Build the near-dup admission gate from `--near-index`: load the
    * persisted base+deltas when an index exists at the path, else bootstrap
    * an empty-corpus BASE there (an empty Bloom word table makes every
    * probe a definite miss, so everything is novel until folds accumulate;
    * the base must exist before the first O(batch) delta lands on it).
    * The gate runs in DURABLE mode: staged admissions and per-fold deltas
    * live under the index path, so a crash at any point resumes without
    * re-admitting history ([[graft.streaming.IngestGate]]). */
  private[graft] def nearGate(spark: SparkSession,
      config: Config): Option[graft.streaming.IngestGate] =
    config.nearIndex.map { path =>
      import graft.operators.{Dedup, RefreshableCorpusIndex}
      val idx0 =
        if (Dedup.CorpusFiles.exists(spark, path)) Dedup.CorpusFiles.load(spark, path)
        else {
          import spark.implicits._
          val empty = Dedup.corpusIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"))
          Dedup.CorpusFiles.save(empty, path)
          empty
        }
      graft.streaming.StreamingDedup.novelNearCorpusIngest(
        new RefreshableCorpusIndex(idx0), config.nearThreshold,
        indexPath = Some(path), compactEvery = config.nearCompactEvery)
    }

  /** `host:port` split for `--listen` (the Exporter's convention). */
  private[graft] def parseListen(listen: String): (String, Int) = {
    val i = listen.lastIndexOf(':')
    require(i > 0, s"--listen wants host:port, got $listen")
    (listen.substring(0, i), listen.substring(i + 1).toInt)
  }

  def main(args: Array[String]): Unit = {
    val config = parseArgs(args.toSeq)
    val spark = DaemonSession("graft-curation-ingest")
    val in = source(spark, config)
    val gate = nearGate(spark, config)
    // stats bootstrap: deltas fold onto a base; zeros are the additive
    // identity, so a fresh path starts from the empty-corpus row
    config.bm25Stats.filterNot(graft.operators.TextAnalysis.Bm25Files.exists(spark, _))
      .foreach(p => graft.operators.TextAnalysis.Bm25Files.save(
        graft.operators.TextAnalysis.emptyBm25Stats(spark), p))
    // ops surface: /metrics (graft_ingest_* self-telemetry) + /healthz
    val telemetry =
      if (config.selfMetrics) Some(new graft.streaming.IngestTelemetry) else None
    telemetry.foreach { t =>
      t.indexProbe = () =>
        config.nearIndex.toSeq.map(p => t.probeIndexPath(spark, "near", p)) ++
          config.bm25Stats.toSeq.map(p => t.probeIndexPath(spark, "bm25", p))
    }
    val server = telemetry.map { t =>
      val (host, port) = parseListen(config.listen)
      new graft.streaming.MetricsHttpServer(port, host).attachTelemetry(t).start()
    }
    val layoutFn = config.layout.map { case (k1, k2) =>
      (df: org.apache.spark.sql.DataFrame) =>
        graft.operators.Layout.zOrderByNormalized(df,
          org.apache.spark.sql.functions.col(k1),
          org.apache.spark.sql.functions.col(k2))
    }
    val query = StreamingCuration.ingestTo(spark, in, config.out, config.checkpoint,
      budget = config.budget, rates = config.rates, defaultRate = config.defaultRate,
      availableNow = config.once, nearGate = gate, statsPath = config.bm25Stats,
      statsCompactEvery = config.bm25CompactEvery,
      outCompactEvery = config.outCompactEvery,
      outMergeRatio = config.outMergeRatio,
      outMergeMin = config.outMergeMin,
      telemetry = telemetry,
      layoutFn = layoutFn)
    server.foreach(_.health(() => query.isActive))
    sys.addShutdownHook { query.stop() }
    query.awaitTermination()
    // clean shutdown: fold + persist the final batch's staged admissions
    // (the lag defers every fold to the next batch; a terminated --once
    // run has none, so the flush IS that next step)
    gate.foreach(_.flush())
    server.foreach(_.stop())
  }
}
