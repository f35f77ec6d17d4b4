package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.operators.{IndexFiles, IndexMaintenance}

/** The ingest daemons' metrics ABOUT THEMSELVES — [[ExporterTelemetry]]'s
  * sibling for `graft.Ingest` / `graft.VecIngest`, which until now ran
  * blind (no admission counters, no staged-backlog gauge, no index-chain
  * state, no maintenance outcomes — the audit trail existed on the gates
  * but never left the JVM). Appended to the `/metrics` exposition of a
  * [[MetricsHttpServer]] the daemon starts beside its streaming query,
  * with `/healthz` wired to `query.isActive` — the same ops surface the
  * Exporter grew in r9.
  *
  * Same semantics tier as [[ExporterTelemetry]]: operational observability
  * (process-local, resets on restart), never the exactly-once data
  * product. Batch stats are folded synchronously by the foreachBatch body
  * ([[StreamingCuration.CurationRun]] / `VecIngest.Pipeline.onBatch`), so
  * a scrape between batches sees a consistent snapshot; index-chain gauges
  * come from an [[indexProbe]] the daemon installs (FS listings, one `meta_kv` read, plus
  * the gates' in-memory [[IndexMaintenance.Decision]] trail — no Spark
  * jobs on the scrape path). */
final class IngestTelemetry extends SelfTelemetry {

  /** One index family's chain state + maintenance outcomes. `lastRecall`
    * NaN = never measured (rendered as "NaN", Prometheus-legal). */
  final case class IndexStat(family: String, baseVersion: Long, deltas: Long,
      staged: Long, maintenancePasses: Long = 0L, retrains: Long = 0L,
      lastRecall: Double = Double.NaN)

  private val scrapes = new AtomicLong(0L)
  private val batches = new AtomicLong(0L)
  private val inputRows = new AtomicLong(0L)
  private val admittedRows = new AtomicLong(0L)
  @volatile private var lastBatchInput = 0L
  @volatile private var lastBatchAdmitted = 0L
  @volatile private var lastBatchSeconds = 0.0
  @volatile private var indexStats: Seq[IndexStat] = Nil
  @volatile private var outputSegments = 0L
  @volatile private var outputLiveDirs = 0L

  /** Installed by the daemon at start; invoked after each batch (never on
    * the scrape path). */
  @volatile var indexProbe: () => Seq[IndexStat] = () => Nil

  def onScrape(): Unit = { scrapes.incrementAndGet(); () }

  /** Output-compaction gauges: published segments and live (un-folded)
    * batch dirs — the small-files alert signal. */
  def setOutput(segments: Long, liveDirs: Long): Unit = {
    outputSegments = segments
    outputLiveDirs = liveDirs
  }

  /** Fold one micro-batch's admission stats and refresh the index gauges
    * (called at the end of the foreachBatch body). */
  def onBatch(input: Long, admitted: Long, seconds: Double): Unit = {
    batches.incrementAndGet()
    inputRows.addAndGet(input)
    admittedRows.addAndGet(admitted)
    lastBatchInput = input
    lastBatchAdmitted = admitted
    lastBatchSeconds = seconds
    indexStats = indexProbe()
  }

  /** Chain-state probe for one index family — base version, LIVE delta
    * count (deltas a base stamp swallowed are not counted), staged
    * backlog; FS listings plus one `meta_kv` read. */
  def probeIndexPath(spark: SparkSession, family: String, path: String,
      decisions: => Seq[IndexMaintenance.Decision] = Nil): IndexStat = {
    val ds = decisions
    IndexStat(family,
      baseVersion = IndexFiles.bases(spark, path).map(_._1).maxOption.getOrElse(0L),
      deltas = IndexFiles.liveDeltas(spark, path).size.toLong,
      staged = IngestGate.staged(spark, path).size.toLong,
      maintenancePasses = ds.size.toLong,
      retrains = ds.count(_.retrained).toLong,
      lastRecall = ds.lastOption
        .map(d => d.recallAfter.getOrElse(d.recallBefore)).getOrElse(Double.NaN))
  }

  def render(): String = {
    import PromRegistry.family
    def lbl(s: IndexStat) = s"""{index="${PromRegistry.escapeLabel(s.family)}"}"""
    val stats = indexStats
    PromRegistry.assemble(Seq(
      family("graft_ingest_scrapes_total", "Metrics endpoint requests served (incl. this one)",
        "counter", Seq(s"graft_ingest_scrapes_total ${scrapes.get()}")),
      family("graft_ingest_batches_total", "Micro-batches processed since daemon start",
        "counter", Seq(s"graft_ingest_batches_total ${batches.get()}")),
      family("graft_ingest_input_rows_total", "Rows read from the source (post in-batch collapse)",
        "counter", Seq(s"graft_ingest_input_rows_total ${inputRows.get()}")),
      family("graft_ingest_admitted_rows_total", "Rows admitted and landed in the curated output",
        "counter", Seq(s"graft_ingest_admitted_rows_total ${admittedRows.get()}")),
      family("graft_ingest_rejected_rows_total", "Rows the admission gates dropped",
        "counter", Seq(s"graft_ingest_rejected_rows_total ${inputRows.get() - admittedRows.get()}")),
      family("graft_ingest_last_batch_input_rows", "Input rows of the last micro-batch",
        "gauge", Seq(s"graft_ingest_last_batch_input_rows $lastBatchInput")),
      family("graft_ingest_last_batch_admitted_rows", "Admitted rows of the last micro-batch",
        "gauge", Seq(s"graft_ingest_last_batch_admitted_rows $lastBatchAdmitted")),
      family("graft_ingest_last_batch_duration_seconds", "Wall time of the last foreachBatch body",
        "gauge", Seq(s"graft_ingest_last_batch_duration_seconds ${MetricsSink.fmtDouble(lastBatchSeconds)}")),
      family("graft_output_segments", "Published compacted output segments",
        "gauge", Seq(s"graft_output_segments $outputSegments")),
      family("graft_output_live_batch_dirs", "Landed ingest_batch dirs awaiting compaction",
        "gauge", Seq(s"graft_output_live_batch_dirs $outputLiveDirs")),
      family("graft_index_base_version", "Latest persisted base version of the index chain",
        "gauge", stats.map(s => s"graft_index_base_version${lbl(s)} ${s.baseVersion}")),
      family("graft_index_delta_chain_length", "Persisted deltas above the base (compaction sweeps them)",
        "gauge", stats.map(s => s"graft_index_delta_chain_length${lbl(s)} ${s.deltas}")),
      family("graft_index_staged_batches", "Staged batch dirs awaiting their lagged fold",
        "gauge", stats.map(s => s"graft_index_staged_batches${lbl(s)} ${s.staged}")),
      family("graft_index_maintenance_passes_total", "Monitor-driven maintenance passes run",
        "counter", stats.map(s => s"graft_index_maintenance_passes_total${lbl(s)} ${s.maintenancePasses}")),
      family("graft_index_retrains_total", "Maintenance passes that breached the floor and retrained",
        "counter", stats.map(s => s"graft_index_retrains_total${lbl(s)} ${s.retrains}")),
      family("graft_index_last_recall", "Recall the last maintenance pass measured (NaN = never)",
        "gauge", stats.map(s => s"graft_index_last_recall${lbl(s)} ${MetricsSink.fmtDouble(s.lastRecall)}"))))
  }
}
