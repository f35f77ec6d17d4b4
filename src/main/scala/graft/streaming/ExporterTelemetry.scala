package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sources.{TailFleetOffset, TailOffset}

/** The exporter's metrics ABOUT ITSELF — the `graft_*` block every real
  * Prometheus exporter appends to its exposition (node_exporter's
  * `node_scrape_*`, promhttp's handler counters): scrape traffic, micro-batch
  * cadence and per-phase time, merge-state size, partition count and
  * commit time, and — the one only the
  * tail source can provide — the live backlog gauge,
  * `graft_tail_backlog_bytes`: how many bytes sit in the log file(s)
  * beyond what the stream has admitted. Under
  * `maxBytesPerTrigger` admission control this is the drain progress a
  * dashboard alerts on (backlog not shrinking = the exporter can't keep up);
  * it is computable ONLY because the source reports its true tail separately
  * from the admitted position
  * ([[graft.sources.TailFileMicroBatchStream.reportLatestOffset]]).
  *
  * Semantics are deliberately weaker than the `chlogexporter_*`/`clickhouse_*`
  * families: those are the data product and ride the stream exactly-once
  * (batch-synchronous registry fold, same checkpoint as the JDBC ledger).
  * Self-telemetry is operational observability — batch stats arrive on the
  * async listener bus (a dropped event skews a gauge one batch, never the
  * data), and everything here resets on restart, like any process-local
  * exporter metric.
  */
/** The minimal contract [[MetricsHttpServer]] needs from a self-telemetry
  * block: scrape counting + a rendered `graft_*` exposition appendix.
  * [[ExporterTelemetry]] is the log daemon's; [[IngestTelemetry]] the
  * curation/vector daemons'. */
trait SelfTelemetry {
  def onScrape(): Unit
  def render(): String
}

final class ExporterTelemetry extends SelfTelemetry {

  private val scrapes = new AtomicLong(0L)
  @volatile private var batches = 0L
  @volatile private var lastBatchDurationMs = 0L
  @volatile private var lastBatchInputRows = 0L
  @volatile private var stateRows = 0L
  @volatile private var statePartitions = 0L
  /** The last progress event's [[ExporterTelemetry.Phases]], in ms. */
  @volatile private var phaseMs = ExporterTelemetry.Phases.map(_ -> 0L)
  @volatile private var stateCommitMs = 0L
  /** server path -> unadmitted bytes; "" = the single-file (label-free)
    * form. Swapped whole per progress event — a scrape never sees a
    * half-updated gauge set. */
  @volatile private var backlog = Map.empty[String, Long]

  /** Count one `/metrics` request. Incremented before the body renders, so
    * the serving scrape sees itself — the gauge of choice for "is anything
    * scraping me at all". */
  def onScrape(): Unit = { scrapes.incrementAndGet(); () }

  /** Fold one progress event's operational stats (listener side — see class
    * note on semantics). */
  def onProgress(p: StreamingQueryProgress): Unit = {
    batches += 1
    lastBatchDurationMs =
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    lastBatchInputRows = p.numInputRows
    phaseMs = ExporterTelemetry.Phases.map(k =>
      k -> Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
    stateCommitMs = p.stateOperators.map(_.commitTimeMs).sum
    stateRows = p.stateOperators.map(_.numRowsTotal).sum
    statePartitions = p.stateOperators.map(_.numShufflePartitions).maxOption.getOrElse(0L)
    p.sources.foreach { s =>
      for {
        end <- Option(s.endOffset)
        latest <- Option(s.latestOffset)
        m <- ExporterTelemetry.backlogOf(end, latest)
      } backlog = m
    }
  }

  /** Attach to `q`'s progress events; the listener removes itself when the
    * query terminates (so a stopped exporter leaves no listener behind). */
  def observeQuery(spark: SparkSession, q: StreamingQuery): Unit = {
    val id = q.id
    val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == id) onProgress(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == id) spark.streams.removeListener(this)
    }
    spark.streams.addListener(listener)
  }

  /** The `graft_*` exposition block (appended after the data families by
    * [[MetricsHttpServer]] when telemetry is attached). Backlog series carry
    * a `server` label per fleet member; the single-file form is label-free
    * like the rest of the reference-shaped exposition. */
  def render(): String = {
    val backlogLines = backlog.toSeq.sortBy(_._1).map {
      case ("", v) => s"graft_tail_backlog_bytes $v"
      case (srv, v) =>
        s"""graft_tail_backlog_bytes{server="${PromRegistry.escapeLabel(srv)}"} $v"""
    }
    import PromRegistry.family
    PromRegistry.assemble(Seq(
      family("graft_scrapes_total", "Metrics endpoint requests served (incl. this one)",
        "counter", Seq(s"graft_scrapes_total ${scrapes.get()}")),
      family("graft_batches_total", "Micro-batches processed since exporter start",
        "counter", Seq(s"graft_batches_total $batches")),
      family("graft_last_batch_duration_seconds", "Trigger execution time of the last micro-batch",
        "gauge", Seq(s"graft_last_batch_duration_seconds ${MetricsSink.fmtDouble(lastBatchDurationMs / 1000.0)}")),
      family("graft_last_batch_input_rows", "Input rows of the last micro-batch",
        "gauge", Seq(s"graft_last_batch_input_rows $lastBatchInputRows")),
      family("graft_last_batch_phase_seconds", "Time the last micro-batch spent in each phase",
        "gauge", phaseMs.map { case (k, ms) =>
          s"""graft_last_batch_phase_seconds{phase="$k"} ${MetricsSink.fmtDouble(ms / 1000.0)}"""
        }),
      family("graft_merge_state_rows", "Rows held by the keyed merge's state store",
        "gauge", Seq(s"graft_merge_state_rows $stateRows")),
      family("graft_merge_state_commit_seconds",
        "State-store commit time of the last micro-batch, summed over partitions",
        "gauge", Seq(s"graft_merge_state_commit_seconds ${MetricsSink.fmtDouble(stateCommitMs / 1000.0)}")),
      // fixed when the checkpoint was first written: a resumed old checkpoint
      // shows its original count here, not the session's default
      family("graft_merge_state_partitions", "State-store partitions of the keyed merge",
        "gauge", Seq(s"graft_merge_state_partitions $statePartitions")),
      family("graft_tail_backlog_bytes",
        "Bytes in the tailed file(s) beyond the admitted stream position",
        "gauge", backlogLines)))
  }
}

object ExporterTelemetry {

  /** The micro-batch phases of Spark's progress report (`durationMs`), in
    * execution order: the source's offset poll, planning, the offset-log
    * write, the batch itself, and the commit-log write. */
  val Phases: Seq[String] =
    Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")

  /** Per-server unadmitted bytes from a source's progress offsets: `end` is
    * the admitted position, `latest` the true tail the source reported
    * (`reportLatestOffset`). None when the offsets are not tail-source wire
    * forms (e.g. a FileStreamSource directory stream) — the gauge simply
    * doesn't exist for such sources.
    *
    * Same rotation generation: `latest.pos - end.pos` (clamped at 0 — a
    * rotation can legitimately shrink the reported tail a beat before the
    * epoch bump lands). Tail is a LATER generation: the admitted remainder of
    * the rotated-away file is unknowable once the file is replaced, so the
    * gauge reports the new generation's unadmitted bytes (`latest.pos`) —
    * a momentary undercount that self-corrects when the drain catches up. */
  def backlogOf(end: String, latest: String): Option[Map[String, Long]] = {
    def one(e: TailOffset, l: TailOffset): Long =
      if (l.epoch > e.epoch) l.pos else math.max(0L, l.pos - e.pos)
    val fleetForm = end.contains('\u0001') || latest.contains('\u0001')
    if (fleetForm) Try {
      val es = TailFleetOffset.parse(end).offsets
      val ls = TailFleetOffset.parse(latest).offsets
      ls.map { case (p, l) => p -> one(es.getOrElse(p, TailOffset(0L, 0L)), l) }
    }.toOption
    else if (end.contains(':') && latest.contains(':')) Try {
      Map("" -> one(TailOffset.parse(end), TailOffset.parse(latest)))
    }.toOption
    else None
  }
}
