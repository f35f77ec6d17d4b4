package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{MetricsHttpServer, MetricsServing}

/** The reference binary, Spark-native: tail-follow ClickHouse server
  * log(s) (`tail -f` semantics, seek-to-EOF default), correlate per-query
  * lines through the keyed stateful merge, and serve the Prometheus metric
  * surface over HTTP — flag-for-flag the CLI of
  * /root/reference/main.go:17-21 (`--log`, `--listen`, `--from-start`).
  *
  * A user of the reference runs
  * `spark-submit --class graft.Exporter <jar> --log /var/log/clickhouse-server/clickhouse-server.log`
  * where they ran the Go binary; scrape `GET /metrics` on `--listen`
  * (default 0.0.0.0:19901, main.go:20) exactly as before. SIGINT/SIGTERM
  * shut down the stream, then the HTTP server, mirroring main.go:130-142.
  *
  * Beyond the reference, the deployment upgrades:
  *
  *   - FLEET mode: `--log` repeated (or comma-separated) tails N server
  *     logs through ONE merge and one `/metrics` endpoint, every series
  *     labeled `server="<path>"` and query-id state keyed per server
  *     ([[graft.streaming.MetricsServing.serveIncrementalFleet]]); glob
  *     entries re-expand per poll (elastic membership). One literal
  *     `--log` keeps the reference's exact label-free exposition.
  *   - `--jdbc <url> [--jdbc-table <name>] [--jdbc-dialect upsert|append]`
  *     additionally lands every micro-batch's metric delta exactly-once in
  *     a warehouse table off the SAME merge and checkpoint (the BASELINE
  *     "Structured Streaming + warehouse sink" shape). `upsert`
  *     ([[graft.streaming.MetricsJdbcUpsert]]) fits transactional backends
  *     (Derby spec'd; PostgreSQL/MySQL same contract); `append`
  *     ([[graft.streaming.MetricsJdbcAppend]]) is the ClickHouse
  *     SummingMergeTree shape — tagged delta INSERTs, fold on read.
  *   - `--resume-from-jdbc` seeds the scrape registry from the warehouse
  *     snapshot at start, so counters CONTINUE across restarts instead of
  *     resetting ([[graft.streaming.PromRegistry.seedFrom]]; replayed
  *     batches fold exactly once).
  *   - `--max-bytes-per-trigger <n>` bounds each micro-batch's admission
  *     per tailed file (line-aligned; backlog drains incrementally instead
  *     of one giant first batch), and the self-telemetry block (`graft_*`,
  *     `--no-self-metrics` opts out) exposes the live backlog gauge plus
  *     scrape/batch/state health ([[graft.streaming.ExporterTelemetry]]).
  */
object Exporter {

  val DefaultLog = "/var/log/clickhouse-server/clickhouse-server.log"

  final case class Config(
      logs: Seq[String] = Seq(DefaultLog),
      listen: String = "0.0.0.0:19901",
      fromStart: Boolean = false,
      checkpoint: Option[String] = None,
      jdbcUrl: Option[String] = None,
      jdbcTable: String = "metrics",
      jdbcDialect: String = "upsert",
      jdbcCompactEvery: Int = 0,
      maxBytesPerTrigger: Long = 0L,
      selfMetrics: Boolean = true,
      resumeFromJdbc: Boolean = false,
      backfill: Seq[String] = Nil,
      backfillFor: Map[String, Seq[String]] = Map.empty,
      drainAndExit: Boolean = false,
      trigger: Option[String] = None) {
    /** Single-file compatibility view (the reference's one-file shape). */
    def log: String = logs.head
  }

  def parseArgs(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config, logs: Vector[String]): Config = rest match {
      // repeated --log flags (or one comma-separated value) form the fleet
      case "--log" :: v :: t =>
        loop(t, c, logs ++ v.split(",").map(_.trim).filter(_.nonEmpty))
      case "--listen" :: v :: t => loop(t, c.copy(listen = v), logs)
      case "--from-start" :: t => loop(t, c.copy(fromStart = true), logs)
      case "--checkpoint" :: v :: t => loop(t, c.copy(checkpoint = Some(v)), logs)
      // beyond-reference: land the metric registry in a warehouse table
      // (the BASELINE warehouse-sink north star) alongside the scrape —
      // any TRANSACTIONAL JDBC backend (specs drive embedded Derby; see
      // MetricsJdbcUpsert's scaladoc for the ClickHouse-native mapping)
      case "--jdbc" :: v :: t => loop(t, c.copy(jdbcUrl = Some(v)), logs)
      case "--jdbc-table" :: v :: t => loop(t, c.copy(jdbcTable = v), logs)
      // upsert (transactional backends: Derby/PostgreSQL/MySQL) or append
      // (the ClickHouse SummingMergeTree shape: tagged delta INSERTs,
      // fold-on-read through <table>_folded)
      case "--jdbc-dialect" :: v :: t => loop(t, c.copy(jdbcDialect = v), logs)
      // append dialect: fold the delta table back to ~one batch per source
      // every N applied batches (bounded table for a long-running exporter)
      case "--jdbc-compact-every" :: v :: t =>
        loop(t, c.copy(jdbcCompactEvery = v.toInt), logs)
      // beyond-reference: admission control for the backlog case — with
      // `--from-start` on a big log (or a restart after downtime) each
      // micro-batch admits at most this many new bytes per tailed file,
      // so the drain is bounded instead of one giant first batch
      case "--max-bytes-per-trigger" :: v :: t =>
        loop(t, c.copy(maxBytesPerTrigger = v.toLong), logs)
      // self-telemetry (graft_* block: scrape/batch counters, merge state
      // size, tail backlog gauge) is on by default like any real exporter;
      // this restores the reference's exact data-only exposition
      case "--no-self-metrics" :: t => loop(t, c.copy(selfMetrics = false), logs)
      // with --jdbc + a durable --checkpoint: seed the scrape registry from
      // the warehouse table at start, so counters CONTINUE across restarts
      // instead of resetting (default keeps the reference's volatile
      // registry; requires --jdbc)
      case "--resume-from-jdbc" :: t => loop(t, c.copy(resumeFromJdbc = true), logs)
      // backfill-then-follow: drain rotated-away archives IN ORDER before
      // attaching to the live --log file — the "reprocess history, then
      // follow" deployment ask. Bare `--backfill a.1,a.2` is the
      // single-file shorthand; `--backfill live.log=a.1,a.2` (repeatable)
      // names the member and composes with fleet mode. The first '=' in
      // the value selects the live= form, so backfill-ed paths must not
      // contain '=' (nor ',' or ';', the list separators) — a rename is
      // the escape hatch.
      case "--backfill" :: v :: t if v.contains('=') =>
        val merged = graft.sources.TailFleetSource.parseBackfill(v)
          .foldLeft(c.backfillFor) { case (acc, (live, archs)) =>
            acc.updated(live, acc.getOrElse(live, Nil) ++ archs)
          }
        loop(t, c.copy(backfillFor = merged), logs)
      case "--backfill" :: v :: t => loop(t, c.copy(
        backfill = c.backfill ++ v.split(",").map(_.trim).filter(_.nonEmpty)), logs)
      // drain-and-exit (Trigger.AvailableNow): process everything present
      // at start — archives, backlog, the current tails — in bounded
      // micro-batches, then terminate cleanly. The batch-backfill run mode:
      // with --jdbc + a durable --checkpoint, a cron-able catch-up job
      // whose next run resumes where this one ended.
      case "--drain-and-exit" :: t => loop(t, c.copy(drainAndExit = true), logs)
      // freshness-vs-CPU knob: micro-batches fire on a ProcessingTime
      // cadence (e.g. "5 seconds") instead of the default ASAP trigger —
      // a quiet log then costs a few offset polls per interval instead of
      // a busy-loop (the reference's inotify tail costs ~nothing idle;
      // this is the Spark-side equivalent)
      case "--trigger" :: v :: t => loop(t, c.copy(trigger = Some(v)), logs)
      case Nil => if (logs.isEmpty) c else c.copy(logs = logs)
      case other :: _ => throw new IllegalArgumentException(
        s"unknown flag: $other (supported: --log <file>[,<file>…] (repeatable) " +
          "--listen <host:port> --from-start --checkpoint <dir> " +
          "--jdbc <url> --jdbc-table <name> --jdbc-dialect upsert|append " +
          "--jdbc-compact-every <n> --max-bytes-per-trigger <n> " +
          "--no-self-metrics --resume-from-jdbc " +
          "--backfill [<live>=]<file>[,<file>…] --drain-and-exit " +
          "--trigger <interval>)")
    }
    loop(args.toList, Config(), Vector.empty)
  }

  /** Start the server + pipeline; returns both for lifecycle control
    * (tests drive this directly; [[main]] blocks on the query). */
  def run(spark: SparkSession, config: Config): (MetricsHttpServer, StreamingQuery) = {
    // pre-flight, main.go:81-85 — literal paths must exist; glob entries
    // (dynamic fleet membership) may legitimately match nothing yet.
    // Backfill archives are literal by definition (typo protection). All
    // validation runs BEFORE the HTTP server binds, so a bad flag set
    // never leaves an orphaned listener behind the thrown require.
    config.logs.foreach(graft.sources.TailFleetSource.rejectBraces)
    config.logs.filterNot(graft.sources.TailFleetSource.isGlob)
      .foreach(graft.sources.LogSource.checkLogFile)
    (config.backfill ++ config.backfillFor.values.flatten)
      .foreach(graft.sources.LogSource.checkBackfillFile) // gz archives ok
    val singleLiteral = config.logs.size == 1 &&
      !graft.sources.TailFleetSource.isGlob(config.log)
    require(config.backfill.isEmpty || singleLiteral,
      "bare --backfill composes with exactly one literal --log file; " +
        "in fleet mode name the member: --backfill <live>=<arch>[,<arch>…]")
    require(config.backfill.isEmpty || config.backfillFor.isEmpty,
      "use either the bare or the live= form of --backfill, not both")
    val literals = config.logs.filterNot(graft.sources.TailFleetSource.isGlob).toSet
    require(config.backfillFor.keySet.subsetOf(literals),
      "every --backfill live= key must be a literal --log entry: " +
        config.backfillFor.keySet.diff(literals).mkString(", "))
    val (host, port) = config.listen.split(":", 2) match {
      case Array(h, p) => (h, p.toInt)
      case _ => throw new IllegalArgumentException(s"bad --listen: ${config.listen}")
    }
    // JDBC flag combos validate BEFORE the bind too: dialect resolution
    // throws on an unknown --jdbc-dialect / compact-on-upsert, and
    // --resume-from-jdbc without --jdbc throws in serveIncremental* — both
    // used to fire after server.start() and leave an orphaned listener
    val jdbc = config.jdbcUrl.map(u =>
      graft.streaming.MetricsJdbcSink(config.jdbcDialect, u, config.jdbcTable,
        config.jdbcCompactEvery))
    require(!config.resumeFromJdbc || jdbc.nonEmpty,
      "--resume-from-jdbc needs --jdbc to seed from")
    require(!(config.drainAndExit && config.trigger.nonEmpty),
      "--trigger sets a ProcessingTime cadence; --drain-and-exit runs " +
        "AvailableNow - pick one")
    // fail fast on a malformed interval BEFORE the server binds (Spark
    // would otherwise throw at .trigger() after it)
    config.trigger.foreach(org.apache.spark.sql.streaming.Trigger.ProcessingTime(_))
    val server = new MetricsHttpServer(port, host).start() // before the tail attaches, main.go:78
    val ckpt = config.checkpoint.getOrElse(
      Files.createTempDirectory("graft-exporter-ckpt").toString)
    val telemetry =
      if (config.selfMetrics) Some(new graft.streaming.ExporterTelemetry) else None
    // anything after the bind can still fail at runtime (DDL against a dead
    // backend, a non-resumable shared table) — release the listener instead
    // of orphaning it behind the propagated exception
    val query =
      try {
        if (singleLiteral) // the reference's exact one-file, label-free shape
          MetricsServing.serveIncrementalTail(
            spark, config.log, server, ckpt, fromStart = config.fromStart, jdbc = jdbc,
            maxBytesPerTrigger = config.maxBytesPerTrigger, telemetry = telemetry,
            resumeFromJdbc = config.resumeFromJdbc,
            backfill = config.backfill ++ config.backfillFor.getOrElse(config.log, Nil),
            availableNow = config.drainAndExit, trigger = config.trigger)
        else
          MetricsServing.serveIncrementalFleet(
            spark, config.logs, server, ckpt, fromStart = config.fromStart, jdbc = jdbc,
            maxBytesPerTrigger = config.maxBytesPerTrigger, telemetry = telemetry,
            resumeFromJdbc = config.resumeFromJdbc,
            availableNow = config.drainAndExit, backfill = config.backfillFor,
            trigger = config.trigger)
      } catch { case e: Throwable => server.stop(0); throw e }
    server.health(() => query.isActive) // /healthz: 503 once the stream dies
    (server, query)
  }

  def main(args: Array[String]): Unit = {
    val config = parseArgs(args.toSeq)
    val spark = DaemonSession("prometheus-clickhouselog-exporter")
    val (server, query) = run(spark, config)
    // graceful shutdown à la main.go:130-142: stop the tail, drain scrapes
    sys.addShutdownHook {
      try query.stop() finally server.stop(2)
    }
    query.awaitTermination()
    // drain-and-exit: the query ends on its own once everything available
    // at start is processed; leave by the front door instead of waiting
    // for a signal (the shutdown hook then finds both already stopped)
    if (config.drainAndExit) server.stop(0)
  }
}
