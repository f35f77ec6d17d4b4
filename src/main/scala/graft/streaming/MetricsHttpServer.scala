package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The pull-based `/metrics` endpoint (SURVEY §2.1 S4; reference
  * main.go:55-68): a JDK `com.sun.net.httpserver` server on the driver
  * serving the latest Prometheus text exposition. The served body is the
  * few-KB rendering of the driver-side registry ([[PromRegistry.render]]) —
  * executors never serve HTTP; all input-scale work happens in the
  * streaming merge before the driver-side collect.
  *
  * Lifecycle mirrors the reference: start before the pipeline attaches,
  * `stop(graceful)` drains in-flight scrapes on shutdown (main.go:130-142's
  * `server.Shutdown(ctx)`).
  */
final class MetricsHttpServer(port: Int = 0, host: String = "0.0.0.0") {

  @volatile private var body: String = ""
  @volatile private var telemetry: Option[SelfTelemetry] = None
  @volatile private var healthProbe: () => Boolean = () => true

  /** Respond on `x`: status + body, gzip-encoded when the client offered it
    * (Prometheus scrapers send `Accept-Encoding: gzip`; at scrape rates the
    * exposition compresses ~10×). */
  private def respond(x: HttpExchange, status: Int, contentType: String,
      text: String): Unit = {
    val raw = text.getBytes(StandardCharsets.UTF_8)
    // q-values honored: RFC 9110 makes `gzip;q=0` an explicit REFUSAL, so
    // stripping parameters before matching would gzip a body the client
    // declared it cannot decode
    val acceptsGzip = Option(x.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.split(",").map(_.trim).exists { entry =>
        val parts = entry.split(";").map(_.trim)
        // qvalue grammar is ("0" ["." 0*3DIGIT]) — parse numerically so
        // every refusal spelling ("q=0", "q=0.", "q=0.00") is honored
        parts.headOption.contains("gzip") && !parts.tail.exists { p =>
          val np = p.replace(" ", "")
          np.startsWith("q=") &&
            np.stripPrefix("q=").toDoubleOption.exists(_ == 0.0)
        }
      })
    val bytes = if (acceptsGzip && status == 200) {
      x.getResponseHeaders.set("Content-Encoding", "gzip")
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      try gz.write(raw) finally gz.close()
      bos.toByteArray
    } else raw
    x.getResponseHeaders.set("Content-Type", contentType)
    x.sendResponseHeaders(status, bytes.length)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private val Text = "text/plain; version=0.0.4; charset=utf-8"

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.createContext("/metrics", new HttpHandler {
    override def handle(x: HttpExchange): Unit =
      if (x.getRequestMethod != "GET") respond(x, 405, Text, "method not allowed\n")
      else {
        val t = telemetry
        t.foreach(_.onScrape())
        respond(x, 200, Text, body + t.map(_.render()).getOrElse(""))
      }
  })
  // the ops surface every production exporter carries beside /metrics:
  // readiness (is the streaming query alive?) and a human landing page
  server.createContext("/healthz", new HttpHandler {
    override def handle(x: HttpExchange): Unit =
      if (x.getRequestMethod != "GET") respond(x, 405, Text, "method not allowed\n")
      else if (healthProbe()) respond(x, 200, Text, "ok\n")
      else respond(x, 503, Text, "unhealthy\n")
  })
  server.createContext("/", new HttpHandler {
    override def handle(x: HttpExchange): Unit =
      if (x.getRequestURI.getPath != "/") respond(x, 404, Text, "not found\n")
      else respond(x, 200, "text/html; charset=utf-8",
        "<html><head><title>prometheus-clickhouselog-exporter</title></head>" +
          "<body><h1>prometheus-clickhouselog-exporter</h1>" +
          """<p><a href="/metrics">/metrics</a> · <a href="/healthz">/healthz</a></p>""" +
          "</body></html>\n")
  })

  def start(): this.type = { server.start(); this }

  /** Wire the readiness probe (the exporter points it at
    * `query.isActive`); `/healthz` turns 503 the moment the streaming
    * query dies, so an orchestrator restarts the pod instead of scraping a
    * frozen registry forever. */
  def health(probe: () => Boolean): this.type = { healthProbe = probe; this }

  /** Append `t`'s `graft_*` self-telemetry block to every served scrape
    * (and count the scrapes). Without it the exposition stays the
    * reference's exact data-only shape. */
  def attachTelemetry(t: SelfTelemetry): this.type = {
    telemetry = Some(t); this
  }

  /** Atomically replace the served exposition text. */
  def update(text: String): Unit = body = text

  /** Bound port (useful with port=0 ephemeral binding in tests). */
  def boundPort: Int = server.getAddress.getPort

  /** Graceful shutdown: lets in-flight scrapes finish (≤ `gracefulSeconds`). */
  def stop(gracefulSeconds: Int = 1): Unit = server.stop(gracefulSeconds)
}

/** Wires the exporter's streaming pipeline into [[MetricsHttpServer]]:
  * the keyed merge emits one observation event per reference observe site
  * and a driver-side [[PromRegistry]] folds each micro-batch's (tiny)
  * delta, then atomically swaps the served text — the Spark-native analog
  * of the reference's registry mutated by the tail loop and read by the
  * scrape handler (thread boundary #3 in SURVEY §3.3). Serving cost per
  * batch is O(batch events); corpus size never re-enters. Line/delivery
  * counts ride the SAME stream ([[StreamingMerge.mergeWithDelivery]]), so
  * they commit under the same batch as the merge metrics, exactly-once
  * together.
  */
object MetricsServing {

  /** True tail-follow of ONE appending file
    * ([[graft.sources.TailFileSourceProvider]]) — the reference's primary
    * mode, registry-served: `tail -f` → parse → keyed merge → observation
    * fold → `GET /metrics`. Registry counters are volatile across
    * restarts, exactly like the reference's in-process registry, unless
    * `resumeFromJdbc` seeds them from the warehouse. With `jdbc` set,
    * every micro-batch's metric delta ALSO lands exactly-once in the JDBC
    * table ([[MetricsJdbcUpsert]]) off the same stream — the scrape
    * surface and the warehouse sink share one merge, one checkpoint. */
  def serveIncrementalTail(spark: SparkSession, path: String, server: MetricsHttpServer,
      checkpointDir: String, fromStart: Boolean = false,
      jdbc: Option[MetricsJdbcSink] = None,
      maxBytesPerTrigger: Long = 0L,
      telemetry: Option[ExporterTelemetry] = None,
      resumeFromJdbc: Boolean = false,
      backfill: Seq[String] = Nil,
      availableNow: Boolean = false,
      trigger: Option[String] = None): StreamingQuery = {
    val lines = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", path)
      .option("fromStart", fromStart.toString)
      .option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
      .option("backfill", backfill.mkString(","))
      .load()
    serveMerged(spark, StreamingMerge.mergeWithDelivery(lines, timeoutMs = 0L),
      new PromRegistry, server, checkpointDir, availableNow, jdbc, telemetry,
      resumeFromJdbc, trigger)
  }

  /** [[serveIncrementalTail]] for a FLEET of tailed server logs through ONE
    * `/metrics` endpoint: each file follows independently
    * ([[graft.sources.TailFleetSourceProvider]] — per-file offsets,
    * rotation epochs, checkpoint resume), one keyed merge correlates all
    * of them on composite `(server, id)` state keys, and every series is
    * labeled `server="<path>"` ([[FleetPromRegistry]]) so N servers stay
    * distinct Prometheus series — the cluster deployment of the
    * reference's one-file loop. With `jdbc` set, the same server-labeled
    * deltas land exactly-once in the warehouse table off the same merge
    * and checkpoint. */
  def serveIncrementalFleet(spark: SparkSession, paths: Seq[String],
      server: MetricsHttpServer, checkpointDir: String,
      fromStart: Boolean = false,
      jdbc: Option[MetricsJdbcSink] = None,
      maxBytesPerTrigger: Long = 0L,
      telemetry: Option[ExporterTelemetry] = None,
      resumeFromJdbc: Boolean = false,
      availableNow: Boolean = false,
      backfill: Map[String, Seq[String]] = Map.empty,
      trigger: Option[String] = None): StreamingQuery = {
    val registry = new FleetPromRegistry
    // seed the CURRENT membership (glob specs expand; a server discovered
    // later gets its series on first observation)
    graft.sources.TailFleetSource.expandMembers(paths).foreach(registry.seed)
    val lines = spark.readStream
      .format(classOf[graft.sources.TailFleetSourceProvider].getName)
      .option("paths", paths.mkString(","))
      .option("fromStart", fromStart.toString)
      .option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
      .option("backfill", graft.sources.TailFleetSource.renderBackfill(backfill))
      .load()
    serveMerged(spark, StreamingMerge.fleetMergeWithDelivery(lines, timeoutMs = 0L),
      registry, server, checkpointDir, availableNow, jdbc, telemetry,
      resumeFromJdbc, trigger)
  }

  /** The shared incremental serving TAIL — one definition for the
    * single-file ([[PromRegistry]]) and fleet ([[FleetPromRegistry]])
    * forms, so the exactly-once rules are encoded once:
    *
    *   - registry resume: seed from the warehouse snapshot and serve the
    *     resumed values BEFORE the first micro-batch lands;
    *   - with a JDBC sink every batch feeds two sinks and up to three
    *     actions — persist so the source range / parse / state-store replay
    *     runs once; without one the registry collect is the only action
    *     and the batch is not cached;
    *   - a ledger-replayed batch is already IN the seeded snapshot: a
    *     RESUMED registry must skip the fold or double-count it, while a
    *     volatile (zeroed) registry must fold it — it lost it at restart
    *     (`applied || !resumed`);
    *   - everything but "record" is bounded: observation events by the
    *     reference's observe sites, delivery events pre-aggregated to one
    *     n-valued row per source partition by the single-scan fold. */
  private def serveMerged(spark: SparkSession,
      outs: Dataset[StreamingMerge.MergeOut], registry: MergeRegistry,
      server: MetricsHttpServer, checkpointDir: String, availableNow: Boolean,
      jdbc: Option[MetricsJdbcSink], telemetry: Option[ExporterTelemetry],
      resumeFromJdbc: Boolean, trigger: Option[String] = None): StreamingQuery = {
    jdbc.foreach(_.ensureTables())
    val resumed = resumeFromJdbc && jdbc.nonEmpty
    require(!resumeFromJdbc || jdbc.nonEmpty,
      "resumeFromJdbc needs a JDBC target to seed from")
    if (resumed) {
      jdbc.foreach { t =>
        // refuse a shared table: the snapshot is the WHOLE fold, so another
        // query's ledger-scoped contributions would resume as ours
        t.verifyResumable(MetricsJdbcUpsert.ledgerSource(checkpointDir))
        registry.seedFrom(t.snapshot())
      }
      server.update(registry.render())
    }
    val writer = outs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamingMerge.MergeOut], batchId: Long) =>
        // without a JDBC sink the registry collect is the batch's only
        // action, and a cache would cost CPU and heap for nothing
        val evs = if (jdbc.nonEmpty) batch.persist() else batch
        try {
          val applied = jdbc.forall(_.writeDelta(
            MetricsJdbcUpsert.ledgerSource(checkpointDir), evs, batchId))
          if (applied || !resumed) {
            // a column predicate, so the record rows (which carry the
            // query text) are dropped before deserialization
            evs.filter(col("out") =!= "record")
              .collect().foreach(registry.observe)
            server.update(registry.render())
          }
        } finally { if (jdbc.nonEmpty) evs.unpersist(); () }
      }
    // the freshness-vs-CPU knob (`--trigger <interval>`): a quiet tail under
    // the default ASAP trigger busy-polls latestOffset() per trigger
    // iteration; ProcessingTime spaces the polls (the reference's inotify
    // tail costs ~nothing idle — this is the Spark-side equivalent)
    val query =
      (if (availableNow) writer.trigger(Trigger.AvailableNow())
       else trigger.map(t => writer.trigger(Trigger.ProcessingTime(t)))
         .getOrElse(writer)).start()
    telemetry.foreach { t => server.attachTelemetry(t); t.observeQuery(spark, query) }
    query
  }
}
