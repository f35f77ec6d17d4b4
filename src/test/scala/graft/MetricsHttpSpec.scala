package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.io.Source

import graft.streaming.{MetricsHttpServer, MetricsServing, MetricsSink}

/** S4: the pull-based `/metrics` endpoint (reference main.go:55-68) — start
  * the exporter's serving path ([[MetricsServing.serveIncrementalTail]]),
  * scrape over real HTTP, golden-match the text against the batch
  * exposition over the same lines. */
class MetricsHttpSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    conn.disconnect()
    (code, body)
  }

  private val corpus = Seq(
    "2024.03.01 12:00:01.123456 [ 123 ] {q1} <Debug> executeQuery: (from 10.0.0.1:9000, user: default) SELECT count() FROM hits",
    "2024.03.01 12:00:02.000000 [ 123 ] {q1} <Information> executeQuery: Read 1000000 rows, 1.23 GiB in 0.456 sec., 2192982 rows/sec., 2.70 GiB/sec.",
    "2024.03.01 12:00:03.623456 [ 123 ] {q1} <Debug> MemoryTracker: Peak memory usage (for query): 1.05 GiB.",
    "2024.03.01 12:00:04.000000 [ 124 ] {orphan} <Error> executeQuery: Code: 60, e.displayText() = DB::Exception: nope")

  test("ops surface: /healthz probe, / index, gzip negotiation, 405s") {
    import graft.streaming.MetricsHttpServer
    val server = new MetricsHttpServer(0, "127.0.0.1").start()
    try {
      server.update("chlogexporter_read_lines 7\n")

      // default probe: healthy; wired probe flips it
      assert(get(s"http://127.0.0.1:${server.boundPort}/healthz") == (200, "ok\n"))
      @volatile var alive = true
      server.health(() => alive)
      assert(get(s"http://127.0.0.1:${server.boundPort}/healthz")._1 == 200)
      alive = false
      val conn = java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/healthz").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 503,
        "a dead streaming query must turn readiness 503")
      conn.disconnect()

      // landing page links the two endpoints; unknown paths 404
      val (ic, index) = get(s"http://127.0.0.1:${server.boundPort}/")
      assert(ic == 200 && index.contains("/metrics") && index.contains("/healthz"))
      val c404 = java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/nope").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c404.getResponseCode == 404)
      c404.disconnect()

      // gzip negotiation: Accept-Encoding gzip → gzipped bytes that inflate
      // to the identity body (telemetry-free here, so exactly the update)
      val plain = get(s"http://127.0.0.1:${server.boundPort}/metrics")._2
      val gz = java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/metrics").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      gz.setRequestProperty("Accept-Encoding", "gzip")
      assert(gz.getResponseCode == 200)
      assert(gz.getHeaderField("Content-Encoding") == "gzip")
      val inflated = scala.io.Source.fromInputStream(
        new java.util.zip.GZIPInputStream(gz.getInputStream), "UTF-8").mkString
      gz.disconnect()
      assert(inflated == plain, "gzip body must inflate to the identity body")
      assert(plain == "chlogexporter_read_lines 7\n")

      // RFC 9110 q-values: `gzip;q=0` is an explicit REFUSAL of gzip —
      // the response must be identity despite the token being present
      val refuse = java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/metrics").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      refuse.setRequestProperty("Accept-Encoding", "gzip;q=0, identity")
      assert(refuse.getResponseCode == 200)
      assert(refuse.getHeaderField("Content-Encoding") == null,
        "gzip;q=0 must NOT be gzip-encoded")
      assert(scala.io.Source.fromInputStream(refuse.getInputStream, "UTF-8")
        .mkString == plain)
      refuse.disconnect()
      // and a q > 0 parameter still accepts
      val weighted = java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/metrics").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      weighted.setRequestProperty("Accept-Encoding", "gzip;q=0.5")
      assert(weighted.getHeaderField("Content-Encoding") == "gzip")
      weighted.disconnect()

      // non-GETs are 405 on every endpoint
      for (path <- Seq("/metrics", "/healthz")) {
        val post = java.net.URI.create(
          s"http://127.0.0.1:${server.boundPort}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        post.setRequestMethod("POST")
        assert(post.getResponseCode == 405, s"POST $path")
        post.disconnect()
      }
    } finally server.stop(0)
  }

  /** Drain `log` through the exporter's single-file serving path into
    * `server` (AvailableNow, from the start of the file). */
  private def serveDrained(log: java.nio.file.Path, server: MetricsHttpServer): Unit = {
    val ckpt = Files.createTempDirectory("graft-http-ckpt")
    val q = MetricsServing.serveIncrementalTail(spark, log.toString, server,
      ckpt.toString, fromStart = true, availableNow = true)
    try assert(q.awaitTermination(60000), "the drain must terminate on its own")
    finally q.stop()
  }

  test("pipeline serves the Prometheus exposition over HTTP; graceful shutdown") {
    val log = Files.createTempFile("graft-http", ".log")
    Files.write(log, corpus.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val server = new MetricsHttpServer(0).start()
    try {
      serveDrained(log, server)

      val (code, body) = get(s"http://127.0.0.1:${server.boundPort}/metrics")
      assert(code == 200)

      // golden: the served text IS the batch exposition over the same corpus
      import spark.implicits._
      val parsed = graft.operators.LogParser.parse(
        corpus.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("seq", "value"))
      val golden = MetricsSink.exposition(parsed, readLines = corpus.size.toLong)
      assert(body == golden)

      // spot checks: counters + cumulative histogram + sum/count series
      assert(body.contains("chlogexporter_read_lines 4"))
      assert(body.contains("""chlogexporter_errors{type="not_found_query"} 1"""))
      assert(body.contains("""clickhouse_query_count{stmt_type="select"} 1"""))
      assert(body.contains("""clickhouse_query_time_bucket{stmt_type="select",le="5"} 1"""))
      assert(body.contains("""clickhouse_query_time_bucket{stmt_type="select",le="+Inf"} 1"""))
      assert(body.contains("clickhouse_select_query_rows_read_count 1"))

      // numeric bucket ordering: le="5" must come before le="10" (not lexicographic)
      val le5 = body.indexOf("""clickhouse_query_time_bucket{stmt_type="select",le="5"}""")
      val le10 = body.indexOf("""clickhouse_query_time_bucket{stmt_type="select",le="10"}""")
      assert(le5 >= 0 && le10 >= 0 && le5 < le10)
    } finally server.stop(0)

    // after graceful stop the port no longer accepts scrapes
    intercept[Exception] { get(s"http://127.0.0.1:${server.boundPort}/metrics") }
  }

  test("incremental registry serves byte-identical exposition to the batch path") {
    // corpus with an insert lifecycle (time_obs without completion) and a
    // corrupt line (tail_line path) on top of the base corpus
    val extra = Seq(
      "2024.03.01 12:01:01.000000 [ 9 ] {ins1} <Debug> executeQuery: (from 10.0.0.2:9001, user: x) INSERT INTO t VALUES (1)",
      "2024.03.01 12:01:02.000000 [ 9 ] {ins1} <Information> executeQuery: Read 70 rows, 1 KiB in 0.100 sec., 700 rows/sec., 10 KiB/sec.",
      "2024.03.01 12:01:03.500000 [ 9 ] {ins1} <Debug> MemoryTracker: Peak memory usage (for query): 2 MiB.")
    val corrupt = "broken � delivery"
    val all = corpus ++ extra :+ corrupt
    val log = Files.createTempFile("graft-inc", ".log")
    Files.write(log, all.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val server = new MetricsHttpServer(0).start()
    try {
      serveDrained(log, server)

      // golden: batch exposition over the delivered (non-corrupt) lines
      import spark.implicits._
      val parsed = graft.operators.LogParser.parse(
        (corpus ++ extra).zipWithIndex.map { case (l, i) => (i.toLong, l) }
          .toDF("seq", "value"))
      // read_lines counts only DELIVERED lines (reference increments after
      // the tail-error continue, main.go:113-120) — the corrupt line is out
      val golden = MetricsSink.exposition(parsed,
        readLines = (corpus ++ extra).size.toLong, tailLineErrors = 1L)

      // delivery counts ride the merge's own stream: the drained query has
      // already folded them, no polling
      val body = get(s"http://127.0.0.1:${server.boundPort}/metrics")._2
      assert(body == golden, {
        val bs = body.linesIterator.toSeq; val gs = golden.linesIterator.toSeq
        val diff = bs.zipAll(gs, "<missing>", "<missing>").filter(p => p._1 != p._2).take(5)
        s"first diffs (served vs golden): $diff"
      })
      // the insert lifecycle is visible: its time observation exists even
      // though the record never completes (reference observes pre-FullInfo)
      assert(body.contains("""clickhouse_query_count{stmt_type="insert"} 1"""))
      assert(body.contains("""chlogexporter_errors{type="tail_line"} 1"""))
      assert(body.contains("chlogexporter_read_lines 7"), "delivered lines only")
    } finally server.stop(0)
  }
}
