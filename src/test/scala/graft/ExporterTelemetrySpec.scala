package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files

import scala.io.Source

import graft.streaming.ExporterTelemetry

/** The exporter's `graft_*` self-telemetry block: scrape/batch counters,
  * merge-state size, and the tail-backlog gauge computed from the source's
  * admitted-vs-reported offsets. */
class ExporterTelemetrySpec extends SparkSpec {

  private def get(url: String): String = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    conn.disconnect()
    body
  }

  private def metric(body: String, name: String): Option[Long] =
    ("(?m)^" + java.util.regex.Pattern.quote(name) + " (\\d+)$").r
      .findFirstMatchIn(body).map(_.group(1).toLong)

  private def seconds(body: String, sample: String): Double =
    ("(?m)^" + java.util.regex.Pattern.quote(sample) + " (\\S+)$").r
      .findFirstMatchIn(body).map(_.group(1).toDouble).getOrElse(fail(s"no $sample in $body"))

  test("backlogOf: single-file offsets, same and bumped epochs, non-tail forms") {
    // same generation: plain byte difference
    assert(ExporterTelemetry.backlogOf("0:40:k", "0:100:k") ==
      Some(Map("" -> 60L)))
    // end momentarily ahead (pre-bump shrink): clamped, never negative
    assert(ExporterTelemetry.backlogOf("0:100:k", "0:40:k") ==
      Some(Map("" -> 0L)))
    // the tail is a LATER rotation generation: the new file's unadmitted bytes
    assert(ExporterTelemetry.backlogOf("0:40:k", "1:25:k2") ==
      Some(Map("" -> 25L)))
    // pre-fileKey checkpoint wire form still parses
    assert(ExporterTelemetry.backlogOf("0:10", "0:15") == Some(Map("" -> 5L)))
    // not tail-source offsets (FileStreamSource JSON, bare numbers): no gauge
    assert(ExporterTelemetry.backlogOf("""{"logOffset":2}""", """{"logOffset":3}""").isEmpty)
    assert(ExporterTelemetry.backlogOf("2", "3").isEmpty)
  }

  test("backlogOf: fleet offsets, per member, including a member absent from the end map") {
    def fleet(m: Map[String, String]): String = m.toSeq.sortBy(_._1)
      .map { case (p, o) => p + "\u0001" + o }.mkString("\u0002")
    val end = fleet(Map("/a.log" -> "0:10:x"))
    val latest = fleet(Map("/a.log" -> "0:30:x", "/b.log" -> "0:7:y"))
    // /b.log joined after the end offset was committed: its whole tail is backlog
    assert(ExporterTelemetry.backlogOf(end, latest) ==
      Some(Map("/a.log" -> 20L, "/b.log" -> 7L)))
  }

  test("render: zero-state block, scrape counter counts itself") {
    val t = new ExporterTelemetry
    val r0 = t.render()
    assert(r0.contains("# TYPE graft_scrapes_total counter"))
    assert(r0.contains("graft_scrapes_total 0"))
    assert(r0.contains("graft_batches_total 0"))
    assert(r0.contains("# TYPE graft_merge_state_partitions gauge"))
    assert(r0.contains("graft_merge_state_partitions 0"))
    assert(r0.contains("# TYPE graft_last_batch_phase_seconds gauge"))
    assert(ExporterTelemetry.Phases.forall(k =>
      r0.contains(s"""graft_last_batch_phase_seconds{phase="$k"} 0""")))
    assert(r0.contains("# TYPE graft_merge_state_commit_seconds gauge"))
    assert(r0.contains("graft_merge_state_commit_seconds 0"))
    // no backlog series until a tail-source progress event arrives
    assert(r0.contains("# TYPE graft_tail_backlog_bytes gauge"))
    assert(metric(r0, "graft_tail_backlog_bytes").isEmpty)
    t.onScrape(); t.onScrape()
    assert(t.render().contains("graft_scrapes_total 2"))
  }

  test("exporter end-to-end: graft_* block served, backlog drains to zero under admission control") {
    val f = Files.createTempFile("graft-telemetry", ".log")
    val dt = "2024.03.01 12:00:01.000000"
    // 10-line pre-existing backlog of inserts (no completion lines, so the
    // keyed merge HOLDS their state — graft_merge_state_rows must see them)
    val lines = (0 until 10).map(i =>
      s"$dt [ 7 ] {t$i} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT $i")
    Files.write(f, lines.mkString("", "\n", "\n").getBytes)
    val (server, query) = Exporter.run(spark, Exporter.Config(
      logs = Seq(f.toString), listen = "127.0.0.1:0", fromStart = true,
      maxBytesPerTrigger = 200)) // ~2 of the ~90-byte lines per micro-batch
    try {
      def poll(pred: String => Boolean): String = {
        val deadline = System.nanoTime() + 90000L * 1000000L
        var body = get(s"http://127.0.0.1:${server.boundPort}/metrics")
        while (!pred(body) && System.nanoTime() < deadline) {
          query.processAllAvailable()
          Thread.sleep(50) // listener bus is async: let progress events land
          body = get(s"http://127.0.0.1:${server.boundPort}/metrics")
        }
        body
      }
      val drained = poll { b =>
        metric(b, "chlogexporter_read_lines").contains(10L) &&
          metric(b, "graft_tail_backlog_bytes").contains(0L) &&
          metric(b, "graft_merge_state_partitions").exists(_ > 0L)
      }
      // the data families and the self block coexist in one exposition
      assert(drained.contains("""clickhouse_query_count{stmt_type="select"} 10"""))
      assert(metric(drained, "graft_tail_backlog_bytes").contains(0L),
        "after the drain the reported tail equals the admitted position")
      // 10 lines through a 200-byte budget cannot fit one batch
      assert(metric(drained, "graft_batches_total").exists(_ >= 4L),
        s"the capped drain takes several micro-batches: $drained")
      assert(metric(drained, "graft_merge_state_rows").exists(_ >= 10L),
        "ten uncompleted queries sit in the merge state")
      assert(metric(drained, "graft_merge_state_partitions").contains(
        spark.conf.get("spark.sql.shuffle.partitions").toLong),
        "the merge keeps one state-store partition per shuffle partition")
      // the scrape counter moves between consecutive scrapes (and counts itself)
      val s1 = metric(get(s"http://127.0.0.1:${server.boundPort}/metrics"),
        "graft_scrapes_total").get
      val s2 = metric(get(s"http://127.0.0.1:${server.boundPort}/metrics"),
        "graft_scrapes_total").get
      assert(s2 == s1 + 1, s"scrapes_total must count every request: $s1 -> $s2")
      // the commit phases come straight from the progress report
      assert(ExporterTelemetry.Phases.forall(k =>
        drained.contains(s"""graft_last_batch_phase_seconds{phase="$k"} """)), drained)
      assert(drained.contains("graft_merge_state_commit_seconds "), drained)
      val p = query.lastProgress
      val t = new ExporterTelemetry
      t.onProgress(p)
      val r = t.render()
      for (k <- ExporterTelemetry.Phases) {
        val ms = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        assert(seconds(r, s"""graft_last_batch_phase_seconds{phase="$k"}""") == ms / 1000.0,
          s"$k = $ms ms: $r")
      }
      assert(seconds(r, "graft_merge_state_commit_seconds") ==
        p.stateOperators.map(_.commitTimeMs).sum / 1000.0)
    } finally {
      query.stop()
      server.stop(0)
    }
  }

  test("fleet telemetry: one backlog series per server, labeled") {
    val a = Files.createTempFile("graft-telemetry-fa", ".log")
    val b = Files.createTempFile("graft-telemetry-fb", ".log")
    val dt = "2024.03.01 12:00:01.000000"
    Files.write(a,
      s"$dt [ 7 ] {fa1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1\n".getBytes)
    Files.write(b,
      s"$dt [ 7 ] {fb1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 2\n".getBytes)
    val (server, query) = Exporter.run(spark, Exporter.Config(
      logs = Seq(a.toString, b.toString), listen = "127.0.0.1:0", fromStart = true))
    try {
      val wantA = s"""graft_tail_backlog_bytes{server="$a"} 0"""
      val wantB = s"""graft_tail_backlog_bytes{server="$b"} 0"""
      val deadline = System.nanoTime() + 90000L * 1000000L
      var body = get(s"http://127.0.0.1:${server.boundPort}/metrics")
      while (!(body.contains(wantA) && body.contains(wantB)) &&
          System.nanoTime() < deadline) {
        query.processAllAvailable()
        Thread.sleep(100) // listener bus is async
        body = get(s"http://127.0.0.1:${server.boundPort}/metrics")
      }
      assert(body.contains(wantA) && body.contains(wantB),
        s"per-server drained backlog gauges expected: $body")
      // ... alongside the server-labeled data series from the fleet registry
      assert(body.contains(s"""clickhouse_query_count{server="$a",stmt_type="select"} 1"""))
    } finally {
      query.stop()
      server.stop(0)
    }
  }

  test("--no-self-metrics restores the reference's exact data-only exposition") {
    assert(!Exporter.parseArgs(Seq("--no-self-metrics")).selfMetrics)
    assert(Exporter.parseArgs(Nil).selfMetrics)
    val f = Files.createTempFile("graft-telemetry-off", ".log")
    val dt = "2024.03.01 12:00:01.000000"
    Files.write(f,
      s"$dt [ 7 ] {off1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1\n".getBytes)
    val (server, query) = Exporter.run(spark, Exporter.Config(
      logs = Seq(f.toString), listen = "127.0.0.1:0", fromStart = true,
      selfMetrics = false))
    try {
      val deadline = System.nanoTime() + 90000L * 1000000L
      var body = get(s"http://127.0.0.1:${server.boundPort}/metrics")
      while (!body.contains("""clickhouse_query_count{stmt_type="select"} 1""") &&
          System.nanoTime() < deadline) {
        query.processAllAvailable()
        body = get(s"http://127.0.0.1:${server.boundPort}/metrics")
      }
      assert(body.contains("""clickhouse_query_count{stmt_type="select"} 1"""))
      assert(!body.contains("graft_"), "no self block without telemetry attached")
    } finally {
      query.stop()
      server.stop(0)
    }
  }
}
