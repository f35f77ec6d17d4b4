package graft

import java.nio.file.Files

import graft.streaming.MetricsSink

/** The exporter's JDBC metric sinks (`--jdbc`, BASELINE "ClickHouse sink"
  * north star) against REAL embedded databases ([[JdbcBackends]] — the
  * ClickHouse JDBC shape without network): exactly-once deltas across a
  * checkpointed restart, the append dialect's folded read, compaction, and
  * the ledger upgrade path. */
class MetricsWriterSpec extends SparkSpec {
  import spark.implicits._

  private def key(r: org.apache.spark.sql.Row): (String, String, Option[Double], Double) =
    (r.getAs[String]("metric"), r.getAs[String]("labels"),
      Option(r.getAs[java.lang.Double]("le")).map(_.doubleValue()), r.getAs[Double]("value"))

  /** One `--drain-and-exit` exporter run over `log` from `ckpt`, landing
    * its deltas in `table` through the `dialect` JDBC sink. */
  private def exportOnce(log: java.nio.file.Path, ckpt: String, url: String,
      table: String, dialect: String): Unit = {
    val (server, q) = Exporter.run(spark, Exporter.Config(
      logs = Seq(log.toString), listen = "127.0.0.1:0", fromStart = true,
      checkpoint = Some(ckpt), jdbcUrl = Some(url), jdbcTable = table,
      jdbcDialect = dialect, selfMetrics = false, drainAndExit = true))
    try assert(q.awaitTermination(60000), "--drain-and-exit must terminate on its own")
    finally { q.stop(); server.stop(0) }
  }

  private def appendLines(log: java.nio.file.Path, lines: Seq[String]): Unit =
    Files.write(log, lines.mkString("", "\n", "\n").getBytes,
      java.nio.file.StandardOpenOption.APPEND)

  for (backend <- JdbcBackends.all)
  test(s"exactly-once JDBC upsert: streaming merge deltas match the batch registry across a restart [${backend.name}]") {
    import graft.streaming.MetricsJdbcUpsert
    val log = Files.createTempFile("graft_jdbc_in", ".log")
    val ckpt = Files.createTempDirectory("graft_jdbc_ckpt").toString
    val db = s"upsert${java.util.UUID.randomUUID().toString.take(8)}"
    val t = MetricsJdbcUpsert.Target(backend.url(db), "metrics")

    val dt = "2024.03.01 12:00:01.000000"
    val dtEnd = "2024.03.01 12:00:03.500000"
    // part 1: w1 (SELECT) initial+stats, w2 (INSERT) initial — w1's
    // lifecycle COMPLETES only in part 2, proving merge state and the sink
    // table both survive the restart
    val part1 = Seq(
      s"$dt [ 7 ] {w1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1",
      s"$dt [ 7 ] {w1} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.",
      s"$dt [ 7 ] {w2} <Debug> executeQuery: (from 10.0.0.9:9000) INSERT INTO t VALUES (1)")
    // part 2: w1 memory (completes -> time_obs + record), w2 memory (insert:
    // time_obs, no eviction), w3 initial+error (query_errors cell), and an
    // orphan stats id (not_found_query counter)
    val part2 = Seq(
      s"$dtEnd [ 7 ] {w1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.",
      s"$dtEnd [ 7 ] {w2} <Debug> MemoryTracker: Peak memory usage (for query): 1 MiB.",
      s"$dt [ 7 ] {w3} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 2",
      s"$dt [ 7 ] {w3} <Error> executeQuery: Code: 60, e.displayText() = DB::Exception: boom",
      s"$dt [ 7 ] {zz} <Information> executeQuery: Read 10 rows, 1 KiB in 0.100 sec., 100 rows/sec., 10 KiB/sec.")

    def jdbcRows(): Set[(String, String, Option[Double], Double)] = {
      val conn = t.connect()
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT metric, labels, le, value FROM metrics")
        val buf = scala.collection.mutable.Set.empty[(String, String, Option[Double], Double)]
        while (rs.next()) {
          val metric = rs.getString(1)
          val le = rs.getString(3) match {
            case "" => None
            case "+Inf" => Some(Double.PositiveInfinity)
            case s => Some(s.toDouble)
          }
          val v = rs.getLong(4)
          val value = if (metric == "clickhouse_query_time_sum") v * 1e-6 else v.toDouble
          buf += ((metric, rs.getString(2), le, value))
        }
        buf.toSet
      } finally conn.close()
    }
    def expected(lines: Seq[String]): Set[(String, String, Option[Double], Double)] =
      MetricsSink.metricsTable(
        graft.operators.LogParser.parse(
          lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("seq", "value")),
        readLines = lines.size.toLong).collect().map(key).toSet
    def check(expect: Set[(String, String, Option[Double], Double)]): Unit = {
      val got = jdbcRows()
      assert(got == expect,
        s"jdbc-only: ${(got -- expect).take(5)}; missing: ${(expect -- got).take(5)}")
    }

    appendLines(log, part1)
    exportOnce(log, ckpt, t.url, t.table, "upsert")
    check(expected(part1))

    // restart: same checkpoint, same table — run 2 resumes the merge state
    // (w1 completes) and keeps ADDING deltas to the already-populated table
    appendLines(log, part2)
    exportOnce(log, ckpt, t.url, t.table, "upsert")
    check(expected(part1 ++ part2))

    // replay idempotence: a re-delivered batch (crash between sink commit
    // and checkpoint commit) hits the ledger and is skipped whole. The
    // ledger source is the query's checkpoint-derived token — stable across
    // restarts, distinct per pipeline (two queries on one table can't
    // collide on batch ids).
    val before = jdbcRows()
    val applied = MetricsJdbcUpsert.applyDelta(t,
      MetricsJdbcUpsert.ledgerSource(ckpt), 0L,
      Seq(("clickhouse_query_count", "type=select", "", 999L)))
    assert(!applied, "replayed batch id must be skipped by the ledger")
    assert(jdbcRows() == before, "skipped replay must not change the table")
    // a DIFFERENT pipeline's ledger space is independent: same batch id,
    // other source, applies cleanly (the former hardcoded source dropped it)
    val other = MetricsJdbcUpsert.applyDelta(t,
      MetricsJdbcUpsert.ledgerSource(ckpt + "-other"), 0L, Seq.empty)
    assert(other, "an unrelated query's batch 0 must not be skipped")
  }

  for (backend <- JdbcBackends.all)
  test(s"append dialect (ClickHouse shape): folded read equals the upsert table on the same stream, replay included [${backend.name}]") {
    import graft.streaming.{MetricsJdbcAppend, MetricsJdbcUpsert}
    val log = Files.createTempFile("graft_app_in", ".log")
    val ckptU = Files.createTempDirectory("graft_app_ckpt_u").toString
    val ckptA = Files.createTempDirectory("graft_app_ckpt_a").toString
    val db = s"append${java.util.UUID.randomUUID().toString.take(8)}"
    val url = backend.url(db)
    val tU = MetricsJdbcUpsert.Target(url, "metrics")
    val tA = MetricsJdbcAppend.Target(url, "metrics_app")

    val dt = "2024.03.01 12:00:01.000000"
    val dtEnd = "2024.03.01 12:00:03.500000"
    val part1 = Seq(
      s"$dt [ 7 ] {a1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1",
      s"$dt [ 7 ] {a1} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.",
      s"$dt [ 7 ] {a2} <Debug> executeQuery: (from 10.0.0.9:9000) INSERT INTO t VALUES (1)")
    val part2 = Seq(
      s"$dtEnd [ 7 ] {a1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.",
      s"$dt [ 7 ] {a3} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 2",
      s"$dt [ 7 ] {a3} <Error> executeQuery: Code: 60, e.displayText() = DB::Exception: boom")

    def rowsOf(table: String): Set[(String, String, String, Long)] = {
      val conn = tA.connect()
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT metric, labels, le, value FROM $table")
        val buf = scala.collection.mutable.Set.empty[(String, String, String, Long)]
        while (rs.next())
          buf += ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getLong(4)))
        buf.toSet
      } finally conn.close()
    }

    def runBoth(): Unit = {
      exportOnce(log, ckptU, url, tU.table, "upsert")
      exportOnce(log, ckptA, url, tA.table, "append")
    }

    appendLines(log, part1)
    runBoth()
    val u1 = rowsOf(tU.table)
    val a1 = rowsOf(tA.folded)
    assert(a1 == u1, s"folded-only: ${(a1 -- u1).take(5)}; upsert-only: ${(u1 -- a1).take(5)}")
    assert(a1.exists(_._1 == "clickhouse_query_count"))

    // restart: both dialects resume their checkpoints and keep accumulating
    appendLines(log, part2)
    runBoth()
    val u2 = rowsOf(tU.table)
    val a2 = rowsOf(tA.folded)
    assert(a2 == u2, s"folded-only: ${(a2 -- u2).take(5)}; upsert-only: ${(u2 -- a2).take(5)}")
    assert(u2 != u1, "part 2 must have changed the surface")

    // replay: a re-delivered batch re-INSERTs nothing (presence check in
    // the same transaction) and the folded view is unchanged; and even a
    // forced duplicate insert of equal tagged rows would fold away via
    // the view's MAX dedup (the ClickHouse insert-block-dedup analog)
    val src = MetricsJdbcUpsert.ledgerSource(ckptA)
    val applied = MetricsJdbcAppend.applyDelta(tA, src, 0L,
      Seq(("clickhouse_query_count", "type=select", "", 999L)))
    assert(!applied, "replayed (source, batch) must be skipped")
    assert(rowsOf(tA.folded) == a2, "skipped replay must not change the fold")
    // an unrelated pipeline's batch 0 still lands
    assert(MetricsJdbcAppend.applyDelta(tA, "otherq", 0L, Seq.empty))
    assert(rowsOf(tA.folded) == a2, "an empty batch leaves the fold unchanged")
  }

  for (backend <- JdbcBackends.all)
  test(s"append-table compaction: fold view bit-identical, replays still skipped, rows shrink [${backend.name}]") {
    import graft.streaming.MetricsJdbcAppend
    val db = s"compact${java.util.UUID.randomUUID().toString.take(8)}"
    val t = MetricsJdbcAppend.Target(backend.url(db), "m")
    MetricsJdbcAppend.ensureTables(t)

    def view(): Set[(String, String, String, Long)] = {
      val conn = t.connect()
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT metric, labels, le, value FROM ${t.folded}")
        val buf = scala.collection.mutable.Set.empty[(String, String, String, Long)]
        while (rs.next())
          buf += ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getLong(4)))
        buf.toSet
      } finally conn.close()
    }
    def deltaCount(): Int = {
      val conn = t.connect()
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT COUNT(*) FROM ${t.deltas}")
        rs.next(); rs.getInt(1)
      } finally conn.close()
    }

    assert(MetricsJdbcAppend.applyDelta(t, "q1", 0L,
      Seq(("clickhouse_query_count", "type=select", "", 2L),
        ("chlogexporter_read_lines", "", "", 3L))))
    assert(MetricsJdbcAppend.applyDelta(t, "q1", 1L,
      Seq(("clickhouse_query_count", "type=select", "", 1L),
        ("clickhouse_query_count", "type=insert", "", 4L),
        ("chlogexporter_read_lines", "", "", 2L))))
    assert(MetricsJdbcAppend.applyDelta(t, "q1", 2L, Seq.empty)) // marker-only batch

    val before = view()
    val countBefore = deltaCount()
    assert(before.contains(("clickhouse_query_count", "type=select", "", 3L)))
    assert(before.contains(("chlogexporter_read_lines", "", "", 5L)))

    val shrunk = MetricsJdbcAppend.compact(t, "q1")
    assert(shrunk > 0, "three batches must fold into fewer rows")
    assert(deltaCount() == countBefore - shrunk)
    assert(view() == before, "compaction must not move the fold view")

    // replay-safety: every compacted batch id still probes as SEEN — a
    // crash-replay of an old batch must not re-land and double-count
    for (id <- 0L to 2L)
      assert(!MetricsJdbcAppend.applyDelta(t, "q1", id,
        Seq(("clickhouse_query_count", "type=select", "", 999L))),
        s"compacted batch $id must still be skipped on replay")
    assert(view() == before)

    // new batches land past the compaction and fold in
    assert(MetricsJdbcAppend.applyDelta(t, "q1", 3L,
      Seq(("clickhouse_query_count", "type=select", "", 10L))))
    assert(view().contains(("clickhouse_query_count", "type=select", "", 13L)))

    // compacting again (single real batch + markers) keeps converging or
    // no-ops, never corrupts
    val v = view()
    MetricsJdbcAppend.compact(t, "q1")
    assert(view() == v)
    // a single-batch source is a no-op
    assert(MetricsJdbcAppend.compact(t, "seed") == 0)

    // an ALL-MARKER source (only empty batches) keeps its ids probed-seen
    assert(MetricsJdbcAppend.applyDelta(t, "q2", 0L, Seq.empty))
    assert(MetricsJdbcAppend.applyDelta(t, "q2", 1L, Seq.empty))
    MetricsJdbcAppend.compact(t, "q2")
    assert(!MetricsJdbcAppend.applyDelta(t, "q2", 0L, Seq.empty))
    assert(!MetricsJdbcAppend.applyDelta(t, "q2", 1L, Seq.empty))
  }

  for (backend <- JdbcBackends.all)
  test(s"ledger upgrade: a legacy ('merge', N) row still skips batch N under the derived source [${backend.name}]") {
    import graft.streaming.MetricsJdbcUpsert
    val db = s"legacy${java.util.UUID.randomUUID().toString.take(8)}"
    val t = MetricsJdbcUpsert.Target(backend.url(db), "metrics")
    MetricsJdbcUpsert.ensureTables(t)
    // a pre-upgrade exporter crashed between sink commit and checkpoint
    // commit: its ledger row carries the old hardcoded "merge" token
    val conn = t.connect()
    try conn.createStatement().executeUpdate(
      s"INSERT INTO ${t.ledger} (source, batch_id) VALUES ('merge', 3)")
    finally conn.close()
    val src = MetricsJdbcUpsert.ledgerSource("/some/ckpt")
    def count(): Long = {
      val c = t.connect()
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT value FROM metrics WHERE metric = 'm' AND labels = '' AND le = ''")
        if (rs.next()) rs.getLong(1) else 0L
      } finally c.close()
    }
    // the replayed-across-the-upgrade batch must SKIP (its delta is already
    // in the table), not double-apply under the new source token: the
    // migration claims the legacy row, whose id then collides like any replay
    assert(!MetricsJdbcUpsert.applyDelta(t, src, 3L, Seq(("m", "", "", 5L))),
      "legacy ('merge', 3) must make batch 3 a replay under the new token")
    assert(count() == 0L, "the skipped replay must not touch the table")
    // later batches apply normally under the derived token — and COMMIT the
    // migration: no 'merge' rows remain afterward
    assert(MetricsJdbcUpsert.applyDelta(t, src, 4L, Seq(("m", "", "", 5L))))
    assert(count() == 5L)
    val conn2 = t.connect()
    try {
      val rs = conn2.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM ${t.ledger} WHERE source = 'merge'")
      rs.next()
      assert(rs.getLong(1) == 0L, "legacy rows migrate to the claiming token")
    } finally conn2.close()
    assert(!MetricsJdbcUpsert.applyDelta(t, src, 4L, Seq(("m", "", "", 5L))),
      "normal same-token replay still skips")
    assert(count() == 5L)
    // keyspaces stay DISJOINT post-migration: a DIFFERENT query's batch 3
    // lands — the legacy row belongs to the claiming pipeline, not to
    // every future query sharing the table
    assert(MetricsJdbcUpsert.applyDelta(t,
      MetricsJdbcUpsert.ledgerSource("/other/ckpt"), 3L, Seq(("m2", "", "", 7L))),
      "another query's same-id batch must not be skipped by legacy rows")
  }
}
