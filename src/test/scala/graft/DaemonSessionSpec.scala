package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, StandardOpenOption}

import scala.io.Source

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.DaemonSession.{NanosAsLong, SessionTimeZone, ShufflePartitions}

/** The daemons' session config: the core-count partition default and UTC
  * unless the launch conf sets them, and a checkpoint written under Spark's
  * old 200-partition default resuming unchanged under the new one. */
class DaemonSessionSpec extends SparkSpec {

  private def get(url: String): String = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    conn.disconnect()
    body
  }

  test("settings: shuffle partitions default to the core count when unset") {
    assert(DaemonSession.settings(new SparkConf(false), 6) == Map(
      ShufflePartitions -> "6", SessionTimeZone -> "UTC", NanosAsLong -> "true"))
  }

  test("settings: a user-set shuffle partition count is kept") {
    val conf = new SparkConf(false).set(ShufflePartitions, "200")
    val s = DaemonSession.settings(conf, 6)
    assert(!s.contains(ShufflePartitions), s"the launch conf's count must win: $s")
    assert(s(SessionTimeZone) == "UTC")
  }

  test("settings: the session time zone is UTC unless set") {
    val conf = new SparkConf(false).set(SessionTimeZone, "Europe/Berlin")
    val s = DaemonSession.settings(conf, 2)
    assert(!s.contains(SessionTimeZone), s"the launch conf's zone must win: $s")
    assert(s(ShufflePartitions) == "2")
  }

  test("settings: nanosAsLong is always on") {
    assert(DaemonSession.settings(new SparkConf(false), 1)(NanosAsLong) == "true")
    val conf = new SparkConf(false).set(NanosAsLong, "false")
      .set(ShufflePartitions, "8").set(SessionTimeZone, "UTC")
    assert(DaemonSession.settings(conf, 1) == Map(NanosAsLong -> "true"))
  }

  test("a checkpoint written with 200 shuffle partitions resumes under the core-count default: same state, same exposition") {
    val dt = "2024.03.01 12:00:01.000000"
    val end = "2024.03.01 12:00:03.500000"
    // part 1 opens an INSERT (held in merge state until its memory line)
    // and runs a SELECT to completion; part 2 completes the INSERT
    val part1 = Seq(
      s"$dt [ 7 ] {ins1} <Debug> executeQuery: (from 10.0.0.9:9000) INSERT INTO t VALUES (1)",
      s"$dt [ 7 ] {sel1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1",
      s"$dt [ 7 ] {sel1} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.",
      s"$end [ 7 ] {sel1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.")
    val part2 = Seq(
      s"$dt [ 7 ] {ins1} <Information> executeQuery: Read 1 rows, 1 KiB in 0.100 sec., 10 rows/sec., 1 KiB/sec.",
      s"$end [ 7 ] {ins1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.")
    def write(f: java.nio.file.Path, lines: Seq[String]): Unit =
      Files.write(f, lines.mkString("", "\n", "\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)

    /** One `--drain-and-exit` run on `session`: its final exposition and
      * the merge's state rows and partition count. */
    def drain(session: SparkSession, config: Exporter.Config): (String, Long, Int) = {
      val (srv, q) = Exporter.run(session, config.copy(listen = "127.0.0.1:0",
        fromStart = true, selfMetrics = false, drainAndExit = true))
      try {
        assert(q.awaitTermination(120000L), "a drain-and-exit run must end on its own")
        val op = q.lastProgress.stateOperators.head
        (get(s"http://127.0.0.1:${srv.boundPort}/metrics"), op.numRowsTotal,
          op.numShufflePartitions.toInt)
      } finally { q.stop(); srv.stop(0) }
    }

    val cores = spark.sparkContext.defaultParallelism
    assert(cores != 200)
    val log = Files.createTempFile("graft-daemon-resume", ".log")
    val ckpt = Files.createTempDirectory("graft-daemon-resume-ckpt").toString
    // --resume-from-jdbc carries the counters across the restart, so the
    // resumed exposition is comparable with an uninterrupted run's
    val restarted = Exporter.Config(logs = Seq(log.toString), checkpoint = Some(ckpt),
      jdbcUrl = Some(JdbcBackends.all.head.url(
        s"daemon${java.util.UUID.randomUUID().toString.take(8)}")),
      resumeFromJdbc = true)

    // the old daemon default: the checkpoint is created with 200 partitions
    val old = spark.newSession()
    old.conf.set(ShufflePartitions, "200")
    write(log, part1)
    val (_, heldRows, oldParts) = drain(old, restarted)
    assert(oldParts == 200)
    assert(heldRows == 1L, "the open INSERT is held in merge state")

    // the new default; Spark restores the checkpoint's own count
    val resumed = spark.newSession()
    resumed.conf.set(ShufflePartitions, cores.toString)
    write(log, part2)
    val (body, rows, parts) = drain(resumed, restarted)
    assert(parts == 200, "a resumed checkpoint keeps the partition count it was created with")
    assert(rows == 1L, "the completed INSERT stays in state (inserts never complete)")
    assert(body.contains("""clickhouse_query_time_count{stmt_type="insert"} 1"""),
      s"the INSERT's memory line found its recovered state: $body")
    assert(!body.contains("not_found_query"), s"no line missed its state: $body")

    // the same log, uninterrupted, on a fresh core-count checkpoint
    val fresh = spark.newSession()
    fresh.conf.set(ShufflePartitions, cores.toString)
    val (whole, _, freshParts) = drain(fresh, Exporter.Config(logs = Seq(log.toString),
      checkpoint = Some(Files.createTempDirectory("graft-daemon-fresh-ckpt").toString)))
    assert(freshParts == cores)
    assert(body == whole, "the resumed exposition must equal an uninterrupted run's")
  }
}
