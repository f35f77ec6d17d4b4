package graft

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.TimeUnit

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{AbstractFileContextBasedCheckpointFileManager, CheckpointFileManager}

import graft.DaemonSession.{AbstractFileImpl, FileImpl, NanosAsLong, SessionTimeZone, ShufflePartitions}

/** The daemons' session config: the core-count partition default and UTC
  * unless the launch conf sets them, and a checkpoint written under Spark's
  * old 200-partition default resuming unchanged under the new one. The
  * `file:` bindings: a daemon's checkpoint manager and `FileSystem.get`
  * reach the NIO classes unless the launch conf names others, and a
  * checkpoint moves between the stock and the NIO file system both ways. */
class DaemonSessionSpec extends SparkSpec {

  private def get(url: String): String = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    conn.disconnect()
    body
  }

  private val Stock = Map(FileImpl -> classOf[LocalFileSystem].getName,
    AbstractFileImpl -> "org.apache.hadoop.fs.local.LocalFs")

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

  test("fileSystem: both file: keys bind the NIO classes unless the launch conf sets them") {
    assert(DaemonSession.fileSystem(new SparkConf(false)) == Map(
      FileImpl -> classOf[NioLocalFileSystem].getName,
      AbstractFileImpl -> classOf[NioLocalFs].getName))
    val one = new SparkConf(false).set(FileImpl, Stock(FileImpl))
    assert(DaemonSession.fileSystem(one) == Map(AbstractFileImpl -> classOf[NioLocalFs].getName))
    val both = new SparkConf(false).setAll(Stock)
    assert(DaemonSession.fileSystem(both).isEmpty)
  }

  test("a daemon session's checkpoint manager and FileSystem.get reach the NIO classes; --conf restores stock") {
    val ckpt = Files.createTempDirectory("graft-daemon-probe").toString
    assert(DaemonSessionSpec.probe(ckpt, Map.empty) == Seq(
      classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName))
    assert(DaemonSessionSpec.probe(ckpt, Stock) == Seq(
      classOf[LocalFileSystem].getName, "org.apache.hadoop.fs.local.LocalFs"))
  }

  private val dt = "2024.03.01 12:00:01.000000"
  private val end = "2024.03.01 12:00:03.500000"
  // part 1 opens an INSERT (held in merge state until its memory line)
  // and runs a SELECT to completion; part 2 completes the INSERT
  private val part1 = Seq(
    s"$dt [ 7 ] {ins1} <Debug> executeQuery: (from 10.0.0.9:9000) INSERT INTO t VALUES (1)",
    s"$dt [ 7 ] {sel1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1",
    s"$dt [ 7 ] {sel1} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.",
    s"$end [ 7 ] {sel1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.")
  private val part2 = Seq(
    s"$dt [ 7 ] {ins1} <Information> executeQuery: Read 1 rows, 1 KiB in 0.100 sec., 10 rows/sec., 1 KiB/sec.",
    s"$end [ 7 ] {ins1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.")

  private def write(f: java.nio.file.Path, lines: Seq[String]): Unit =
    Files.write(f, lines.mkString("", "\n", "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** One `--drain-and-exit` run on `session`: its final exposition and
    * the merge's state rows and partition count. */
  private def drain(session: SparkSession, config: Exporter.Config): (String, Long, Int) = {
    val (srv, q) = Exporter.run(session, config.copy(listen = "127.0.0.1:0",
      fromStart = true, selfMetrics = false, drainAndExit = true))
    try {
      assert(q.awaitTermination(120000L), "a drain-and-exit run must end on its own")
      val op = q.lastProgress.stateOperators.head
      (get(s"http://127.0.0.1:${srv.boundPort}/metrics"), op.numRowsTotal,
        op.numShufflePartitions.toInt)
    } finally { q.stop(); srv.stop(0) }
  }

  /** Part 1 drained on `first`, part 2 from the same checkpoint on
    * `second` (`--resume-from-jdbc` carries the counters across the
    * restart), and the whole log uninterrupted on `fresh`: the first run's
    * state, the resumed run, and the uninterrupted exposition. */
  private def resume(first: SparkSession, second: SparkSession, fresh: SparkSession)
      : ((String, Long, Int), (String, Long, Int), (String, Long, Int)) = {
    val log = Files.createTempFile("graft-daemon-resume", ".log")
    val restarted = Exporter.Config(logs = Seq(log.toString),
      checkpoint = Some(Files.createTempDirectory("graft-daemon-resume-ckpt").toString),
      jdbcUrl = Some(JdbcBackends.all.head.url(
        s"daemon${java.util.UUID.randomUUID().toString.take(8)}")),
      resumeFromJdbc = true)
    write(log, part1)
    val before = drain(first, restarted)
    write(log, part2)
    val after = drain(second, restarted)
    val whole = drain(fresh, Exporter.Config(logs = Seq(log.toString),
      checkpoint = Some(Files.createTempDirectory("graft-daemon-fresh-ckpt").toString)))
    (before, after, whole)
  }

  private def withPartitions(n: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set(ShufflePartitions, n.toString)
    s
  }

  /** A session whose Hadoop conf binds `file:` to `bindings`, uncached, so
    * no `FileSystem` another session made serves it. */
  private def onFileSystem(bindings: Map[String, String]): SparkSession = {
    val s = withPartitions(spark.sparkContext.defaultParallelism)
    bindings.foreach { case (k, v) => s.conf.set(k.stripPrefix("spark.hadoop."), v) }
    s.conf.set("fs.file.impl.disable.cache", "true")
    val hadoopConf = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val probe = new Path(Files.createTempDirectory("graft-daemon-fs").toUri)
    assert(DaemonSessionSpec.fileContextFs(CheckpointFileManager.create(probe, hadoopConf)) ==
      bindings(AbstractFileImpl))
    assert(probe.getFileSystem(hadoopConf).getClass.getName == bindings(FileImpl))
    s
  }

  test("a checkpoint written with 200 shuffle partitions resumes under the core-count default: same state, same exposition") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores != 200)
    val ((_, heldRows, oldParts), (body, rows, parts), (whole, _, freshParts)) =
      resume(withPartitions(200), withPartitions(cores), withPartitions(cores))
    assert(oldParts == 200)
    assert(heldRows == 1L, "the open INSERT is held in merge state")
    // Spark restores the checkpoint's own count
    assert(parts == 200, "a resumed checkpoint keeps the partition count it was created with")
    assert(rows == 1L, "the completed INSERT stays in state (inserts never complete)")
    assert(body.contains("""clickhouse_query_time_count{stmt_type="insert"} 1"""),
      s"the INSERT's memory line found its recovered state: $body")
    assert(!body.contains("not_found_query"), s"no line missed its state: $body")
    assert(freshParts == cores)
    assert(body == whole, "the resumed exposition must equal an uninterrupted run's")
  }

  test("a checkpoint moves between the stock and the NIO file system both ways: same exposition") {
    for ((from, to) <- Seq(Stock -> DaemonSession.LocalFileSystem,
        DaemonSession.LocalFileSystem -> Stock)) {
      val ((_, heldRows, _), (body, rows, _), (whole, _, _)) =
        resume(onFileSystem(from), onFileSystem(to), onFileSystem(to))
      assert(heldRows == 1L && rows == 1L, s"$from -> $to: the INSERT's state was recovered")
      assert(!body.contains("not_found_query"), s"no line missed its state: $body")
      assert(body == whole, s"$from -> $to: the resumed exposition must equal an uninterrupted run's")
    }
  }
}

object DaemonSessionSpec {

  /** The `AbstractFileSystem` class under a FileContext-based checkpoint
    * manager. */
  def fileContextFs(fm: CheckpointFileManager): String = {
    val fc = classOf[AbstractFileContextBasedCheckpointFileManager].getDeclaredField("fc")
    fc.setAccessible(true)
    fc.get(fm).asInstanceOf[FileContext].getDefaultFileSystem.getClass.getName
  }

  /** Runs [[DaemonSessionProbe]] in a fresh JVM (this one's options, and
    * `launch` as `-D` properties, as spark-submit passes `--conf`): the
    * `FileSystem` class for `file:` and the checkpoint manager's file
    * system for `ckpt`. */
  def probe(ckpt: String, launch: Map[String, String]): Seq[String] = {
    val err = Files.createTempFile("graft-daemon-probe", ".err")
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-Xmx512m", "-Dspark.master=local[1]") ++
      launch.map { case (k, v) => s"-D$k=$v" } ++
      Seq("-cp", sys.props("java.class.path"), DaemonSessionProbe.getClass.getName.stripSuffix("$"), ckpt)
    val proc = new ProcessBuilder(cmd: _*).redirectError(err.toFile).start()
    val out = Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toList
    assert(proc.waitFor(180, TimeUnit.SECONDS), "the probe JVM must exit")
    assert(proc.exitValue == 0, new String(Files.readAllBytes(err), "UTF-8").takeRight(4000))
    out.filter(_.startsWith("file: ")).map(_.stripPrefix("file: "))
  }
}

/** A daemon session in its own JVM: prints the classes that serve `file:`. */
object DaemonSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = DaemonSession("graft-daemon-probe")
    try {
      val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      println("file: " + FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
        .getClass.getName)
      println("file: " + DaemonSessionSpec.fileContextFs(
        CheckpointFileManager.create(new Path(args(0)), hadoopConf)))
    } finally spark.stop()
  }
}
