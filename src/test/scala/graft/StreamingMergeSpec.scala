package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

import graft.model.{ChQuery, LogEvent}
import graft.streaming.StreamingMerge

/** Streaming semantics (SURVEY §2.7): the state machine is exercised
  * directly through Spark's TestGroupState harness (deterministic,
  * micro-batch boundaries controlled exactly), plus tail-source runs of
  * the exporter's merge ([[StreamingMerge.mergeWithDelivery]]).
  */
class StreamingMergeSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import spark.implicits._

  private def mkLine(seq: Long, id: String, kind: String, stmt: String = "SELECT 1"): (Long, String) = {
    val dt = "2024.03.01 12:00:01.000000"
    val dtEnd = "2024.03.01 12:00:02.000000"
    kind match {
      case "initial" => (seq, s"$dt [ 7 ] {$id} <Debug> executeQuery: (from 10.0.0.9:9000) $stmt")
      case "stats" => (seq, s"$dt [ 7 ] {$id} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.")
      case "memory" => (seq, s"$dtEnd [ 7 ] {$id} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.")
      case "error" => (seq, s"$dt [ 7 ] {$id} <Error> executeQuery: Code: 60, e.displayText() = DB::Exception: boom")
    }
  }

  /** Parse crafted lines into LogEvents (reusing the exporter's parse and
    * delivery fold, minus its per-partition count events). */
  private def events(lines: (Long, String)*): Seq[LogEvent] =
    StreamingMerge.deliveredEvents(lines.toDF("seq", "value"), fleet = false)
      .collect().toSeq.filterNot(e => e.kind.endsWith("_count")).sortBy(_.seq)

  private def jopt[T](o: Option[T]): org.apache.spark.api.java.Optional[T] =
    o.map(org.apache.spark.api.java.Optional.of[T]).getOrElse(org.apache.spark.api.java.Optional.empty[T]())

  private def freshState(prev: Option[ChQuery] = None): TestGroupState[ChQuery] =
    TestGroupState.create[ChQuery](jopt(prev), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)

  private def run(state: TestGroupState[ChQuery], es: Seq[LogEvent]): Seq[ChQuery] =
    StreamingMerge.transitionFull(es.iterator, state, 60000L).flatMap(_.record).toSeq

  test("batch 1 initial -> state; batch 2 stats+memory -> emit completed, state evicted") {
    val s1 = freshState()
    val out1 = run(s1, events(mkLine(0, "s1", "initial")))
    assert(out1.isEmpty && s1.exists && !s1.get.fullInfo)

    val s2 = freshState(Some(s1.get))
    val out2 = run(s2, events(mkLine(1, "s1", "stats"), mkLine(2, "s1", "memory")))
    assert(out2.size == 1)
    val r = out2.head
    assert(r.fullInfo && r.rowsRead == 500L && r.memory == 3L * 1024 * 1024 && r.elapsed == 1.0)
    assert(s2.isRemoved, "J5: completion evicts state")
  }

  test("orphan events with no state emit nothing and create no state") {
    val s = freshState()
    assert(run(s, events(mkLine(0, "s2", "stats"), mkLine(1, "s2", "memory"))).isEmpty)
    assert(!s.exists)
  }

  test("duplicate initial keeps the first record (J1)") {
    val s = freshState()
    val out = run(s, events(
      mkLine(0, "s3", "initial", "SELECT 1"),
      mkLine(1, "s3", "initial", "DELETE FROM t"),
      mkLine(2, "s3", "memory")))
    assert(out.size == 1 && out.head.stmtType == "select")
  }

  test("insert memory line updates state but never completes (the reference leak)") {
    val s = freshState()
    val out = run(s, events(
      mkLine(0, "s4", "initial", "INSERT INTO t VALUES (1)"),
      mkLine(1, "s4", "stats"), mkLine(2, "s4", "memory")))
    assert(out.isEmpty)
    assert(s.exists && !s.get.fullInfo && s.get.memory == 3L * 1024 * 1024)
    assert(s.getTimeoutTimestampMs.isPresent, "leak fix: timeout armed on lingering state")
  }

  test("post-eviction line is an orphan; fresh initial restarts a lifecycle") {
    val s = freshState()
    val out = run(s, events(
      mkLine(0, "s5", "initial"), mkLine(1, "s5", "memory"),
      mkLine(2, "s5", "stats"), // orphan: state evicted at seq 1
      mkLine(3, "s5", "initial", "DELETE FROM t"), mkLine(4, "s5", "memory")))
    assert(out.map(_.stmtType) == Seq("select", "delete"))
    assert(out.forall(_.rowsRead == 0L), "orphan stats must not leak into the restarted record")
  }

  test("counter events fire at the reference's observe sites") {
    val s = freshState()
    val outs = StreamingMerge.transitionFull(events(
      mkLine(0, "c9", "stats"), // not_found (no state)
      mkLine(1, "c9", "initial"),
      mkLine(2, "c9", "initial", "DELETE FROM t"), // duplicated
      (3L, mkLine(0, "c9", "stats")._2.replace("5000 rows/sec.", "50.5 rows/sec.")), // convert (live, bad rps)
      mkLine(4, "c9", "memory"),
      mkLine(5, "c9", "stats") // not_found (post-eviction)
    ).iterator, s, 60000L).toSeq
    val counters = outs.filter(_.out == "counter").flatMap(_.counterType)
    assert(counters == Seq("not_found_query", "duplicated_initial_query", "convert", "not_found_query"))
    assert(outs.count(_.out == "record") == 1)
  }

  test("timeout flushes the stuck record with fullInfo=false (leak fix)") {
    val stuck = ChQuery(id = "s6", stmtType = "insert", memory = 42L)
    val s = TestGroupState.create[ChQuery](jopt(Some(stuck)), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = StreamingMerge.advance(Iterator.empty, s, 60000L).toSeq
    assert(out == Seq(StreamingMerge.MergeOut("record", Some(stuck), None)) && s.isRemoved)
    assert(!out.head.record.get.fullInfo)
  }

  /** Records the exporter's merge emits over one drain of `log`. */
  private def drainRecords(log: java.nio.file.Path, ckpt: String): Seq[ChQuery] = {
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[ChQuery]()
    drainAvailable(StreamingMerge.mergeWithDelivery(tailLines(log.toString), timeoutMs = 0L),
      ckpt) { batch => batch.collect().flatMap(_.record).foreach(emitted.add) }
    emitted.asScala.toSeq
  }

  /** Checkpoint-recovery scenario shared by the two state-store-provider
    * tests: run 1 persists open state, run 2 restarts from the checkpoint
    * and can only complete the record if that state was recovered. */
  private def recoveryScenario(): Unit = {
    val log = Files.createTempFile("graft_ckpt_src", ".log")
    val ckpt = Files.createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    def append(line: String): Unit =
      Files.write(log, (line + "\n").getBytes, java.nio.file.StandardOpenOption.APPEND)

    // run 1: only the initial line arrives -> state persisted, nothing emitted
    append(mkLine(0, "c1", "initial")._2)
    assert(drainRecords(log, ckpt).isEmpty)

    // run 2 (fresh query from the same checkpoint): memory line completes the
    // record ONLY IF the state from run 1 was recovered
    append(mkLine(1, "c1", "memory")._2)
    val recs = drainRecords(log, ckpt)
    assert(recs.length == 1 && recs.head.id == "c1" && recs.head.fullInfo)
  }

  test("checkpoint recovery: state survives a query restart (exactly-once the reference lacks)") {
    recoveryScenario()
  }

  test("checkpoint recovery under the RocksDB state store provider (the 100x-scale store)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try recoveryScenario()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("file-source streaming pipeline end-to-end (AvailableNow)") {
    val log = Files.createTempFile("graft_stream", ".log")
    val lines = Seq(
      mkLine(0, "f1", "initial"), mkLine(1, "f1", "stats"),
      mkLine(2, "f1", "error"), mkLine(3, "f1", "memory"),
      mkLine(4, "f2", "initial", "INSERT INTO t VALUES (1)"), mkLine(5, "f2", "memory"),
      mkLine(6, "f3", "stats") // orphan
    ).map(_._2)
    Files.write(log, lines.mkString("", "\n", "\n").getBytes)

    val recs = drainRecords(log, Files.createTempDirectory("graft_stream_ckpt").toString)
    assert(recs.length == 1)
    assert(recs.head.id == "f1" && recs.head.fullInfo && recs.head.error
      && recs.head.errorCode == 60L && recs.head.rowsRead == 500L)
  }
}
