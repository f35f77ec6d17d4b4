package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{LogParser, LogRender, QueryMerge, Tables}
import graft.streaming.StreamingMerge
import graft.streaming.StreamingMerge.MergeOut

/** Batch ≡ streaming equivalence on the driver's rendered log corpus
  * (VERDICT r1 item 6): the oracle-checked batch merge and the exporter's
  * streaming merge ([[StreamingMerge.mergeWithDelivery]] over the tail
  * source, at the exporter's `timeoutMs = 0`) must produce the same
  * completed records and the same error-counter totals for the same
  * corpus — the streaming path's bridge into the DuckDB-oracle loop.
  */
class StreamingEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** Render the sf0.001 events corpus to a log file on disk, return
    * (log file, the exact (seq, value) frame batch-parses). */
  private def renderCorpus(): (String, org.apache.spark.sql.DataFrame) = {
    val lines = LogRender.lines(Tables.events(spark, sf()))
    val ordered = lines.orderBy("seq").select("value").as[String].collect()
    val log = Files.createTempFile("graft_equiv", ".log")
    Files.write(log, ordered.mkString("", "\n", "\n").getBytes)
    (log.toString, lines)
  }

  /** Every emission of the exporter's merge over one drain of `log`. */
  private def drainMerge(log: String, ckpt: String): Seq[MergeOut] = {
    val outs = new java.util.concurrent.ConcurrentLinkedQueue[MergeOut]()
    drainAvailable(StreamingMerge.mergeWithDelivery(tailLines(log), timeoutMs = 0L),
      ckpt) { batch => batch.collect().foreach(outs.add) }
    outs.asScala.toSeq
  }

  private def freshCkpt(): String = Files.createTempDirectory("graft_equiv_ckpt").toString

  private def counterTotals(outs: Seq[MergeOut]): Map[String, Long] =
    outs.flatMap(_.counterType).groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("streaming merge equals the oracle-checked batch merge on the rendered corpus") {
    val (log, lines) = renderCorpus()

    // batch side: the oracle-checked merged table, completed records only
    // (with NoTimeout the streaming side emits exactly the completed ones)
    val batch = QueryMerge.merged(LogParser.parse(lines))
      .filter(col("full_info"))
      .select("id", "query", "port", "pid", "rows_read", "bytes_read",
        "elapsed", "rps", "speed", "memory", "error", "error_code",
        "error_message", "stmt_type", "host")
      .as[(String, String, Long, Long, Long, Long, Double, Long, Long, Long,
        Boolean, Long, String, String, String)]
      .collect().toSet

    // streaming side: AvailableNow over the file, NoTimeout (armed
    // processing-time timeouts never drain under AvailableNow)
    val streaming = drainMerge(log, freshCkpt()).flatMap(_.record)
      .map(r => (r.id, r.query, r.port, r.pid, r.rowsRead, r.bytesRead,
        r.elapsed, r.rps, r.speed, r.memory, r.error, r.errorCode,
        r.errorMessage, r.stmtType, r.host)).toSet

    assert(streaming.nonEmpty, "corpus must produce completed records")
    assert(streaming == batch,
      s"streaming-only: ${(streaming -- batch).take(3)}; batch-only: ${(batch -- streaming).take(3)}")
  }

  test("streaming error-counter totals equal the oracle-checked batch counters") {
    val (log, lines) = renderCorpus()

    val batchCounters = QueryMerge.errorCounters(LogParser.parse(lines))
      .as[(String, Long)].collect().toMap

    val streamingCounters = counterTotals(drainMerge(log, freshCkpt()))
    assert(streamingCounters.nonEmpty)
    assert(streamingCounters == batchCounters,
      s"streaming=$streamingCounters batch=$batchCounters")
  }

  test("re-used ids: batch lifecycle merge equals the streaming merge") {
    val dt1 = "2024.03.01 12:00:01.000000"
    val dt2 = "2024.03.01 12:00:02.000000"
    val dt3 = "2024.03.01 12:00:03.000000"
    val dt4 = "2024.03.01 12:00:05.500000"
    val lines = Seq(
      s"$dt1 [ 7 ] {ru} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1",
      s"$dt1 [ 7 ] {ru} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.",
      s"$dt2 [ 7 ] {ru} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.",
      s"$dt3 [ 7 ] {ru} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 2",
      s"$dt3 [ 7 ] {ru} <Error> executeQuery: Code: 60, e.displayText() = DB::Exception: boom",
      s"$dt4 [ 7 ] {ru} <Debug> MemoryTracker: Peak memory usage (for query): 5 MiB.")
    val log = Files.createTempFile("graft_reuse", ".log")
    Files.write(log, lines.mkString("", "\n", "\n").getBytes)

    val batchParsed = LogParser.parse(
      lines.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq", "value"))
    val batch = QueryMerge.merged(batchParsed).filter(col("full_info"))
      .select("query", "rows_read", "memory", "elapsed", "error", "error_code")
      .as[(String, Long, Long, Double, Boolean, Long)].collect().toSet

    val streaming = drainMerge(log.toString, freshCkpt()).flatMap(_.record)
      .map(r => (r.query, r.rowsRead, r.memory, r.elapsed, r.error, r.errorCode)).toSet

    assert(batch.size == 2, s"two lifecycles expected, got $batch")
    assert(streaming == batch,
      s"streaming-only: ${streaming -- batch}; batch-only: ${batch -- streaming}")
  }

  test("counters are exactly-once across a checkpointed kill/restart mid-corpus") {
    val log = Files.createTempFile("graft_cnt_src", ".log")
    val ckpt = freshCkpt()
    def append(ls: String*): Unit = Files.write(log,
      ls.mkString("", "\n", "\n").getBytes, java.nio.file.StandardOpenOption.APPEND)

    val dt = "2024.03.01 12:00:01.000000"
    def initial(id: String) =
      s"$dt [ 7 ] {$id} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1"
    def stats(id: String) =
      s"$dt [ 7 ] {$id} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec."
    def memory(id: String) =
      s"2024.03.01 12:00:02.000000 [ 7 ] {$id} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB."

    // run 1: orphan stats (not_found) + initial + duplicate initial
    append(stats("ghost"), initial("r1"), initial("r1"))
    // the query stops (AvailableNow) = the "kill" point; state + commits in ckpt
    val run1 = drainMerge(log.toString, ckpt)

    // run 2 (restart from checkpoint): completion + post-eviction orphan
    append(memory("r1"), stats("r1"))
    val run2 = drainMerge(log.toString, ckpt)

    val totals = counterTotals(run1 ++ run2)
    // exactly-once: ghost orphan 1, dup 1 (NOT replayed by run 2), post-eviction orphan 1
    assert(totals == Map("not_found_query" -> 2L, "duplicated_initial_query" -> 1L), totals.toString)
  }
}
