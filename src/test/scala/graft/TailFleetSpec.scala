package graft

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{TailFleetOffset, TailOffset}
import graft.streaming.StreamingMerge

/** The multi-file tail fleet (the cluster story of SURVEY §2.1 S1): N
  * server logs tailed by one source, query ids namespaced per server into
  * ONE keyed stateful merge. The spec drives two concurrently-appended
  * files that (a) reuse the same query id, (b) rotate (copytruncate), and
  * (c) complete a lifecycle on the other side of a checkpointed restart. */
class TailFleetSpec extends SparkSpec {

  private val dt = "2024.03.01 12:00:01.000000"
  private val dtEnd = "2024.03.01 12:00:02.000000"

  private def append(p: Path, s: String): Unit =
    Files.write(p, s.getBytes, StandardOpenOption.APPEND)

  private def initial(id: String, stmt: String = "SELECT 1"): String =
    s"$dt [ 7 ] {$id} <Debug> executeQuery: (from 10.0.0.9:9000) $stmt\n"
  private def stats(id: String, rows: Long): String =
    s"$dt [ 7 ] {$id} <Information> executeQuery: Read $rows rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.\n"
  private def memory(id: String): String =
    s"$dtEnd [ 7 ] {$id} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.\n"

  test("fleet offset: per-file map round-trips through its wire form") {
    val o = TailFleetOffset(Map(
      "/logs/a.log" -> TailOffset(2L, 123L, "(dev=1;ino=2)"),
      "/logs/b.log" -> TailOffset(0L, 0L)))
    assert(TailFleetOffset.parse(o.json()) == o)
    assert(TailFleetOffset.parse(TailFleetOffset(Map.empty).json()).offsets.isEmpty)
  }

  /** The fleet merge's completed records as `(server, id, rowsRead,
    * memory, fullInfo)`, appended to [[TailFleetSpec.sunk]]. */
  private def sinkRecords(batch: org.apache.spark.sql.Dataset[StreamingMerge.MergeOut]): Unit =
    batch.collect().foreach(o => o.record.foreach(r => TailFleetSpec.sunk.add((
      o.server.getOrElse(""), r.id, r.rowsRead, r.memory, r.fullInfo))))

  /** One AvailableNow drain of the fleet merge over `paths`; returns
    * everything sunk so far. */
  private def drainFleet(paths: Seq[String], ckpt: String): Seq[(String, String, Long, Long, Boolean)] = {
    drainAvailable(StreamingMerge.fleetMergeWithDelivery(fleetLines(paths), timeoutMs = 0L),
      ckpt)(sinkRecords)
    import scala.jdk.CollectionConverters._
    TailFleetSpec.sunk.asScala.toSeq
  }

  private def fleetScenario(): Unit = {
    val a = Files.createTempFile("graft-fleet-a", ".log")
    val b = Files.createTempFile("graft-fleet-b", ".log")
    val ckpt = Files.createTempDirectory("graft-fleet-ckpt").toString
    val sunk = TailFleetSpec.sunk
    sunk.clear()

    // run 1: both servers run a query with the SAME id "w1"; only server
    // b's completes — a's stays open in the merge state
    append(a, initial("w1"))
    append(a, stats("w1", 500L))
    append(b, initial("w1", "SELECT 2"))
    append(b, stats("w1", 10L))
    append(b, memory("w1"))
    val recs1 = drainFleet(Seq(a.toString, b.toString), ckpt)
    assert(recs1 == Seq((b.toString, "w1", 10L, 3L * 1024 * 1024, true)),
      s"b's lifecycle must complete alone with ITS stats: $recs1")

    // while down: server a's log ROTATES (copytruncate) and the new
    // generation carries the memory line completing a's still-open w1;
    // server b starts a fresh lifecycle
    Files.write(a, memory("w1").getBytes) // truncation: shorter than old pos
    append(b, initial("w2"))
    append(b, stats("w2", 77L))
    append(b, memory("w2"))

    val recs = drainFleet(Seq(a.toString, b.toString), ckpt)
    // a's w1 completes with the stats it accumulated BEFORE the restart
    // and rotation — state survived both, unpolluted by b's same-id
    // query — and b adds exactly w2; nothing is re-emitted
    val mb = 3L * 1024 * 1024
    assert(recs.toSet == Set(
      (a.toString, "w1", 500L, mb, true),
      (b.toString, "w1", 10L, mb, true),
      (b.toString, "w2", 77L, mb, true)), recs.toString)
    assert(recs.size == 3, s"no duplicate records across the restart: $recs")
  }

  test("two rotating fleet files, same query id, one keyed merge, restart mid-lifecycle") {
    fleetScenario()
  }

  test("fleet grows across a restart: a path added to --paths starts fresh, existing offsets resume") {
    val a = Files.createTempFile("graft-fleet-grow-a", ".log")
    val sunk = TailFleetSpec.sunk
    sunk.clear()
    val ckpt = Files.createTempDirectory("graft-fleet-grow-ckpt").toString

    // run 1: single-member fleet, one completed lifecycle
    append(a, initial("g1")); append(a, stats("g1", 11L)); append(a, memory("g1"))
    assert(drainFleet(Seq(a.toString), ckpt).size == 1)

    // a NEW server joins the fleet while the query is down; its history
    // exists before the restart — the checkpoint has no offset entry for
    // it, so it starts at ITS OWN initial offset (fromStart => offset 0)
    val b = Files.createTempFile("graft-fleet-grow-b", ".log")
    Files.write(b, (initial("g1", "SELECT 9") + stats("g1", 22L) + memory("g1")).getBytes)
    append(a, initial("g2")); append(a, stats("g2", 33L)); append(a, memory("g2"))

    val recs = drainFleet(Seq(a.toString, b.toString), ckpt)
    val mb = 3L * 1024 * 1024
    // a resumes from its checkpointed offset (g1 NOT re-read), b's full
    // history is ingested, and the reused id g1 stays per-server
    assert(recs.toSet == Set(
      (a.toString, "g1", 11L, mb, true),
      (a.toString, "g2", 33L, mb, true),
      (b.toString, "g1", 22L, mb, true)), recs.toString)
    assert(recs.size == 3, s"a's g1 must not be re-emitted: $recs")
  }

  test("dynamic membership: a glob-matched file created mid-stream joins within a micro-batch") {
    val dir = Files.createTempDirectory("graft-fleet-dyn")
    val a = dir.resolve("a.log")
    Files.createFile(a)
    val ckpt = Files.createTempDirectory("graft-fleet-dyn-ckpt").toString
    val sunk = TailFleetSpec.sunk
    sunk.clear()

    // a live (non-AvailableNow) query: the join under test happens while
    // the query runs, with no restart in between
    def start(): StreamingQuery =
      StreamingMerge.fleetMergeWithDelivery(fleetLines(Seq(s"$dir/*.log")), timeoutMs = 0L)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingMerge.MergeOut], _: Long) =>
          sinkRecords(batch)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    def waitFor(n: Int, q: StreamingQuery): Seq[(String, String, Long, Long, Boolean)] = {
      val deadline = System.nanoTime() + 120000L * 1000000L
      while (sunk.size < n && System.nanoTime() < deadline) q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      sunk.asScala.toSeq
    }

    val mb = 3L * 1024 * 1024
    val q1 = start()
    try {
      append(a, initial("d1")); append(a, stats("d1", 5L)); append(a, memory("d1"))
      assert(waitFor(1, q1).toSet ==
        Set((a.toString, "d1", 5L, mb, true)))

      // a NEW server's log appears MID-STREAM (no restart): the next poll
      // discovers it, reads its full content (it postdates the attach),
      // and checkpoints its offset. A non-matching file is ignored.
      val b = dir.resolve("b.log")
      Files.write(b, (initial("d1", "SELECT 9") + stats("d1", 7L) + memory("d1")).getBytes)
      Files.write(dir.resolve("ignored.txt"), "not a member\n".getBytes)
      val recs = waitFor(2, q1)
      assert(recs.toSet == Set(
        (a.toString, "d1", 5L, mb, true),
        (b.toString, "d1", 7L, mb, true)), recs.toString)
    } finally q1.stop()

    // restart: the discovered member's offset was checkpointed — only lines
    // appended while down are delivered (no re-read of b's history)
    val b = dir.resolve("b.log")
    append(b, initial("d2") + stats("d2", 9L) + memory("d2"))
    val recs = drainFleet(Seq(s"$dir/*.log"), ckpt)
    assert(recs.toSet == Set(
      (a.toString, "d1", 5L, mb, true),
      (b.toString, "d1", 7L, mb, true),
      (b.toString, "d2", 9L, mb, true)), recs.toString)
    assert(recs.size == 3, s"b's history must not be re-read on restart: $recs")
  }

  test("a member dropped from the config is not resurrected by its checkpoint entry") {
    import graft.sources.{TailFleetMicroBatchStream, TailFleetOffset, TailOffset}
    val dir = Files.createTempDirectory("graft-fleet-narrow")
    val a = dir.resolve("app-a.log")
    val b = dir.resolve("other-b.log")
    Files.write(a, "a1\n".getBytes)
    Files.write(b, "b1\n".getBytes)
    // run 2's NARROWED config matches only app-*; the checkpoint (written
    // under a wider config) still carries other-b's offset. b exists on
    // disk — existence alone must NOT re-register it, or a decommissioned
    // server's log keeps flowing forever.
    val s = new TailFleetMicroBatchStream(Nil, fromStart = true,
      globs = Seq(s"$dir/app-*.log"))
    val restored = s.deserializeOffset(TailFleetOffset(Map(
      a.toString -> TailOffset(0L, 3L, "k"),
      b.toString -> TailOffset(0L, 3L, "k"))).json()).asInstanceOf[TailFleetOffset]
    assert(restored.offsets.keySet == Set(a.toString),
      s"the non-matching member must drop, the matching one resume: $restored")
    // glob membership helper: same dir + pattern match required
    import graft.sources.TailFleetSource.matchesGlob
    assert(matchesGlob(s"$dir/app-*.log", a.toString))
    assert(!matchesGlob(s"$dir/app-*.log", b.toString))
    assert(!matchesGlob("/elsewhere/app-*.log", a.toString))
  }

  test("brace globs rejected with a clear message (',' is the list separator)") {
    import graft.sources.TailFleetTable
    val e = intercept[IllegalArgumentException] {
      new TailFleetTable(Nil, Seq("/logs/{a,b}.log"), fromStart = false)
    }
    assert(e.getMessage.contains("brace"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Exporter.run(spark, Exporter.Config(logs = Seq("/logs/{a,b}.log")))
    }
    assert(e2.getMessage.contains("brace"), e2.getMessage)
  }

  test("backfill wire form: parse/render round-trip, malformed entries and non-literal keys rejected") {
    import graft.sources.{TailFleetSource, TailFleetTable}
    val m = Map("/l/a.log" -> Seq("/l/a.1", "/l/a.2"), "/l/b.log" -> Seq("/l/b.1"))
    assert(TailFleetSource.parseBackfill(TailFleetSource.renderBackfill(m)) == m)
    assert(TailFleetSource.parseBackfill("") == Map.empty)
    assert(TailFleetSource.renderBackfill(Map.empty) == "")
    // duplicate keys concatenate in option order (a repeated CLI flag)
    assert(TailFleetSource.parseBackfill("a=x;a=y") == Map("a" -> Seq("x", "y")))
    intercept[IllegalArgumentException](TailFleetSource.parseBackfill("noequals"))
    intercept[IllegalArgumentException](TailFleetSource.parseBackfill("=orphan"))
    // a backfill key must be a LITERAL fleet member, not a glob or stranger
    intercept[IllegalArgumentException] {
      new TailFleetTable(Seq("/x.log"), Nil, fromStart = false, 0L,
        Map("/y.log" -> Seq("/y.1")))
    }
  }

  test("per-member backfill: archives drain as pre-live epochs, seq monotone, restart clean") {
    import org.apache.spark.sql.streaming.Trigger
    // member a carries a two-archive history chain; member b is unmapped
    val a1 = Files.createTempFile("graft-fleet-bf-a1", ".log")
    val a2 = Files.createTempFile("graft-fleet-bf-a2", ".log")
    val a = Files.createTempFile("graft-fleet-bf-a", ".log")
    val b = Files.createTempFile("graft-fleet-bf-b", ".log")
    Files.write(a1, "h1\nh2\n".getBytes)
    Files.write(a2, "h3".getBytes) // unterminated final line admitted whole
    Files.write(b, "b-pre\n".getBytes) // unmapped + fromStart=false -> skipped
    val ckpt = Files.createTempDirectory("graft-fleet-bf-ckpt").toString
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    val backfill = graft.sources.TailFleetSource.renderBackfill(
      Map(a.toString -> Seq(a1.toString, a2.toString)))
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.TailFleetSourceProvider].getName)
        .option("paths", s"$a,$b")
        .option("fromStart", "false")
        .option("backfill", backfill)
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            rows.add((r.getString(0), r.getLong(1), r.getString(2)))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode("append").start()
      try assert(q.awaitTermination(60000), "backfill drain must terminate")
      finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    def memberOf(p: Path) = rows.asScala.toSeq.filter(_._1 == p.toString)

    run()
    // a's history drained in order even in EOF-default mode, tagged with
    // the LIVE path (history and tail are one per-server stream); seq is
    // strictly monotone across the archive boundary so the order-sensitive
    // keyed merge sees archive lines strictly before live ones
    assert(memberOf(a).map(_._3) == Seq("h1", "h2", "h3"), memberOf(a).toString)
    assert(memberOf(a).map(_._2) == memberOf(a).map(_._2).sorted)
    assert(memberOf(a).map(_._2).distinct.size == 3, "seq strictly monotone")
    // the unmapped member kept its seek-to-EOF default: b-pre was skipped
    assert(memberOf(b).isEmpty, memberOf(b).toString)

    // the live tails now append; a second drain picks up ONLY the new lines
    val backfillSeq = memberOf(a).map(_._2).max
    append(a, "l1\n")
    append(b, "bl1\n")
    run()
    assert(memberOf(a).map(_._3) == Seq("h1", "h2", "h3", "l1"),
      s"live line after the drained history, no re-read: ${memberOf(a)}")
    assert(memberOf(a).map(_._2).max > backfillSeq,
      "live seq continues past the backfilled history")
    assert(memberOf(b).map(_._3) == Seq("bl1"), memberOf(b).toString)
  }

  test("maxBytesPerTrigger is a PER-MEMBER budget: each file drains bounded, none starves") {
    import graft.sources.{TailFleetMicroBatchStream, TailFleetOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val a = Files.createTempFile("graft-fleet-cap-a", ".log")
    val b = Files.createTempFile("graft-fleet-cap-b", ".log")
    // asymmetric backlogs: a cold 240-byte member next to a 12-byte one
    Files.write(a, (0 until 40).map(i => f"a$i%04d\n").mkString.getBytes) // 40×6B
    Files.write(b, "b0000\nb0001\n".getBytes)                            // 2×6B
    val s = new TailFleetMicroBatchStream(
      Seq(a.toString, b.toString), fromStart = true, maxBytesPerTrigger = 14)
    var cur = s.initialOffset().asInstanceOf[TailFleetOffset]
    // the reported tail sees both full backlogs before any admission
    val reported = s.reportLatestOffset().asInstanceOf[TailFleetOffset]
    assert(reported.offsets(a.toString).pos == 240L)
    assert(reported.offsets(b.toString).pos == 12L)

    var polls = 0
    var next = s.latestOffset(cur, ReadLimit.maxBytes(14)).asInstanceOf[TailFleetOffset]
    // the small member is fully admitted on the FIRST poll — the cold
    // giant next to it cannot starve it (per-member, not fleet-total)
    assert(next.offsets(b.toString).pos == 12L)
    while (next != cur && polls < 100) {
      for (p <- Seq(a, b))
        assert(next.offsets(p.toString).pos - cur.offsets(p.toString).pos <= 14L,
          s"member $p within budget")
      cur = next; polls += 1
      next = s.latestOffset(cur, ReadLimit.maxBytes(14)).asInstanceOf[TailFleetOffset]
    }
    assert(cur.offsets(a.toString).pos == 240L, "the giant eventually drains")
    assert(polls == 20, s"240 bytes / (2 lines × 6B per poll) = 20 polls: $polls")
  }

  test("AvailableNow fleet: every member drains to its start-time tail, run terminates, restart continues") {
    import org.apache.spark.sql.streaming.Trigger
    val a = Files.createTempFile("graft-fleet-an-a", ".log")
    val b = Files.createTempFile("graft-fleet-an-b", ".log")
    Files.write(a, (0 until 6).map(i => f"a$i%04d\n").mkString.getBytes)
    Files.write(b, "b0000\nb0001\n".getBytes)
    val ckpt = Files.createTempDirectory("graft-fleet-an-ckpt").toString
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.TailFleetSourceProvider].getName)
        .option("paths", s"$a,$b")
        .option("fromStart", "true")
        .option("maxBytesPerTrigger", "14") // per-member: 2 lines per poll
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => rows.add((r.getString(0), r.getString(2)))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode("append").start()
      try assert(q.awaitTermination(60000), "fleet drain must terminate on its own")
      finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    run()
    def linesOf(p: Path) = rows.asScala.toSeq.filter(_._1 == p.toString).map(_._2)
    assert(linesOf(a) == (0 until 6).map(i => f"a$i%04d"), s"member a drained: ${linesOf(a)}")
    assert(linesOf(b) == Seq("b0000", "b0001"), s"member b drained: ${linesOf(b)}")

    append(a, "a0006\n")
    append(b, "b0002\n")
    run()
    assert(linesOf(a) == (0 until 7).map(i => f"a$i%04d"),
      s"second drain resumes member a from its checkpoint: ${linesOf(a)}")
    assert(linesOf(b) == Seq("b0000", "b0001", "b0002"),
      s"second drain resumes member b: ${linesOf(b)}")
  }

  test("same fleet recovery under the RocksDB state store provider (the 100x-scale store)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try fleetScenario()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object TailFleetSpec {
  /** Cross-restart sink buffer (foreachBatch closures need driver-shared state). */
  val sunk: java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Long, Boolean)] =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Long, Boolean)]()
}
