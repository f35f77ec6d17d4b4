package graft

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.ChQuery
import graft.streaming.StreamingMerge

/** True tail-follow of a single appending file (S1, the reference's primary
  * mode — main.go:95-106): seek-to-EOF default, `--from-start`, only
  * complete lines delivered, copytruncate rotation restarts the follow. */
class TailFileSourceSpec extends SparkSpec {
  import spark.implicits._

  private def append(p: Path, s: String): Unit =
    Files.write(p, s.getBytes, StandardOpenOption.APPEND)

  private def startTail(file: Path, fromStart: Boolean): (String, StreamingQuery) = {
    val qname = s"tail_${System.nanoTime()}"
    val lines = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", file.toString)
      .option("fromStart", fromStart.toString)
      .load()
    val q = lines.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    (qname, q)
  }

  private def collectUntil(qname: String, q: StreamingQuery, n: Int,
      timeoutMs: Long = 60000): Seq[(Long, String)] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var rows = Seq.empty[(Long, String)]
    while (rows.size < n && System.nanoTime() < deadline) {
      q.processAllAvailable()
      rows = spark.table(qname).as[(Long, String)].collect().toSeq.sortBy(_._1)
    }
    rows
  }

  test("seek-to-EOF default: pre-existing lines skipped, appended lines delivered") {
    val f = Files.createTempFile("graft-tail", ".log")
    Files.write(f, "old line 1\nold line 2\n".getBytes)

    val (qname, q) = startTail(f, fromStart = false)
    try {
      q.processAllAvailable()
      assert(spark.table(qname).count() == 0, "EOF start: history not delivered")

      append(f, "new line 1\nnew line 2\n")
      val rows = collectUntil(qname, q, 2)
      assert(rows.map(_._2) == Seq("new line 1", "new line 2"))
      // seq = line start byte offset, monotone
      assert(rows.map(_._1) == Seq(22L, 33L))
    } finally q.stop()
  }

  test("fromStart reads history then follows appends (--from-start)") {
    val f = Files.createTempFile("graft-tail2", ".log")
    Files.write(f, "h1\nh2\n".getBytes)

    val (qname, q) = startTail(f, fromStart = true)
    try {
      val hist = collectUntil(qname, q, 2)
      assert(hist.map(_._2) == Seq("h1", "h2"))
      append(f, "h3\n")
      assert(collectUntil(qname, q, 3).map(_._2) == Seq("h1", "h2", "h3"))
    } finally q.stop()
  }

  test("partial trailing line waits for its newline (line-buffered delivery)") {
    val f = Files.createTempFile("graft-tail3", ".log")
    val (qname, q) = startTail(f, fromStart = true)
    try {
      append(f, "complete\npart")
      assert(collectUntil(qname, q, 1).map(_._2) == Seq("complete"))
      q.processAllAvailable()
      assert(spark.table(qname).count() == 1, "unterminated line must not deliver")
      append(f, "ial done\n")
      assert(collectUntil(qname, q, 2).map(_._2) == Seq("complete", "partial done"))
    } finally q.stop()
  }

  test("copytruncate rotation: shrunken file restarts the follow at offset 0") {
    val f = Files.createTempFile("graft-tail4", ".log")
    Files.write(f, "a1\na2\n".getBytes)
    val (qname, q) = startTail(f, fromStart = true)
    try {
      assert(collectUntil(qname, q, 2).map(_._2) == Seq("a1", "a2"))
      Files.write(f, "b1\n".getBytes) // truncate + rewrite (copytruncate)
      val rows = collectUntil(qname, q, 3)
      assert(rows.map(_._2) == Seq("a1", "a2", "b1"))
      // seq stays monotone across the rotation (epoch-prefixed offsets)
      assert(rows.map(_._1) == rows.map(_._1).sorted)
      assert(rows.last._1 == (1L << 44))
    } finally q.stop()
  }

  test("move+recreate rotation detected by file identity even when the new file is longer") {
    val f = Files.createTempFile("graft-tail6", ".log")
    Files.write(f, "m1\nm2\n".getBytes)
    val (qname, q) = startTail(f, fromStart = true)
    try {
      assert(collectUntil(qname, q, 2).map(_._2) == Seq("m1", "m2"))
      // classic logrotate: move the file aside, create a fresh one that is
      // LONGER than the committed offset — length-only detection would
      // resume mid-file and deliver garbage
      val aside = f.resolveSibling(f.getFileName.toString + ".1")
      Files.move(f, aside)
      Files.write(f, "n1 longer line\nn2 longer line\n".getBytes)
      val rows = collectUntil(qname, q, 4)
      assert(rows.map(_._2) == Seq("m1", "m2", "n1 longer line", "n2 longer line"))
      assert(rows.map(_._1) == rows.map(_._1).sorted, "monotone seq across rotation")
    } finally q.stop()
  }

  test("archive file rejected by pre-flight validation (main.go:81-85 order)") {
    val gz = Files.createTempFile("graft-tail5", ".log.gz")
    Files.write(gz, Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x00))
    val (_, q) = startTail(gz, fromStart = true)
    val e = intercept[Exception] { q.processAllAvailable() }
    assert(e.getMessage != null)
    q.stop()
  }

  test("checkpoint restart resumes mid-file: no duplicates, no loss") {
    val f = Files.createTempFile("graft-tail-ckpt", ".log")
    val ckpt = Files.createTempDirectory("graft-tail-ckpt-dir").toString
    Files.write(f, "r1\nr2\n".getBytes)
    val sunk = TailFileSourceSpec.sunk
    sunk.clear()

    // memory sink can't recover from a checkpoint -> foreachBatch buffer
    def start(): StreamingQuery =
      spark.readStream
        .format(classOf[graft.sources.TailFileSourceProvider].getName)
        .option("path", f.toString)
        .option("fromStart", "true")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            TailFileSourceSpec.sunk.add((r.getLong(0), r.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    def waitFor(n: Int, q: StreamingQuery): Seq[(Long, String)] = {
      val deadline = System.nanoTime() + 60000L * 1000000L
      while (sunk.size < n && System.nanoTime() < deadline) q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      sunk.asScala.toSeq.sortBy(_._1)
    }

    val q1 = start()
    try assert(waitFor(2, q1).map(_._2) == Seq("r1", "r2"))
    finally q1.stop()

    append(f, "r3\n") // arrives while the query is down
    val q2 = start()
    try {
      val rows = waitFor(3, q2)
      // r3 exactly once proves the byte offset was recovered (no re-read of
      // r1/r2, no skip of r3)
      assert(rows.map(_._2) == Seq("r1", "r2", "r3"))
      assert(rows.last._1 == 6L, "resumed at the checkpointed byte offset")
    } finally q2.stop()
  }

  test("the full reference main loop over an appending file: tail, parse, merge") {
    val f = Files.createTempFile("graft-tailpipe", ".log")
    val ckpt = Files.createTempDirectory("graft-tailpipe-ckpt").toString
    val dt = "2024.03.01 12:00:01.000000"
    def drain(): Seq[ChQuery] = {
      val recs = new java.util.concurrent.ConcurrentLinkedQueue[ChQuery]()
      drainAvailable(StreamingMerge.mergeWithDelivery(tailLines(f.toString), timeoutMs = 0L),
        ckpt) { batch => batch.collect().flatMap(_.record).foreach(recs.add) }
      import scala.jdk.CollectionConverters._
      recs.asScala.toSeq
    }
    append(f, s"$dt [ 7 ] {t1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1\n")
    append(f, s"$dt [ 7 ] {t1} <Information> executeQuery: Read 500 rows, 2 KiB in 0.100 sec., 5000 rows/sec., 20 KiB/sec.\n")
    assert(drain().isEmpty, "no memory line yet -> still in state")

    append(f, s"2024.03.01 12:00:02.000000 [ 7 ] {t1} <Debug> MemoryTracker: Peak memory usage (for query): 3 MiB.\n")
    val recs = drain()
    assert(recs.length == 1)
    val r = recs.head
    assert(r.id == "t1" && r.fullInfo && r.rowsRead == 500L &&
      r.memory == 3L * 1024 * 1024 && r.elapsed == 1.0)
  }

  test("maxBytesPerTrigger: a backlog drains in bounded line-aligned polls; the true tail is still reported") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val f = Files.createTempFile("graft-tail-cap", ".log")
    // 10 lines × 6 bytes ("l0000\n") = 60 bytes of pre-existing backlog
    Files.write(f, (0 until 10).map(i => f"l$i%04d\n").mkString.getBytes)
    val s = new TailFileMicroBatchStream(f.toString, fromStart = true,
      maxBytesPerTrigger = 14)
    var cur = s.initialOffset().asInstanceOf[TailOffset]
    assert(cur.pos == 0L)
    // lag visibility: the REPORTED tail is the real EOF before any admission
    assert(s.reportLatestOffset().asInstanceOf[TailOffset].pos == 60L)

    val steps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var next = s.latestOffset(cur, ReadLimit.maxBytes(14)).asInstanceOf[TailOffset]
    while (next.pos != cur.pos) {
      steps += (next.pos - cur.pos)
      // mid-drain the admitted offset lags, the reported tail does not
      assert(s.reportLatestOffset().asInstanceOf[TailOffset].pos == 60L)
      cur = next
      next = s.latestOffset(cur, ReadLimit.maxBytes(14)).asInstanceOf[TailOffset]
    }
    assert(cur.pos == 60L, "the full backlog is eventually admitted")
    assert(steps.forall(_ <= 14L), s"every poll within budget: $steps")
    assert(steps.size == 5, s"14-byte budget over 6-byte lines = 2 lines/poll: $steps")
    // ... and reporting the tail never advanced the admitted position
    assert(s.latestOffset(cur, ReadLimit.maxBytes(14))
      .asInstanceOf[TailOffset].pos == 60L)
  }

  test("maxBytesPerTrigger: an oversized line is admitted whole (progress guarantee)") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val f = Files.createTempFile("graft-tail-cap2", ".log")
    Files.write(f, ("short\n" + "x" * 50 + "\n" + "tail\n").getBytes)
    val s = new TailFileMicroBatchStream(f.toString, fromStart = true)
    var cur = s.initialOffset().asInstanceOf[TailOffset]
    def poll(): Long = {
      cur = s.latestOffset(cur, ReadLimit.maxBytes(10)).asInstanceOf[TailOffset]
      cur.pos
    }
    assert(poll() == 6L, "first poll: the complete short line within budget")
    assert(poll() == 57L, "second poll: the 51-byte line exceeds the cap but still lands")
    assert(poll() == 62L, "third poll: back to bounded")
  }

  test("maxBytesPerTrigger end-to-end: the first batch is not the whole file") {
    val f = Files.createTempFile("graft-tail-cap3", ".log")
    Files.write(f, (0 until 20).map(i => f"line-$i%04d\n").mkString.getBytes)
    val ckpt = Files.createTempDirectory("graft-tail-cap3-ckpt").toString
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", f.toString)
      .option("fromStart", "true")
      .option("maxBytesPerTrigger", "33") // 3 × 10-byte lines per batch
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count()
        if (n > 0) { batchSizes.add(n); () }
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val sizes = batchSizes.asScala.toSeq
      assert(sizes.sum == 20L, s"every line exactly once: $sizes")
      assert(sizes.forall(_ <= 3L), s"no batch over the 3-line budget: $sizes")
      assert(sizes.size >= 7, s"the backlog drained incrementally: $sizes")
    } finally q.stop()
  }

  test("backfill-then-follow: archives drain in order before the live tail, seq monotone") {
    val a1 = Files.createTempFile("graft-bf-a1", ".log")
    val a2 = Files.createTempFile("graft-bf-a2", ".log")
    val empty = Files.createTempFile("graft-bf-empty", ".log")
    val live = Files.createTempFile("graft-bf-live", ".log")
    Files.write(a1, "old-1\nold-2\n".getBytes)
    Files.write(a2, "old-3\nold-4-no-newline".getBytes) // unterminated final line
    Files.write(live, "live-1\n".getBytes)
    val ckpt = Files.createTempDirectory("graft-bf-ckpt").toString
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", live.toString)
      .option("backfill", s"$a1,$a2,$empty")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => rows.add((r.getLong(0), r.getString(1)))); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // the live file keeps appending AFTER the backfill drained
      Files.write(live, "live-2\n".getBytes, StandardOpenOption.APPEND)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = rows.asScala.toSeq.sortBy(_._1)
      assert(got.map(_._2) ==
        Seq("old-1", "old-2", "old-3", "old-4-no-newline", "live-1", "live-2"),
        s"archive order then live, unterminated archive tail included: $got")
      assert(got.map(_._1) == got.map(_._1).sorted, "seq monotone across the chain")
    } finally q.stop()
  }

  test("backfill under admission control: bounded polls, restart mid-backfill resumes exactly") {
    val a1 = Files.createTempFile("graft-bfc-a1", ".log")
    val live = Files.createTempFile("graft-bfc-live", ".log")
    // 10 archive lines + 2 live lines, 6 bytes each
    Files.write(a1, (0 until 10).map(i => f"a$i%04d\n").mkString.getBytes)
    Files.write(live, "l0000\nl0001\n".getBytes)
    val ckpt = Files.createTempDirectory("graft-bfc-ckpt").toString
    // keyed by BATCH ID: q1 stops mid-drain, so the stop can land between
    // the sink write and the commit-log write, and run 2 legitimately
    // REPLAYS that batch (foreachBatch is at-least-once for non-idempotent
    // sinks — Spark's documented contract, and the discipline the real
    // JDBC sink implements with its ledger). The replay must carry the
    // SAME content (the batch's offsets are WAL'd before execution) — the
    // put asserts that instead of silently overwriting.
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    def start() = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", live.toString)
      .option("backfill", a1.toString)
      .option("maxBytesPerTrigger", "14") // 2 lines per poll
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val vs = b.collect().map(_.getString(1)).toSeq
        if (vs.nonEmpty) {
          val prev = batches.put(id, vs)
          assert(prev == null || prev == vs,
            s"replayed batch $id changed content: $prev vs $vs")
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    import scala.jdk.CollectionConverters._
    def delivered: Seq[String] =
      batches.asScala.toSeq.sortBy(_._1).flatMap(_._2)
    // run 1: drain PART of the backlog, then stop (a few capped batches)
    val q1 = start()
    try {
      val deadline = System.nanoTime() + 60000L * 1000000L
      while (delivered.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally q1.stop()
    assert(delivered.size >= 4, "run 1 made progress")

    // run 2: same checkpoint resumes mid-backfill; everything lands once
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = delivered
      assert(all.size == 12, s"every line exactly once across the restart: $all")
      assert(all.distinct.size == 12, s"no line twice: $all")
      assert(batches.asScala.values.forall(_.size <= 2),
        s"every batch within the 2-line budget: ${batches.asScala.values.map(_.size)}")
    } finally q2.stop()

    // run 3: backfill DRAINED and dropped from the options (archives may be
    // deleted once processed) — the restored post-backfill epoch is just a
    // live generation; the follow continues, nothing re-read
    Files.delete(a1)
    Files.write(live, "l0002\n".getBytes, StandardOpenOption.APPEND)
    val q3 = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", live.toString)
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val vs = b.collect().map(_.getString(1)).toSeq
        if (vs.nonEmpty) { batches.put(id, vs); () }
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      val all = delivered
      assert(all.size == 13 && all.count(_ == "l0002") == 1,
        s"post-backfill restart without the option follows cleanly: $all")
    } finally q3.stop()
  }

  test("AvailableNow: drains present content in bounded batches, terminates; next run picks up appends") {
    import org.apache.spark.sql.streaming.Trigger
    val f = Files.createTempFile("graft-an", ".log")
    Files.write(f, (0 until 10).map(i => f"l$i%04d\n").mkString.getBytes) // 6 B each
    val ckpt = Files.createTempDirectory("graft-an-ckpt").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.TailFileSourceProvider].getName)
        .option("path", f.toString)
        .option("fromStart", "true")
        .option("maxBytesPerTrigger", "14") // 2 lines per poll
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.collect().map(_.getString(1)).toSeq
          if (vs.nonEmpty) { batches.add(vs); () }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode("append").start()
      try assert(q.awaitTermination(60000), "drain must terminate on its own")
      finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    run()
    val firstRun = batches.asScala.toSeq
    assert(firstRun.flatten == (0 until 10).map(i => f"l$i%04d"),
      s"everything present at start drained exactly once: $firstRun")
    assert(firstRun.forall(_.size <= 2),
      s"admission control bounds every drain batch: ${firstRun.map(_.size)}")

    // appends after the first drain belong to the NEXT run
    Files.write(f, "l0010\nl0011\n".getBytes, StandardOpenOption.APPEND)
    run()
    val all = batches.asScala.toSeq.flatten
    assert(all == (0 until 12).map(i => f"l$i%04d"),
      s"second drain continues from the checkpoint, no re-reads: $all")
  }

  test("AvailableNow x backfill: archives + live drain in order, then the run exits") {
    import org.apache.spark.sql.streaming.Trigger
    val a1 = Files.createTempFile("graft-anb-a1", ".log")
    val live = Files.createTempFile("graft-anb-live", ".log")
    Files.write(a1, "old-1\nold-2\n".getBytes)
    Files.write(live, "live-1\n".getBytes)
    val ckpt = Files.createTempDirectory("graft-anb-ckpt").toString
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", live.toString)
      .option("backfill", a1.toString)
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => rows.add((r.getLong(0), r.getString(1)))); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .outputMode("append").start()
    try assert(q.awaitTermination(60000), "backfill drain must terminate")
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.toSeq.sortBy(_._1)
    assert(got.map(_._2) == Seq("old-1", "old-2", "live-1"),
      s"history then live, then exit: $got")
  }

  test("AvailableNow x backfill: TWO unterminated archives still drain through to the live file") {
    // regression pin: each unterminated archive costs two walk transitions
    // ((ep,0)→(ep,boundary)→(ep,len)); the old reportLatestOffset step
    // bound undercounted them, so with ≥2 such archives the drain goal
    // stopped inside the chain and the live lines present at start never
    // drained. The fix jumps the static chain straight to the live tail.
    import org.apache.spark.sql.streaming.Trigger
    val a1 = Files.createTempFile("graft-anb2-a1", ".log")
    val a2 = Files.createTempFile("graft-anb2-a2", ".log")
    val live = Files.createTempFile("graft-anb2-live", ".log")
    Files.write(a1, "old-1\nold-2".getBytes) // no trailing newline
    Files.write(a2, "old-3".getBytes)        // no trailing newline
    Files.write(live, "live-1\n".getBytes)
    val ckpt = Files.createTempDirectory("graft-anb2-ckpt").toString
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", live.toString)
      .option("backfill", s"$a1,$a2")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => rows.add((r.getLong(0), r.getString(1)))); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .outputMode("append").start()
    try assert(q.awaitTermination(60000), "backfill drain must terminate")
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(got == Seq("old-1", "old-2", "old-3", "live-1"),
      s"both unterminated archives AND the live line must drain: $got")
  }

  test("gzip backfill archives: logrotate-compressed history drains as pre-live epochs") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-gzbf")
    val a1gz = dir.resolve("app.log.2.gz")
    val a2 = dir.resolve("app.log.1") // mixed chain: gz then plain
    val live = dir.resolve("app.log")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(a1gz))
    gz.write("old-1\nold-2".getBytes) // unterminated final line
    gz.close()
    Files.write(a2, "old-3\n".getBytes)
    Files.write(live, "live-1\n".getBytes)
    val ckpt = Files.createTempDirectory("graft-gzbf-ckpt").toString
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.TailFileSourceProvider].getName)
        .option("path", live.toString)
        .option("backfill", s"$a1gz,$a2")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => rows.add((r.getLong(0), r.getString(1)))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode("append").start()
      try assert(q.awaitTermination(60000), "gz backfill drain must terminate")
      finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    run()
    val got = rows.asScala.toSeq.sortBy(_._1)
    assert(got.map(_._2) == Seq("old-1", "old-2", "old-3", "live-1"),
      s"decompressed history in order, then live: $got")
    assert(got.map(_._1) == got.map(_._1).sorted &&
      got.map(_._1).distinct.size == 4, "seq monotone across the mixed chain")

    // restart: the drained gz epoch is checkpointed at its compressed
    // length — only new live lines arrive, no re-decompression re-read
    Files.write(live, "live-2\n".getBytes, StandardOpenOption.APPEND)
    run()
    assert(rows.asScala.toSeq.sortBy(_._1).map(_._2) ==
      Seq("old-1", "old-2", "old-3", "live-1", "live-2"),
      s"no gz re-read on restart: ${rows.asScala.toSeq.sortBy(_._1)}")
  }

  test("gz archive admitted whole under a tiny byte budget; unsupported codecs still fail pre-flight") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("graft-gzcap")
    val agz = dir.resolve("a.log.1.gz")
    val live = dir.resolve("a.log")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(agz))
    gz.write(("x" * 200 + "\n" + "y" * 200 + "\n").getBytes)
    gz.close()
    Files.createFile(live)
    val s = new TailFileMicroBatchStream(live.toString, fromStart = true,
      backfill = Seq(agz.toString))
    // compressed bytes have no line boundaries: one poll admits the whole
    // archive even under a 4-byte budget (per-archive progress guarantee)
    val o1 = s.latestOffset(s.initialOffset(), ReadLimit.maxBytes(4))
      .asInstanceOf[TailOffset]
    assert(o1.epoch == 0L && o1.pos == Files.size(agz), s"whole gz admitted: $o1")

    // the other rotation codecs stay rejected (only gzip is implemented)
    val xz = dir.resolve("a.log.2.xz")
    Files.write(xz, Array[Byte](0xfd.toByte, 0x37, 0x7a, 0x58, 0x5a, 0x00))
    intercept[IllegalArgumentException] {
      new TailFileMicroBatchStream(live.toString, fromStart = true,
        backfill = Seq(xz.toString))
    }
  }

  test("gz ranges: replay-deterministic bounds, truncated stream ends gracefully, growth never re-delivers") {
    import graft.sources.{TailRange, TailRangeReader}
    def gzBytes(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes); gz.close()
      bos.toByteArray
    }
    def readAll(range: TailRange): Seq[String] = {
      val r = new TailRangeReader(range)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (r.next()) out += r.get().getUTF8String(1).toString
      r.close()
      out.toSeq
    }
    val full = gzBytes("l1\nl2\nl3\n")
    val f = Files.createTempFile("graft-gz-grow", ".log.gz")

    // REPLAY DETERMINISM: the compressed input is bounded at range.end —
    // a task retry after the archive grew (junk appended here) must
    // deliver exactly the planned bytes' content, not the grown file's
    Files.write(f, full ++ Array.fill[Byte](64)(0x7f))
    assert(readAll(TailRange(f.toString, 0L, 0L, full.length.toLong,
      emitTrailing = true, gz = true)) == Seq("l1", "l2", "l3"))
    // a grown-archive follow-up range (start > 0) re-delivers NOTHING:
    // gzip cannot resume mid-stream, and from-0 would double-count
    assert(readAll(TailRange(f.toString, 0L, full.length.toLong,
      full.length.toLong + 64L, emitTrailing = true, gz = true)).isEmpty)

    // a TRUNCATED gz (crash during logrotate compression; magic passes
    // pre-flight) delivers the decoded prefix instead of crash-looping
    val g = Files.createTempFile("graft-gz-trunc", ".log.gz")
    Files.write(g, full.dropRight(9))
    val prefix = readAll(TailRange(g.toString, 0L, 0L,
      (full.length - 9).toLong, emitTrailing = true, gz = true))
    assert(Seq("l1", "l2", "l3").startsWith(prefix),
      s"decoded prefix only, no exception: $prefix")
  }

  test("backlog gauge across an unadmitted rotation: new generation reported under a bumped epoch") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("graft-gauge-rot")
    val f = dir.resolve("x.log")
    Files.write(f, "aaaa\n".getBytes)
    val s = new TailFileMicroBatchStream(f.toString, fromStart = true)
    val o = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(o.pos == 5L)
    // move+recreate with a LONGER replacement, before any admit sees it:
    // the gauge must not subtract positions of two different files
    Files.move(f, dir.resolve("x.log.1"))
    Files.write(f, "bbbbbbbbbb\n".getBytes)
    val r = s.reportLatestOffset().asInstanceOf[TailOffset]
    assert(r.epoch == o.epoch + 1 && r.pos == 11L,
      s"new generation under a bumped epoch (whole file = backlog): $r")
  }

  test("growing the backfill chain across a restart is rejected, not silently remapped") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    val live = Files.createTempFile("graft-grow-live", ".log")
    val arch = Files.createTempFile("graft-grow-arch", ".log")
    Files.write(live, "l1\n".getBytes)
    Files.write(arch, "a1\n".getBytes)
    // a checkpoint written WITHOUT backfill holds a live-keyed offset;
    // restoring it into a stream configured WITH backfill would reinterpret
    // the epoch as an archive index (skipped history + live re-read) — the
    // stream must fail fast instead
    val plain = new TailFileMicroBatchStream(live.toString, fromStart = true)
    val liveOffset = plain.latestOffset().asInstanceOf[TailOffset]
    assert(liveOffset.fileKey.nonEmpty, "live offsets carry the file identity")
    val grown = new TailFileMicroBatchStream(live.toString, fromStart = true,
      backfill = Seq(arch.toString))
    intercept[IllegalArgumentException] {
      grown.deserializeOffset(liveOffset.json())
    }
    // the legal directions still restore: mid-archive under the SAME chain,
    // and post-drain with the chain REMOVED (live generation continues)
    val same = new TailFileMicroBatchStream(live.toString, fromStart = true,
      backfill = Seq(arch.toString))
    same.deserializeOffset(TailOffset(0L, 0L, "").json()) // mid-archive: ok
    val shrunk = new TailFileMicroBatchStream(live.toString, fromStart = true)
    shrunk.deserializeOffset(TailOffset(1L, 0L, "(dev=1;ino=2)").json()) // post-drain: ok
  }

  test("drain clamp: a live generation rotated away mid-backfill ends the drain, no mid-line clamp") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("graft-clamp")
    val live = dir.resolve("live.log")
    val arch = dir.resolve("arch.log")
    Files.write(arch, "a-one\n".getBytes)
    Files.write(live, "l-one\n".getBytes)
    val s = new TailFileMicroBatchStream(live.toString, fromStart = true,
      backfill = Seq(arch.toString))
    s.prepareForTriggerAvailableNow()
    // first poll captures the goal (live EOF of THIS generation) and admits
    // the archive
    val o1 = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(o1.epoch == 0L && o1.pos == 6L, s"archive admitted first: $o1")
    // the live file is REPLACED while the archive drains (move-aside keeps
    // the old inode alive so the replacement is a genuinely new identity),
    // and the new generation grows PAST the goal position
    Files.move(live, dir.resolve("live.log.1"))
    Files.write(live, "other-gen-long-line\nx\n".getBytes)
    // the hand-over lands in the new generation past the goal: the old
    // clamp would checkpoint the goal position MID-LINE in the new file;
    // the fix reports no progress (the goal's generation is gone) and the
    // drain ends exactly like the epoch-overtake case
    val o2 = s.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[TailOffset]
    assert(o2 == o1, s"rotated-away goal generation must end the drain: $o2")
  }

  test("range reader streams in bounded chunks: a >chunk-size range never buffers whole") {
    // regression pin for the Int-overflow/whole-range-buffer class: with
    // the unbounded default, --from-start plans ONE range over the entire
    // backlog — the reader must stream it (the old whole-range
    // readFully overflowed Array[Byte]'s Int length past 2 GiB). A tiny
    // chunk size forces every line to span refills; output must equal the
    // trivial split, seq = absolute line-start byte offsets under the
    // epoch base.
    import graft.sources.{TailRange, TailRangeReader}
    val f = Files.createTempFile("graft-chunked", ".log")
    val content = "alpha\n" + ("b" * 23) + "\n\n" + ("c" * 7) + "\ntail-no-newline"
    Files.write(f, content.getBytes)
    def readAll(range: TailRange, chunk: Int): Seq[(Long, String)] = {
      val r = new TailRangeReader(range, chunkSize = chunk)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      while (r.next()) {
        val row = r.get()
        out += ((row.getLong(0), row.getUTF8String(1).toString))
      }
      r.close()
      out.toSeq
    }
    val epoch = 3L
    val base = epoch << 44
    val expectedLines = Seq(
      (base | 0L, "alpha"),
      (base | 6L, "b" * 23),
      (base | 30L, ""),
      (base | 31L, "c" * 7),
      (base | 39L, "tail-no-newline"))
    val arch = TailRange(f.toString, epoch, 0L, content.length.toLong,
      emitTrailing = true)
    for (chunk <- Seq(1, 4, 7, 64 * 1024))
      assert(readAll(arch, chunk) == expectedLines, s"chunkSize=$chunk")
    // live form: end is a line boundary, the trailing partial stays unread
    val live = TailRange(f.toString, epoch, 0L, 39L)
    assert(readAll(live, 4) == expectedLines.init)
    // mid-range start: seq offsets stay absolute
    val mid = TailRange(f.toString, epoch, 6L, 39L)
    assert(readAll(mid, 4) == expectedLines.slice(1, 4))
  }

  test("reportLatestOffset is O(1) raw tail: pending partial bytes count; admission stays line-aligned") {
    import graft.sources.{TailFileMicroBatchStream, TailOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val f = Files.createTempFile("graft-rawtail", ".log")
    Files.write(f, "a\nbb".getBytes) // 2-byte boundary + 2 pending bytes
    val s = new TailFileMicroBatchStream(f.toString, fromStart = true)
    val admitted = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(admitted.pos == 2L, "admission cuts to the line boundary")
    val reported = s.reportLatestOffset().asInstanceOf[TailOffset]
    assert(reported.pos == 4L,
      "the gauge tail is the raw EOF — an unterminated line IS pending backlog")

    // mid-backfill the gauge counts EVERYTHING still to process: remaining
    // archive bytes (stat, not scan) + the live length
    val a1 = Files.createTempFile("graft-rawtail-a1", ".log")
    val a2 = Files.createTempFile("graft-rawtail-a2", ".log")
    Files.write(a1, "12345\n".getBytes) // 6 bytes
    Files.write(a2, "123\n".getBytes) // 4 bytes
    val bf = new TailFileMicroBatchStream(f.toString, fromStart = true,
      backfill = Seq(a1.toString, a2.toString))
    bf.initialOffset()
    val r0 = bf.reportLatestOffset().asInstanceOf[TailOffset]
    assert(r0.pos == 6L + 4L + 4L, s"archives + live backlog: $r0")
    // admit past the first archive: its bytes leave the gauge
    val o1 = bf.latestOffset(bf.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(o1 == TailOffset(0L, 6L, ""), o1.toString)
    assert(bf.reportLatestOffset().asInstanceOf[TailOffset].pos == 4L + 4L,
      "a drained archive's bytes leave the backlog gauge")
  }

  test("single-scan delivery fold: one byte-range read per micro-batch, counts exact") {
    val f = Files.createTempFile("graft-tail-scan", ".log")
    val ckpt = Files.createTempDirectory("graft-tail-scan-ckpt").toString
    val dt = "2024.03.01 12:00:01.000000"
    val lines = spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", f.toString)
      .option("fromStart", "true")
      .load()
    val outs = StreamingMerge.mergeWithDelivery(lines, timeoutMs = 0L)
    val read = new java.util.concurrent.atomic.AtomicLong
    val tailErr = new java.util.concurrent.atomic.AtomicLong
    val nonEmptyBatches = new java.util.concurrent.atomic.AtomicLong
    val before = graft.sources.TailFileSource.rangesOpened.get()
    val q = outs.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingMerge.MergeOut], _: Long) =>
        // ONE action per batch: the scan, parse, fold, and merge all run
        // in this single job — that is the property under test
        val evs = b.collect()
        if (evs.nonEmpty) nonEmptyBatches.incrementAndGet()
        evs.foreach {
          case o if o.out == "read_line" => read.addAndGet(o.n); ()
          case o if o.out == "tail_line" => tailErr.addAndGet(o.n); ()
          case _ => ()
        }
      }.start()
    try {
      append(f, s"$dt [ 7 ] {s1} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 1\n")
      append(f, "not a clickhouse line at all\n")
      q.processAllAvailable()
      Files.write(f, "corrupt � delivery failure\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8), StandardOpenOption.APPEND)
      append(f, s"$dt [ 7 ] {s2} <Debug> executeQuery: (from 10.0.0.9:9000) SELECT 2\n")
      q.processAllAvailable()
      // read_lines counts every DELIVERED line (matched or not); the
      // corrupt line routes to the tail_line side channel (main.go:113-120)
      assert(read.get() == 3L, s"delivered lines: ${read.get()}")
      assert(tailErr.get() == 1L, s"tail errors: ${tailErr.get()}")
      val opened = graft.sources.TailFileSource.rangesOpened.get() - before
      assert(opened == nonEmptyBatches.get(),
        s"each non-empty micro-batch must read its range ONCE " +
          s"(ranges opened $opened, non-empty batches ${nonEmptyBatches.get()})")
    } finally q.stop()
  }
}

object TailFileSourceSpec {
  /** Cross-restart sink buffer (foreachBatch closures need driver-shared state). */
  val sunk: java.util.concurrent.ConcurrentLinkedQueue[(Long, String)] =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
}
