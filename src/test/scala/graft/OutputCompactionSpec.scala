package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, IndexFiles, Tables}
import graft.streaming.{OutputCompaction, StreamingCuration}

/** Curated-OUTPUT compaction — the small-files bound for the ingest
  * daemons' sinks (the one artifact family whose directory count grew one
  * per micro-batch forever while every index chain compacted):
  *
  *   - N batches + compaction yield a BOUNDED directory count with
  *     contents identical to the never-compacted union, across a
  *     checkpointed restart (per-source offset bases must rebuild from
  *     base ∪ live dirs, and the whole pass must still equal the batch
  *     e2e pipeline);
  *   - a REPLAY of an already-compacted batch (crash between compaction
  *     and checkpoint commit) skips landing instead of doubling its rows;
  *   - an interrupted sweep's dead batch dirs are invisible to reads and
  *     swept by the next compaction. */
class OutputCompactionSpec extends SparkSpec {

  private def addFile(df: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_oc_add").toString
    df.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(srcDir, name))
    ()
  }

  private def packedSet(df: DataFrame): Set[Seq[Any]] =
    df.select("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .collect().map(_.toSeq).toSet

  private def dirCounts(outPath: String): (Int, Int) = (
    IndexFiles.numbered(spark, outPath, OutputCompaction.BatchPrefix).size,
    IndexFiles.numbered(spark, outPath, OutputCompaction.BasePrefix).size)

  test("ingest with --out-compact-every: bounded dirs, contents ≡ batch e2e across a restart") {
    val docs = Tables.load(spark, sf(), "documents")
      .select("doc_id", "text", "source", "n_chars")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val q1 = ids(ids.length / 3); val q2 = ids(2 * ids.length / 3)

    val srcDir = Files.createTempDirectory("graft_oc_src").toString
    val outPath = Files.createTempDirectory("graft_oc_out").toString + "/packed"
    val ckpt = Files.createTempDirectory("graft_oc_ckpt").toString

    def runOnce(): Unit = {
      val in = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1) // one batch per file: exercises the cadence
        .parquet(srcDir)
      // minor every batch, aggressive tier policy (ratio 2, min 2) so the
      // size-tiered merges fire inside this tiny run
      val q = StreamingCuration.ingestTo(spark, in, outPath, ckpt,
        availableNow = true, outCompactEvery = 1,
        outMergeRatio = 2, outMergeMin = 2)
      try assert(q.awaitTermination(180000L), "the run must terminate on its own")
      finally q.stop()
    }

    // three id-ordered thirds across two runs with a restart between —
    // every landed batch compacts (cadence 1), so the restart's offset
    // bases must rebuild from the compacted segments alone
    addFile(docs.filter(col("doc_id") < q1), srcDir, "t1.parquet")
    runOnce()
    val (live1, segs1) = dirCounts(outPath)
    assert(segs1 == 1, s"first run must fold into one segment (got $segs1)")
    assert(live1 == 0, s"folded batch dirs must sweep (got $live1 live)")

    addFile(docs.filter(col("doc_id") >= q1 && col("doc_id") < q2), srcDir, "t2.parquet")
    addFile(docs.filter(col("doc_id") >= q2), srcDir, "t3.parquet")
    runOnce()

    val (live2, segs2) = dirCounts(outPath)
    assert(segs2 <= 2, s"the tier merges must bound segment count (got $segs2)")
    assert(live2 == 0, s"directory count must stay bounded (got $live2 live)")

    val streamed = packedSet(OutputCompaction.read(spark, outPath))
    val batch = packedSet(CurationPipeline.e2e(docs))
    assert(streamed == batch,
      s"compacted-output mismatch: stream-only ${(streamed -- batch).take(5)}, " +
        s"missing ${(batch -- streamed).take(5)}")
    assert(streamed.nonEmpty)

    // idle re-run: no new batches, nothing re-lands, nothing re-compacts
    runOnce()
    assert(packedSet(OutputCompaction.read(spark, outPath)) == streamed)
  }

  test("replay of an already-compacted batch skips landing (crash between compact and commit)") {
    import spark.implicits._
    val outPath = Files.createTempDirectory("graft_oc_replay").toString + "/packed"
    val run = new StreamingCuration.CurationRun(spark, outPath, budget = 8L,
      nearGate = None,
      statsPath = None, statsCompactEvery = 0, outCompactEvery = 2)
    def batchDf(lo: Long): DataFrame =
      (lo until lo + 4).map(i => (i, s"w$i x y z", "web", 10L))
        .toDF("doc_id", "text", "source", "n_chars")

    run.onBatch(batchDf(0), 0)
    run.onBatch(batchDf(100), 1) // cadence 2 -> compacts, stamp = 1
    assert(OutputCompaction.highWater(spark, outPath) == 1L)
    val settled = packedSet(OutputCompaction.read(spark, outPath))

    // the crash-window replay: same batch id, at/below the stamp — a
    // FRESH run (stamp read from disk) and the same run must both skip
    run.onBatch(batchDf(100), 1)
    val rerun = new StreamingCuration.CurationRun(spark, outPath, budget = 8L,
      nearGate = None,
      statsPath = None, statsCompactEvery = 0, outCompactEvery = 2)
    rerun.onBatch(batchDf(100), 1)
    assert(packedSet(OutputCompaction.read(spark, outPath)) == settled,
      "a replayed compacted batch must not re-land (its rows are in the base)")
    assert(dirCounts(outPath) == (0, 1))

    // the NEXT batch under the restarted run lands with offsets continuing
    // from the base totals
    rerun.onBatch(batchDf(200), 2)
    val after = OutputCompaction.read(spark, outPath)
    assert(after.count() == settled.size + 4L)
    val webOffsets = after.filter(col("source") === "web")
      .select("tok_offset", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // contiguous per-source packing: offsets tile [0, total) exactly
    val tiled = webOffsets.sortBy(_._1)
    assert(tiled.head._1 == 0L)
    tiled.sliding(2).foreach {
      case Array((o1, n1), (o2, _)) => assert(o2 == o1 + n1,
        s"offsets must continue across compaction+restart: $o1+$n1 != $o2")
      case _ =>
    }
  }

  test("interrupted sweep: dead batch dirs below the stamp are invisible and swept") {
    import spark.implicits._
    val outPath = Files.createTempDirectory("graft_oc_dead").toString + "/packed"
    val run = new StreamingCuration.CurationRun(spark, outPath, budget = 8L,
      nearGate = None,
      statsPath = None, statsCompactEvery = 0, outCompactEvery = 1)
    run.onBatch(Seq((1L, "a b c", "web", 5L)).toDF("doc_id", "text", "source", "n_chars"), 0)
    val settled = packedSet(OutputCompaction.read(spark, outPath))
    assert(OutputCompaction.highWater(spark, outPath) == 0L)

    // simulate the crash-between-publish-and-sweep leftover: a batch dir
    // at/below the stamp holding rows the base already incorporates
    Seq(("web", 1L, 3L, 0L, 0L, 0L))
      .toDF("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .write.mode("overwrite")
      .parquet(s"$outPath/${OutputCompaction.BatchPrefix}0")
    assert(packedSet(OutputCompaction.read(spark, outPath)) == settled,
      "dead dirs at/below the stamp must be invisible to reads")

    // the next compaction sweeps them even with nothing new to fold
    OutputCompaction.compact(spark, outPath)
    assert(dirCounts(outPath) == (0, 1))
    assert(packedSet(OutputCompaction.read(spark, outPath)) == settled)
  }

  test("VecIngest pipeline: compaction + replay skip, corpus reads through the base") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_oc_vec").toString
    val c = VecIngest.Config(src = s"$root/src", out = s"$root/out",
      checkpoint = s"$root/ckpt", index = s"$root/embed",
      pqIndex = Some(s"$root/pq"), centroidMod = 13,
      outCompactEvery = 1, once = true)
    def vecs(lo: Long, block: Int): DataFrame =
      (lo until lo + 6).map { i =>
        val a = Array.fill(64)(0.001f * (i % 3))
        (0 until 8).foreach(j => a(block + j) = 0.7f + 0.01f * ((i + j) % 5))
        (i, a.toSeq, block)
      }.toDF("vec_id", "embedding", "label")

    val pipe = new VecIngest.Pipeline(spark, c)
    pipe.onBatch(vecs(0, 0), 0)   // lands + compacts (stamp 0), bootstraps PQ
    pipe.onBatch(vecs(100, 8), 1) // lands + compacts (stamp 1)
    assert(OutputCompaction.highWater(spark, c.out) == 1L)
    val settled = OutputCompaction.read(spark, c.out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(settled == ((0L until 6L) ++ (100L until 106L)).toSet)

    // replay of batch 1 after its compaction, on a RESTARTED pipeline
    pipe.flush()
    val pipe2 = new VecIngest.Pipeline(spark, c)
    pipe2.onBatch(vecs(100, 8), 1)
    assert(OutputCompaction.read(spark, c.out)
      .select("vec_id").collect().map(_.getLong(0)).toSet == settled,
      "a replayed compacted batch must not double its vectors")
    assert(IndexFiles.numbered(spark, c.out, OutputCompaction.BatchPrefix).isEmpty)

    // a genuinely new batch still lands and compacts (minor segments
    // accumulate until a size tier fills; three minors at mergeMin 4)
    pipe2.onBatch(vecs(200, 16), 2)
    pipe2.flush()
    assert(OutputCompaction.read(spark, c.out).count() == settled.size + 6L)
    assert(OutputCompaction.segmentCount(spark, c.out) == 3)
    assert(IndexFiles.numbered(spark, c.out, OutputCompaction.BatchPrefix).isEmpty)
  }

  test("tiered LSM: minors are O(window) and leave prior segments untouched; a major merges; crash-mid-major leftovers are invisible") {
    import spark.implicits._
    val outPath = Files.createTempDirectory("graft_oc_tier").toString + "/packed"
    def land(id: Long): Unit =
      (id * 10 until id * 10 + 3).map(i => (i, "web", 2L, i * 2, 0L, 0L))
        .toDF("doc_id", "source", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
        .write.mode("overwrite")
        .parquet(s"$outPath/${OutputCompaction.BatchPrefix}$id")

    // three minors: one segment each, earlier segments never rewritten
    land(0); OutputCompaction.compact(spark, outPath, upTo = 0)
    val seg1Files = IndexFiles.fs(spark, outPath)
      .listStatus(new org.apache.hadoop.fs.Path(s"$outPath/${OutputCompaction.BasePrefix}1/data"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSeq.sorted
    land(1); OutputCompaction.compact(spark, outPath, upTo = 1)
    land(2); OutputCompaction.compact(spark, outPath, upTo = 2)
    assert(OutputCompaction.segmentCount(spark, outPath) == 3)
    val all = OutputCompaction.read(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all == (0 until 3).flatMap(id => id * 10 until id * 10 + 3).map(_.toLong).toSet)
    // O(window) evidence: segment 1's data files are bit-for-bit untouched
    // by the later minors (no O(corpus) rewrite on the minor tier)
    val seg1After = IndexFiles.fs(spark, outPath)
      .listStatus(new org.apache.hadoop.fs.Path(s"$outPath/${OutputCompaction.BasePrefix}1/data"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSeq.sorted
    assert(seg1After == seg1Files, "a minor must never rewrite prior segments")
    // small-FILES bound: a minor segment coalesces (the small-dirs fix must
    // not leave one shuffle-partition-count file set per segment)
    assert(seg1After.count(_._1.endsWith(".parquet")) <= 8,
      s"minor segment must coalesce its files: ${seg1After.map(_._1)}")

    // the major merges everything into one full segment
    OutputCompaction.compactFull(spark, outPath)
    assert(OutputCompaction.segmentCount(spark, outPath) == 1)
    assert(OutputCompaction.read(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == all)
    assert(OutputCompaction.highWater(spark, outPath) == 2L)

    // crash-mid-major simulation: a stale pre-major minor segment left by
    // an interrupted sweep (version below the full segment, rows the major
    // already holds) is invisible to reads and swept by the next compaction
    (0L until 3L).map(i => (i, "web", 2L, i * 2, 0L, 0L))
      .toDF("doc_id", "source", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .write.mode("overwrite").parquet(s"$outPath/${OutputCompaction.BasePrefix}1.tmp/data")
    Seq((0L, false)).toDF("last_batch", "full")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/${OutputCompaction.BasePrefix}1.tmp/meta")
    IndexFiles.publish(spark, s"$outPath/${OutputCompaction.BasePrefix}1.tmp",
      s"$outPath/${OutputCompaction.BasePrefix}1")
    assert(OutputCompaction.read(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == all,
      "stale pre-major segments must be invisible (rows would double)")
    OutputCompaction.compact(spark, outPath) // sweeps the stale leftover
    assert(IndexFiles.numbered(spark, outPath, OutputCompaction.BasePrefix).size == 1)
    assert(OutputCompaction.read(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == all)
    IndexFiles.delete(spark, outPath)
  }

  test("size-tiered merging over ~100 batches: bounded segments, O(n·log n) rewrite budget, contents identical, crash-claims honored") {
    import spark.implicits._
    val outPath = Files.createTempDirectory("graft_oc_stcs").toString + "/packed"
    val ratio = 2; val minMerge = 2
    val n = 100
    val rowsPerBatch = 1500 // data bytes dominate parquet overhead, so
                            // tier escape reflects real sizes
    var expected = Set.empty[Long]
    var landedBytes = 0L
    var rewritten = 0L
    def segSizes(): Seq[Long] =
      IndexFiles.numbered(spark, outPath, OutputCompaction.BasePrefix).map {
        case (_, p) =>
          IndexFiles.fs(spark, outPath).getContentSummary(
            new org.apache.hadoop.fs.Path(s"$p/data")).getLength
      }
    for (b <- 0 until n) {
      val lo = b.toLong * rowsPerBatch
      (lo until lo + rowsPerBatch)
        .map(i => (i, s"payload-$i-${"x" * 32}"))
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outPath/${OutputCompaction.BatchPrefix}$b")
      expected ++= (lo until lo + rowsPerBatch)
      val before = segSizes().sum
      OutputCompaction.compact(spark, outPath, upTo = b)
      landedBytes += segSizes().sum - before // the new minor segment
      rewritten += OutputCompaction.mergeTiers(spark, outPath,
        ratio = ratio, minMerge = minMerge)
      if (b % 20 == 19 || b == n - 1) {
        val got = OutputCompaction.read(spark, outPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(got == expected,
          s"batch $b: contents must survive every merge (missing ${(expected -- got).take(3)})")
      }
    }
    val segs = IndexFiles.numbered(spark, outPath, OutputCompaction.BasePrefix).size
    // steady-state bound: < minMerge segments per occupied tier (+1 full)
    val tiers = math.log(landedBytes.toDouble) / math.log(ratio.toDouble)
    assert(segs <= (minMerge - 1) * tiers.toInt + 2,
      s"segment count must stay tier-bounded: $segs segments after $n batches")
    assert(segs < n / 4, s"unbounded segment growth: $segs")
    // O(n·log n) rewrite budget: each byte moves at most once per tier it
    // climbs — log_ratio(n) climbs for n equal batches (slack 1.5 for
    // parquet re-encoding variance)
    val budget = (1.5 * landedBytes * (math.log(n.toDouble) / math.log(ratio.toDouble) + 1)).toLong
    assert(rewritten <= budget,
      s"rewrite volume broke the O(n·log n) budget: $rewritten > $budget (landed $landedBytes)")
    assert(rewritten > landedBytes,
      s"the tiers must actually have merged (rewritten $rewritten, landed $landedBytes)")

    // merges must RECORD their input claims (the crash shield: a merge
    // input's leftover stays invisible even before the sweep runs)
    val metas = IndexFiles.numbered(spark, outPath, OutputCompaction.BasePrefix)
      .map { case (_, p) => spark.read.parquet(s"$p/meta").head() }
    assert(metas.exists(_.getAs[scala.collection.Seq[Long]]("merged_from").nonEmpty),
      "tier merges must claim their inputs in the meta")

    // crash leftover below the full floor: resurrect an early version the
    // tiers long merged away — reads must ignore it (floor + claim rules),
    // the next merge pass must sweep it
    val staleV = {
      val tmp = s"$outPath/${OutputCompaction.BasePrefix}1.tmp"
      (0L until 5L).map(i => (i, "stale")).toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/data")
      Seq((0L, false)).toDF("last_batch", "full")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
      IndexFiles.publish(spark, tmp, s"$outPath/${OutputCompaction.BasePrefix}1")
      1L
    }
    assert(OutputCompaction.read(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == expected,
      "a resurrected stale version must stay invisible to reads")
    OutputCompaction.mergeTiers(spark, outPath, ratio = ratio, minMerge = minMerge)
    assert(!IndexFiles.numbered(spark, outPath, OutputCompaction.BasePrefix)
      .exists(_._1 == staleV), "the sweep must delete the stale leftover")
    assert(OutputCompaction.read(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == expected)
    IndexFiles.delete(spark, outPath)
  }
}
