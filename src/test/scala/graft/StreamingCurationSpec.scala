package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, Tables}
import graft.streaming.StreamingCuration

/** The streaming curation-ingest twin: dedup → repetition → classifier →
  * mixture → incremental packing over micro-batches must reproduce the
  * batch `CurationPipeline.e2e` pass row-for-row on the same corpus,
  * ingested in two halves with a checkpointed restart between them. */
class StreamingCurationSpec extends SparkSpec {

  private def addFile(df: org.apache.spark.sql.DataFrame, srcDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_cur_half").toString
    df.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(srcDir, name))
    ()
  }

  private def scenario(): Unit = {
    val docs = Tables.load(spark, sf(), "documents")
      .select("doc_id", "text", "source", "n_chars")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)

    val srcDir = Files.createTempDirectory("graft_cur_src").toString
    val outPath = Files.createTempDirectory("graft_cur_out").toString + "/packed"
    val ckpt = Files.createTempDirectory("graft_cur_ckpt").toString

    def runOnce(): Unit = {
      val in = spark.readStream.schema(docs.schema).parquet(srcDir)
      val q = StreamingCuration.ingestTo(spark, in, outPath, ckpt, availableNow = true)
      try assert(q.awaitTermination(180000L), "the run must terminate on its own")
      finally q.stop()
    }

    // run 1: the id-ordered first half (ingest order = id order is the
    // documented equivalence contract — arrival order IS packing order)
    addFile(docs.filter(col("doc_id") < mid), srcDir, "half1.parquet")
    runOnce()
    val afterHalf1 = spark.read.parquet(outPath)
      .select("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .collect().map(_.toSeq).toSet
    val batchHalf1 = CurationPipeline.e2e(docs.filter(col("doc_id") < mid))
      .collect().map(_.toSeq).toSet
    assert(afterHalf1 == batchHalf1,
      s"half-1 mismatch: stream-only ${(afterHalf1 -- batchHalf1).take(3)}, " +
        s"missing ${(batchHalf1 -- afterHalf1).take(3)}")
    assert(afterHalf1.nonEmpty, "the curated half must keep documents")

    // restart: second half arrives while the query is down; the dedup
    // state, checkpoint, and per-source packing bases must all resume
    addFile(docs.filter(col("doc_id") >= mid), srcDir, "half2.parquet")
    runOnce()
    val streamed = spark.read.parquet(outPath)
      .select("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .collect().map(_.toSeq).toSet
    val batch = CurationPipeline.e2e(docs).collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-only ${(streamed -- batch).take(5)}, missing ${(batch -- streamed).take(5)}")
    assert(streamed.size > afterHalf1.size, "half 2 must add documents")

    // idle re-run: no new files -> no new batches -> sink unchanged
    runOnce()
    val again = spark.read.parquet(outPath).count()
    assert(again == streamed.size.toLong, "idle restart must not duplicate rows")
  }

  test("incremental ingest equals the batch e2e pass across a checkpointed restart") {
    scenario()
  }

  test("packBatch holds at many-source cardinality (broadcast-join bases, not a when-chain)") {
    import spark.implicits._
    // 2000 sources: the former foldLeft when-chain literal built a
    // 2000-deep expression tree here (codegen/plan blowup at the
    // documented per-domain source scale); the broadcast join is flat
    val n = 2000
    val bases = (0 until n).map(i => f"src$i%04d" -> i * 1000L).toMap
    val batch = (0 until n).map(i => (f"src$i%04d", i.toLong, "a b c")) // 3 tokens each
      .toDF("source", "doc_id", "text")
    val packed = StreamingCuration.packBatch(batch, bases, budget = 512L)
      .select("source", "tok_offset", "n_tokens").collect()
    assert(packed.length == n)
    packed.foreach { r =>
      val i = r.getString(0).stripPrefix("src").toInt
      assert(r.getLong(1) == i * 1000L, s"base must shift source ${r.getString(0)}")
      assert(r.getLong(2) == 3L)
    }
    // a source with NO base entry starts at 0 (left join + coalesce)
    val fresh = StreamingCuration.packBatch(
      Seq(("unknown", 7L, "x y")).toDF("source", "doc_id", "text"), bases)
      .select("tok_offset").head().getLong(0)
    assert(fresh == 0L)
  }

  test("same ingest equivalence under the RocksDB state store provider (the 100x-scale store)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try scenario()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** TTL semantics pin for the dedup horizon: an evicted fingerprint
    * RE-ADMITS — "at most one copy per horizon", not "one copy ever".
    * Deterministic drive: the deadline is 1 ms of processing time, each
    * run is separated by a real sleep, and the middle run carries data
    * for a DIFFERENT key (expired keys fire their timeout in any batch
    * where they receive no rows). */
  private def ttlScenario(): Unit = {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_cur_ttl_src").toString
    val ckpt = Files.createTempDirectory("graft_cur_ttl_ckpt").toString
    val sunk = StreamingCurationSpec.sunkIds
    sunk.clear()
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "web", t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
    val schema = docs((0L, "x")).schema

    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).parquet(srcDir)
        .as[StreamingCuration.IngestDoc]
      // Trigger.Once, deliberately: exactly ONE micro-batch per run. With
      // armed processing-time timers the engine keeps constructing empty
      // timeout batches, so neither processAllAvailable nor AvailableNow
      // ever drains — the same hazard StreamingMerge's timeoutMs<=0 note
      // documents for its own eviction timer.
      val q = StreamingCuration.firstArrivalsMinIdTtl(in, ttlMs = 1L)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingCuration.IngestDoc], _: Long) =>
          batch.collect().foreach(d => StreamingCurationSpec.sunkIds.add(d.doc_id))
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
      ()
    }
    import scala.jdk.CollectionConverters._

    // run 1: two copies of "aaa" → the min-id copy admits, once
    addFile(docs((1L, "aaa"), (2L, "aaa")), srcDir, "b1.parquet")
    runOnce()
    assert(sunk.asScala.toSet == Set(1L))

    // run 2 (after the horizon): a batch carrying only ANOTHER key — the
    // expired "aaa" mark fires its timeout here and is evicted; within
    // run 1 the duplicate was still suppressed
    Thread.sleep(150L)
    addFile(docs((3L, "bbb")), srcDir, "b2.parquet")
    runOnce()
    assert(sunk.asScala.toSet == Set(1L, 3L), "eviction emits nothing")

    // run 3: "aaa" returns after eviction → RE-ADMITTED (the documented
    // weakening vs the unbounded form, which would suppress forever)
    Thread.sleep(150L)
    addFile(docs((9L, "aaa")), srcDir, "b3.parquet")
    runOnce()
    assert(sunk.asScala.toSet == Set(1L, 3L, 9L),
      s"an evicted fingerprint must re-admit: ${sunk.asScala.toSet}")
  }

  test("--near-index admission across --once runs: variants of persisted admissions drop before packing") {
    val docs = Tables.load(spark, sf(), "documents")
      .select("doc_id", "text", "source", "n_chars")
    val runA = docs.filter(col("doc_id") < 60)
    val idxPath = Files.createTempDirectory("graft_near_idx").toString + "/idx"

    def gateFor(): graft.streaming.IngestGate =
      Ingest.nearGate(spark, Ingest.Config(src = "s", out = "o", checkpoint = "c",
        nearIndex = Some(idxPath))).get

    def drive(srcDir: String, outPath: String, ckpt: String,
        gate: Option[graft.streaming.IngestGate]): Unit = {
      val in = spark.readStream.schema(docs.schema).parquet(srcDir)
      val q = StreamingCuration.ingestTo(spark, in, outPath, ckpt,
        availableNow = true, nearGate = gate)
      assert(q.awaitTermination(180000L))
      gate.foreach(_.flush()) // the --once clean-shutdown fold + persist
    }

    // gated pipeline and ungated CONTROL consume identical file sequences
    val (srcG, outG, ckptG) = (Files.createTempDirectory("graft_ni_src").toString,
      Files.createTempDirectory("graft_ni_out").toString + "/packed",
      Files.createTempDirectory("graft_ni_ck").toString)
    val (srcC, outC, ckptC) = (Files.createTempDirectory("graft_nic_src").toString,
      Files.createTempDirectory("graft_nic_out").toString + "/packed",
      Files.createTempDirectory("graft_nic_ck").toString)

    addFile(runA, srcG, "a.parquet"); addFile(runA, srcC, "a.parquet")
    drive(srcG, outG, ckptG, Some(gateFor())) // run 1: fresh (empty) index
    val packed1 = spark.read.parquet(outG).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(packed1.nonEmpty)

    // run 2 input: one-word variants of three run-1 PACKED docs (near-dups
    // at the shingle level, not exact — the in-stream exact dedup cannot
    // catch them) plus untouched later docs
    // many candidates: the curation pipeline's content-hash mixture
    // sampling legitimately drops some variants (new text => new hash), so
    // the assertion calibrates on the ones the CONTROL run keeps
    val variantBase = docs.filter(col("doc_id").isin(packed1.take(15).toSeq: _*))
    val variants = variantBase.select(
      (col("doc_id") + 10000L).as("doc_id"),
      concat(col("text"), lit(" extravariantword")).as("text"),
      col("source"), (col("n_chars") + 17L).as("n_chars"))
    val runB = variants.unionByName(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 90))
    addFile(runB, srcG, "b.parquet"); addFile(runB, srcC, "b.parquet")

    // gated run 2 resumes from the PERSISTED index (a fresh gate instance
    // — the daemon restarted); control runs ungated
    drive(srcG, outG, ckptG, Some(gateFor()))
    drive(srcC, outC, ckptC, None)

    val gated = spark.read.parquet(outG).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val control = spark.read.parquet(outC).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val variantIds = packed1.take(15).map(_ + 10000L)
    // the surviving variants clear every curation filter (control keeps
    // them)…
    val survivors = variantIds.intersect(control)
    assert(survivors.size >= 3,
      s"need >= 3 variants surviving the control filters, got $survivors")
    // …so their absence from the gated run is the near-index admission
    assert(survivors.forall(!gated.contains(_)),
      s"near variants must be rejected by the persisted index: ${survivors.intersect(gated)}")
    // and genuinely new docs still flow through the gated pipeline
    val freshKept = control.filter(id => id >= 60 && id < 90)
    assert(freshKept.nonEmpty && freshKept.subsetOf(gated),
      "fresh docs must pack identically with the gate on")
  }

  test("dedup TTL variant: evicted fingerprints re-admit past the horizon") {
    ttlScenario()
  }

  test("same dedup TTL semantics under the RocksDB state store provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try ttlScenario()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("--bm25-stats: the ingest loop folds living retrieval stats; compaction and swallowed replays stay exact") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sf(), "documents")
      .select("doc_id", "text", "source", "n_chars")
    val a = docs.filter(col("doc_id") < 60)
    val b = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)

    val src = Files.createTempDirectory("graft_bmstats_src").toString
    val out = Files.createTempDirectory("graft_bmstats_out").toString + "/packed"
    val ckpt = Files.createTempDirectory("graft_bmstats_ck").toString
    val statsPath = Files.createTempDirectory("graft_bmstats").toString + "/stats"
    // the CLI's bootstrap: zeros are the additive identity
    TextAnalysis.Bm25Files.save(TextAnalysis.emptyBm25Stats(spark), statsPath)

    def drive(): Unit = {
      val in = spark.readStream.schema(docs.schema).parquet(src)
      val q = StreamingCuration.ingestTo(spark, in, out, ckpt,
        availableNow = true, statsPath = Some(statsPath))
      assert(q.awaitTermination(180000L))
    }
    addFile(a, src, "a.parquet"); drive()
    addFile(b, src, "b.parquet"); drive() // restart: stats resume from disk

    // id-ordered arrival ⇒ the streamed admitted population equals the
    // batch-mode curated pass over the union (the suite's equivalence
    // contract), so the folded stats must equal a one-shot build over it
    val expected = TextAnalysis.bm25Stats(
      StreamingCuration.curated(a.unionByName(b))
        .filter(col("source").isNotNull)).collect().toSeq
    assert(expected.head.getAs[Long]("n_docs") > 0)
    assert(TextAnalysis.Bm25Files.load(spark, statsPath).collect().toSeq == expected,
      "folded per-batch deltas must equal the one-shot stats over the admitted union")

    // compaction folds the chain into a stamped base, contents identical;
    // a replay whose id the stamp already swallowed must SKIP (its
    // content is in the base — folding it again would double-count)
    TextAnalysis.Bm25Files.compact(spark, statsPath)
    assert(TextAnalysis.Bm25Files.load(spark, statsPath).collect().toSeq == expected)
    assert(TextAnalysis.Bm25Files.saveDeltaAt(
      TextAnalysis.bm25Stats(a), statsPath, 1L).isEmpty,
      "a swallowed batch id must skip, not re-fold")
    assert(TextAnalysis.Bm25Files.load(spark, statsPath).collect().toSeq == expected)
    graft.operators.IndexFiles.delete(spark, statsPath)
  }

  test("--bm25-compact-every: the ingest loop itself bounds the stats delta chain") {
    import spark.implicits._
    import graft.operators.{IndexFiles, TextAnalysis}
    val out = Files.createTempDirectory("graft_bmce_out").toString + "/packed"
    val statsPath = Files.createTempDirectory("graft_bmce").toString + "/stats"
    TextAnalysis.Bm25Files.save(TextAnalysis.emptyBm25Stats(spark), statsPath)

    // drive the run body directly: every landed delta compacts (cadence 1),
    // so no delta_<id> dir may survive any batch
    val run = new StreamingCuration.CurationRun(spark, out, budget = 8L,
      nearGate = None,
      statsPath = Some(statsPath), statsCompactEvery = 1, outCompactEvery = 0)
    def batchDf(lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 3).map(i => (i, s"merge window w$i", "web", 10L))
        .toDF("doc_id", "text", "source", "n_chars")
    run.onBatch(batchDf(0), 0)
    assert(IndexFiles.numbered(spark, statsPath, "delta_").isEmpty,
      "cadence 1 must compact every landed delta")
    run.onBatch(batchDf(10), 1)
    assert(IndexFiles.numbered(spark, statsPath, "delta_").isEmpty)
    val expected = TextAnalysis.bm25Stats(
      batchDf(0).unionByName(batchDf(10))).collect().toSeq
    assert(TextAnalysis.Bm25Files.load(spark, statsPath).collect().toSeq == expected,
      "compaction inside the loop must stay contents-identical")
    IndexFiles.delete(spark, statsPath)
  }
}

object StreamingCurationSpec {
  /** Cross-restart sink buffer (foreachBatch closures need driver-shared state). */
  val sunkIds: java.util.concurrent.ConcurrentLinkedQueue[Long] =
    new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}
