package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.streaming.StreamingDedup

/** Streaming exact-dedup: first arrival per distinct text survives, later
  * copies are dropped across micro-batches AND query restarts (checkpointed
  * state), and the watermark-bounded variant re-admits a text once its
  * fingerprint state has aged out. */
class StreamingDedupSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val tsSchema = schema.add(StructField("ts", TimestampType))

  private def writeJson(dir: java.io.File, name: String, lines: Seq[String]): Unit =
    Files.write(new java.io.File(dir, name).toPath,
      lines.mkString("\n").getBytes("UTF-8"))

  test("dups dropped across micro-batches and restarts; state keys are fingerprints") {
    val src = Files.createTempDirectory("graft_sdedup_src").toFile
    val ckpt = Files.createTempDirectory("graft_sdedup_ckpt").toFile.getAbsolutePath
    StreamingDedupSpec.emitted.clear()

    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).json(src.getAbsolutePath)
      val q = StreamingDedup.firstOccurrences(in).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingDedupSpec.emitted.addAll(
            batch.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq.asJava)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
    }

    // run 1: A B A C -> exactly one A, one B, one C; the kept A is the
    // first arrival (doc 1, not doc 3)
    writeJson(src, "b1.json", Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta"}""",
      """{"doc_id": 3, "text": "alpha"}""",
      """{"doc_id": 4, "text": "gamma"}"""))
    runOnce()
    val r1 = StreamingDedupSpec.emitted.asScala.toSeq
    assert(r1.map(_._2).sorted == Seq("alpha", "beta", "gamma"))
    assert(r1.toMap.apply(1L) == "alpha" && !r1.exists(_._1 == 3L))

    // run 2 (restart from checkpoint): a late copy of alpha is suppressed
    // ONLY IF run 1's fingerprint state was recovered; delta is new
    writeJson(src, "b2.json", Seq(
      """{"doc_id": 5, "text": "alpha"}""",
      """{"doc_id": 6, "text": "delta"}"""))
    runOnce()
    val r2 = StreamingDedupSpec.emitted.asScala.toSeq.drop(r1.length)
    assert(r2 == Seq((6L, "delta")), s"run 2 emitted $r2")
  }

  test("streaming ingest pipeline: mixture sampling + repetition filter + dedup compose; matches the batch result") {
    import graft.operators.{Sampling, TextAnalysis}
    val src = Files.createTempDirectory("graft_spipe_src").toFile
    val ckpt = Files.createTempDirectory("graft_spipe_ckpt").toFile.getAbsolutePath
    StreamingDedupSpec.emitted.clear()

    val srcSchema = schema.add(StructField("source", StringType))
    val rates = Map("keepall" -> 1.0)
    // 12-token unique-bigram texts pass the repetition filter; the 'spam'
    // doc fails it; the dup text must be dropped by dedup across batches
    val okA = "one two three four five six seven eight nine ten eleven twelve"
    val okB = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b1 = Seq(
      s"""{"doc_id": 1, "text": "$okA", "source": "keepall"}""",
      s"""{"doc_id": 2, "text": "spam spam spam spam spam spam", "source": "keepall"}""")
    val b2 = Seq(
      s"""{"doc_id": 3, "text": "$okA", "source": "keepall"}""",
      s"""{"doc_id": 4, "text": "$okB", "source": "keepall"}""")

    def runOnce(): Unit = {
      val in = spark.readStream.schema(srcSchema).json(src.getAbsolutePath)
      // the same map-side keep conditions the batch/typed APIs use, then the
      // stateful dedup — filters compose with a stream like with any frame
      val cleaned = in
        .filter(Sampling.keepCondition(rates, 1.0))
        .filter(TextAnalysis.repetitionKeep())
      val q = StreamingDedup.firstOccurrences(cleaned).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingDedupSpec.emitted.addAll(
            batch.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq.asJava)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
    }

    writeJson(src, "b1.json", b1)
    runOnce()
    writeJson(src, "b2.json", b2)
    runOnce()
    val streamed = StreamingDedupSpec.emitted.asScala.toSeq.map(_._1).sorted

    // batch twin over the same corpus: same filters, exact dedup keeps the
    // first (minimum) id — identical survivors
    import spark.implicits._
    val all = (b1 ++ b2).map { j =>
      val m = ujsonish(j); (m("doc_id").toLong, m("text"), m("source"))
    }.toDF("doc_id", "text", "source")
    val batchKept = graft.operators.Dedup.exact(
      all.filter(Sampling.keepCondition(rates, 1.0))
        .filter(TextAnalysis.repetitionKeep()))
      .select("keep_id").collect().map(_.getLong(0)).sorted
    assert(streamed.sameElements(batchKept), s"streamed $streamed vs batch ${batchKept.toSeq}")
    assert(streamed == Seq(1L, 4L))
  }

  /** Minimal JSON-object field extractor for the fixture lines (keys are
    * known, values have no escapes). */
  private def ujsonish(j: String): Map[String, String] =
    """"(\w+)":\s*(?:"([^"]*)"|(\d+))""".r.findAllMatchIn(j)
      .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap

  test("watermark-bounded dedup re-admits a text after its state ages out") {
    val src = Files.createTempDirectory("graft_sdedup_wm_src").toFile
    val ckpt = Files.createTempDirectory("graft_sdedup_wm_ckpt").toFile.getAbsolutePath
    StreamingDedupSpec.emitted.clear()

    def runOnce(): Unit = {
      val in = spark.readStream.schema(tsSchema).json(src.getAbsolutePath)
      val q = StreamingDedup.firstOccurrencesWithinWatermark(in, "ts", "10 minutes")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingDedupSpec.emitted.addAll(
            batch.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq.asJava)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
    }

    // b1: alpha at 10:00 -> emitted; watermark after the batch: 09:50
    writeJson(src, "b1.json", Seq(
      """{"doc_id": 1, "text": "alpha", "ts": "2024-03-01T10:00:00.000Z"}"""))
    runOnce()
    // b2: filler at 11:00 advances the watermark to 10:50 > 10:00 + 10min,
    // so alpha's fingerprint state is evicted
    writeJson(src, "b2.json", Seq(
      """{"doc_id": 2, "text": "beta", "ts": "2024-03-01T11:00:00.000Z"}"""))
    runOnce()
    // b3: alpha again at 11:00 -> re-admitted (state aged out)
    writeJson(src, "b3.json", Seq(
      """{"doc_id": 3, "text": "alpha", "ts": "2024-03-01T11:00:00.000Z"}"""))
    runOnce()
    val docs = StreamingDedupSpec.emitted.asScala.toSeq.map(_._1)
    assert(docs == Seq(1L, 2L, 3L), s"emitted $docs")
  }

  test("near-dup novelty gate: stream output equals Dedup.incremental on the same split, across a checkpointed restart") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = graft.operators.Tables.load(spark, sf(), "documents")
    val src = Files.createTempDirectory("graft_sdedup_near_src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft_sdedup_near_ckpt").toFile.getAbsolutePath
    StreamingDedupSpec.nearEmitted.clear()

    // the same parity split dedup_incremental uses: evens are the existing
    // corpus, odds arrive as the stream — in two micro-batches with a full
    // query restart between them
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val streamDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val splitId = streamDocs.agg(org.apache.spark.sql.functions.expr(
      "percentile_approx(doc_id, 0.5)")).head().getLong(0)
    // the corpus index is built once; each micro-batch gates against it
    val idx = graft.operators.Dedup.corpusIndex(corpus)
    val gate = (b: org.apache.spark.sql.DataFrame) =>
      graft.operators.Dedup.bestMatchAgainst(b, idx, 0.8)

    def runOnce(): Unit = {
      val in = spark.readStream
        .schema(streamDocs.select("doc_id", "text").schema)
        .parquet(src)
      val q = in.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingDedupSpec.nearEmitted.addAll(
            gate(batch).collect().map(r => (r.getAs[Long]("doc_id"),
              Option(r.get(r.fieldIndex("best_match"))).map(_.asInstanceOf[Long]),
              Option(r.get(r.fieldIndex("best_jaccard"))).map(_.asInstanceOf[Double]),
              r.getAs[Boolean]("novel"))).toSeq.asJava)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
    }

    streamDocs.filter(col("doc_id") <= splitId).select("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    val afterB1 = StreamingDedupSpec.nearEmitted.size()
    streamDocs.filter(col("doc_id") > splitId).select("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce() // restart from checkpoint: only the new files process
    val got = StreamingDedupSpec.nearEmitted.asScala.toSeq.sortBy(_._1)
    assert(afterB1 > 0 && got.size > afterB1, "both micro-batches must emit")
    assert(got.map(_._1).distinct.size == got.size, "restart must not replay batch 1")

    val want = graft.operators.Dedup.incremental(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.get(r.fieldIndex("best_match"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("best_jaccard"))).map(_.asInstanceOf[Double]),
        r.getAs[Boolean]("novel"))).toSeq.sortBy(_._1)
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("novel-against-corpus: corpus copies rejected by the stream-static anti join, in-stream dups by state, across restarts") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sdedup_corpus_src").toFile
    val ckpt = Files.createTempDirectory("graft_sdedup_corpus_ckpt").toFile.getAbsolutePath
    StreamingDedupSpec.emitted.clear()

    val corpus = Seq((100L, "existing one"), (101L, "existing two"))
      .toDF("doc_id", "text")

    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).json(src.getAbsolutePath)
      val q = StreamingDedup.novelAgainstCorpus(in, corpus).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingDedupSpec.emitted.addAll(
            batch.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq.asJava)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
    }

    // b1: a corpus copy (rejected), a novel doc (kept), its in-stream dup (dropped)
    writeJson(src, "b1.json", Seq(
      """{"doc_id": 1, "text": "existing one"}""",
      """{"doc_id": 2, "text": "fresh alpha"}""",
      """{"doc_id": 3, "text": "fresh alpha"}"""))
    runOnce()
    // b2 after restart: another corpus copy, a dup of b1's novel doc (state
    // recovered), and one genuinely new doc
    writeJson(src, "b2.json", Seq(
      """{"doc_id": 4, "text": "existing two"}""",
      """{"doc_id": 5, "text": "fresh alpha"}""",
      """{"doc_id": 6, "text": "fresh beta"}"""))
    runOnce()
    val kept = StreamingDedupSpec.emitted.asScala.toSeq
    assert(kept == Seq((2L, "fresh alpha"), (6L, "fresh beta")), s"kept $kept")
  }

  test("embedding novelty gate: stream output equals Similarity.embedNovelty on the same split, across a checkpointed restart") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val emb = graft.operators.Tables.load(spark, sf(), "embeddings")
    val src = Files.createTempDirectory("graft_semb_src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft_semb_ckpt").toFile.getAbsolutePath
    StreamingDedupSpec.embEmitted.clear()

    // the same parity split embed_novelty_gate uses: evens are the indexed
    // corpus, odds arrive as the stream — two micro-batches with a full
    // query restart between them
    val corpus = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val streamVecs = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val splitId = streamVecs.agg(org.apache.spark.sql.functions.expr(
      "percentile_approx(vec_id, 0.5)")).head().getLong(0)
    val idx = graft.operators.Similarity.embedIndex(corpus)
    val gate = (b: org.apache.spark.sql.DataFrame) =>
      graft.operators.Similarity.embedNoveltyAgainst(b, idx, 0.35)

    def runOnce(): Unit = {
      val in = spark.readStream
        .schema(streamVecs.select("vec_id", "label", "embedding").schema)
        .parquet(src)
      val q = in.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingDedupSpec.embEmitted.addAll(
            gate(batch).collect().map(r => (r.getAs[Long]("vec_id"),
              Option(r.get(r.fieldIndex("best_match"))).map(_.asInstanceOf[Long]),
              Option(r.get(r.fieldIndex("best_cos"))).map(_.asInstanceOf[Double]),
              r.getAs[Boolean]("novel"))).toSeq.asJava)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "the run must terminate on its own")
      finally q.stop()
    }

    streamVecs.filter(col("vec_id") <= splitId).select("vec_id", "label", "embedding")
      .write.mode("append").parquet(src)
    runOnce()
    val afterB1 = StreamingDedupSpec.embEmitted.size()
    streamVecs.filter(col("vec_id") > splitId).select("vec_id", "label", "embedding")
      .write.mode("append").parquet(src)
    runOnce() // restart from checkpoint: only the new files process
    val got = StreamingDedupSpec.embEmitted.asScala.toSeq.sortBy(_._1)
    assert(afterB1 > 0 && got.size > afterB1, "both micro-batches must emit")
    assert(got.map(_._1).distinct.size == got.size, "restart must not replay batch 1")

    val want = graft.operators.Similarity.embedNovelty(streamVecs, corpus).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        Option(r.get(r.fieldIndex("best_match"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("best_cos"))).map(_.asInstanceOf[Double]),
        r.getAs[Boolean]("novel"))).toSeq.sortBy(_._1)
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }
}

/** Cross-restart sink buffer (foreachBatch closures must reference
  * driver-side shared state). */
object StreamingDedupSpec {
  val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  val nearEmitted = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Option[Long], Option[Double], Boolean)]()
  val embEmitted = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Option[Long], Option[Double], Boolean)]()
}
