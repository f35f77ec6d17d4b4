package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexFiles, Layout, PinnedCaches, Tables, TextAnalysis}
import graft.streaming.{IngestTelemetry, OutputCompaction, StreamingCuration}

/** EVERY daemon knob at once, across a restart — the cross-feature
  * interaction test (the r11 daemon-level e2e caught two real bugs the
  * per-feature specs missed): near-dup admission against the persisted
  * living index + living BM25 stats with in-loop compaction + bounded
  * admission (one file per trigger) + tiered output compaction + z-order
  * landing layout + telemetry, all against an ungated/unknobbed CONTROL
  * consuming identical file sequences. The knobs must change LAYOUT and
  * BOUNDS only — never admission semantics, packing, or the stats. */
class DaemonCompositionSpec extends SparkSpec {

  private def addFile(df: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_comp_add").toString
    df.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(part.toPath, Paths.get(srcDir, name))
    ()
  }

  test("all knobs on: semantics identical to the plain gated pipeline, bounds and stats hold across a restart") {
    val docs = Tables.load(spark, sf(), "documents")
      .select("doc_id", "text", "source", "n_chars")
    val runA = docs.filter(col("doc_id") < 60)

    val root = Files.createTempDirectory("graft_comp").toString
    val idxPath = s"$root/near"
    val statsPath = s"$root/bm25"
    val out = s"$root/packed"; val ckpt = s"$root/ckpt"; val src = s"$root/src"
    val outC = s"$root/packedC"; val ckptC = s"$root/ckptC"; val srcC = s"$root/srcC"
    TextAnalysis.Bm25Files.save(TextAnalysis.emptyBm25Stats(spark), statsPath)

    val telemetry = new IngestTelemetry
    def gateFor() = Ingest.nearGate(spark, Ingest.Config(src = "s", out = "o",
      checkpoint = "c", nearIndex = Some(idxPath), nearCompactEvery = 1)).get
    val layoutFn = Some((df: DataFrame) =>
      Layout.zOrderByNormalized(df, col("doc_id"), col("tok_offset"), partitions = 4))

    def driveAllOn(): Unit = {
      val gate = gateFor() // fresh gate per run = the daemon restarted
      val in = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamingCuration.ingestTo(spark, in, out, ckpt,
        availableNow = true, nearGate = Some(gate),
        statsPath = Some(statsPath), statsCompactEvery = 1,
        outCompactEvery = 1, outMergeRatio = 2, outMergeMin = 2,
        telemetry = Some(telemetry), layoutFn = layoutFn)
      assert(q.awaitTermination(180000L))
      gate.flush()
    }
    def driveControl(): Unit = {
      val in = spark.readStream.schema(docs.schema).parquet(srcC)
      val q = StreamingCuration.ingestTo(spark, in, outC, ckptC,
        availableNow = true, nearGate = Some(Ingest.nearGate(spark,
          Ingest.Config(src = "s", out = "o", checkpoint = "c",
            nearIndex = Some(s"$root/nearC"))).get))
      assert(q.awaitTermination(180000L))
    }

    addFile(runA, src, "a.parquet"); addFile(runA, srcC, "a.parquet")
    driveAllOn(); driveControl()
    val packed1 = OutputCompaction.read(spark, out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(packed1.nonEmpty)

    // run 2: near-dup variants of packed docs + genuinely new docs — the
    // admission decisions must come from the PERSISTED living index
    val variants = docs.filter(col("doc_id").isin(packed1.take(15).toSeq: _*))
      .select((col("doc_id") + 10000L).as("doc_id"),
        concat(col("text"), lit(" extravariantword")).as("text"),
        col("source"), (col("n_chars") + 17L).as("n_chars"))
    val runB = variants.unionByName(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 90))
    addFile(runB, src, "b.parquet"); addFile(runB, srcC, "b.parquet")
    driveAllOn(); driveControl()

    // 1. SEMANTICS: the all-knobs output row-set equals the plain gated
    // control's (layout/compaction/admission-bounds change file placement
    // and directory counts, never rows)
    def rows(df: DataFrame) = df
      .select("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .collect().map(_.toSeq).toSet
    val allOn = rows(OutputCompaction.read(spark, out))
    val control = rows(OutputCompaction.read(spark, outC))
    assert(allOn == control,
      s"knobs changed semantics: only-allOn ${(allOn -- control).take(3)}, " +
        s"only-control ${(control -- allOn).take(3)}")

    // 2. BOUNDS: output dirs bounded by the tiers; index delta chain and
    // stats delta chain compacted inside the loop
    assert(OutputCompaction.segmentCount(spark, out) <= 2)
    assert(IndexFiles.numbered(spark, out, OutputCompaction.BatchPrefix).isEmpty)
    assert(IndexFiles.numbered(spark, statsPath, "delta_").isEmpty)
    assert(IndexFiles.numbered(spark, idxPath, "delta_").isEmpty,
      "near-compact-every 1 must sweep every fold's delta")

    // 3. STATS: the living BM25 stats equal a one-shot build over exactly
    // the admitted (landed) population
    val gatedIds = OutputCompaction.read(spark, out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val population = docs.unionByName(variants)
      .filter(col("doc_id").isin(gatedIds.toSeq: _*))
    assert(TextAnalysis.Bm25Files.load(spark, statsPath).collect().toSeq ==
      TextAnalysis.bm25Stats(population).collect().toSeq,
      "in-loop stats compaction must stay exact over the admitted population")

    // 4. LAYOUT: the landed/compacted files are clustered (files > 1 and a
    // doc-id box prunes at least one file)
    val seg = IndexFiles.numbered(spark, out, OutputCompaction.BasePrefix).last._2
    val stats = spark.read.parquet(s"$seg/data")
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("doc_id").as("lo"), max("doc_id").as("hi")).collect()
    if (stats.length > 1) {
      val loAll = stats.map(_.getAs[Long]("lo")).min
      val t = stats.count(r => r.getAs[Long]("lo") <= loAll && r.getAs[Long]("hi") >= loAll)
      assert(t < stats.length, "z-layout must let a point read prune files")
    }

    // 5. TELEMETRY + PINS: counters consistent with the landed corpus; no
    // pin outlives a batch on the growing output
    val exposition = telemetry.render()
    assert(exposition.contains("graft_ingest_batches_total 2"),
      exposition.linesIterator.filter(_.startsWith("graft_ingest_batches")).mkString)
    val admitted = "graft_ingest_admitted_rows_total (\\d+)".r
      .findFirstMatchIn(exposition).map(_.group(1).toLong)
    assert(admitted.contains(gatedIds.size.toLong),
      s"admitted counter must equal the landed corpus: $admitted vs ${gatedIds.size}")
    PinnedCaches.assertNoPinsUnder(spark, out)
    IndexFiles.delete(spark, root)
  }
}
