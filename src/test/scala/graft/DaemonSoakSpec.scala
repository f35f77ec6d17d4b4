package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexFiles, Layout, PinnedCaches, TextAnalysis}
import graft.streaming.{IngestTelemetry, OutputCompaction, StreamingCuration}

/** DAEMON SOAK — hundreds-to-a-thousand micro-batches through the full
  * Ingest body with EVERY knob on (near gate + durable staging, bm25
  * stats with in-loop compaction, tiered output compaction, z-order
  * layout, telemetry), asserting the properties only a long run can
  * falsify — cadence interactions no 2-batch spec reaches:
  *
  *   - BOUNDED FS entries: live batch dirs, output segments, bm25 delta
  *     dirs, near-index delta dirs, staged batches, writer leases all
  *     stay at their cadence/tier bounds instead of growing with N;
  *   - FLAT driver state: no pin outlives its batch on a growing path
  *     (assertNoPinsUnder each checkpoint), total pin count bounded;
  *   - EXACT telemetry: batches/input/admitted counters equal the landed
  *     corpus, not approximately;
  *   - content correctness: the curated corpus is exactly the set of
  *     first-arrival texts.
  *
  * The default run is 40 batches (5 cadence cycles of every knob) so the
  * suite stays runnable; set GRAFT_SOAK=1000 for the full thousand-batch
  * soak (run at least once per round — the r12 verdict's task 7; the
  * r13 close ran both 120 and the full 1000 green). */
class DaemonSoakSpec extends SparkSpec {

  private def scrape(t: IngestTelemetry, name: String): Long = {
    val line = t.render().linesIterator
      .find(l => l.startsWith(name + " ")).getOrElse(fail(s"no $name in render"))
    line.split(" ").last.toLong
  }

  test("soak: N batches with all knobs on — bounded FS, flat pins, exact counters") {
    import spark.implicits._
    val n = sys.env.get("GRAFT_SOAK").map(_.toInt).getOrElse(40)
    val root = Files.createTempDirectory("graft_soak").toString
    val out = s"$root/out"
    val idx = s"$root/near"
    val stats = s"$root/bm25"
    val cfg = Ingest.Config(src = s"$root/src", out = out, checkpoint = s"$root/ckpt",
      nearIndex = Some(idx), nearThreshold = 0.8, nearCompactEvery = 8,
      bm25Stats = Some(stats), bm25CompactEvery = 8,
      outCompactEvery = 8, outMergeRatio = 2, outMergeMin = 2)
    TextAnalysis.Bm25Files.save(TextAnalysis.emptyBm25Stats(spark), stats)
    val gate = Ingest.nearGate(spark, cfg).get
    val telemetry = new IngestTelemetry
    telemetry.indexProbe = () => Seq(
      telemetry.probeIndexPath(spark, "near", idx),
      telemetry.probeIndexPath(spark, "bm25", stats))
    val layoutFn = Some((df: DataFrame) =>
      Layout.zOrderByNormalized(df, col("doc_id"), col("tok_offset"), partitions = 2))
    val run = new StreamingCuration.CurationRun(spark, out, budget = 64L,
      nearGate = Some(gate), statsPath = Some(stats),
      statsCompactEvery = cfg.bm25CompactEvery,
      outCompactEvery = cfg.outCompactEvery,
      outMergeRatio = cfg.outMergeRatio, outMergeMin = cfg.outMergeMin,
      telemetry = Some(telemetry), layoutFn = layoutFn)

    // two docs per batch: one genuinely new text, one exact replay of an
    // earlier batch's text every 4th batch (the gate must reject it)
    def batchDf(b: Long): DataFrame = {
      val fresh = (2L * b, s"soak document number $b with fresh words w${b}a w${b}b", "web", 40L)
      val rows =
        if (b % 4 == 3)
          Seq(fresh, (2L * b + 1,
            s"soak document number ${b - 2} with fresh words w${b - 2}a w${b - 2}b", "web", 40L))
        else
          Seq(fresh, (2L * b + 1, s"second stream doc $b body b${b}x", "wiki", 30L))
      rows.toDF("doc_id", "text", "source", "n_chars")
    }
    var expectedDocs = 0L
    var expectedInput = 0L
    val pinSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (b <- 0L until n.toLong) {
      run.onBatch(batchDf(b), b)
      expectedInput += 2L
      expectedDocs += (if (b % 4 == 3) 1L else 2L)
      if (b % 10 == 9) {
        PinnedCaches.assertNoPinsUnder(spark, out)
        pinSizes += PinnedCaches.size(spark)
      }
    }
    gate.flush()

    // ── bounded FS entries (the small-files invariants, after N batches)
    def count(path: String, prefix: String): Int =
      IndexFiles.numbered(spark, path, prefix).size
    val liveDirs = count(out, OutputCompaction.BatchPrefix)
    val segs = count(out, OutputCompaction.BasePrefix)
    assert(liveDirs <= cfg.outCompactEvery,
      s"live batch dirs must stay under the minor cadence: $liveDirs")
    // size-tier bound: < minMerge per occupied tier; generous absolute cap
    assert(segs <= 24, s"output segments must stay tier-bounded: $segs")
    assert(count(stats, "delta_") <= cfg.bm25CompactEvery,
      s"bm25 deltas must stay under the compaction cadence")
    assert(count(idx, "delta_") <= cfg.nearCompactEvery + 1,
      s"near-index deltas must stay under the compaction cadence")
    assert(count(idx, "base_v") == 1, "compaction keeps exactly one base")
    assert(IndexFiles.numbered(spark, s"$idx/staged", "batch=").size <= 1,
      "staged admissions must fold away (at most the final batch's lag)")
    def leases(p: String): Int = {
      val d = new org.apache.hadoop.fs.Path(s"$p/_writer")
      val f = IndexFiles.fs(spark, p)
      if (f.exists(d)) f.listStatus(d).count(_.isFile) else 0
    }
    assert(leases(out) == 1 && leases(idx) == 1,
      "superseded writer leases must be pruned")

    // ── flat driver state: pins bounded, not growing with N
    PinnedCaches.assertNoPinsUnder(spark, out)
    // flat AFTER the holders' segment plateau: compare the end to the
    // midpoint (the first checkpoints still see the segmented index
    // growing toward maxSegments — expected, bounded, not a leak)
    assert(pinSizes.size >= 2 &&
      pinSizes.last <= pinSizes(pinSizes.size / 2) + 4,
      s"pin count must stay flat across the soak: $pinSizes")

    // ── exact telemetry and content
    val landed = OutputCompaction.read(spark, out)
    val landedRows = landed.count()
    assert(landedRows == expectedDocs,
      s"landed corpus: got $landedRows, expected $expectedDocs")
    assert(scrape(telemetry, "graft_ingest_batches_total") == n.toLong)
    assert(scrape(telemetry, "graft_ingest_input_rows_total") == expectedInput)
    assert(scrape(telemetry, "graft_ingest_admitted_rows_total") == expectedDocs,
      "admitted counter must equal the landed corpus exactly")
    assert(landed.select("doc_id").distinct().count() == expectedDocs,
      "no doc may land twice")
    IndexFiles.delete(spark, root)
  }
}
