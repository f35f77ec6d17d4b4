package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexFiles, IndexMaintenance, RefreshableKnnGraph, RefreshablePqIndex, Similarity, Tables, TextAnalysis}
import graft.streaming.IngestTelemetry

/** The ONE persisted index format ([[IndexFiles.Artifact]]) against
  * artifacts written before it existed, and its crash rules.
  *
  * `src/test/resources/fixtures/index_artifacts` holds one tiny artifact
  * per family, each a base plus one delta, written by the per-family
  * persistence code the artifact module replaced: `documents` with
  * doc_id < 60 and `embeddings` with vec_id < 60 of sf0.001, even ids in
  * the base and odd ids folded in as the delta (kNN graph built with
  * `centroidMod = 5`, PQ with `nCodes = 8`; BM25 stats base over
  * doc_id % 3 == 0, delta over % 3 == 1). `corpus_legacy_meta` is the
  * corpus artifact with its knobs in a 1-row parquet `meta` dir instead of
  * `meta_kv`. `bm25_leftovers` is a compacted base (stamp 1) beside the
  * dead `delta_1` a crash before the sweep would leave, a live `delta_2`
  * (% 3 == 2) and an unmarked (`_manifest`-less) `delta_3`. */
class IndexArtifactSpec extends SparkSpec {

  private val fixtures = "src/test/resources/fixtures/index_artifacts"

  private lazy val docs =
    Tables.load(spark, sf(), "documents").filter(col("doc_id") < 60).select("doc_id", "text")
  private lazy val vecs = Tables.load(spark, sf(), "embeddings").filter(col("vec_id") < 60)
  private def even(df: DataFrame, id: String) = df.filter(pmod(col(id), lit(2)) === 0)
  private def odd(df: DataFrame, id: String) = df.filter(pmod(col(id), lit(2)) === 1)

  /** Row contents, columns by name (a replay may reorder columns). */
  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet

  /** A writable copy of one fixture artifact. */
  private def copyOf(name: String): String = {
    val dst = java.nio.file.Files.createTempDirectory(s"graft-fixture-$name").toString + "/idx"
    val f = IndexFiles.fs(spark, fixtures)
    assert(FileUtil.copy(f, new Path(s"$fixtures/$name"), f, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration))
    dst
  }

  /** Every `delta_*` directory on disk, marked or not. */
  private def deltaDirsOnDisk(path: String): Seq[String] =
    IndexFiles.fs(spark, path).listStatus(new Path(path)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("delta_")).sorted

  private def sameCorpus(loaded: Dedup.CorpusIndex): Unit = {
    val scratch = Dedup.corpusIndex(docs)
    assert(rows(loaded.fps) == rows(scratch.fps))
    assert(rows(loaded.sets) == rows(scratch.sets))
    assert(rows(loaded.buckets) == rows(scratch.buckets))
    assert(rows(loaded.oversized) == rows(scratch.oversized))
    assert(loaded.bucketCap == scratch.bucketCap && loaded.logBloomBits == scratch.logBloomBits)
    // the Bloom words take part in every gate decision
    val probe = Tables.load(spark, sf(), "documents")
      .filter(col("doc_id") >= 60 && col("doc_id") < 120).select("doc_id", "text")
    assert(rows(Dedup.bestMatchAgainst(probe, loaded)) ==
      rows(Dedup.bestMatchAgainst(probe, scratch)))
  }

  test("corpus fixtures (meta_kv and legacy parquet meta) load ≡ from-scratch over the same docs") {
    sameCorpus(Dedup.CorpusFiles.load(spark, s"$fixtures/corpus"))
    sameCorpus(Dedup.CorpusFiles.load(spark, s"$fixtures/corpus_legacy_meta"))
  }

  test("embed fixture loads ≡ from-scratch over the same vectors") {
    val loaded = Similarity.EmbedFiles.load(spark, s"$fixtures/embed")
    val scratch = Similarity.embedIndex(vecs)
    assert(rows(loaded.qc) == rows(scratch.qc))
    assert(rows(loaded.cb) == rows(scratch.cb))
    assert(rows(loaded.oversized) == rows(scratch.oversized))
    assert(loaded.bucketCap == scratch.bucketCap && loaded.tables == scratch.tables)
  }

  test("kNN graph fixture loads ≡ from-scratch under its frozen centroids") {
    val loaded = Similarity.GraphFiles.load(spark, s"$fixtures/knn_graph")
    val base = Similarity.knnGraphIndex(even(vecs, "vec_id"), centroidMod = 5)
    assert(rows(loaded.cents) == rows(base.cents))
    assert(rows(loaded.edges) == rows(Similarity.knnGraphEdgesWith(vecs, base.cents)))
    assert(rows(loaded.qn.select("vec_id")) == rows(vecs.select("vec_id")))
    assert(loaded.k == 3 && loaded.nProbe == 2)
  }

  test("PQ fixture loads ≡ the same build and frozen-codebook append") {
    val loaded = Similarity.PqFiles.load(spark, s"$fixtures/pq")
    val scratch = new RefreshablePqIndex(
      Similarity.pqIndexBuild(even(vecs, "vec_id"), nCodes = 8)).fold(odd(vecs, "vec_id"))
    assert(rows(loaded.cents) == rows(scratch.cents))
    assert(rows(loaded.codes) == rows(scratch.codes))
    assert(rows(loaded.qn) == rows(scratch.qn))
    assert((loaded.version, loaded.subspaces, loaded.nCodes, loaded.iters) ==
      (scratch.version, scratch.subspaces, scratch.nCodes, scratch.iters))
  }

  test("BM25 fixtures load ≡ from-scratch; dead and unmarked deltas are ignored") {
    def third(lt: Int) = TextAnalysis.bm25Stats(docs.filter(pmod(col("doc_id"), lit(3)) < lt))
    assert(rows(TextAnalysis.Bm25Files.load(spark, s"$fixtures/bm25")) == rows(third(2)))
    val leftovers = s"$fixtures/bm25_leftovers"
    // dead delta_1 (≤ stamp 1) and unmarked delta_3 would each double-count
    assert(rows(TextAnalysis.Bm25Files.load(spark, leftovers)) == rows(third(3)))
    assert(IndexFiles.stamp(spark, leftovers) == 1L)
    assert(IndexFiles.liveDeltas(spark, leftovers).map(_._1) == Seq(2L))
    assert(IndexFiles.highWater(spark, leftovers) == 2L)
  }

  test("the index probe counts only live deltas on a path holding a dead delta") {
    val s = new IngestTelemetry().probeIndexPath(spark, "bm25", s"$fixtures/bm25_leftovers")
    assert(s.baseVersion == 2L && s.deltas == 1L && s.staged == 0L)
  }

  test("a base save sweeps the deltas its stamp swallowed; the next delta overwrites an unmarked dir") {
    val path = copyOf("bm25_leftovers")
    TextAnalysis.Bm25Files.compact(spark, path)
    assert(deltaDirsOnDisk(path) == Seq("delta_3"), "only the unmarked dir may remain")
    assert(IndexFiles.stamp(spark, path) == 2L)
    val all = TextAnalysis.bm25Stats(docs)
    assert(rows(TextAnalysis.Bm25Files.load(spark, path)) == rows(all))
    assert(TextAnalysis.Bm25Files.saveDelta(all, path) == 3L)
    val twice = TextAnalysis.Bm25Files.load(spark, path).collect().head
    assert(twice.getAs[Long]("n_docs") == 2 * all.head().getAs[Long]("n_docs"))
    IndexFiles.delete(spark, new Path(path).getParent.toString)
  }

  test("a PQ retrain and a graph rebuild with indexPath leave no delta dir behind") {
    val pq = copyOf("pq")
    val pqHolder = new RefreshablePqIndex(Similarity.PqFiles.load(spark, pq))
    pqHolder.retrain(vecs, indexPath = Some(pq))
    assert(deltaDirsOnDisk(pq).isEmpty)
    val pqReloaded = Similarity.PqFiles.load(spark, pq)
    assert(pqReloaded.version == 2 && pqReloaded.qn.count() == 60L)
    IndexFiles.delete(spark, new Path(pq).getParent.toString)

    val graph = copyOf("knn_graph")
    val graphHolder = new RefreshableKnnGraph(Similarity.GraphFiles.load(spark, graph))
    // a floor above any recall forces the rebuild
    val d = IndexMaintenance.maintainKnnGraph(graphHolder, vecs, floor = 1.1,
      centroidMod = 5, indexPath = Some(graph))
    assert(d.retrained)
    assert(deltaDirsOnDisk(graph).isEmpty)
    assert(rows(Similarity.GraphFiles.load(spark, graph).edges) == rows(graphHolder.current.edges))
    IndexFiles.delete(spark, new Path(graph).getParent.toString)
  }
}
