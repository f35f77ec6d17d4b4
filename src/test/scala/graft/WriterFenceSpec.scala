package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, IndexFiles, RefreshableCorpusIndex, RefreshableEmbedIndex, Similarity}
import graft.streaming.{StreamingDedup, StreamingSimilarity}

/** Writer fencing on the LSM index paths — the single-writer contract
  * (Dedup's delta-persistence scaladoc) enforced fail-fast instead of
  * documented-and-hoped: two concurrent gates on one path produce one
  * winner and one LOUD failure (never a silently corrupted delta chain),
  * and a crashed writer's stale lease needs no cleanup — the next claim
  * fences it by construction. */
class WriterFenceSpec extends SparkSpec {

  private def docsDf(lo: Long, n: Int): DataFrame = {
    import spark.implicits._
    (lo until lo + n).map(i => (i, s"doc $i text body ${"w" * (i % 5).toInt}"))
      .toDF("doc_id", "text")
  }

  private def freshTextGate(path: String): graft.streaming.IngestGate = {
    val idx0 =
      if (Dedup.CorpusFiles.exists(spark, path)) Dedup.CorpusFiles.load(spark, path)
      else {
        import spark.implicits._
        val empty = Dedup.corpusIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"))
        Dedup.CorpusFiles.save(empty, path)
        empty
      }
    StreamingDedup.novelNearCorpusIngest(new RefreshableCorpusIndex(idx0),
      indexPath = Some(path))
  }

  test("epoch claims are monotonic, race-free, and prune superseded files") {
    val path = Files.createTempDirectory("graft_lease").toString + "/idx"
    val l1 = IndexFiles.claimWriter(spark, path)
    val l2 = IndexFiles.claimWriter(spark, path)
    val l3 = IndexFiles.claimWriter(spark, path)
    assert(l1.epoch < l2.epoch && l2.epoch < l3.epoch)
    l3.check() // the latest holder passes
    intercept[IllegalStateException] { l1.check() }
    intercept[IllegalStateException] { l2.check() }
    // superseded claim files are pruned — exactly one remains
    val f = IndexFiles.fs(spark, path)
    val claims = f.listStatus(new org.apache.hadoop.fs.Path(s"$path/_writer"))
      .filter(_.isFile).map(_.getPath.getName).toSeq
    assert(claims == Seq(s"epoch_${l3.epoch}"), s"got $claims")
    IndexFiles.delete(spark, path)
  }

  test("two text gates on one index path: one winner, one loud failure, chain uncorrupted") {
    val path = Files.createTempDirectory("graft_fence_txt").toString + "/idx"
    val gate1 = freshTextGate(path)
    gate1(docsDf(0, 4), 0) // stages batch 0 under gate1's lease
    // the accidental second daemon: claims the next epoch at construction
    val gate2 = freshTextGate(path)
    // the predecessor is FENCED at its next mutation — loud, immediate
    val ex = intercept[IllegalStateException] { gate1(docsDf(100, 4), 1) }
    assert(ex.getMessage.contains("fenced"), ex.getMessage)
    intercept[IllegalStateException] { gate1.flush() }
    // the winner proceeds: folds the predecessor's staged leftovers and
    // keeps gating — the delta chain stays single-writer end to end
    val d2 = gate2(docsDf(0, 4).unionByName(docsDf(200, 2)), 1)
    val novel = d2.filter("novel").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(novel == (200L until 202L).toSet,
      s"batch-0 docs must be non-novel through the folded leftovers: $novel")
    gate2.flush()
    // the persisted chain loads cleanly and answers like a from-scratch
    // index over everything the WINNER admitted
    val loaded = Dedup.CorpusFiles.load(spark, path)
    val fps = loaded.fps.select("match_id").collect().map(_.getLong(0)).toSet
    loaded.release()
    assert(fps == ((0L until 4L) ++ (200L until 202L)).toSet, s"got $fps")
    IndexFiles.delete(spark, path)
  }

  test("a crashed writer's stale lease is reclaimable (restart still resumes staged work)") {
    val path = Files.createTempDirectory("graft_fence_crash").toString + "/idx"
    val gate1 = freshTextGate(path)
    gate1(docsDf(0, 3), 0) // staged, never folded — then the "crash" (drop it)
    val gate2 = freshTextGate(path) // no cleanup needed: next epoch just claims
    val d = gate2(docsDf(0, 3), 1) // folds gate1's staged batch first
    assert(d.filter("novel").count() == 0L,
      "the restart must resume the crashed writer's staged admissions")
    gate2.flush()
    IndexFiles.delete(spark, path)
  }

  test("the OUTPUT path fences too: two daemons on one --out, one winner") {
    import spark.implicits._
    import graft.streaming.{OutputCompaction, StreamingCuration}
    def docs(lo: Long) = (lo until lo + 3).map(i =>
      (i, (0 until 12).map(w => s"tok${i}_$w").mkString(" "), "web", 30L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Files.createTempDirectory("graft_fence_out").toString + "/packed"
    def newRun() = new StreamingCuration.CurationRun(spark, out, budget = 8L,
      nearGate = None,
      statsPath = None, statsCompactEvery = 0, outCompactEvery = 1)
    val run1 = newRun()
    run1.onBatch(docs(0), 0)
    val run2 = newRun() // the accidental second daemon
    val ex = intercept[IllegalStateException] { run1.onBatch(docs(10), 1) }
    assert(ex.getMessage.contains("fenced"), ex.getMessage)
    run2.onBatch(docs(10), 1) // the winner proceeds; output stays consistent
    assert(OutputCompaction.read(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      ((0L until 3L) ++ (10L until 13L)).toSet)
    // the same contract on the vector daemon
    val root = Files.createTempDirectory("graft_fence_vout").toString
    val c = VecIngest.Config(src = s"$root/src", out = s"$root/out",
      checkpoint = s"$root/ckpt", index = s"$root/embed", once = true)
    def vecs(lo: Long) = (lo until lo + 3).map { i =>
      val a = Array.tabulate(16)(d => if (d == (i % 4).toInt) 0.9f else 0.01f * d)
      (i, a.toSeq, (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val p1 = new VecIngest.Pipeline(spark, c)
    p1.onBatch(vecs(0), 0)
    new VecIngest.Pipeline(spark, c)
    intercept[IllegalStateException] { p1.onBatch(vecs(10), 1) }
    IndexFiles.delete(spark, out)
    IndexFiles.delete(spark, root)
  }

  test("the embed/PQ/graph gates fence identically") {
    import spark.implicits._
    def vecs(lo: Long): DataFrame =
      (lo until lo + 4).map { i =>
        val a = Array.tabulate(16)(d => if (d == (i % 4).toInt) 0.9f else 0.01f * d)
        (i, a.toSeq, (i % 4).toInt)
      }.toDF("vec_id", "embedding", "label")

    // embed novelty gate
    val ePath = Files.createTempDirectory("graft_fence_e").toString + "/idx"
    val eIdx = Similarity.embedIndex(
      Seq.empty[(Long, Int, Seq[Float])].toDF("vec_id", "label", "embedding"))
    Similarity.EmbedFiles.save(eIdx, ePath)
    val eg1 = StreamingSimilarity.novelAgainstIndexIngest(
      new RefreshableEmbedIndex(eIdx), indexPath = Some(ePath))
    eg1(vecs(0), 0)
    StreamingSimilarity.novelAgainstIndexIngest(
      new RefreshableEmbedIndex(Similarity.EmbedFiles.load(spark, ePath)),
      indexPath = Some(ePath))
    intercept[IllegalStateException] { eg1(vecs(10), 1) }
    IndexFiles.delete(spark, ePath)

    // PQ gate
    val pPath = Files.createTempDirectory("graft_fence_p").toString + "/idx"
    val pIdx = Similarity.pqIndexBuild(vecs(0).select("vec_id", "label", "embedding"))
    Similarity.PqFiles.save(pIdx, pPath)
    val pg1 = StreamingSimilarity.pqIngest(
      new graft.operators.RefreshablePqIndex(pIdx), Some(pPath))
    pg1(vecs(10), 0)
    StreamingSimilarity.pqIngest(
      new graft.operators.RefreshablePqIndex(Similarity.PqFiles.load(spark, pPath)),
      Some(pPath))
    intercept[IllegalStateException] { pg1(vecs(20), 1) }
    intercept[IllegalStateException] { pg1.flush() }
    IndexFiles.delete(spark, pPath)

    // graph gate
    val gPath = Files.createTempDirectory("graft_fence_g").toString + "/idx"
    val gIdx = Similarity.knnGraphIndex(
      vecs(0).select("vec_id", "label", "embedding"), centroidMod = 13)
    Similarity.GraphFiles.save(gIdx, gPath)
    val gg1 = StreamingSimilarity.knnGraphIngest(
      new graft.operators.RefreshableKnnGraph(gIdx), Some(gPath))
    gg1(vecs(10), 0)
    StreamingSimilarity.knnGraphIngest(
      new graft.operators.RefreshableKnnGraph(Similarity.GraphFiles.load(spark, gPath)),
      Some(gPath))
    intercept[IllegalStateException] { gg1(vecs(20), 1) }
    IndexFiles.delete(spark, gPath)
  }
}
