package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, PinnedCaches, RefreshableCorpusIndex}

/** The fold's scale-adaptive collide/fresh split (Dedup.splitByIndexedFp):
  * the LARGE-index shape (broadcast semi-join shrink + broadcast splits)
  * must be row-identical to the direct-join shape a small index takes —
  * forced here via `graft.fold.forceSemiJoinSplit` on a corpus that would
  * otherwise take the direct path, and compared against BOTH the direct
  * fold and the from-scratch build over the union. */
class FoldSplitSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def snap(idx: Dedup.CorpusIndex) = (
    idx.fps.collect().map(r =>
      (r.getAs[String]("fp"), r.getAs[Long]("match_id"))).toSet,
    idx.sets.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getSeq[Long](r.fieldIndex("shs")))).toSet,
    idx.buckets.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Int]("band"), r.getAs[String]("sig"))).toSet,
    idx.oversized.collect().map(r => (r.getAs[Int]("band"),
      r.getAs[String]("sig"), r.getAs[Long]("n"))).toSet)

  test("forced semi-join split folds identically to the direct shape and from-scratch") {
    val base = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta", // rep
      2L -> "alpha beta gamma delta epsilon zeta", // exact dup of 1
      3L -> "one two three four five six seven eight",
      4L -> "nine ten eleven twelve thirteen fourteen")
    val batch = docsDf(
      0L -> "alpha beta gamma delta epsilon zeta", // collides, re-keys rep 1 -> 0
      5L -> "one two three four five six seven eight", // collides, no re-key
      6L -> "totally fresh text never indexed before at all")
    val union = docsDf(
      0L -> "alpha beta gamma delta epsilon zeta",
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "one two three four five six seven eight",
      4L -> "nine ten eleven twelve thirteen fourteen",
      5L -> "one two three four five six seven eight",
      6L -> "totally fresh text never indexed before at all")

    def folded() = snap(new RefreshableCorpusIndex(Dedup.corpusIndex(base)).fold(batch))
    val direct = folded()
    val scratch = snap(Dedup.corpusIndex(union))
    System.setProperty("graft.fold.forceSemiJoinSplit", "true")
    val forced =
      try folded()
      finally System.clearProperty("graft.fold.forceSemiJoinSplit")

    assert(forced === direct)
    assert(forced === scratch)
    PinnedCaches.release(spark)
  }

  test("forced verify-side semi-shrink leaves both gates' decisions identical") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = SparkSpec.session.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val emb = SparkSpec.session.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val dIdx = Dedup.corpusIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    val dBatch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val eIdx = graft.operators.Similarity.embedIndex(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0))
    val eBatch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)

    def gates() = (
      Dedup.bestMatchAgainst(dBatch, dIdx).orderBy("doc_id").collect().toSeq,
      graft.operators.Similarity.embedNoveltyAgainst(eBatch, eIdx)
        .collect().toSeq)

    val plain = gates()
    System.setProperty("graft.gate.forceSemiShrink", "true")
    val shrunk =
      try gates()
      finally System.clearProperty("graft.gate.forceSemiShrink")
    assert(shrunk._1 === plain._1)
    assert(shrunk._2 === plain._2)
    PinnedCaches.release(spark)
  }
}
