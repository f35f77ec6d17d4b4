package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, RefreshableCorpusIndex, RefreshableEmbedIndex, Similarity}
import graft.streaming.StreamingDedup

/** INDEX LIFECYCLE: an incrementally-refreshed corpus index must equal a
  * from-scratch build over the union corpus — component contents AND gate
  * decisions — and a streaming novelty gate must pick a swapped index up
  * mid-stream. (The `dedup_index_refresh` / `embed_index_refresh` registry
  * rows additionally pin the gate output against the DuckDB oracle on the
  * real corpus; this spec drives the paths the corpus doesn't: rep re-key
  * by a smaller late id, bucket-cap crossings in both directions, and the
  * mid-stream swap.) */
class IndexLifecycleSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def gateRows(out: DataFrame): Seq[(Long, Option[Long], Option[Double], Boolean)] =
    out.collect().map(r => (r.getAs[Long]("doc_id"),
      Option(r.get(r.fieldIndex("best_match"))).map(_.asInstanceOf[Long]),
      Option(r.get(r.fieldIndex("best_jaccard"))).map(_.asInstanceOf[Double]),
      r.getAs[Boolean]("novel"))).toSeq.sortBy(_._1)

  private def fpsSet(idx: Dedup.CorpusIndex): Set[(String, Long)] =
    idx.fps.collect().map(r => (r.getAs[String]("fp"), r.getAs[Long]("match_id"))).toSet
  private def setsSet(idx: Dedup.CorpusIndex): Set[(Long, Seq[Long])] =
    idx.sets.collect().map(r => (r.getAs[Long]("doc_id"), r.getSeq[Long](1))).toSet
  private def bucketsSet(idx: Dedup.CorpusIndex): Set[(Long, Int, String)] =
    idx.buckets.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Int]("band"), r.getAs[String]("sig"))).toSet

  // near-identical long texts: ~30 shared words, one varying token — they
  // share most band signatures, which is what drives buckets toward the cap
  private def variant(tag: String): String =
    s"the quick brown fox jumps over the lazy dog while seventeen green " +
      s"turtles carry heavy stones across the wide river valley under a " +
      s"pale winter sky token $tag ends the story here"

  test("refreshed text index equals from-scratch: contents, re-key, cap crossings") {
    val cap = 2
    // corpus0: u/v/w are a near-identical family (three DISTINCT texts →
    // their fully-shared band buckets hold 3 reps > cap and are DROPPED
    // at build); x alone; plus an exact-dup pair (10, 11)
    val corpus0 = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      12L -> variant("u"),
      13L -> variant("v"),
      14L -> variant("w"),
      15L -> "completely different content about winter mountain hiking gear and maps")
    // fold batch: id 5 = exact copy of group(10,11) with a SMALLER id (rep
    // re-keys 10 → 5 everywhere); id 20 = a fourth family variant (its
    // shared buckets stay dropped — the oversized table must remember the
    // true size); ids 21/22 = an in-batch exact-dup pair of a new text;
    // id 23 = near-dup of 15 (buckets with 15 go 1 → 2 = cap, still kept)
    val fold = docsDf(
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      20L -> variant("z"),
      21L -> "fresh unique sentence with enough words to shingle comfortably today",
      22L -> "fresh unique sentence with enough words to shingle comfortably today",
      23L -> "completely different content about winter mountain hiking gear and compasses")
    val union = corpus0.unionAll(fold)

    val idx0 = Dedup.corpusIndex(corpus0, bucketCap = cap)
    val refreshed = new RefreshableCorpusIndex(idx0).fold(fold)
    val scratch = Dedup.corpusIndex(union, bucketCap = cap)

    // the cap edges are really exercised: the family's shared buckets are
    // dropped (oversized nonempty), and idx0 had buckets the union keeps
    assert(scratch.oversized.count() > 0, "crafted family must overflow the cap")
    assert(bucketsSet(scratch).nonEmpty)

    assert(fpsSet(refreshed) == fpsSet(scratch))
    assert(setsSet(refreshed) == setsSet(scratch))
    assert(bucketsSet(refreshed) == bucketsSet(scratch))
    // oversized bookkeeping carries the TRUE sizes forward
    val ovR = refreshed.oversized.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val ovS = scratch.oversized.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(ovR == ovS)

    // rep re-key reached the exact tier: a gate copy of the group reports 5
    val gate = docsDf(
      30L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      31L -> "completely different content about winter mountain hiking gear and sticks",
      32L -> "wholly novel gate document text that matches nothing in any corpus batch")
    val got = gateRows(Dedup.bestMatchAgainst(gate, refreshed))
    val want = gateRows(Dedup.bestMatchAgainst(gate, scratch))
    assert(got == want)
    assert(got.head == ((30L, Some(5L), Some(1.0), false)), s"re-keyed rep must answer: $got")
    assert(got.last._4, "the novel gate doc must pass")
  }

  // a second near-identical family, disjoint in words from `variant`
  private def variant2(tag: String): String =
    s"an old lighthouse keeper paints seven wooden boats every autumn near " +
      s"the harbour wall while gulls circle slowly above grey northern waters " +
      s"marker $tag closes this line"

  private def oversizedSet(idx: Dedup.CorpusIndex): Set[(Int, String, Long)] =
    idx.oversized.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  test("refresh folds a second batch on top of a refresh (chained ≡ from-scratch; present bucket pushed over the cap drops)") {
    val cap = 2
    val a = docsDf(
      1L -> "one two three four five six seven eight nine ten eleven twelve",
      2L -> variant("a"),
      3L -> variant("b"), // family size 2 ≤ cap: shared buckets PRESENT
      8L -> variant2("a"),
      9L -> variant2("b")) // second family, also 2 ≤ cap: PRESENT
    val b = docsDf(4L -> variant("c"), // family → 3 > cap: those buckets DROP
      5L -> "one two three four five six seven eight nine ten eleven twelve")
    val c = docsDf(6L -> variant("d"), // lands in the already-dropped buckets
      7L -> "entirely new third batch text with plenty of distinct words inside")
    val d = docsDf(10L -> variant2("c"), // second family → 3 > cap: DROPS
      11L -> variant("e")) // first family's buckets stay dropped
    val e = docsDf(12L -> variant2("d"), // lands in the second family's dropped buckets
      13L -> "a closing batch sentence that shares no words with the others")
    val idx0 = Dedup.corpusIndex(a, bucketCap = cap)
    val present0 = bucketsSet(idx0).map(t => (t._2, t._3))
    // maxSegments = 2: b adds segment 2, c makes 3 and compacts, d lands
    // on the compacted segment (2), e makes 3 and compacts again — so the
    // re-cap runs before, across and after each compaction
    val ref = new RefreshableCorpusIndex(idx0, maxSegments = 2)
    var corpus = a
    Seq(b, c, d, e).foreach { batch =>
      val folded = ref.fold(batch)
      corpus = corpus.unionAll(batch)
      val scratch = Dedup.corpusIndex(corpus, bucketCap = cap)
      assert(fpsSet(folded) == fpsSet(scratch))
      assert(setsSet(folded) == setsSet(scratch))
      assert(bucketsSet(folded) == bucketsSet(scratch))
      assert(oversizedSet(folded) == oversizedSet(scratch),
        "the dropped-bucket table must carry the true sizes forward")
    }
    // both cases are real: buckets present in idx0 end up dropped, and
    // dropped buckets kept growing after the fold that dropped them
    val dropped = oversizedSet(Dedup.corpusIndex(corpus, bucketCap = cap))
    assert(present0.intersect(dropped.map(t => (t._1, t._2))).nonEmpty,
      "folds must push previously-present buckets over the cap")
    assert(dropped.exists(_._3 > cap + 1),
      s"folds must land in already-dropped buckets: $dropped")
  }

  test("streaming novelty gate picks up a swapped index mid-stream") {
    val corpus0 = docsDf(
      100L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      101L -> variant("u"))
    val batch1 = Seq(
      200L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // vs corpus0: exact
      201L -> "first ingest batch brand new text with many agreeable words") // novel
    val batch2 = Seq(
      300L -> "first ingest batch brand new text with many agreeable words", // dup of 201 — only novel if the swap DIDN'T happen
      301L -> variant("v"), // near-dup of 101
      302L -> "second batch completely novel text nothing shares these words")

    val ref = new RefreshableCorpusIndex(Dedup.corpusIndex(corpus0))
    // each micro-batch reads the holder's CURRENT index once
    val gate = (b: DataFrame) => Dedup.bestMatchAgainst(b, ref.current, 0.8)

    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long], Option[Double], Boolean)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        results.addAll(scala.jdk.CollectionConverters.SeqHasAsJava(
          gateRows(gate(b))).asJava)
        ()
      }.start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      // fold the admitted batch into the index and SWAP — no stream restart
      ref.fold(docsDf(batch1: _*))
      ms.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = scala.jdk.CollectionConverters.IteratorHasAsScala(results.iterator())
      .asScala.toSeq.sortBy(_._1)
    // expectations from FROM-SCRATCH indexes: batch 1 vs corpus0, batch 2
    // vs corpus0 ∪ batch1 — decisions must continue correctly across the swap
    val want1 = gateRows(Dedup.bestMatchAgainst(docsDf(batch1: _*),
      Dedup.corpusIndex(corpus0)))
    val want2 = gateRows(Dedup.bestMatchAgainst(docsDf(batch2: _*),
      Dedup.corpusIndex(corpus0.unionAll(docsDf(batch1: _*)))))
    assert(got == (want1 ++ want2).sortBy(_._1))
    // and the swap was load-bearing: 300 matches 201 (post-swap index only)
    val r300 = got.find(_._1 == 300L).get
    assert(r300._2 == Some(201L) && !r300._4,
      s"doc 300 must match the batch-1 doc folded in by the swap: $r300")
  }

  test("closed ingest loop: admissions fold back lagged; later copies are rejected") {
    val corpus0 = docsDf(100L -> variant("u"))
    val b1 = Seq(
      201L -> "first wave document text with a healthy number of distinct words",
      202L -> variant("u")) // near-dup of corpus -> rejected
    val b2 = Seq(
      301L -> "first wave document text with a healthy number of distinct words", // copy of 201: rejected ONLY via the fold
      302L -> "second wave fresh document that shares no words with anything yet")
    val b3 = Seq(
      401L -> "second wave fresh document that shares no words with anything yet", // copy of 302
      402L -> "first wave document text with a healthy number of distinct words") // copy of 201 again

    val ref = new RefreshableCorpusIndex(Dedup.corpusIndex(corpus0))
    val gate = StreamingDedup.novelNearCorpusIngest(ref)

    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long], Option[Double], Boolean)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        results.addAll(scala.jdk.CollectionConverters.SeqHasAsJava(
          gateRows(gate(b))).asJava)
        ()
      }.start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      ms.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val got = scala.jdk.CollectionConverters.IteratorHasAsScala(results.iterator())
      .asScala.toSeq.map(r => r._1 -> r).toMap
    assert(got(201L)._4, "201 is novel vs corpus0")
    assert(!got(202L)._4 && got(202L)._2 == Some(100L), "202 near-dups the corpus")
    // 301 can only be rejected because 201's admission folded in
    assert(!got(301L)._4 && got(301L)._2 == Some(201L),
      s"copy of a batch-1 admission must reject via the fold: ${got(301L)}")
    assert(got(302L)._4)
    assert(!got(401L)._4 && got(401L)._2 == Some(302L))
    assert(!got(402L)._4 && got(402L)._2 == Some(201L))
  }

  test("save/load round trip: a loaded index gates and refreshes like the original") {
    val corpus0 = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> variant("u"),
      3L -> variant("v"))
    val fold = docsDf(4L -> variant("w"),
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val gate = docsDf(
      6L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      7L -> variant("x"),
      8L -> "entirely novel gate text sharing nothing with the indexed corpus")

    val idx = Dedup.corpusIndex(corpus0, bucketCap = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-idx").toString
    Dedup.CorpusFiles.save(idx, path)
    val loaded = Dedup.CorpusFiles.load(spark, path)

    assert(loaded.bucketCap == 2 && loaded.logBloomBits == idx.logBloomBits)
    assert(fpsSet(loaded) == fpsSet(idx))
    assert(gateRows(Dedup.bestMatchAgainst(gate, loaded)) ==
      gateRows(Dedup.bestMatchAgainst(gate, idx)))
    // refresh bookkeeping (incl. the oversized table) survives the round
    // trip: refreshing the LOADED index equals from-scratch over the union
    val refreshed = new RefreshableCorpusIndex(loaded).fold(fold)
    val scratch = Dedup.corpusIndex(corpus0.unionAll(fold), bucketCap = 2)
    assert(fpsSet(refreshed) == fpsSet(scratch))
    assert(setsSet(refreshed) == setsSet(scratch))
    assert(bucketsSet(refreshed) == bucketsSet(scratch))
    assert(gateRows(Dedup.bestMatchAgainst(gate, refreshed)) ==
      gateRows(Dedup.bestMatchAgainst(gate, scratch)))
  }

  test("planned restart mid-loop: saveIndex/loadIndex resumes the closed loop identically") {
    val corpus0 = docsDf(100L -> variant("u"))
    val b1 = Seq(201L -> "restart loop wave one text with plenty of distinct words inside")
    val b2 = Seq(301L -> "restart loop wave two text sharing nothing with wave one either")
    val b3 = Seq(
      401L -> "restart loop wave one text with plenty of distinct words inside", // copy of 201
      402L -> "restart loop wave two text sharing nothing with wave one either", // copy of 301
      403L -> "wave three novel text after the planned restart of the loop")

    def drive(gate: DataFrame => DataFrame,
        batches: Seq[Seq[(Long, String)]]): Seq[(Long, Option[Long], Option[Double], Boolean)] = {
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], Option[Double], Boolean)]
      val q = ms.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: DataFrame, _: Long) => out ++= gateRows(gate(b)); () }
        .start()
      try batches.foreach { batch => ms.addData(batch: _*); q.processAllAvailable() }
      finally q.stop()
      out.toSeq
    }

    // uninterrupted control: all three batches through one holder
    val refA = new RefreshableCorpusIndex(Dedup.corpusIndex(corpus0))
    val control = drive(StreamingDedup.novelNearCorpusIngest(refA), Seq(b1, b2, b3))

    // planned restart: run b1+b2, then an EMPTY flush batch so b2's staged
    // admissions fold (the lag — a planned shutdown drains the stage),
    // save, "restart" into a NEW holder loaded from disk, run b3
    val refB = new RefreshableCorpusIndex(Dedup.corpusIndex(corpus0))
    val firstHalf = drive(StreamingDedup.novelNearCorpusIngest(refB), Seq(b1, b2, Seq.empty))
    val path = java.nio.file.Files.createTempDirectory("graft-loop-idx").toString
    Dedup.CorpusFiles.save(refB.current, path)
    val refC = new RefreshableCorpusIndex(Dedup.CorpusFiles.load(spark, path))
    val secondHalf = drive(StreamingDedup.novelNearCorpusIngest(refC), Seq(b3))

    assert((firstHalf ++ secondHalf) == control,
      s"resumed loop must decide like the uninterrupted one:\n  resumed: ${firstHalf ++ secondHalf}\n  control: $control")
    // and the copies really rejected via the folded admissions
    val byId = secondHalf.map(r => r._1 -> r).toMap
    assert(!byId(401L)._4 && byId(401L)._2 == Some(201L))
    assert(!byId(402L)._4 && byId(402L)._2 == Some(301L))
    assert(byId(403L)._4)
  }

  test("closed ingest loop, vector side: admitted embeddings fold back lagged") {
    import spark.implicits._
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val corpus0 = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    // batch 2 = exact copies (new ids) of three b1 vectors that b1 ADMITS —
    // they can only reject through the fold
    val idx0 = Similarity.embedIndex(corpus0)
    val admitted1 = Similarity.embedNoveltyAgainst(b1, idx0)
      .filter(col("novel")).select("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSet
    assert(admitted1.size == 3, s"need 3 admitted b1 vectors, got $admitted1")
    val b2 = b1.filter(col("vec_id").isin(admitted1.toSeq: _*))
      .withColumn("vec_id", col("vec_id") + 100000L)

    val ref = new graft.operators.RefreshableEmbedIndex(idx0)
    val gate = graft.streaming.StreamingSimilarity.novelAgainstIndexIngest(ref)

    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float], Int)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], Boolean)]
    val q = ms.toDF().toDF("vec_id", "embedding", "label").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        results ++= gate(b).collect().map(r => (r.getAs[Long]("vec_id"),
          Option(r.get(r.fieldIndex("best_match"))).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("novel")))
        ()
      }.start()
    def rows(df: DataFrame): Seq[(Long, Seq[Float], Int)] =
      df.select("vec_id", "embedding", "label").collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    try {
      ms.addData(rows(b1): _*); q.processAllAvailable()
      ms.addData(rows(b2): _*); q.processAllAvailable()
    } finally q.stop()

    val byId = results.map(r => r._1 -> r).toMap
    admitted1.foreach { id =>
      assert(byId(id)._3, s"vector $id must be admitted in batch 1")
      val copy = byId(id + 100000L)
      assert(!copy._3 && copy._2 == Some(id),
        s"exact copy of admitted $id must reject via the fold: $copy")
    }
  }

  test("refreshed embed index equals from-scratch on the testdata corpus") {
    val e = operators.Tables.load(spark, sf(), "embeddings")
    val idx0 = Similarity.embedIndex(e.filter(pmod(col("vec_id"), lit(3)) === 0))
    val refreshed = new RefreshableEmbedIndex(idx0)
      .fold(e.filter(pmod(col("vec_id"), lit(3)) === 1))
    val scratch = Similarity.embedIndex(e.filter(pmod(col("vec_id"), lit(3)) < 2))
    def qcSet(i: Similarity.EmbedIndex) =
      i.qc.collect().map(r => (r.getAs[Long]("vec_id"), r.getSeq[Long](1), r.getAs[Long]("nq"))).toSet
    def cbSet(i: Similarity.EmbedIndex) =
      i.cb.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("table"),
        r.getAs[Long]("bucket"))).toSet
    assert(qcSet(refreshed) == qcSet(scratch))
    assert(cbSet(refreshed) == cbSet(scratch))
    val gate = e.filter(pmod(col("vec_id"), lit(3)) === 2)
    val got = Similarity.embedNoveltyAgainst(gate, refreshed).collect().toSeq
    val want = Similarity.embedNoveltyAgainst(gate, scratch).collect().toSeq
    assert(got == want && got.nonEmpty)
    // save/load round trip, vector side: a loaded index gates and
    // refreshes identically (bookkeeping survives)
    val path = java.nio.file.Files.createTempDirectory("graft-eidx").toString
    Similarity.EmbedFiles.save(idx0, path)
    val loaded = Similarity.EmbedFiles.load(spark, path)
    assert(loaded.bucketCap == idx0.bucketCap)
    val refreshed2 = new RefreshableEmbedIndex(loaded)
      .fold(e.filter(pmod(col("vec_id"), lit(3)) === 1))
    assert(qcSet(refreshed2) == qcSet(scratch) && cbSet(refreshed2) == cbSet(scratch))
    assert(Similarity.embedNoveltyAgainst(gate, refreshed2).collect().toSeq == want)
  }

  test("BPE vocab lifecycle: folded word stats retrain ≡ from-scratch; frozen vocab bounds OOV") {
    val docs = operators.Tables.load(spark, sf(), "documents")
    val a = docs.filter(pmod(col("doc_id"), lit(3)) < 2)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 2)

    // the training input folds additively and bit-exact, like BM25's stats
    val folded = operators.TextAnalysis.refreshBpeWordStats(
      operators.TextAnalysis.bpeWordStats(a), b)
    val scratchWords = operators.TextAnalysis.bpeWordStats(docs)
    assert(folded.orderBy("word").collect().toSeq ==
      scratchWords.orderBy("word").collect().toSeq)

    // retraining over the FOLDED table equals from-scratch training over
    // the union corpus — the corpus never re-enters the retrain
    val retrained = operators.TextAnalysis.bpeMergesFrom(folded).collect().toSeq
    val scratch = operators.TextAnalysis.bpeMerges(docs).collect().toSeq
    assert(retrained == scratch && scratch.size == operators.TextAnalysis.BpeRounds)

    // frozen-vocab OOV policy: tokenize the UNION under the vocab trained
    // on A only — every A-word counts identically, every genuinely-new
    // B-word counts at char level (an upper bound on the frozen merges)
    import spark.implicits._
    val mergesA = operators.TextAnalysis.bpeMergesFrom(
      operators.TextAnalysis.bpeWordStats(a))
    val vocabA = operators.TextAnalysis.bpeVocabFrom(
      operators.TextAnalysis.bpeWordStats(a), mergesA)
    val crafted = Seq(
      (1L, "zzqx zzqx wvvk"), // all OOV vs any real corpus: 4 + 4 + 4 chars
      (2L, "zzqx")).toDF("doc_id", "text")
    val frozen = operators.TextAnalysis.bpeTokensWith(crafted, vocabA)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(frozen == Seq((1L, 3L, 12L), (2L, 1L, 4L)),
      s"OOV words must count at char level: $frozen")
    // and the frozen count never UNDERestimates the retrained tokenizer
    val vocabU = operators.TextAnalysis.bpeVocabFrom(folded,
      operators.TextAnalysis.bpeMergesFrom(folded))
    val frozenU = operators.TextAnalysis.bpeTokensWith(docs, vocabA)
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactU = operators.TextAnalysis.bpeTokensWith(docs, vocabU)
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exactU.forall { case (id, n) => frozenU(id) >= n },
      "frozen-vocab budgets must overestimate, never drop")

    // crafted GENUINE drift (the testdata splits share one word pool, so
    // the bound above is tight there): a corpus of repeated-'ab' words
    // trains merges that compress them; an unseen longer repeat counts
    // char-level under the frozen vocab but compresses after retrain
    val a2 = Seq((1L, "abab abab abab"), (2L, "abab cdcd")).toDF("doc_id", "text")
    val b2 = Seq((3L, "ababab ababab")).toDF("doc_id", "text")
    val wordsA2 = operators.TextAnalysis.bpeWordStats(a2)
    val vocabA2 = operators.TextAnalysis.bpeVocabFrom(wordsA2,
      operators.TextAnalysis.bpeMergesFrom(wordsA2))
    val foldedW = operators.TextAnalysis.refreshBpeWordStats(wordsA2, b2)
    val vocabU2 = operators.TextAnalysis.bpeVocabFrom(foldedW,
      operators.TextAnalysis.bpeMergesFrom(foldedW))
    val frozenB = operators.TextAnalysis.bpeTokensWith(b2, vocabA2)
      .collect().head.getLong(2)
    val exactB = operators.TextAnalysis.bpeTokensWith(b2, vocabU2)
      .collect().head.getLong(2)
    assert(frozenB == 12L, s"OOV 'ababab' ×2 must count 6 chars each: $frozenB")
    assert(exactB < frozenB,
      s"retraining over the folded words must compress the drifted word: $exactB")
  }

  test("BM25 corpus stats refresh is bit-exact (additive BIGINT fold)") {
    val docs = operators.Tables.load(spark, sf(), "documents")
    val a = docs.filter(pmod(col("doc_id"), lit(3)) < 2)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    val refreshed = operators.TextAnalysis.refreshBm25Stats(
      operators.TextAnalysis.bm25Stats(a), b)
    val scratch = operators.TextAnalysis.bm25Stats(docs)
    assert(refreshed.collect().toSeq == scratch.collect().toSeq)
    // and scoring through the refreshed row equals the one-shot operator
    val viaRefreshed = operators.TextAnalysis.bm25TopKWith(docs, refreshed)
      .collect().toSeq
    val oneShot = operators.TextAnalysis.bm25TopK(docs).collect().toSeq
    assert(viaRefreshed == oneShot && oneShot.nonEmpty)
  }

  test("BM25 stats persistence: base+delta reload ≡ from-scratch; compaction and post-compaction deltas stay sound") {
    import operators.TextAnalysis
    val docs = operators.Tables.load(spark, sf(), "documents")
    val b0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val b2 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-lsm").toString

    TextAnalysis.Bm25Files.save(TextAnalysis.bm25Stats(b0), path)
    TextAnalysis.Bm25Files.saveDelta(TextAnalysis.bm25Stats(b1), path)
    TextAnalysis.Bm25Files.saveDelta(TextAnalysis.bm25Stats(b2), path)
    assert(TextAnalysis.Bm25Files.exists(spark, path))

    val scratch = TextAnalysis.bm25Stats(docs).collect().toSeq
    assert(TextAnalysis.Bm25Files.load(spark, path).collect().toSeq == scratch,
      "base + two delta replays must equal from-scratch stats bit-for-bit")

    // compaction: contents identical, deltas swept
    TextAnalysis.Bm25Files.compact(spark, path)
    assert(operators.IndexFiles.numbered(spark, path, "delta_").isEmpty)
    assert(TextAnalysis.Bm25Files.load(spark, path).collect().toSeq == scratch)

    // the high-water gotcha: a delta AFTER compaction must number above
    // the new base's stamp or every load would silently ignore it
    val id = TextAnalysis.Bm25Files.saveDelta(TextAnalysis.bm25Stats(b1), path)
    assert(id > 2, s"post-compaction delta id must exceed the stamp, got $id")
    val over = TextAnalysis.Bm25Files.load(spark, path).collect().head
    assert(over.getAs[Long]("n_docs") ==
      scratch.head.getAs[Long]("n_docs") + b1.count(),
      "the post-compaction delta must be visible to loads")
    operators.IndexFiles.delete(spark, path)
  }
}
