package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Behavioral specs for the data-pipeline operators, complementing the
  * DuckDB oracles (which prove cross-engine hash-equality, not semantics):
  * minhash recall vs exact pairs, simhash collision behavior, LSH/IVF
  * agreement with brute force, crafted-corpus fixtures for the text ops. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf(), "documents")
  private lazy val emb = Tables.load(spark, sf(), "embeddings")

  test("minhash+LSH pairs match exact shingle-jaccard pairs with high recall, no false positives") {
    val approx = Dedup.minhashPairs(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactShinglePairs(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact), "every emitted pair is verified — no false positives")
    if (exact.nonEmpty) {
      val recall = approx.size.toDouble / exact.size
      assert(recall >= 0.9, s"recall $recall (got ${approx.size}/${exact.size})")
    }
  }

  test("simhash: identical docs collide, unrelated docs differ") {
    val crafted = Seq(
      (1L, "spark makes big data processing fast and simple today"),
      (2L, "spark makes big data processing fast and simple today"),
      (3L, "completely different words about cooking pasta dinner tonight")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(crafted).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash pairs: identical docs at hamming 0") {
    val crafted = Seq(
      (1L, "spark makes big data processing fast and simple today"),
      (2L, "spark makes big data processing fast and simple today"),
      (3L, "completely different words about cooking pasta dinner tonight")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(crafted).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 0L))
  }

  test("LSH top-k cosines agree with brute force for shared pairs; ranks are 1..k") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(emb).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
    }
  }

  test("IVF top-k: cosines agree with brute force; probing more cells only improves recall") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def recall(nProbe: Int): Double = {
      val ivf = Similarity.ivfTopK(emb, nProbe = nProbe).collect()
      assert(ivf.nonEmpty)
      ivf.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      }
      val hits = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.keySet.count(hits) .toDouble / brute.size
    }
    val r2 = recall(2)
    val rAll = recall(1000) // probe every cell == exhaustive -> perfect recall
    assert(rAll == 1.0, s"full probe must equal brute force, got $rAll")
    assert(r2 > 0.2, s"nProbe=2 recall too low: $r2") // deterministic corpus
    assert(r2 <= rAll)
  }

  test("IVF hard negatives: never a same-label pair; full probe equals the exact miner") {
    val exact = Similarity.hardNegatives(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def mined(nProbe: Int): Set[(Long, Long)] = {
      val rows = Similarity.hardNegativesIvf(emb, nProbe = nProbe).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(labels(r.getLong(0)) != labels(r.getLong(1)),
          s"a hard negative must cross labels: $r")
      }
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val probed = mined(2)
    val full = mined(1000) // probe everything == the exact different-label rank
    assert(full == exact, "exhaustive probing must equal the exact miner")
    val recall = probed.count(exact).toDouble / exact.size
    assert(recall > 0.2 && recall <= 1.0, s"probed-negative recall: $recall")
  }

  test("PQ top-k: cosines agree with brute force; a full re-rank buffer equals brute force") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run(rerank: Int): Set[(Long, Long)] = {
      val pq = Similarity.pqTopK(emb, rerank = rerank).collect()
      assert(pq.nonEmpty)
      pq.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        // exact re-rank tail: any pair also in brute force carries the
        // identical exact quantized cosine
        brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      }
      pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // rerank >= corpus: the ADC stage passes every vector through, so the
    // exact tail IS brute force
    val full = run(1000000)
    assert(full == brute.keySet, "full re-rank buffer must equal brute force")
    val dflt = run(32)
    val recall = brute.keySet.count(dflt).toDouble / brute.size
    assert(recall > 0.2, s"default-rerank recall too low: $recall") // deterministic corpus
  }

  test("SQ8 top-k: cosines agree with brute force; full re-rank equals brute force; recall beats PQ-grade floor") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run(rerank: Int): Set[(Long, Long)] = {
      val sq = Similarity.sq8TopK(emb, rerank = rerank).collect()
      assert(sq.nonEmpty)
      sq.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      }
      sq.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // rerank >= corpus: the int8 selection passes every vector through, so
    // the exact tail IS brute force
    assert(run(1000000) == brute.keySet, "full re-rank buffer must equal brute force")
    val recall = brute.keySet.count(run(32)).toDouble / brute.size
    // per-dimension int8 codes lose far less than PQ's 8-codes-per-vector:
    // the default buffer should be near-exact on this corpus
    assert(recall > 0.8, s"SQ8 recall unexpectedly low: $recall")
    info(f"SQ8 recall@5 (rerank=32): $recall%.3f")
  }

  test("learned-codebook PQ: cosines agree with brute force; training moved the centroids; recall bounded") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run(rerank: Int): Set[(Long, Long)] = {
      val pq = Similarity.pqTopKLearned(emb, rerank = rerank).collect()
      assert(pq.nonEmpty)
      pq.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      }
      pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // full re-rank buffer: ADC passes everything through -> exact brute force
    assert(run(1000000) == brute.keySet, "full re-rank buffer must equal brute force")
    val recall = brute.keySet.count(run(32)).toDouble / brute.size
    assert(recall > 0.2, s"learned-codebook recall too low: $recall") // deterministic corpus
    info(f"learned-PQ recall@5 (rerank=32, 32 codes/subspace): $recall%.3f")

    // the Lloyd rounds actually trained: final centroids differ from init
    // (init = sub-slices of the 32 lowest vec_ids, iters=0 reproduces it)
    val init = Similarity.pqLearnedCents(emb, iters = 0).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val trained = Similarity.pqLearnedCents(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    assert(trained.keySet == init.keySet, "training must keep every (subspace, code)")
    assert(trained.exists { case (k, v) => init(k) != v },
      "two Lloyd rounds must move at least one centroid")
  }

  test("IVF-PQ top-k: cosines agree with brute force; probing all cells with a full buffer equals brute force") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run(nProbe: Int, rerank: Int): Set[(Long, Long)] = {
      val rows = Similarity.ivfpqTopK(emb, nProbe = nProbe, rerank = rerank).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      }
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // probe every cell + pass every candidate through the exact tail: the
    // candidate set is the whole corpus, so the result IS brute force
    val full = run(1000, 1000000)
    assert(full == brute.keySet, "full probe + full re-rank must equal brute force")
    val dflt = run(2, 32)
    val recall = brute.keySet.count(dflt).toDouble / brute.size
    assert(recall > 0.2, s"default-parameter recall too low: $recall") // deterministic corpus
  }

  test("temperature mixture: tail source capped at 100%, head suppressed below its raw rate, accounting exact") {
    import spark.implicits._
    // skewed crafted corpus (the testdata's sources are equal-sized, which
    // degenerates every α-rate to the same value): 400 head vs 20 tail docs
    val docs = ((1 to 400).map(i => (i.toLong, s"head doc $i", "big")) ++
      (1 to 20).map(i => (i + 1000L, s"tail doc $i", "small")))
      .toDF("doc_id", "text", "source")
    val rows = Sampling.temperatureMix(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("big", "small"))
    rows.values.foreach { case (n, k, rr) =>
      assert(k >= 0 && k <= n && rr == k.toDouble / n)
    }
    // α = 1/2 rates: small gets min(1, 0.5·420·√20/Z/20) = 1 (capped),
    // big gets 0.5·420·√400/Z/400 ≈ 0.43 < its raw 0.5 share
    assert(rows("small")._2 == 20L, "capped tail source must keep everything")
    val bigRate = rows("big")._3
    assert(bigRate > 0.3 && bigRate < 0.5,
      s"head source must sample below its raw rate, got $bigRate")
  }

  test("learned-residual IVF-PQ: cosines agree with brute force; full probe + buffer equals brute force") {
    val brute = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run(nProbe: Int, rerank: Int): Set[(Long, Long)] = {
      val rows = Similarity.ivfpqTopKLearned(emb, nProbe = nProbe, rerank = rerank).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        brute.get(key).foreach(c => assert(c == r.getDouble(2), s"cos mismatch at $key"))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      }
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // probe every cell + full re-rank buffer -> candidate set is the corpus
    assert(run(1000, 1000000) == brute.keySet,
      "full probe + full re-rank must equal brute force")
    val recall2 = brute.keySet.count(run(2, 32)).toDouble / brute.size
    assert(recall2 > 0.2, s"learned-residual recall too low: $recall2") // deterministic corpus
    // the adopted default (r8 sweep): nProbe=4. NOTE recall is NOT
    // guaranteed monotone in nProbe at a FIXED re-rank buffer — extra
    // probed candidates with better ADC but worse exact distance can
    // displace a true neighbor from the top-32 buffer — so this asserts
    // the same absolute floor as nProbe=2, not ordering
    val recall4 = brute.keySet.count(run(4, 32)).toDouble / brute.size
    assert(recall4 > 0.2, s"nProbe=4 recall too low: $recall4")
    // the adopted default (r9 sweep): rerank 32 → 128 — widening the ADC
    // buffer recovers the neighbors the extra probes displaced, so the
    // default config must dominate the narrow-buffer runs above
    val recallDflt = brute.keySet.count(run(4, 128)).toDouble / brute.size
    assert(recallDflt >= recall4,
      s"default rerank=128 ($recallDflt) must not lose to rerank=32 ($recall4)")
    assert(recallDflt > 0.4, s"default-config recall floor: $recallDflt")
    info(f"learned-residual IVF-PQ recall@5: nProbe=2 $recall2%.3f, " +
      f"nProbe=4/rerank=32 $recall4%.3f, default (4, 128) $recallDflt%.3f")
  }

  test("pipeline e2e semantic: kept set is embedding-component exemplars ∩ the three filters") {
    import spark.implicits._
    val docs = Tables.load(spark, sf(), "documents")
    val sem = graft.operators.CurationPipeline.e2eSemantic(docs, emb)
      .select("doc_id").as[Long].collect().toSet
    val exemplars = Similarity.embedClusters(emb)
      .filter(col("kept")).select("vec_id").as[Long].collect().toSet
    val filters = graft.operators.Tables.fanOut(docs)
      .filter(graft.operators.TextAnalysis.repetitionKeep())
      .filter(graft.operators.TextAnalysis.qualityClassifierKeep)
      .filter(graft.operators.Sampling.keepCondition(
        graft.operators.Sampling.DefaultRates, graft.operators.Sampling.DefaultRate))
      .select("doc_id").as[Long].collect().toSet
    assert(sem.nonEmpty)
    assert(sem == (exemplars intersect filters),
      "semantic pipeline must keep exactly the semantic exemplars passing every filter")
  }

  test("train/val/test split: exhaustive, content-keyed (exact dups share a split), fractions in range") {
    val docs = Tables.load(spark, sf(), "documents")
    val rows = Sampling.trainValTestSplit(docs).collect()
    assert(rows.length == docs.count())
    val bySplit = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > bySplit.getOrElse("val", 0))
    // content-hash keying: byte-identical docs always land in the same split
    import spark.implicits._
    val dups = Seq((1L, "s", "same text"), (2L, "s", "same text"),
      (3L, "s", "other text")).toDF("doc_id", "source", "text")
    val dupSplits = Sampling.trainValTestSplit(dups).collect()
      .filter(r => r.getLong(0) <= 2L).map(_.getString(2)).distinct
    assert(dupSplits.length == 1, "exact duplicates must share one split")
  }

  test("embedding novelty gate: exact copies match their corpus twin at 1.0; orthogonal vectors are novel") {
    import spark.implicits._
    def oneHot(dim: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == dim) 1.0f else 0.0f)
    // corpus: one-hot vectors on dims 0..19 (ids 100..119); batch: exact
    // copies of dims 0..9 (ids 0..9) + one-hots on unseen dims 40..49
    // (ids 10..19, cos 0 with every corpus vector => novel)
    val corpus = (0 until 20).map(d => (100L + d, "c", oneHot(d)))
      .toDF("vec_id", "label", "embedding")
    val batch = ((0 until 10).map(d => (d.toLong, "b", oneHot(d))) ++
      (0 until 10).map(d => (10L + d, "b", oneHot(40 + d))))
      .toDF("vec_id", "label", "embedding")
    val rows = Similarity.embedNovelty(batch, corpus).collect()
    assert(rows.length == 20)
    rows.filter(_.getLong(0) < 10).foreach { r =>
      assert(!r.getBoolean(3), s"copy ${r.getLong(0)} must not be novel")
      assert(r.getLong(1) == 100L + r.getLong(0), "best match is the corpus twin")
      assert(r.getDouble(2) == 1.0)
    }
    rows.filter(_.getLong(0) >= 10).foreach { r =>
      assert(r.getBoolean(3), s"orthogonal ${r.getLong(0)} must be novel")
      assert(r.isNullAt(1) && r.isNullAt(2))
    }
  }

  test("near-dup split: every member of a cluster shares its split; near-dups cannot straddle train/test") {
    import spark.implicits._
    // a near-dup family (one word changed => jaccard > 0.8 on shingles),
    // an exact copy, and an unrelated doc
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu")
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((1L, "s", base), (2L, "s", near), (3L, "s", base),
      (4L, "s", other)).toDF("doc_id", "source", "text")
    val rows = Sampling.trainValTestSplitNearDup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    assert(rows(1L)._1 == 1L && rows(2L)._1 == 1L && rows(3L)._1 == 1L,
      "the near-dup family must share one cluster")
    assert(Set(rows(1L)._2, rows(2L)._2, rows(3L)._2).size == 1,
      "the whole family must land in one split")
    // on the real corpus: no cluster ever straddles splits
    val real = Sampling.trainValTestSplitNearDup(Tables.load(spark, sf(), "documents"))
    val straddlers = real.groupBy("cluster_id")
      .agg(countDistinct("split").as("ns")).filter(col("ns") > 1).count()
    assert(straddlers == 0L, "no cluster may straddle splits")
  }

  test("quality exemplars: keep is each cluster's max-quality member, ties to the lower id") {
    val docs = Tables.load(spark, sf(), "documents")
    val ex = CurationPipeline.qualityExemplars(docs).collect()
    val byCluster = Dedup.clusters(docs).select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2)
    val q = graft.operators.TextAnalysis.qualityScore(docs)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ex.length == byCluster.size, "one exemplar per cluster")
    ex.foreach { r =>
      val (c, keep, score, n) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      val members = byCluster(c).map(_._1)
      assert(n == members.length)
      val expected = members.maxBy(d => (q(d), -d))
      assert(keep == expected && score == q(keep),
        s"cluster $c kept $keep (${q(keep)}), expected $expected (${q(expected)})")
    }
  }

  test("canonical dedup folds case/punctuation/whitespace variants exact dedup misses") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "HELLO-WORLD"),
      (4L, "hello worlds"), (5L, "unrelated text")).toDF("doc_id", "text")
    val rows = Dedup.canonical(fixture).collect()
    assert(rows.length == 3)
    val g = rows.map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(g(1L) == ((3L, 3L)), "three raw variants of one canonical text")
    assert(g(4L) == ((1L, 1L)) && g(5L) == ((1L, 1L)))
    // exact dedup sees 5 distinct texts — the 3-variant fold is invisible to it
    assert(Dedup.exact(fixture).count() == 5)
  }

  test("source overlap counts each near-dup family once per source pair") {
    val docs = Tables.load(spark, sf(), "documents")
    val m = Dedup.sourceOverlap(docs).collect()
    m.foreach { r =>
      assert(r.getString(0) < r.getString(1), "unordered pairs, lexicographic")
      assert(r.getLong(2) >= 1L)
    }
    // replay: distinct (cluster, source) self-join ground truth
    val f = Dedup.clusters(docs).select("doc_id", "cluster_id")
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("cluster_id", "source").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = f.groupBy(_._1).values.toSeq.flatMap { members =>
      val ss = members.map(_._2).distinct.sorted.toSeq
      for (a <- ss; b <- ss if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(m.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap == expected)
  }

  test("curriculum tiers partition the corpus into ordered, non-overlapping score bands") {
    val docs = Tables.load(spark, sf(), "documents")
    val tiers = Sampling.curriculumTiers(docs).collect()
    assert(tiers.map(_.getLong(1)).sum == docs.count(), "every doc lands in exactly one tier")
    val ts = tiers.map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
    assert(ts.map(_._1).toSeq == ts.map(_._1).sorted.toSeq)
    ts.foreach { case (_, lo, hi) => assert(lo <= hi) }
    ts.sliding(2).foreach {
      case Array((_, _, hi), (_, lo, _)) => assert(hi <= lo,
        s"tier bands must not overlap: $hi > $lo")
      case _ =>
    }
    // sampled decile boundaries keep tiers within a loose factor of n/10
    val n = docs.count().toDouble
    tiers.foreach { r =>
      assert(r.getLong(1) <= n * 0.35, s"tier ${r.getLong(0)} holds ${r.getLong(1)} of $n docs")
    }
  }

  test("knn graph: full-probe form equals brute force for every vector") {
    val n = emb.count().toInt
    val g = Similarity.knnGraph(emb, k = 3, nProbe = 10000).collect()
    val bf = Similarity.bruteForceTopK(emb, k = 3, nQueries = n).collect()
    assert(g.nonEmpty)
    assert(g.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet ==
      bf.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet)
  }

  test("quality propagation: blend is the own/neighbor mean; isolated docs keep nulls") {
    val docs = Tables.load(spark, sf(), "documents")
    val rows = Similarity.qualityPropagation(docs, emb).collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val n = r.getLong(2)
      assert(n <= 3L, s"at most k neighbors, got $n")
      if (r.isNullAt(3)) assert(r.isNullAt(4), "no neighbors => no blend")
      else {
        val expected = (r.getDouble(1) + r.getDouble(3)) / 2.0
        assert(r.getDouble(4) == expected)
        assert(n > 0L)
      }
    }
    assert(rows.exists(!_.isNullAt(3)), "the corpus graph must have edges")
  }

  test("pagerank: integer mass conserved within floor loss; sink-free teleport floor exact") {
    val S = 1000000000000L
    val n = emb.count()
    val rows = Similarity.pageRank(emb).collect()
    assert(rows.length == n)
    val teleport = (S * 15L) / (100L * n)
    val prs = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every node holds at least the teleport share; total mass never exceeds
    // the seeded S and loses only floor-division remainders + sink leakage
    prs.values.foreach(p => assert(p >= teleport))
    val total = prs.values.sum
    assert(total <= S && total > (S * 90L) / 100L, s"mass $total of $S")
    // a node nothing points at holds EXACTLY the teleport share — the
    // iteration adds only in-edge contributions on top of it
    val dsts = Similarity.knnGraph(emb).select("neighbor_id")
      .distinct().collect().map(_.getLong(0)).toSet
    val noIn = prs.keySet -- dsts
    noIn.foreach(v => assert(prs(v) == teleport, s"vec $v: ${prs(v)} != $teleport"))
    // non-degenerate: the kNN graph concentrates mass on hubs
    assert(prs.values.max > teleport * 2, "expected at least one hub above 2x teleport")
    // the double projection is exactly the one scaled division
    rows.foreach(r => assert(r.getDouble(2) == r.getLong(1).toDouble / 1e12))
  }

  test("mmr: each step is the exact greedy argmax over the candidate pool") {
    val rows = Similarity.mmrTopK(emb).collect()
    assert(rows.map(_.getLong(3)).toSeq == (1L to 5L))
    // independent greedy replay from the raw ingredients
    val cand = Similarity.bruteForceTopK(emb, k = 20, nQueries = 1).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    def cos(a: Long, b: Long): Double = {
      val v = emb.filter(col("vec_id").isin(a, b)).collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000)).toArray).toMap
      val (qa, qb) = (v(a), v(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
    }
    var sel = Vector.empty[Long]
    rows.foreach { r =>
      val remaining = cand.keySet -- sel
      val scored = remaining.toSeq.map { c =>
        val maxsim = if (sel.isEmpty) 0.0 else sel.map(s => cos(c, s)).max
        (c, cand(c) * 0.5 - maxsim * 0.5)
      }
      val best = scored.minBy { case (id, s) => (-s, id) }
      assert(r.getLong(0) == best._1,
        s"step ${r.getLong(3)}: picked ${r.getLong(0)}, greedy argmax is ${best._1}")
      if (sel.nonEmpty)
        assert(math.abs(r.getDouble(2) - best._2) < 1e-12)
      sel :+= best._1
    }
    // diversity is real on this corpus: MMR's picks differ from plain top-5
    val plain = Similarity.bruteForceTopK(emb, k = 5, nQueries = 1)
      .collect().map(_.getLong(1)).toSet
    assert(rows.map(_.getLong(0)).toSet != plain,
      "pool must contain redundancy for MMR to reorder (fixture too clean?)")
  }

  test("brute-force top-k: k neighbors per query, descending cosine, |cos| <= 1") {
    val rows = Similarity.bruteForceTopK(emb, k = 3, nQueries = 5).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 5L).toSet)
    byQuery.values.foreach { rs =>
      assert(rs.length == 3)
      val cs = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("multimodal feature stub: deterministic first-8-byte features, one row per (doc, index)") {
    val f = Multimodal.features(docs.limit(5)).collect()
    assert(f.length == 5 * 8, "5 docs x 8 feature indices")
    val txt = docs.orderBy("doc_id").limit(1).select("text").as[String].head()
    val firstDoc = f.filter(_.getLong(0) == f.map(_.getLong(0)).min)
      .sortBy(_.getLong(2)) // feat_idx
    assert(firstDoc.map(_.getLong(2)).toSeq == (0L until 8L))
    assert(firstDoc.head.getDouble(3) == (txt.getBytes("UTF-8")(0) & 0xff) / 255.0)
    assert(firstDoc.forall(r => r.getLong(1) == txt.getBytes("UTF-8").length.toLong))
  }

  test("frame sample: every 4th 16-byte frame, tail frame partial") {
    val crafted = Seq((1L, "x" * 70)).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(crafted).collect()
    // 70 bytes -> frames 0..4; sampled: 0 and 4; frame 4 has 70-64=6 bytes
    assert(frames.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 16L), (4L, 6L)))
  }

  test("winnowing: identical docs share all fingerprints; edited doc shares most; disjoint none") {
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
    val crafted = Seq(
      (1L, base),
      (2L, base),
      (3L, base.replace("lazy dog", "sleepy wolf")),
      (4L, "completely unrelated content about matrix multiplication kernels and gpu memory bandwidth limits today")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(crafted).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert(fps(1L) == fps(2L))
    val overlap13 = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap13 > 0.3 && overlap13 < 1.0, s"edited-doc overlap $overlap13")
    assert(fps(1L).intersect(fps(4L)).isEmpty)

    val pairs = TextAnalysis.winnowingPairs(crafted, minShared = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("trigram language id: trained profiles score and classify every doc") {
    // NB the synthetic corpus's lang labels are arbitrary (all docs draw the
    // same token vocabulary), so label accuracy is chance — the semantics
    // are pinned by the DuckDB oracle; this spec asserts the pipeline shape.
    val out = TextAnalysis.langIdTrigram(docs).collect()
    assert(out.length == docs.count())
    // profiles are trained on this corpus, so nearly every doc hits some
    // profile trigram
    val hit = out.count(r => r.getAs[Long]("t_en") + r.getAs[Long]("t_es") +
      r.getAs[Long]("t_de") > 0)
    assert(hit.toDouble / out.length > 0.9, s"only $hit/${out.length} docs hit a profile")
    assert(out.map(_.getAs[String]("pred_lang")).toSet.subsetOf(
      Set("en", "es", "de", "unknown")))
    // argmax consistency: predicted language has the (tie-broken) max score
    out.foreach { r =>
      val (e, s, d) = (r.getAs[Long]("t_en"), r.getAs[Long]("t_es"), r.getAs[Long]("t_de"))
      val expected =
        if (e >= s && e >= d && e > 0) "en"
        else if (s >= d && s > 0) "es"
        else if (d > 0) "de" else "unknown"
      assert(r.getAs[String]("pred_lang") == expected)
    }
  }

  test("contamination: only docs sharing an n-gram with the eval slice are flagged") {
    // eval slice = doc_id % 97 == 3 -> doc 3 is eval (NB 100 % 97 == 3 too,
    // so the training docs use 101/200); doc 101 shares a 3-gram, 200 none
    val crafted = Seq(
      (3L, "alpha beta gamma delta epsilon"),
      (101L, "prefix words then alpha beta gamma suffix"),
      (200L, "completely unrelated tokens everywhere here")).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(crafted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(101L -> 1L), out.toString)
  }

  test("top bigrams: token array bound once (no re-split in the lambda), long doc stays linear") {
    import spark.implicits._
    // 30k words: the old form re-evaluated split(text) for EVERY element
    // access inside the transform lambda (lambda bodies get no subexpression
    // elimination) — ~2.7e9 string splits for this document, minutes of work.
    // The bound-array form does one split + one linear pass.
    val longDoc = (0 until 30000).map(i => s"w${i % 977}").mkString(" ")
    val docs = Seq((1L, longDoc), (2L, "a b a b a c")).toDF("doc_id", "text")
    val df = TextAnalysis.topBigrams(docs, k = 5)
    // plan shape: the generator's lambda reads the bound array attribute —
    // any split() inside it means CollapseProject re-inlined the projection
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator.toString
    }
    assert(gen.nonEmpty, "expected an explode Generate in the plan")
    assert(!gen.head.contains("split("),
      s"re-split inside the bigram lambda (quadratic on long docs): ${gen.head}")
    val t0 = System.nanoTime()
    val top = df.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, f"30k-word doc took $secs%.1f s — quadratic re-split back?")
    // correctness: the cyclic long doc's dominant bigrams count ~31; doc 2
    // alone yields "a b" twice (output values pinned by the DuckDB oracle)
    assert(top.head.getLong(1) >= 30L, top.mkString(", "))
    val small = TextAnalysis.topBigrams(docs.filter($"doc_id" === 2L), k = 1).collect()
    assert(small.head.getString(0) == "a b" && small.head.getLong(1) == 2L)
  }

  test("repetition: degenerate doc rejected, varied doc kept, fractions exact") {
    // doc 2 needs > 2/0.18 ~ 11 tokens for an all-distinct doc to pass the
    // top-bigram threshold (every bigram unique -> frac = 2/n)
    val crafted = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "a sufficiently varied document holding twenty distinct tokens " +
        "so that no single bigram can dominate its contents at all today ok")).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(crafted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("top_bigram_frac"), r.getAs[Double]("dup_token_frac"),
          r.getAs[Boolean]("keep"))).toMap
    // doc 1: 10 tokens, top bigram "spam spam" count 9 -> frac 1.8; dup 0.9
    assert(out(1L) == ((1.8, 0.9, false)))
    assert(out(2L)._3, "varied doc must pass")
    assert(out(2L)._2 == 0.0)
  }

  test("repetition + keep filter + contamination: token array bound once, 30k-word doc stays linear") {
    import spark.implicits._
    // same fixture class as the topBigrams spec: the former topRun /
    // contamination forms re-split the whole document per lambda element
    // (~2.7e9 splits for this doc — minutes); the bound-array forms do one
    // split + one linear pass. ScaleTechniquesSpec bans the plan shape
    // registry-wide; this pins the runtime behavior on a book-length doc.
    val longDoc = (0 until 30000).map(i => s"w${i % 977}").mkString(" ")
    val varied = "a sufficiently varied document holding twenty distinct tokens " +
      "so that no single bigram can dominate its contents at all today ok"
    val docs = Seq((1L, longDoc), (2L, varied)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val rep = TextAnalysis.repetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // cyclic 977-period doc: 29999 bigrams / 977 distinct -> max count ~31;
    // dup_token_frac (30000-977)/30000 ~ 0.97 rejects it, the varied doc passes
    assert(rep(1L).getAs[Long]("n_tokens") == 30000L)
    assert(rep(1L).getAs[Long]("top_bigram_count") >= 30L)
    assert(!rep(1L).getAs[Boolean]("keep"))
    assert(rep(2L).getAs[Boolean]("keep"))
    // the standalone-Column filter (single-element transform binding) agrees
    val kept = docs.filter(TextAnalysis.repetitionKeep()).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), kept.toString)
    // contamination: doc 3 (eval slice, 3 % 97 == 3) shares exactly the
    // 3-gram "w0 w1 w2" with the long training doc
    val cdocs = Seq((1L, longDoc), (3L, "w0 w1 w2")).toDF("doc_id", "text")
    val cont = TextAnalysis.contamination(cdocs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cont == Map(1L -> 1L), cont.toString)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, f"30k-word doc took $secs%.1f s — quadratic re-split back?")
  }

  test("uniform bottom-k sample: TakeOrdered plan (no global sort), consistent under corpus growth") {
    val df = operators.Sampling.uniformSample(docs, k = 50)
    // per-partition bottom-k + k-merge, never a range-partitioned global sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    assert(!plan.contains("rangepartitioning"), s"global sort crept in:\n${plan.take(600)}")
    val full = df.collect().map(_.getLong(0)).toSet
    assert(full.size == 50)
    // consistency: any sampled doc that lies in a SUB-corpus must also be
    // in that sub-corpus's own sample (its hash is among the k smallest of
    // the superset, hence of the subset) — the append-stability property
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val subSample = operators.Sampling.uniformSample(
      docs.filter(col("doc_id") < mid), k = 50).collect().map(_.getLong(0)).toSet
    val inSub = full.filter(_ < mid)
    assert(inSub.subsetOf(subSample),
      s"consistency violated: ${inSub -- subSample} sampled from the full corpus but not the half")
  }

  test("hash sampling: deterministic, rate-monotone, stats match kept set") {
    val stats = operators.Sampling
      .hashSampleStats(docs, operators.Sampling.DefaultRates, operators.Sampling.DefaultRate)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))).toMap
    val kept = operators.Sampling
      .hashSampleKept(docs, operators.Sampling.DefaultRates, operators.Sampling.DefaultRate)
      .collect()
    // per-source kept counts agree between the two views
    val keptBySource = kept.groupBy(_.getAs[String]("source")).view.mapValues(_.length.toLong).toMap
    stats.foreach { case (src, (_, nKept)) =>
      assert(keptBySource.getOrElse(src, 0L) == nKept, s"mismatch at $src")
    }
    // rate 1.0 keeps everything; the decision is content-hash deterministic
    assert(stats("src0")._1 == stats("src0")._2, "rate 1.0 must keep all docs")
    val again = operators.Sampling
      .hashSampleKept(docs, operators.Sampling.DefaultRates, operators.Sampling.DefaultRate)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_.getLong(0)).toSet)
  }

  test("sequence packing: contiguous offsets per source, chunk spans consistent") {
    val packed = operators.Sampling.packChunks(docs, budget = 512).collect()
    packed.groupBy(_.getAs[String]("source")).values.foreach { rs =>
      val inOrder = rs.sortBy(_.getAs[Long]("doc_id"))
      // offsets are the exact running concatenation — no gaps, no overlap
      inOrder.foldLeft(0L) { (expected, r) =>
        assert(r.getAs[Long]("tok_offset") == expected,
          s"gap at doc ${r.getAs[Long]("doc_id")}")
        expected + r.getAs[Long]("n_tokens")
      }
      rs.foreach { r =>
        val (off, n) = (r.getAs[Long]("tok_offset"), r.getAs[Long]("n_tokens"))
        assert(r.getAs[Long]("chunk_first") == off / 512)
        assert(r.getAs[Long]("chunk_last") == (off + n - 1) / 512)
        assert(r.getAs[Long]("chunk_last") >= r.getAs[Long]("chunk_first"))
      }
    }
    // the two-level prefix sum is byte-identical when the shard width forces
    // MANY shards per source (width 16 ⇒ every source spans dozens of
    // shards at sf0.001 — the 100 TB path where no task sees a whole source)
    val sharded = operators.Sampling.packChunks(docs, budget = 512, shardWidth = 16L)
      .collect().map(_.toSeq).toSet
    assert(sharded == packed.map(_.toSeq).toSet,
      "multi-shard packing must equal the single-shard concatenation")
  }

  test("language id picks the language with most stopword hits") {
    val crafted = Seq(
      (1L, "en", "the cat sat on the mat and the dog is a friend of it"),
      (2L, "es", "el gato y la casa de los amigos que vienen en la tarde"),
      (3L, "de", "der hund und die katze das haus ist ein freund zu allen"),
      (4L, "zh", "words without any stopword hits here")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langId(crafted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "unknown"))
  }

  test("tfidf top-k: a doc's distinctive rare term outranks corpus-wide filler") {
    val crafted = Seq(
      (1L, "common common common zebra"),
      (2L, "common common xylophone xylophone"),
      (3L, "common filler words here")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(crafted, k = 2).collect()
    val top = out.filter(_.getAs[Long]("rnk") == 1L)
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // zebra: tf 1, df 1 -> score 3; common: tf 3, df 3 -> score 3; tie broken
    // by term asc -> common. xylophone: tf 2, df 1 -> score 6 beats common.
    assert(top(2L) == "xylophone")
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.sameElements(1L to rs.length))
    }
  }

  test("bm25 top-k: coverage beats tf, tf saturates, length norm penalizes, non-matches score zero") {
    val crafted = Seq(
      (1L, "merge window hash pad"),                          // all 3 terms, short
      (2L, "merge merge merge merge merge merge merge merge"), // one term, tf 8
      (3L, "merge pad pad pad pad pad pad pad"),               // one term, tf 1
      (4L, "pad pad pad pad")).toDF("doc_id", "text")          // no query terms
    val out = TextAnalysis.bm25TopK(crafted).collect()
    val order = out.map(_.getAs[Long]("doc_id")).toSeq
    // rare-term coverage (window+hash, df 1) dominates; tf 8 of the common
    // term beats tf 1 of it (saturated, not 8x); zero matches rank last
    assert(order == Seq(1L, 2L, 3L, 4L), s"ranking: $order")
    val score = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(score(4L) == 0.0)
    assert(score(2L) < 3.0 * score(3L), "tf term saturates well below linear")
    // k bounds the result (TakeOrderedAndProject, not a global sort)
    assert(TextAnalysis.bm25TopK(crafted, k = 3).collect().map(_.getAs[Long]("doc_id")).toSeq
      == Seq(1L, 2L, 3L))
  }

  test("source report: dup rate, token totals, and repetition-keep counts per source") {
    // keep needs >= 12 tokens with no repeated bigram (2/n <= 0.18)
    val kept = "one two three four five six seven eight nine ten eleven twelve"
    val crafted = Seq(
      (1L, kept, "a"),
      (2L, kept, "a"), // exact dup in source a
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "a"),
      (4L, "spam spam spam spam spam spam", "b")). // rejected by repetition filter
      toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceReport(crafted).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("a").getAs[Long]("n_docs") == 3L)
    assert(out("a").getAs[Long]("n_distinct_texts") == 2L)
    assert(out("a").getAs[Long]("total_tokens") == 36L)
    assert(out("a").getAs[Long]("n_keep_repetition") == 3L)
    assert(out("a").getAs[Double]("dup_rate") == 1.0 / 3.0)
    assert(out("b").getAs[Long]("n_keep_repetition") == 0L)
  }

  test("kmeans: every vector assigned once to a locally-nearest final centroid; identical vectors co-cluster") {
    val out = Similarity.kmeans(emb).collect()
    assert(out.length == emb.count())
    assert(out.map(_.getAs[Long]("vec_id")).distinct.length == out.length)
    assert(out.forall(_.getAs[Long]("dist2") >= 0L))
    val nClusters = out.map(_.getAs[Long]("cluster")).distinct.length
    assert(nClusters > 1 && nClusters <= 8, s"got $nClusters clusters")
    // a duplicated vector must land in the same cluster with the same dist2
    import spark.implicits._
    val dup = emb.limit(1).unionAll(emb.limit(1).withColumn("vec_id", lit(999999L)))
      .unionAll(emb.filter(col("vec_id") >= 1))
    val dupOut = Similarity.kmeans(dup).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cluster"), r.getAs[Long]("dist2"))).toMap
    assert(dupOut(emb.select(min("vec_id")).head().getLong(0)) == dupOut(999999L))
  }

  test("cluster-balanced sample: rates equalize toward the smallest cluster, which keeps everything") {
    val out = Similarity.clusterBalancedSample(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, rate, kept) = (r.getAs[Long]("n_vecs"),
        r.getAs[Double]("target_rate"), r.getAs[Long]("n_kept"))
      assert(rate > 0.0 && rate <= 1.0 && kept <= n)
    }
    val minRow = out.minBy(_.getAs[Long]("n_vecs"))
    assert(minRow.getAs[Double]("target_rate") == 1.0)
    assert(minRow.getAs[Long]("n_kept") == minRow.getAs[Long]("n_vecs"))
    assert(out.map(_.getAs[Long]("n_vecs")).sum == emb.count())
  }

  test("shuffle shards: per-shard positions contiguous from 1, all docs covered, deterministic") {
    val a = Sampling.shuffleShards(docs).collect()
    val b = Sampling.shuffleShards(docs).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "shuffle must be deterministic")
    assert(a.map(_.getAs[Long]("doc_id")).toSet.size == docs.count())
    a.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val pos = rs.map(_.getAs[Long]("pos_in_shard")).sorted
      assert(pos.sameElements(1L to rs.length), "positions must be 1..n per shard")
    }
  }

  test("clusters equal the connected components of the minhash pair graph (union-find replay)") {
    val pairs = Dedup.minhashPairs(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min id stays root
    }
    val out = Dedup.clusters(docs).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val (id, cid, kept) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      assert(cid == find(id), s"doc $id: cluster $cid != union-find ${find(id)}")
      assert(kept == (cid == id))
    }
  }

  test("clusters: a near-dup CHAIN (A~B~C, A!~C) converges to one component — multi-round propagation") {
    // base(40 tokens) -> 38 shingles; B adds 3 tokens (41 sh, j(A,B)=38/41≈.927);
    // C adds 7 more (48 sh, j(B,C)=41/48≈.854, j(A,C)=38/48≈.792 < .8), so the
    // component only exists through the B link (verified against the oracle
    // pipeline: exactly {(10,20),(20,30)} come out of the pair stage).
    val base = (1 to 40).map(i => s"w$i")
    val a = base.mkString(" ")
    val b = (base ++ (1 to 3).map(i => s"x$i")).mkString(" ")
    val c = (base ++ (1 to 3).map(i => s"x$i") ++ (1 to 7).map(i => s"y$i")).mkString(" ")
    val crafted = Seq((10L, a), (20L, b), (30L, c),
      (40L, (1 to 40).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val pairSet = Dedup.minhashPairs(crafted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((10L, 20L)) && pairSet.contains((20L, 30L)),
      s"chain premise: LSH must catch both links, got $pairSet")
    assert(!pairSet.contains((10L, 30L)), "A~C would make the chain trivial")
    val out = Dedup.clusters(crafted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(10L) == ((10L, true)) && out(20L) == ((10L, false)) &&
      out(30L) == ((10L, false)), s"one component rooted at 10: $out")
    assert(out(40L) == ((40L, true)), "unrelated doc stays a kept singleton")
  }

  test("spans: shared substring yields one span of exactly its length; internal repetition covers the doc") {
    val p = "the quick brown fox jumps over the lazy dog once more" // 53 bytes
    val r = "abcdefghijklmnopqrstuvwxyz1234" // 30 bytes
    val crafted = Seq(
      (1L, p + "XtailXwordsXneverXrepeatedX"),      // P then unique tail
      (2L, "QheadQuniqueQ" + p + "ZcodaZfinishZ"),  // P embedded, distinct borders
      (3L, "totally fresh content with no repeats anywhere inside"),
      (4L, r + r)).toDF("doc_id", "text")
    val out = Dedup.spans(crafted, k = 24).collect()
      .map(x => x.getLong(0) -> x).toMap
    // shared P: L-k+1 consecutive dup windows merge to one span of L bytes
    for (id <- Seq(1L, 2L)) {
      assert(out(id).getAs[Long]("dup_spans") == 1L, s"doc $id spans")
      assert(out(id).getAs[Long]("dup_bytes") == p.length.toLong, s"doc $id bytes")
    }
    assert(out(3L).getAs[Long]("dup_spans") == 0L)
    assert(out(3L).getAs[Long]("dup_bytes") == 0L)
    assert(out(3L).getAs[Boolean]("keep"))
    // R+R: every window repeats |R| bytes later; the two runs merge (gap == k)
    assert(out(4L).getAs[Long]("dup_spans") == 1L)
    assert(out(4L).getAs[Long]("dup_bytes") == 2L * r.length)
    assert(out(4L).getAs[Double]("dup_frac") == 1.0)
    assert(!out(4L).getAs[Boolean]("keep"))
  }

  test("spans clean: first occurrence survives, copies lose the shared bytes, internal repeats collapse") {
    val p = "the quick brown fox jumps over the lazy dog once more"
    val r = "abcdefghijklmnopqrstuvwxyz1234" // 30 bytes, one 24-byte window family
    val crafted = Seq(
      (1L, p + "X"), // keeper of every shared window
      (2L, p + "Y"), // copy: shared prefix removed, unique suffix survives
      (3L, "totally fresh content with no repeats anywhere inside"),
      (4L, r + r))   // internal repeat: second R collapses
      .toDF("doc_id", "text")
    val out = Dedup.spansClean(crafted, k = 24).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(out(1L).getAs[String]("clean_text") == p + "X", "keeper must be untouched")
    assert(out(1L).getAs[Long]("removed_bytes") == 0L)
    // doc 2 keeps only what its last (unshared) windows cover: the suffix
    val c2 = out(2L).getAs[String]("clean_text")
    assert(c2.endsWith("Y") && c2.length < p.length, s"copy kept '$c2'")
    assert(out(3L).getAs[Long]("removed_bytes") == 0L)
    assert(out(4L).getAs[String]("clean_text") == r, "R+R must collapse to one R")
  }

  test("spans on testdata: covered bytes bounded by doc size, every doc reported once") {
    val out = Dedup.spans(docs).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val (nb, ds, db) = (r.getAs[Long]("n_bytes"), r.getAs[Long]("dup_spans"), r.getAs[Long]("dup_bytes"))
      assert(db >= 0L && db <= nb, s"covered $db out of $nb")
      assert((ds == 0L) == (db == 0L))
      if (ds > 0) assert(db >= 24L, "a span is at least one window long")
    }
    assert(out.exists(_.getAs[Long]("dup_spans") > 0L), "corpus has near-dups; spans must fire")
  }

  test("containment catches a doc embedded in a larger one where jaccard misses it") {
    val para = (1 to 30).map(i => s"core$i").mkString(" ") // 30 unique tokens
    val page = "intro words here " + para + " " + (1 to 60).map(i => s"pad$i").mkString(" ")
    val crafted = Seq(
      (1L, para, "s0"), (2L, page, "s0"),
      (3L, "unrelated text about something else entirely different", "s0"))
      .toDF("doc_id", "text", "source")
    val cont = Dedup.containmentPairs(crafted, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every 3-shingle of the paragraph appears contiguously inside the page
    assert(cont.get((1L, 2L)).exists(_ == 1.0), s"containment pairs: $cont")
    assert(!cont.contains((1L, 3L)) && !cont.contains((2L, 3L)))
    // the same pair is INVISIBLE to symmetric jaccard at any useful threshold
    val jac = Dedup.jaccardPairs(crafted, threshold = 0.5).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "premise: jaccard must miss the size-skewed pair")
  }

  test("spans: a collision-free corpus reports zero phantom-dup windows (61-bit hash space)") {
    // every token carries its doc id, so no 24-byte window repeats anywhere
    // in the corpus — any reported dup would be a rolling-hash collision.
    // At the 61-bit modulus the expected phantom pairs over W windows are
    // ~W²/2^62 (~1e-10 here); the old 31-bit space gave ~W²/2^32.
    val crafted = (1 to 200).map(i =>
      (i.toLong, (1 to 12).map(j => s"u${i}q${j}r${i * 31 + j}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.spans(crafted).collect()
    assert(out.forall(_.getAs[Long]("dup_spans") == 0L), "phantom duplicate window")
    assert(out.forall(_.getAs[Long]("dup_bytes") == 0L))
  }

  test("spans/clean on multibyte UTF-8: all accounting in bytes, exact copy empties") {
    val m = "héllo wörld — 日本語のテキストが続く naïve café über alles" // multibyte
    val crafted = Seq(
      (1L, m),                                                  // keeper
      (2L, m),                                                  // exact copy
      (3L, "plain ascii filler with no duplicate content here")).toDF("doc_id", "text")
    val nb = m.getBytes("UTF-8").length.toLong
    val sp = Dedup.spans(crafted, k = 24).collect().map(r => r.getLong(0) -> r).toMap
    assert(sp(1L).getAs[Long]("n_bytes") == nb, "n_bytes is octet_length, not char count")
    assert(sp(1L).getAs[Long]("dup_bytes") == nb && sp(2L).getAs[Long]("dup_bytes") == nb)
    val cl = Dedup.spansClean(crafted, k = 24).collect().map(r => r.getLong(0) -> r).toMap
    assert(cl(1L).getAs[String]("clean_text") == m, "first occurrence untouched")
    assert(cl(2L).getAs[String]("clean_text") == "", "copy fully cut")
    assert(cl(2L).getAs[Long]("removed_bytes") == nb, "removal accounted in bytes")
  }

  test("incremental: exact copy matches at 1.0 with the lowest existing id, near-dup matches its group, fresh doc is novel") {
    val t1 = (1 to 30).map(i => s"t$i").mkString(" ")
    val base = (1 to 40).map(i => s"w$i")
    val nearExisting = (base ++ (1 to 3).map(i => s"x$i")).mkString(" ") // j vs base ≈ .927
    val crafted = Seq(
      (0L, t1),                                  // existing
      (4L, t1),                                  // existing, same text (group min is 0)
      (2L, nearExisting),                        // existing near-dup target
      (1L, t1),                                  // batch: exact copy -> match 0 @ 1.0
      (3L, base.mkString(" ")),                  // batch: near-dup -> match 2
      (5L, (1 to 40).map(i => s"q$i").mkString(" "))) // batch: novel
      .toDF("doc_id", "text")
    val out = Dedup.incremental(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 3L, 5L), "one row per batch doc")
    assert(out(1L).getAs[Long]("best_match") == 0L)
    assert(out(1L).getAs[Double]("best_jaccard") == 1.0)
    assert(!out(1L).getAs[Boolean]("novel"))
    assert(out(3L).getAs[Long]("best_match") == 2L)
    val j = out(3L).getAs[Double]("best_jaccard")
    assert(j >= 0.8 && j < 1.0, s"near-dup jaccard $j")
    assert(!out(3L).getAs[Boolean]("novel"))
    assert(out(5L).getAs[Boolean]("novel"))
    assert(out(5L).isNullAt(out(5L).fieldIndex("best_match")))
  }

  test("incremental adds no pins beyond minhashPairs' working sets (one materialization serves both)") {
    Dedup.minhashPairs(docs).count()
    val afterPairs = PinnedCaches.size(spark)
    Dedup.incremental(docs).count()
    assert(PinnedCaches.size(spark) == afterPairs,
      "incremental must reuse the dup-group/shingle pins, not add twins")
  }

  test("embed clusters: identical/parallel vectors co-cluster under the min id; an opposed vector stays out") {
    val up = (0 until 64).map(i => (i % 7 + 1).toFloat).toArray
    val crafted = Seq(
      (0L, "a", up),
      (1L, "a", up),                      // identical -> cos 1.0
      (2L, "b", up.map(_ * 2.0f)),        // parallel  -> cos 1.0, same sign buckets
      (3L, "b", up.map(_ * -1.0f)))       // opposed   -> cos -1.0
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.embedClusters(crafted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((0L, false)) && out(2L) == ((0L, false)))
    assert(out(3L) == ((3L, true)))
  }

  test("embed clusters on testdata agree with a union-find replay of the LSH pair graph") {
    val pairs = Similarity.lshCosinePairs(emb).select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = Similarity.embedClusters(emb).collect()
    assert(out.length == emb.count())
    out.foreach { r =>
      assert(r.getLong(1) == find(r.getLong(0)))
      assert(r.getBoolean(2) == (r.getLong(1) == r.getLong(0)))
    }
  }

  test("funnel: strict ordering rules — clicks before the first view and purchases before the first qualifying click don't count") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val events = Seq(
      // u1 completes the funnel in order
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // u2: click BEFORE its first view -> depth stops at 1
      (2L, ts(1), "click"), (2L, ts(2), "view"),
      // u3: purchase arrives before the click that follows the view -> depth 2
      (3L, ts(1), "view"), (3L, ts(2), "purchase"), (3L, ts(3), "click"),
      // u4: later click qualifies even though an earlier one didn't
      (4L, ts(1), "click"), (4L, ts(2), "view"), (4L, ts(3), "click"), (4L, ts(4), "purchase"),
      // u5: only views
      (5L, ts(1), "view"), (5L, ts(2), "view"))
      .toDF("user_id", "ts", "event_type")
    val out = RelationalQueries.funnelOf(events).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("steps") == 3L)
    assert(out(2L).getAs[Long]("steps") == 1L)
    assert(out(3L).getAs[Long]("steps") == 2L)
    assert(out(4L).getAs[Long]("steps") == 3L)
    assert(out(4L).getAs[Any]("t_click").toString.contains("10:03")) // ntz -> LocalDateTime
    assert(out(5L).getAs[Long]("steps") == 1L)
    assert(out(5L).getAs[Any]("t_view").toString.contains("10:01"))
  }

  test("retention: cohort = first-seen hour, each later active hour counts distinct users once") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val events = Seq(
      (1L, ts(10, 0)), (1L, ts(10, 30)), (1L, ts(12, 5)),  // cohort 10:00; ages 0 (x2 -> once), 2
      (2L, ts(10, 59)), (2L, ts(11, 1)),                   // cohort 10:00; ages 0, 1
      (3L, ts(11, 0)))                                     // cohort 11:00; age 0
      .toDF("user_id", "ts")
    val out = RelationalQueries.retentionOf(events).collect()
      .map(r => (r.get(0).toString.take(13), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("2026-01-01T10", 0L) -> 2L,  // users 1 and 2 active in their cohort hour
      ("2026-01-01T10", 1L) -> 1L,  // user 2 an hour later
      ("2026-01-01T10", 2L) -> 1L,  // user 1 two hours later
      ("2026-01-01T11", 0L) -> 1L), s"got $out")
  }

  test("dup frames: aligned shared prefixes and internal repeats dedupe to the lowest (doc, idx) keeper") {
    val block = "0123456789abcdef" // exactly one 16-byte frame
    val crafted = Seq(
      (1L, block + "uniq tail one ........"),
      (2L, block + "different tail two ...."),
      (3L, block + block + "x"),              // internal repeat of the same block
      (4L, "no duplicate frames here at all ....."))
      .toDF("doc_id", "text")
    val out = Multimodal.dupFrames(crafted).collect()
    val hit = out.find(_.getAs[Long]("n_occurrences") >= 4L)
    assert(hit.isDefined, s"the shared block must group: ${out.mkString(";")}")
    assert(hit.get.getAs[Long]("n_docs") == 3L)
    assert(hit.get.getAs[Long]("keep_doc") == 1L)
    assert(hit.get.getAs[Long]("keep_idx") == 0L)
  }

  test("quality classifier: score is the exact fixed-weight dot product; keep is its sign") {
    val text = "the cat sat" // n_chars 11, 3 tokens, 3 distinct, 1 stopword
    val crafted = Seq((1L, text, 11L)).toDF("doc_id", "text", "n_chars")
    val r = TextAnalysis.qualityClassifier(crafted).collect().head
    val sr = 1.0 / 3
    val dv = 3.0 / 3
    val mwl = (11.0 - 2) / 3
    val ln = math.min(3L, 100L).toDouble / 100.0
    val expected = -2.2 + 4.0 * sr + 2.0 * dv + 0.1 * mwl + 1.0 * ln
    assert(r.getAs[Double]("score") == expected, "bit-exact IEEE chain")
    assert(r.getAs[Boolean]("keep") == (expected >= 0.0))
  }

  test("pipeline e2e near: kept set swaps exact dedup for cluster keep, rest identical") {
    val near = CurationPipeline.e2eNear(docs).collect()
    val clusterKeep = Dedup.clusters(docs).collect()
      .filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("doc_id")).toSet
    val repKeep = TextAnalysis.repetition(docs).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    val clsKeep = TextAnalysis.qualityClassifier(docs).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    val mixKeep = Sampling.hashSampleKept(docs, Sampling.DefaultRates, Sampling.DefaultRate)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(near.map(_.getAs[Long]("doc_id")).toSet == (clusterKeep & repKeep & clsKeep & mixKeep))
    // the near stage strictly strengthens exact dedup: cluster keepers are a
    // subset of exact keepers, so the near pipeline keeps at most e2e's docs
    val exactIds = CurationPipeline.e2e(docs).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(near.map(_.getAs[Long]("doc_id")).toSet.subsetOf(exactIds))
    assert(near.nonEmpty, "pipeline must keep something")
  }

  test("pipeline e2e: kept set is exactly the intersection of the four stand-alone keep decisions") {
    val e2e = CurationPipeline.e2e(docs).collect()
    val dedupKeep = Dedup.exact(docs).select("keep_id").collect().map(_.getLong(0)).toSet
    val repKeep = TextAnalysis.repetition(docs).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    val clsKeep = TextAnalysis.qualityClassifier(docs).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    val mixKeep = Sampling.hashSampleKept(docs, Sampling.DefaultRates, Sampling.DefaultRate)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val expected = dedupKeep & repKeep & clsKeep & mixKeep
    assert(e2e.map(_.getAs[Long]("doc_id")).toSet == expected)
    assert(e2e.nonEmpty && e2e.length < docs.count(), "pipeline must filter, not erase")
    // packing invariant holds over the filtered stream: per-source offsets
    // are the running sum of the kept docs' token counts in id order
    e2e.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var off = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("tok_offset") == off)
        off += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("hybrid RRF retrieval: exact-integer fusion of the BM25 and cosine rankings") {
    val L = 142813628717760L // lcm(61..70)
    val out = CurationPipeline.hybridRetrievalRrf(docs, emb).collect()
    assert(out.length == 10)
    // member ranks are 0 (absent from that list) or 1..10
    out.foreach { r =>
      val (b, v) = (r.getAs[Long]("bm25_rank"), r.getAs[Long]("vec_rank"))
      assert(b >= 0 && b <= 10 && v >= 0 && v <= 10, r.toString)
      assert(b > 0 || v > 0, "a fused doc must come from at least one list")
      // the fused score IS the exact scaled RRF sum — recomputable per row
      val expected = (if (b > 0) L / (60 + b) else 0L) + (if (v > 0) L / (60 + v) else 0L)
      assert(r.getAs[Long]("rrf_scaled") == expected, r.toString)
    }
    // the source rankings re-derive: every top-10 member of each list that
    // made the fused cut carries its original rank
    val bmTop = CurationPipeline.hybridRetrievalRrf(docs, emb) // plan identical; reuse out
    val bm = TextAnalysis.bm25TopK(docs, k = 10).collect()
      .sortBy(r => (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
      .map(_.getAs[Long]("doc_id")).zipWithIndex.toMap
    out.filter(_.getAs[Long]("bm25_rank") > 0).foreach { r =>
      assert(bm(r.getAs[Long]("doc_id")) + 1 == r.getAs[Long]("bm25_rank"), r.toString)
    }
    // fusion beats either single list for a doc present in both: any
    // both-lists doc outranks a doc whose single rank is no better
    val both = out.filter(r => r.getAs[Long]("bm25_rank") > 0 && r.getAs[Long]("vec_rank") > 0)
    both.foreach { r =>
      val single = out.filter(s => (s.getAs[Long]("bm25_rank") == 0) ^ (s.getAs[Long]("vec_rank") == 0))
        .filter { s =>
          val sr = math.max(s.getAs[Long]("bm25_rank"), s.getAs[Long]("vec_rank"))
          sr >= math.min(r.getAs[Long]("bm25_rank"), r.getAs[Long]("vec_rank"))
        }
      single.foreach(s =>
        assert(s.getAs[Long]("rrf_scaled") < r.getAs[Long]("rrf_scaled"), s"$r vs $s"))
    }
    // scale shape: no partitionless window anywhere in the optimized plan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = bmTop.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(offenders.isEmpty, "RRF must not rank with a partitionless window")
  }

  test("quality classifier on testdata: keep splits the corpus, score bounded by the weight envelope") {
    val out = TextAnalysis.qualityClassifier(docs).collect()
    assert(out.length == docs.count())
    val kept = out.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < out.length, s"degenerate split: $kept/${out.length}")
    out.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > -2.2 && s < -2.2 + 4.0 + 2.0 + 0.1 * 10 + 1.0, s"score $s out of envelope")
    }
  }
}
