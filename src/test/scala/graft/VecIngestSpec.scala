package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** The vector-ingest daemon end to end: novelty admission against the
  * living embed index across `--once` runs and a daemon restart, with the
  * PQ and kNN-graph artifacts bootstrapped from the first batch, folded
  * per batch, and resumable purely from their persisted base+deltas. */
class VecIngestSpec extends SparkSpec {

  test("flag parsing: required args, index paths, maintenance knobs") {
    val c = VecIngest.parseArgs(Seq(
      "--src", "/in", "--out", "/o", "--checkpoint", "/c", "--index", "/idx",
      "--threshold", "0.5", "--pq-index", "/pq", "--graph-index", "/g",
      "--compact-every", "4", "--maintain-every", "8",
      "--maintain-floor", "0.8", "--centroid-mod", "13",
      "--out-compact-every", "5", "--once"))
    assert(c.src == "/in" && c.out == "/o" && c.checkpoint == "/c" &&
      c.index == "/idx")
    assert(c.threshold == 0.5 && c.pqIndex.contains("/pq") &&
      c.graphIndex.contains("/g"))
    assert(c.compactEvery == 4 && c.maintainEvery == 8 &&
      c.maintainFloor == 0.8 && c.centroidMod == 13 && c.once)
    assert(c.outCompactEvery == 5)

    intercept[IllegalArgumentException] {
      VecIngest.parseArgs(Seq("--src", "/in", "--out", "/o", "--checkpoint", "/c"))
    }
    intercept[IllegalArgumentException] { VecIngest.parseArgs(Seq("--bogus")) }
  }

  // the PqDriftSpec family fixture: co-members share a block pattern (high
  // mutual cosine), different-region families are near-orthogonal — so
  // exact copies are rejected by the novelty gate while region-B vectors
  // pass a region-A index
  private def vec(blockStart: Int, f: Int, m: Int, id: Long): (Long, Seq[Float], Int) = {
    val a = Array.fill(64)(0.0f)
    (0 until 64).foreach(d => a(d) = 0.001f * ((id * 13 + d) % 3))
    (0 until 8).foreach { j =>
      a(blockStart + j) = 0.5f + 0.1f * ((f * 7 + j * 3) % 5)
    }
    a((blockStart + (m % 8)).toInt) += 0.01f * (m + 1)
    (id, a.toSeq, f)
  }

  private def frame(rows: Seq[(Long, Seq[Float], Int)]): DataFrame = {
    import spark.implicits._
    // match the daemon's source schema order (vec_id, embedding, label)
    rows.toDF("vec_id", "embedding", "label")
  }

  private def addFile(df: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_vec_half").toString
    df.orderBy("vec_id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(srcDir, name))
    ()
  }

  test("--once runs across a restart: copies rejected, novel vectors admitted, PQ and graph resume from disk") {
    val root = Files.createTempDirectory("graft_vecingest").toString
    val c = VecIngest.Config(
      src = s"$root/src", out = s"$root/out", checkpoint = s"$root/ckpt",
      index = s"$root/embed", threshold = 0.35,
      pqIndex = Some(s"$root/pq"), graphIndex = Some(s"$root/graph"),
      centroidMod = 13, once = true)
    Files.createDirectories(Paths.get(c.src))

    def drive(): Unit = {
      val in = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
        .parquet(c.src)
      val (q, pipe) = VecIngest.ingestTo(spark, in, c)
      assert(q.awaitTermination(180000L))
      pipe.flush()
    }

    // run 1: region-A families against a fresh (empty) index — everything
    // admits, the PQ/graph bases bootstrap from this batch
    val runA = frame(for { f <- 0 until 5; m <- 0 until 10 }
      yield vec(8 * (f % 4), f, m, 1000L + f * 10 + m))
    addFile(runA, c.src, "a.parquet")
    drive()

    val landed1 = spark.read.parquet(c.out).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(landed1 == (1000L until 1050L).toSet,
      "a fresh index must admit the whole first batch")
    assert(Similarity.PqFiles.exists(spark, c.pqIndex.get),
      "the PQ base must bootstrap from the first batch")
    assert(Similarity.GraphFiles.exists(spark, c.graphIndex.get))

    // run 2 (daemon RESTART — fresh Pipeline, everything loaded from
    // disk): exact copies of run-1 vectors under NEW ids (near-matches
    // the index must reject) + region-B families (near-orthogonal, novel)
    val copies = frame(for { f <- 0 until 2; m <- 0 until 5 }
      yield vec(8 * (f % 4), f, m, 9000L + f * 10 + m))
    val fresh = frame(for { f <- 0 until 3; m <- 0 until 10 }
      yield vec(32 + 8 * (f % 4), f, m, 2000L + f * 10 + m))
    // plus an IN-BATCH duplicate pair (novel vector, two ids): the gates
    // don't match in-stream duplicates against each other, so the daemon's
    // upstream first-occurrence collapse must keep exactly the min id
    val (_, dupEmb, dupLab) = vec(56, 9, 0, 5000L)
    val inBatchDup = frame(Seq((5000L, dupEmb, dupLab), (5001L, dupEmb, dupLab)))
    addFile(copies.unionByName(fresh).unionByName(inBatchDup), c.src, "b.parquet")
    drive()

    val landed = spark.read.parquet(c.out).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val freshIds = (2000L until 2030L).toSet + 5000L
    assert(landed == landed1 ++ freshIds,
      s"copies rejected, region-B + the min-id dup admitted: ${landed -- landed1 -- freshIds} / ${(landed1 ++ freshIds) -- landed}")

    // the PQ index resumed from base+deltas must encode EXACTLY the
    // admitted population, once each (bootstrap overlap + replay guards)
    val pq = Similarity.PqFiles.load(spark, c.pqIndex.get)
    val pqIds = pq.qn.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(pqIds.toSet == landed && pqIds.size == landed.size,
      "PQ must hold each admitted vector exactly once")
    pq.release()

    // the folded graph must equal a from-scratch build over the admitted
    // union under the SAME frozen centroids
    val g = Similarity.GraphFiles.load(spark, c.graphIndex.get)
    val admittedUnion = runA.unionByName(fresh)
      .unionByName(frame(Seq((5000L, dupEmb, dupLab))))
    val scratch = Similarity.knnGraphEdgesWith(admittedUnion, g.cents)
    def edgeSet(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rnk"))).toSet
    assert(edgeSet(g.edges) == edgeSet(scratch),
      "the restarted graph lifecycle must equal from-scratch under frozen centroids")
    g.release()
    graft.operators.IndexFiles.delete(spark, root)
  }

  test("eager gates: a traffic-free restart folds a crashed run's staged PQ/graph leftovers") {
    val root = Files.createTempDirectory("graft_veceager").toString
    val c = VecIngest.Config(
      src = s"$root/src", out = s"$root/out", checkpoint = s"$root/ckpt",
      index = s"$root/embed", pqIndex = Some(s"$root/pq"),
      graphIndex = Some(s"$root/graph"), centroidMod = 13, once = true)

    // batch 0 bootstraps the PQ/graph bases (encoding batch 0); batch 1
    // stages into both gates; the "crash" is simply never flushing — the
    // lag defers batch 1's fold to a next step the run never gets
    val pipe1 = new VecIngest.Pipeline(spark, c)
    pipe1.onBatch(frame(for { f <- 0 until 3; m <- 0 until 6 }
      yield vec(8 * f, f, m, 100L + f * 10 + m)), 0)
    pipe1.onBatch(frame(for { m <- 0 until 6 }
      yield vec(40, 7, m, 300L + m)), 1)
    val pqBefore = Similarity.PqFiles.load(spark, c.pqIndex.get)
    val idsBefore = pqBefore.qn.select("vec_id").collect().map(_.getLong(0)).toSet
    pqBefore.release()
    assert(!idsBefore.exists(_ >= 300L), "batch 1 must still be staged, not folded")

    // RESTART with zero traffic: the gates must exist (eagerly constructed
    // off the persisted indexes) so flush() can fold the on-disk leftovers
    val pipe2 = new VecIngest.Pipeline(spark, c)
    pipe2.flush()
    val pq = Similarity.PqFiles.load(spark, c.pqIndex.get)
    val pqIds = pq.qn.select("vec_id").collect().map(_.getLong(0)).toSet
    pq.release()
    assert((300L until 306L).forall(pqIds), s"flush must fold staged batch 1: $pqIds")
    val g = Similarity.GraphFiles.load(spark, c.graphIndex.get)
    val gIds = g.qn.select("vec_id").collect().map(_.getLong(0)).toSet
    g.release()
    assert((300L until 306L).forall(gIds), "graph leftovers must fold too")
    graft.operators.IndexFiles.delete(spark, root)
  }

  test("daemon maintenance: drift observed through the CLI wiring itself, retrained base persisted") {
    val root = Files.createTempDirectory("graft_vecmaint").toString
    val c = VecIngest.Config(
      src = s"$root/src", out = s"$root/out", checkpoint = s"$root/ckpt",
      index = s"$root/embed", pqIndex = Some(s"$root/pq"),
      maintainEvery = 1, maintainFloor = 0.7, maintainRerank = 8, once = true)
    Files.createDirectories(Paths.get(c.src))

    def drive(): VecIngest.Pipeline = {
      val in = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
        .parquet(c.src)
      val (q, pipe) = VecIngest.ingestTo(spark, in, c)
      assert(q.awaitTermination(180000L))
      pipe.flush()
      pipe
    }

    // the PqDriftSpec two-region fixture: original corpus in dims 0-31
    // (the v1 bootstrap codebook trains here), shifted batch in dims
    // 32-63 — the region the frozen codebook collapses
    val original = frame(for { f <- 0 until 10; m <- 0 until 10 }
      yield vec(8 * (f % 4), f, m, 1000L + f * 10 + m))
    val shifted = frame(for { f <- 0 until 5; m <- 0 until 10 }
      yield vec(32 + 8 * (f % 4), f, m, f * 10L + m))

    addFile(original, c.src, "a.parquet")
    val pipe1 = drive() // bootstrap: v1 codebook over the original region

    // run 1's monitor sample (vec_id < 10) is EMPTY — recall is 0/0 = NaN
    // and NaN fails every comparison, so without the isNaN guard the
    // cadence would route the unmeasurable pass into a spurious retrain
    assert(pipe1.pqDecisions.nonEmpty)
    assert(pipe1.pqDecisions.forall(d => !d.retrained && d.recallBefore.isNaN),
      s"an unmeasurable sample must be measure-only: ${pipe1.pqDecisions}")

    addFile(shifted, c.src, "b.parquet")
    val pipe = drive() // the drifting batch folds; the cadence fires

    val fired = pipe.pqDecisions.filter(_.retrained)
    assert(fired.nonEmpty,
      s"the daemon's cadence must observe the drift: ${pipe.pqDecisions}")
    assert(fired.head.recallBefore < 0.7 &&
      fired.head.recallAfter.exists(_ >= 0.7),
      s"the retrain must recover recall: ${fired.head}")

    // the retrained base must be what a restart loads (version bumped
    // exactly once — the run-1 NaN pass must not have burned a version)
    val reloaded = Similarity.PqFiles.load(spark, c.pqIndex.get)
    assert(reloaded.version == 2,
      "the CLI maintenance path must persist exactly the drift retrain")
    reloaded.release()
    graft.operators.IndexFiles.delete(spark, root)
  }

  test("--bootstrap-min defers the frozen artifacts, then trains them over the whole landed corpus") {
    val root = Files.createTempDirectory("graft_vecboot").toString
    val c = VecIngest.Config(
      src = s"$root/src", out = s"$root/out", checkpoint = s"$root/ckpt",
      index = s"$root/embed", pqIndex = Some(s"$root/pq"),
      graphIndex = Some(s"$root/graph"), centroidMod = 13,
      bootstrapMin = 60L, once = true)
    Files.createDirectories(Paths.get(c.src))

    def drive(): Unit = {
      val in = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
        .parquet(c.src)
      val (q, pipe) = VecIngest.ingestTo(spark, in, c)
      assert(q.awaitTermination(180000L))
      pipe.flush()
    }

    // run 1: 50 admissions < 60 — no frozen artifact may exist yet
    val runA = frame(for { f <- 0 until 5; m <- 0 until 10 }
      yield vec(8 * (f % 4), f, m, 1000L + f * 10 + m))
    addFile(runA, c.src, "a.parquet")
    drive()
    assert(!Similarity.PqFiles.exists(spark, c.pqIndex.get),
      "below the threshold the PQ base must not bootstrap")
    assert(!Similarity.GraphFiles.exists(spark, c.graphIndex.get))

    // run 2 (restart — the cumulative count must resume from the landed
    // output): +30 crosses the threshold; the bootstrap must train over
    // ALL 80 landed vectors, so the pre-threshold run-1 admissions encode
    val runB = frame(for { f <- 0 until 3; m <- 0 until 10 }
      yield vec(32 + 8 * (f % 4), f, m, 2000L + f * 10 + m))
    addFile(runB, c.src, "b.parquet")
    drive()

    val landed = spark.read.parquet(c.out).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.PqFiles.load(spark, c.pqIndex.get)
    assert(pq.qn.select("vec_id").collect().map(_.getLong(0)).toSet == landed,
      "the crossing bootstrap must encode every landed vector, incl. pre-threshold ones")
    pq.release()
    val g = Similarity.GraphFiles.load(spark, c.graphIndex.get)
    assert(g.qn.select("vec_id").collect().map(_.getLong(0)).toSet == landed)
    g.release()
    graft.operators.IndexFiles.delete(spark, root)
  }
}
