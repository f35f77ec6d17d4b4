package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Tables

/** Plan-level proof of the 100 TB levers the engine's operators rely on:
  * bucketing co-locates repeated joins (the shuffle disappears from the
  * physical plan), partitioned layout prunes at the scan. Asserted against
  * the executed plan, not just claimed in Scaladoc. */
class ScaleTechniquesSpec extends SparkSpec {

  import org.apache.spark.sql.catalyst.expressions.{
    AttributeReference, Expression, LambdaFunction, Md5, RegExpExtract,
    RegExpReplace, Sha2, StringSplit}

  /** True when `e` re-runs a full-column split/hash/regex — quadratic if
    * it sits inside a lambda body (no subexpression elimination there).
    * The same function OF a lambda variable is legit per-element work and
    * not flagged. */
  private def recomputesColumn(e: Expression): Boolean = e match {
    case s: StringSplit => s.str.exists(_.isInstanceOf[AttributeReference])
    case m: Md5 => m.child.exists(_.isInstanceOf[AttributeReference])
    case h: Sha2 => h.left.exists(_.isInstanceOf[AttributeReference])
    case r: RegExpExtract => r.subject.exists(_.isInstanceOf[AttributeReference])
    case r: RegExpReplace => r.subject.exists(_.isInstanceOf[AttributeReference])
    case _ => false
  }

  /** All whole-column split/md5 expressions inside any lambda body of the
    * query's optimized plan — the registry-wide ban's detector. */
  private def lambdaOffenders(
      qe: org.apache.spark.sql.execution.QueryExecution): Seq[Expression] = {
    val found = scala.collection.mutable.ArrayBuffer.empty[Expression]
    qe.optimizedPlan.foreach { p =>
      p.expressions.foreach { root =>
        root.foreach {
          case lf: LambdaFunction =>
            lf.function.foreach { e => if (recomputesColumn(e)) found += e }
          case _ => ()
        }
      }
    }
    found.toSeq
  }

  test("bucketed fact/fact join runs with NO shuffle exchange (co-located)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the shuffle-join path (the 100 TB case: both sides too big to
    // broadcast) so bucketing is what eliminates the exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ord = Tables.load(spark, sf(), "orders")
      val li = Tables.load(spark, sf(), "lineitem")
      ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("orders_bucketed")
      li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("lineitem_bucketed")

      val joined = spark.table("orders_bucketed")
        .join(spark.table("lineitem_bucketed"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan:\n${plan.take(2000)}")
      assert(plan.contains("Bucketed: true"), "scan must report bucketed read")

      // co-located plan computes the same join
      val expected = ord.join(li, col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == expected)

      // control: the unbucketed join DOES shuffle both sides
      val control = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      assert(control.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft-part").toString + "/events"
    Tables.events(spark, sf()).write.partitionBy("event_type").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"),
      s"expected partition filters in scan:\n${scan.take(1500)}")

    val expected = Tables.events(spark, sf())
      .filter(col("event_type") === "click").count()
    assert(pruned.count() == expected)

    // the pruned scan reads strictly fewer files than the full scan
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // executes THIS frame's plan, populating its scan metrics
      val scans = df.queryExecution.executedPlan.collectLeaves()
      scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    }
    val prunedFiles = filesRead(spark.read.parquet(dir).filter(col("event_type") === "click"))
    val allFiles = filesRead(spark.read.parquet(dir))
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"pruning must skip files: $prunedFiles vs $allFiles")
  }

  test("simhash signature plan is pure map-side: no explode, no aggregation") {
    val docs = Tables.load(spark, sf(), "documents")
    val plan = graft.operators.Dedup.simhash(docs).queryExecution.executedPlan.toString
    // the codegen'd simhash_sig computes the signature per row — the naive
    // shape's Generate (explode) and HashAggregate must be absent
    assert(!plan.contains("Generate"), s"token explode in plan:\n${plan.take(1200)}")
    assert(!plan.contains("Aggregate"), s"aggregation in plan:\n${plan.take(1200)}")
    assert(plan.contains("simhash_sig"), "expected the native expression in the plan")
  }

  test("kmeans assignment joins broadcast the centroid table, never shuffle the corpus side") {
    // a perturbed (but equal) input so the plan can't resolve to another
    // suite's pinned assignment cache — the joins must be visible
    val emb = Tables.load(spark, sf(), "embeddings").filter(col("vec_id") >= 0)
    val plan = graft.operators.Similarity.kmeans(emb).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected broadcast centroid joins:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge join here would shuffle the corpus per Lloyd round")
    // nearest-centroid selection is min(struct(dist2, cluster)) — a
    // map-side-combinable aggregate; a ranking window would force a full
    // N×k sort-shuffle per Lloyd round
    assert(!plan.contains("Window"),
      "Lloyd assignment must aggregate, not rank with a window")
  }

  test("knn graph plan: codebook broadcast; probe selection aggregates — only the rank tail windows") {
    val emb = Tables.load(spark, sf(), "embeddings").filter(col("vec_id") >= 0)
    val g = graft.operators.Similarity.knnGraph(emb)
    val windows = g.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1,
      s"exactly one window (the exact-rank tail) expected, got ${windows.size}")
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a broadcast codebook join:\n${plan.take(1500)}")
  }

  test("PQ plan: codebook and ADC tables broadcast; corpus never sort-merge joined or cross joined") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val plan = graft.operators.Similarity.pqTopK(emb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"encode/ADC must broadcast the codebook and query tables:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge join would shuffle the corpus against the tiny codebook")
    assert(!plan.contains("CartesianProduct"),
      "no unbroadcast cartesian anywhere in the PQ chain")
    // encode picks codes with min_by — a map-side-combinable aggregate;
    // the only windows allowed are the rerank-buffer and final top-k ranks,
    // both over per-query candidate sets, never the raw N×K scored frame
    assert(plan.contains("partial_min") || plan.contains("min("),
      "code selection must partial-aggregate map-side")
  }

  test("learned-PQ plan: trained codebook broadcast, corpus codes read the pin, no cartesian") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val plan = graft.operators.Similarity.pqTopKLearned(emb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      "corpus codes and the trained centroids must read their pinned caches")
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC tables / codebook joins must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      "no unbroadcast cartesian anywhere in the learned-PQ chain")
  }

  test("IVF-PQ plan: codebooks broadcast, no cartesian, corpus-sized work is map-side-combinable aggregates") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val plan = graft.operators.Similarity.ivfpqTopK(emb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"coarse/residual codebooks and the ADC tables must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      "no unbroadcast cartesian anywhere in the IVF-PQ chain")
    // coarse argmax (max_by), encode argmin (min_by), and the ADC sum must
    // all partial-aggregate map-side — the windows are confined to the tiny
    // query side (probe selection) and per-query candidate sets
    assert(plan.contains("partial_min") || plan.contains("min("),
      "code selection must partial-aggregate map-side")
    assert(plan.contains("partial_max") || plan.contains("max("),
      "coarse assignment must partial-aggregate map-side")
  }

  /** Physical plan with AQE off: the static ReuseExchange rule then
    * collapses shared exchange subtrees (pack_chunks' two-level prefix sum
    * relies on it), which AQE only applies at RUNTIME — an un-executed
    * adaptive plan string would double-count the reused scan. The runtime
    * equivalence under AQE is pinned by the same subtree printing a
    * single FileScan in the executed final plan. */
  private def planNoAqe(df: => org.apache.spark.sql.DataFrame): String = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("e2e pipeline plan: all three filters fuse into ONE scan predicate, no per-stage materialization") {
    val docs = Tables.load(spark, sf(), "documents")
    val planStr = planNoAqe(graft.operators.CurationPipeline.e2e(docs))
    // exactly two corpus scans: the fingerprint-group side and the filter side
    val scans = planStr.split("Scan parquet").length - 1
    assert(scans == 2, s"expected 2 corpus scans, got $scans:\n${planStr.take(1200)}")
    // the repetition + classifier + mixture predicates all live in ONE
    // Filter node (Catalyst fused them — its printed condition carries each
    // stage's signature literal), directly over the scan
    val fused = planStr.linesIterator.exists(l => l.contains("Filter") &&
      l.contains("aggregate(") && l.contains("65536.0") && l.contains("-2.2"))
    assert(fused,
      s"repetition+classifier+mixture must fuse into one Filter:\n${planStr.take(2000)}")
  }

  test("novelty gate plan: corpus index reads pinned caches; no window, no sort-merge explosion") {
    val docs = Tables.load(spark, sf(), "documents")
    val idx = graft.operators.Dedup.corpusIndex(docs.filter(col("doc_id") % 2 === 0))
    val plan = graft.operators.Dedup.bestMatchAgainst(
      docs.filter(col("doc_id") % 2 === 1), idx).queryExecution.executedPlan.toString
    // all three corpus-side tables come from the pinned index, built once
    assert(plan.split("InMemoryTableScan").length - 1 >= 3,
      s"fps/sets/buckets must read the pinned index:\n${plan.take(1500)}")
    // the batch side's signatures are map-side codegen'd expressions
    assert(plan.contains("shingle_hashes") && plan.contains("affine_min_hashes"),
      "stream-side signatures must be computed map-side, not joined in")
    // best-match is the min(struct) fold, partial-aggregated map-side — no
    // ranking window. (A bare "no Window" check would false-positive on the
    // pinned bucket cache, whose PRINTED build plan contains capBuckets'
    // count-window; that window ran once at index build, not per batch.)
    assert(!plan.contains("row_number"), "per-doc best match must aggregate, not rank")
    assert(plan.contains("partial_min"), "best-match fold must map-side combine")
    // the Bloom semi-join reduction: both tiers probe a broadcast word
    // table before touching the corpus index — the probe joins must be
    // broadcast hash joins (map-side), never a shuffle
    assert(plan.split("InMemoryTableScan").length - 1 >= 5,
      "the two Bloom word tables must also come from the pinned index")
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2,
      s"Bloom probes must broadcast:\n${plan.take(1500)}")
  }

  test("e2e near pipeline plan: downstream stays one fused-filter scan; keep set reads caches, not parquet") {
    val docs = Tables.load(spark, sf(), "documents")
    val planStr = planNoAqe(graft.operators.CurationPipeline.e2eNear(docs))
    // the cluster keep side resolves through the pinned dup-group cache and
    // the checkpointed component RDD — the corpus parquet is scanned ONCE,
    // on the filter side. InMemoryRelation nodes PRINT their cached build
    // plan (which contains a FileScan that does not re-execute); the live
    // scan is the only one whose line is not the cache build's 2-column
    // (doc_id, text) read.
    val liveScans = planStr.linesIterator.filter(_.contains("FileScan parquet"))
      .filterNot(_.contains("ReadSchema: struct<doc_id:bigint,text:string>")).size
    assert(liveScans == 1, s"expected 1 live corpus scan, got $liveScans:\n${planStr.take(1200)}")
    assert(planStr.contains("InMemoryTableScan"),
      "keep side must read the pinned dup-group cache")
    assert(planStr.contains("Scan ExistingRDD"),
      "component labels must come from the checkpointed CC state, not a recomputation")
    // repetition + classifier + mixture still fuse into ONE Filter node
    val fused = planStr.linesIterator.exists(l => l.contains("Filter") &&
      l.contains("aggregate(") && l.contains("65536.0") && l.contains("-2.2"))
    assert(fused,
      s"repetition+classifier+mixture must fuse into one Filter:\n${planStr.take(2000)}")
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true in the final plan)") {
    // the join-side half of the skew story (salting covers the aggregation
    // side, RelationalQueries.saltedUserStats): one hot key lands ~all of
    // one side in a single reduce partition; AQE's skew-join rule must
    // split it into parallel sub-partitions instead of serializing the key
    // through one task
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot key 0: ~100k of 120k rows, ~100-byte payloads
      val left = spark.range(0, 120000)
        .select(when(col("id") < 100000, 0L).otherwise(col("id") % 50 + 1).as("k"),
          lpad(col("id").cast("string"), 100, "x").as("pay"))
      val right = spark.range(0, 51).select(col("id").as("k"),
        lpad(col("id").cast("string"), 100, "y").as("rpay"))
      val joined = left.join(right, "k")
      // run THIS frame's own QueryExecution (count()/foreach() build a NEW
      // QueryExecution, leaving joined's adaptive plan isFinalPlan=false)
      joined.queryExecution.toRdd.foreach(_ => ())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"expected a runtime skew-split join in the final plan:\n${plan.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx agg plan: every window runs over an aggregated bounded frame, never raw rows") {
    // the quantile half used to row_number the raw 25% sample inside a
    // 3-value partition key — at scale three tasks each sort ~8% of the
    // table. All three windows (register τ, KMV bottom-k, cumulative-count
    // walk) must sit ABOVE an aggregation, so the frames they sort are
    // bounded by register/k/value-domain size, not by row count.
    val plan = RelationalQueries.approxAgg(spark, sf())
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the bounded-frame windows in the plan")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"window over a raw (unaggregated) frame — table-proportional sort at scale:\n$w")
    }
  }

  test("e2e semantic plan: corpus text scanned once; keep side reads the memoized embedding components") {
    val docs = Tables.load(spark, sf(), "documents")
    val emb = Tables.load(spark, sf(), "embeddings")
    // EXECUTED final plan: the packing stage's shard-total branch shares
    // the corpus exchange and the keep-set Bloom subquery with the main
    // branch through AQE's runtime stage/subquery reuse — which the static
    // (pre-execution) plan string doesn't yet reflect
    val df = graft.operators.CurationPipeline.e2eSemantic(docs, emb)
    df.queryExecution.toRdd.foreach(_ => ())
    val planStr = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the keep side resolves through the embedding-cluster memo (quantized
    // pin + checkpointed CC labels) — documents parquet is scanned ONCE, on
    // the filter side; embeddings live scans don't read text
    val docScans = planStr.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("text:string")).size
    assert(docScans <= 1, s"expected at most 1 live documents scan, got $docScans:\n${planStr.take(1200)}")
    assert(planStr.contains("Scan ExistingRDD"),
      "component labels must come from the checkpointed CC state, not a recomputation")
    // repetition + classifier + mixture still fuse into ONE Filter node
    val fused = planStr.linesIterator.exists(l => l.contains("Filter") &&
      l.contains("aggregate(") && l.contains("65536.0") && l.contains("-2.2"))
    assert(fused,
      s"repetition+classifier+mixture must fuse into one Filter:\n${planStr.take(2000)}")
  }

  test("pack_chunks plan: two-level prefix sum reads the corpus ONCE (shared exchange reused)") {
    val docs = Tables.load(spark, sf(), "documents")
    val plan = planNoAqe(graft.operators.Sampling.packChunks(docs))
    assert(plan.split("Scan parquet").length - 1 == 1,
      s"shard-total branch must reuse the window's exchange, not re-scan:\n${plan.take(1500)}")
    assert(plan.contains("ReusedExchange"),
      s"expected the shared (source, shard) exchange to be reused:\n${plan.take(1500)}")
    // runtime equivalence under AQE: the executed final plan also scans once
    val df = graft.operators.Sampling.packChunks(docs)
    df.queryExecution.toRdd.foreach(_ => ())
    val finalSection = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(finalSection.split("FileScan parquet").length - 1 == 1,
      s"AQE final plan must execute one corpus scan:\n${finalSection.take(1500)}")
  }

  test("curriculum plan: boundary job shares one sample scan across its consumers (2 text scans total)") {
    // the boundary side's totals / triangular base join / normalizer /
    // cumulative frame all derive from ONE windowed frame over the counted
    // sample — without that, each consumer re-ran the sample scan + quality
    // scoring (3+ corpus text scans at runtime). The 2 remaining scans are
    // the structural minimum: the sampled boundary pass and the full
    // assignment pass both need quality scores over text.
    val docs = Tables.load(spark, sf(), "documents")
    val df = graft.operators.Sampling.curriculumTiers(docs)
    df.queryExecution.toRdd.foreach(_ => ())
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val textScans = fin.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text:string"))
    assert(textScans <= 2,
      s"boundary consumers must share the sample scan, got $textScans text scans:\n${fin.take(1500)}")
  }

  test("keyless interval join buckets to an equi join: one shuffle, no nested-loop scan") {
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    // force the shuffle-join path (the 100 TB case: neither event side fits
    // in a broadcast) — the manufactured bucket key is what must carry it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = RelationalQueries.eventsIntervalJoin(spark, sf())
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"the bucketed form must not scan quadratically:\n${plan.take(1500)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi join on the bucket key:\n${plan.take(1500)}")

      // ground truth: the naive theta join this operator replaces (which
      // Catalyst, keyless, CAN only plan as a nested-loop — the contrast)
      val ev = Tables.events(spark, sf())
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"),
          round(col("value") * 100).cast("long").as("v"))
      val naive = p.join(c,
          col("c_us") >= col("p_us") - 3600000000L && col("c_us") <= col("p_us"), "left")
        .groupBy("event_id")
        .agg(count(col("c_us")).as("n_clicks"),
          (coalesce(sum(col("v")), lit(0L)).cast("double") / 100.0).as("click_value"))
      assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "control: the keyless formulation should be the nested-loop shape")
      assert(df.orderBy("event_id").collect().toSeq ==
        naive.orderBy("event_id").collect().toSeq)
      // non-degenerate fixture: some purchases must actually match clicks
      assert(df.filter(col("n_clicks") > 0).count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("interval join boundary sweep: bucketed core == brute force on bucket-aligned micros") {
    import spark.implicits._
    val H = 3600000000L
    val base = 400000L * H // a positive epoch, far from 0
    // crafted endpoints: every inclusive/exclusive edge of [p-H, p] and
    // every bucket-boundary alignment (p exactly on a bucket edge is the
    // case where the probe's two covering buckets are {p/H - 1, p/H} with
    // p-H itself on the PREVIOUS edge)
    val crafted = Seq(
      base,          // purchase exactly on a bucket boundary
      base + 1,      // just past it
      base + H - 1,  // just before the next
      base + H / 2)  // mid-bucket
    val rnd = new scala.util.Random(42)
    val purchases = (crafted ++ Seq.fill(60) {
      val t = base + (rnd.nextLong() % (4 * H)).abs
      if (rnd.nextInt(3) == 0) (t / H) * H + rnd.nextInt(2) else t // snap near edges
    }).zipWithIndex.map { case (us, i) => (i.toLong, us) }
    val clicks = purchases.flatMap { case (_, p) =>
      Seq(p, p - H, p - H - 1, p + 1, p - H + 1, (p / H) * H, (p / H) * H - 1)
    }.distinct.zipWithIndex.map { case (us, i) => (us, (i % 97).toLong + 1L) }

    val got = RelationalQueries.intervalJoinCore(
        purchases.toDF("event_id", "p_us"), clicks.toDF("c_us", "c_v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = purchases.map { case (id, p) =>
      val in = clicks.filter { case (c, _) => c >= p - H && c <= p }
      id -> ((in.size.toLong, in.map(_._2).sum.toDouble / 100.0))
    }.toMap
    assert(got == want, s"diff: ${(got.toSet -- want.toSet).take(3)} vs ${
      (want.toSet -- got.toSet).take(3)}")
    // non-degenerate: the crafted set exercises both-inclusive endpoints
    assert(want.values.exists(_._1 > 0) && clicks.size > purchases.size)
  }

  test("interval + band join cores: exact floor-div buckets on a domain straddling 0") {
    // truncating `div` rounds toward zero, so below 0 it UNDER-covers: a
    // probe at t < 0 would miss the bucket its interval's lower edge lives
    // in and silently drop pairs the BETWEEN oracle keeps. The cores use
    // exact floor division ((x − pmod(x, W)) div W) — prove it on crafted
    // pre-1970 / negative epoch-micros including every edge alignment.
    import spark.implicits._
    val H = 3600000000L
    val rnd = new scala.util.Random(11)
    // timestamps straddle 0: exact multiples of ±H, ±1 offsets, random fill
    val crafted = Seq(-2 * H, -H, -1L, 0L, 1L, H - 1, H, -H - 1, -H + 1, -3 * H / 2)
    val probesT = (crafted ++ Seq.fill(50)(rnd.nextLong() % (3 * H)))
      .distinct.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    val matchesT = probesT.flatMap { case (_, t) =>
      Seq(t, t - H, t - H - 1, t + 1, t - H + 1, t + H, t + H + 1, -t)
    }.distinct.zipWithIndex.map { case (us, i) => (us, (i % 89).toLong + 1L) }

    // interval core: [t − H, t]
    val gotI = RelationalQueries.intervalJoinCore(
        probesT.toDF("event_id", "p_us"), matchesT.toDF("c_us", "c_v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val wantI = probesT.map { case (id, p) =>
      val in = matchesT.filter { case (c, _) => c >= p - H && c <= p }
      id -> ((in.size.toLong, in.map(_._2).sum.toDouble / 100.0))
    }.toMap
    assert(gotI == wantI, s"interval diff: ${(gotI.toSet -- wantI.toSet).take(3)} vs ${
      (wantI.toSet -- gotI.toSet).take(3)}")

    // band core: [t − B, t + B]
    val B = H / 2
    val gotB = RelationalQueries.bandJoinCore(
        probesT.toDF("event_id", "e_us"), matchesT.toDF("c_us", "c_v"), B)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val wantB = probesT.map { case (id, p) =>
      val in = matchesT.filter { case (c, _) => c >= p - B && c <= p + B }
      id -> ((in.size.toLong, in.map(_._2).sum.toDouble / 100.0))
    }.toMap
    assert(gotB == wantB, s"band diff: ${(gotB.toSet -- wantB.toSet).take(3)} vs ${
      (wantB.toSet -- gotB.toSet).take(3)}")
    // non-degenerate: negative-timestamp probes must actually match
    assert(probesT.filter(_._2 < 0).map(_._1).exists(id => wantI(id)._1 > 0))
    assert(probesT.filter(_._2 < 0).map(_._1).exists(id => wantB(id)._1 > 0))
  }

  test("interval join skew: AQE splits a hot probe-side bucket at runtime") {
    import spark.implicits._
    val H = 3600000000L
    val base = 500000L * H
    // flash-sale shape: one hour holds 20k purchases, the rest a trickle.
    // The hot bucket is the LEFT side of the left join — the side AQE's
    // OptimizeSkewedJoin is allowed to split under left-outer semantics
    // (splitting the match side would duplicate unmatched probe rows).
    val rnd = new scala.util.Random(7)
    val purchases = (0 until 20000).map { i =>
      (i.toLong, base + (rnd.nextLong() % H).abs)
    } ++ (20000 until 20200).map { i =>
      (i.toLong, base + H * (1 + (i % 40)) + (rnd.nextLong() % H).abs)
    }
    val clicks = (0 until 2000).map { i =>
      (base + H * (i % 41) + (rnd.nextLong() % H).abs, 1L)
    }
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // the 100 TB case: no broadcast escape
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = RelationalQueries.intervalJoinCore(
        purchases.toDF("event_id", "p_us"), clicks.toDF("c_us", "c_v"))
      // run THIS frame's own QueryExecution (an action builds a new one,
      // leaving df's adaptive plan isFinalPlan=false)
      df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE must finalize:\n${plan.take(800)}")
      assert(plan.contains("skew=true"),
        s"the hot bucket must be skew-split:\n${plan.take(2000)}")
      // and the split join still computes the exact answer
      val hot = df.filter(col("event_id") < 20000).agg(sum("n_clicks")).collect()(0).getLong(0)
      val want = purchases.filter(_._1 < 20000).map { case (_, p) =>
        clicks.count { case (c, _) => c >= p - H && c <= p }.toLong
      }.sum
      assert(hot == want)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("interval join hot-MATCH-side skew: salting spreads the hot click hour, answer unchanged") {
    import spark.implicits._
    val H = 3600000000L
    val base = 600000L * H
    val rnd = new scala.util.Random(13)
    // inverted shape vs the probe-skew test: ONE hour holds 20k CLICKS (the
    // match side — the side AQE cannot split under left-outer), purchases
    // are a trickle across 40 hours plus a handful inside the hot hour
    val clicks = (0 until 20000).map { i =>
      (base + (rnd.nextLong() % H).abs, (i % 97).toLong + 1L)
    } ++ (0 until 400).map { i =>
      (base + H * (1 + (i % 40)) + (rnd.nextLong() % H).abs, 1L)
    }
    val purchases = (0 until 200).map { i =>
      (i.toLong, base + H * (i % 41) + (rnd.nextLong() % H).abs)
    } ++ (200 until 205).map { i => // far from every click: the n = 0 path
      (i.toLong, base + H * 100 + (rnd.nextLong() % H).abs)
    }
    val salt = 8

    // (a) the salted shard key really spreads the hot bucket: no (bucket,
    // shard) group keeps more than ~2/salt of the hot hour's matches
    val fd = (x: String) => s"(($x) - pmod(($x), ${H}L)) div ${H}L"
    val shardSizes = clicks.toDF("c_us", "c_v")
      .withColumn("bucket", expr(fd("c_us")))
      .withColumn("shard", pmod(xxhash64(col("c_us"), col("c_v")), lit(salt)))
      .groupBy("bucket", "shard").count()
      .filter(col("bucket") === base / H)
      .collect().map(_.getLong(2))
    assert(shardSizes.length == salt, s"hot bucket must populate all $salt shards")
    assert(shardSizes.max <= 2L * 20000 / salt,
      s"hot-hour matches must spread across shards: ${shardSizes.toSeq}")

    // (b) the salted operator computes the exact naive answer (the
    // events_interval_join_salted registry row additionally hash-pins this
    // against DuckDB on the real corpus)
    val got = RelationalQueries.intervalJoinCore(
        purchases.toDF("event_id", "p_us"), clicks.toDF("c_us", "c_v"), salt = salt)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = purchases.map { case (id, p) =>
      val in = clicks.filter { case (c, _) => c >= p - H && c <= p }
      id -> ((in.size.toLong, in.map(_._2).sum.toDouble / 100.0))
    }.toMap
    assert(got == want)
    // non-degenerate: zero-click purchases survive the 2·salt null explode
    assert(want.values.exists(_._1 == 0L) && want.values.exists(_._1 > 1000L))
  }

  test("registry-wide: NO partitionless window in any query's plan (single-task global sort ban)") {
    // the class of defect sample_curriculum used to have (an unpartitioned
    // row_number/count over a constant fraction of the corpus — one task
    // sorts it at any scale): banned across the ENTIRE registry, so a new
    // query can't reintroduce it. Logical Window with an empty partitionSpec
    // is exactly what WindowExec warns about with "No Partition Defined ...
    // Moving all data to a single partition".
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> q(spark, sf()).queryExecution
    }
    val offenders = plans.flatMap { case (name, qe) =>
      qe.optimizedPlan.collect { case w: LWindow if w.partitionSpec.isEmpty => name }
    }.distinct
    assert(offenders.isEmpty,
      s"partitionless window (single-task sort at scale) in: ${offenders.mkString(", ")}")
    // second registry-wide invariant, same sweep: no unbroadcast cartesian
    // anywhere — every production cross join must be broadcast-tiny (a
    // CartesianProductExec is the quadratic-shuffle scale killer)
    val cartesian = plans.collect {
      case (name, qe) if qe.executedPlan.toString.contains("CartesianProduct") => name
    }
    assert(cartesian.isEmpty,
      s"unbroadcast cartesian product in: ${cartesian.mkString(", ")}")
    // third registry-wide invariant, same sweep: no whole-column recompute
    // inside a lambda body. Lambda bodies get NO subexpression elimination,
    // so `split(text,' ')[i]` / `md5(text)` inside a transform/aggregate
    // lambda re-runs the full-column function PER ELEMENT — O(words²) per
    // row on book-length documents, invisible on a short-doc test corpus.
    // This class bit three times (topBigrams r6, topRun + contamination r7)
    // before this ban; the fix is always the same: bind the array/hash once
    // in its own projection (or a single-element transform lambda for
    // standalone Columns) and reference the bound attribute. Legit
    // per-element work (split/md5 OF a lambda variable) stays allowed —
    // only subtrees reaching back to a plan attribute are flagged.
    // detector self-check: the exact quadratic form this ban exists for
    // (the pre-r8 topRun shape) must be flagged, or the sweep is vacuous
    val bad = Tables.load(spark, sf(), "documents").select(expr(
      "transform(sequence(0, size(split(text,' ')) - 2), i -> split(text,' ')[i])"))
    assert(lambdaOffenders(bad.queryExecution).nonEmpty,
      "detector failed to flag a known in-lambda re-split")
    val lambdaRecompute = plans.flatMap { case (name, qe) =>
      val offending = lambdaOffenders(qe)
      if (offending.nonEmpty) Some(s"$name: ${offending.head.sql.take(80)}") else None
    }
    assert(lambdaRecompute.isEmpty,
      s"whole-column split()/md5() inside a lambda body (quadratic per row) in:\n  ${
        lambdaRecompute.mkString("\n  ")}")
  }

  test("spans plan: ONE explode, one position shuffle; dup marking rides a keyed window") {
    // the expensive part is scan + rolling hashes + explode: it must appear
    // exactly once (the former groupBy + self-join consumed the exploded
    // frame twice and re-ran all three per consumer). The dup count rides a
    // window KEYED on the hash — per-h groups are occurrence counts, tiny —
    // and the position frame crosses the wire once either way.
    val docs = Tables.load(spark, sf(), "documents")
    val df = graft.operators.Dedup.spans(docs)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("Generate").length - 1 == 1,
      s"the rolling-hash explode must run once:\n${plan.take(1500)}")
    // the per-doc span merge stays a fold over the collected array — the
    // only window is the h-keyed dup mark (the registry-wide spec already
    // bans partitionless ones)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1 && windows.head.partitionSpec.nonEmpty,
      s"expected exactly the h-keyed dup-mark window, got ${windows.size}")
    // executed final plan: the two corpus text scans are the hash side and
    // the n_bytes roster — never a re-scan per consumer
    df.queryExecution.toRdd.foreach(_ => ())
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val textScans = fin.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text:string"))
    assert(textScans <= 2, s"expected <=2 text scans, got $textScans:\n${fin.take(1500)}")
  }

  test("z-order layout: a 2-D box query touches fewer range chunks than under a 1-D sort") {
    import graft.operators.Layout
    // the layout keys the registry row emits, over the real events table
    val keyed = Layout.eventsZorder(Tables.events(spark, sf()))
      .select("event_id", "u16", "h16")

    val nChunks = 16
    // per-chunk min/max key stats — exactly what parquet row-group/file
    // statistics give a 100 TB reader; a chunk is "touched" when its
    // [min,max] box intersects the query box on BOTH dimensions
    def chunkStats(laid: org.apache.spark.sql.DataFrame) = laid
      .withColumn("chunk", spark_partition_id())
      .groupBy("chunk").agg(
        min("u16").as("u_lo"), max("u16").as("u_hi"),
        min("h16").as("h_lo"), max("h16").as("h_hi"))
      .collect()
    def touched(stats: Array[org.apache.spark.sql.Row],
        uLo: Long, uHi: Long, hLo: Long, hHi: Long): Int =
      stats.count { r =>
        r.getAs[Long]("u_lo") <= uHi && r.getAs[Long]("u_hi") >= uLo &&
          r.getAs[Long]("h_lo") <= hHi && r.getAs[Long]("h_hi") >= hLo
      }

    val zStats = chunkStats(
      Layout.zOrderBy(keyed, col("u16"), col("h16"), nChunks))
    val hStats = chunkStats( // the 1-D alternative: time-sorted layout
      keyed.repartitionByRange(nChunks, col("h16")).sortWithinPartitions("h16"))
    assert(zStats.length == nChunks && hStats.length == nChunks)

    // the box every per-user dashboard runs: ONE user's slice across the
    // full time range — a 1-D time layout cannot prune it at all
    val u = keyed.select(min("u16"), max("u16")).head()
    val h = keyed.select(min("h16"), max("h16")).head()
    val (uMin, uMax) = (u.getLong(0), u.getLong(1))
    val (hMin, hMax) = (h.getLong(0), h.getLong(1))
    val uQuarter = uMin + (uMax - uMin) / 4
    val zTouched = touched(zStats, uMin, uQuarter, hMin, hMax)
    val hTouched = touched(hStats, uMin, uQuarter, hMin, hMax)
    assert(hTouched == nChunks,
      s"a 1-D time sort must be unable to prune a user-box query: $hTouched")
    assert(zTouched < hTouched,
      s"z-order must prune the user box: $zTouched vs $hTouched chunks")

    // and the z layout still prunes on the time dimension too (a narrow
    // time box): multi-dimensional clustering trades a LITTLE 1-D
    // precision for pruning on BOTH keys — it must stay well under "scan
    // everything" on either box
    val hQuarter = hMin + (hMax - hMin) / 4
    val zTime = touched(zStats, uMin, uMax, hMin, hQuarter)
    assert(zTime < nChunks,
      s"z-order must also prune a pure time box: $zTime of $nChunks")
  }

  test("z-order normalization survives microsecond-scale key ranges (no BIGINT wrap)") {
    import spark.implicits._
    import graft.operators.Layout
    // a raw key range past 2^47 — the naive (raw-lo)*65535 silently wraps
    // here in Spark (and raises in DuckDB, so the two sides would fail
    // DIFFERENTLY); the guarded pre-shift must keep values exact-in-range
    val wideLo = 1700000000000000L // a μs-scale epoch
    val wideHi = wideLo + (1L << 50)
    val wide = Seq.tabulate(101)(i => wideLo + (wideHi - wideLo) / 100 * i)
      .toDF("raw")
      .withColumn("lo", lit(wideLo)).withColumn("hi", lit(wideHi))
      .withColumn("u16", Layout.normTo16("raw", "lo", "hi"))
      .select("raw", "u16").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(wide.forall { case (_, v) => v >= 0L && v <= 65535L },
      s"wide-range normalization out of [0,65535]: ${wide.filterNot(t => t._2 >= 0 && t._2 <= 65535).take(3).toSeq}")
    assert(wide.head._2 == 0L && wide.last._2 >= 65000L,
      s"normalization must span the 16-bit range: ${wide.head} .. ${wide.last}")
    wide.sliding(2).foreach {
      case Array((_, v1), (_, v2)) => assert(v1 <= v2, "must stay monotone")
      case _ =>
    }
    // narrow ranges take shift 0: bit-identical to the unguarded formula
    // (zero hash churn for every existing layout row)
    val narrow = Seq.tabulate(50)(i => 3L * i).toDF("raw")
      .withColumn("lo", lit(0L)).withColumn("hi", lit(147L))
      .withColumn("u16", Layout.normTo16("raw", "lo", "hi"))
      .select("raw", "u16").collect()
    narrow.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 65535L / 147L,
        s"narrow range must equal the direct formula at ${r.getLong(0)}")
    }
    // a range spanning >= 2^63 wraps the hi-lo detector itself — OUT OF
    // CONTRACT, with failure PARITY: Spark must fail loudly (as DuckDB
    // raises on the subtraction) instead of silently z-ordering garbage
    val wrapped = Seq((0L)).toDF("raw")
      .withColumn("lo", lit(Long.MinValue + 10L))
      .withColumn("hi", lit(Long.MaxValue - 10L))
      .withColumn("u16", Layout.normTo16("raw", "lo", "hi"))
    val e = intercept[Exception](wrapped.collect())
    assert(e.getMessage != null)
  }

  test("3-key z-order: mask cascade equals the naive interleave; a value-box query prunes") {
    import graft.operators.Layout
    // the Morton-3 cascade bit-for-bit against a naive per-bit reference,
    // over the REAL key triples the registry row emits
    val keyed = Layout.eventsZorder3(Tables.events(spark, sf()))
    def naive3(a: Long, b: Long, c: Long): Long =
      (0 until 10).map { i =>
        (((a >> i) & 1L) << (3 * i)) |
          (((b >> i) & 1L) << (3 * i + 1)) |
          (((c >> i) & 1L) << (3 * i + 2))
      }.reduce(_ | _)
    keyed.limit(2000).collect().foreach { r =>
      assert(r.getAs[Long]("z_val") ==
        naive3(r.getAs[Long]("u10"), r.getAs[Long]("h10"), r.getAs[Long]("v10")))
    }

    // a pure value-band box (full user + time range): only a layout that
    // clusters on the THIRD key can prune it
    val nChunks = 16
    val laid = keyed.select("event_id", "u10", "h10", "v10")
      .withColumn("z_val", Layout.zValue3(col("u10"), col("h10"), col("v10")))
      .repartitionByRange(nChunks, col("z_val"))
      .sortWithinPartitions("z_val")
    val stats = laid.withColumn("chunk", spark_partition_id())
      .groupBy("chunk").agg(min("v10").as("v_lo"), max("v10").as("v_hi"))
      .collect()
    assert(stats.length == nChunks)
    val v = keyed.select(min("v10"), max("v10")).head()
    val vQuarter = v.getLong(0) + (v.getLong(1) - v.getLong(0)) / 4
    val touched = stats.count(r =>
      r.getAs[Long]("v_lo") <= vQuarter && r.getAs[Long]("v_hi") >= v.getLong(0))
    assert(touched < nChunks,
      s"a 3-key layout must prune a value box: $touched of $nChunks")
  }
}
