package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling / training-mixture construction. The keep
  * decision is CONTENT-HASH based (first 16 bits of md5(text), mapped to
  * [0, 1)), not RNG based — reproducible across runs, stable under
  * re-partitioning, and engine-independent, which is the standard way to
  * cut a training mixture at 100 TB: the filter is pure map-side work and
  * the per-source accounting partial-aggregates before one tiny shuffle.
  */
object Sampling {

  /** The unit-interval draw: md5's first 4 hex digits as an integer over
    * 65536 — exactly representable in a double, identical in any engine. */
  /** 16-bit md5 draw over an arbitrary hash input — the one definition of
    * the unit-draw discipline (every sampler derives from this; widening
    * the draw means changing exactly this function). */
  private def draw16(hashInput: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(hashInput), 1, 4), 16, 10).cast("long").cast("double") / 65536.0

  private def unitDraw: org.apache.spark.sql.Column = draw16(col("text"))

  /** The per-row keep decision (`text` hash draw under the row's `source`
    * rate) as a reusable Column — pure map-side, also the filter behind the
    * typed [[graft.model.Documents]] API. */
  def keepCondition(rates: Map[String, Double],
      defaultRate: Double): org.apache.spark.sql.Column = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (s, r)) => when(col("source") === s, lit(r)).otherwise(acc)
    }
    unitDraw < rate
  }

  /** Per-source mixture accounting for a hash-sampled corpus: how many
    * documents each source keeps under its target rate (sources absent from
    * `rates` use `defaultRate`). The kept set itself is
    * [[hashSampleKept]] — same decision rule. */
  def hashSampleStats(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame =
    Tables.fanOut(docs).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(keepCondition(rates, defaultRate), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("realized_rate", col("n_kept").cast("double") / col("n_docs"))
      .orderBy("source")

  /** The sampled corpus itself: documents whose content-hash draw falls
    * under their source's target rate. */
  def hashSampleKept(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame =
    Tables.fanOut(docs).filter(keepCondition(rates, defaultRate))
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** EXACT-size uniform corpus sample by consistent hashing — the
    * bottom-k sibling of the rate-based [[hashSampleKept]] (which is
    * Bernoulli: size varies): the sample is the `k` documents with the
    * smallest content-hash draws. Deterministic, order- and
    * partitioning-independent, and STABLE UNDER APPEND — a document
    * leaves the sample only when a smaller-hash one arrives (the
    * consistent-sampling property dashboards over a growing corpus rely
    * on; also exactly how the KMV sketch keeps its minima). Hash ties
    * (exact-duplicate texts) break by doc_id, so the selection is total.
    *
    * 100 TB shape: NO global sort — Spark executes orderBy+limit as
    * TakeOrderedAndProject (per-partition bottom-k, then a k-merge of
    * partition heads; plan-asserted in ScaleTechniquesSpec), and only
    * `(doc_id, 32-byte hash)` pairs move, never text. */
  def uniformSample(docs: DataFrame, k: Int = 100): DataFrame =
    Tables.fanOut(docs)
      .select(col("doc_id"), md5(col("text")).as("draw"))
      .orderBy(col("draw"), col("doc_id"))
      .limit(k)

  val uniformSampleSql: String =
    """SELECT doc_id, md5(text) AS draw FROM documents
      |ORDER BY draw, doc_id LIMIT 100""".stripMargin

  /** The default mixture used by the `sample_mix` query. */
  val DefaultRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.1, "src2" -> 0.25, "src3" -> 0.75)
  val DefaultRate: Double = 0.5

  private[operators] def rateCaseSql: String = {
    val cases = DefaultRates.toSeq.sortBy(_._1).reverse
      .map { case (s, r) => s"WHEN source = '$s' THEN CAST($r AS DOUBLE)" }
      .mkString(" ")
    s"CASE $cases ELSE CAST($DefaultRate AS DOUBLE) END"
  }

  val hashSampleStatsSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS u,
       |    $rateCaseSql AS rate
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS realized_rate
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  val hashSampleKeptSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS u,
       |    $rateCaseSql AS rate
       |  FROM documents)
       |SELECT doc_id, source FROM d WHERE u < rate ORDER BY doc_id""".stripMargin

  /** TEMPERATURE-scaled source mixture (α-sampling with α = 1/2, the
    * common default of multilingual-pretraining practice — Devlin et al.'s
    * exponentiated-smoothing for mBERT, Conneau & Lample's XLM mixing):
    * source `s` is sampled with weight ∝ n_s^α instead of its raw share,
    * flattening the head and boosting the tail; the per-source keep rate
    * that realizes a `frac`·N document budget is
    * `min(1, frac · N · √n_s / Z / n_s)` with `Z = Σ √n_t` (the cap keeps
    * tiny sources at 100 % rather than over-sampling; the realized total
    * then undershoots the budget by the capped surplus — the standard
    * accept/cap rule, accounted per source in the output).
    *
    * α = 1/2 is computed as an explicit `sqrt`, which is IEEE
    * exactly-rounded in every engine — a general `pow(n, α)` is not, and a
    * last-ulp rate difference could flip a boundary draw; other α values
    * belong behind integer-safe rationals, not this query. The normalizer
    * Z is summed over INTEGERIZED weights `round(√n_s · 2^20)` (exact per
    * row, order-independent as a BIGINT sum) — a raw `sum(sqrt(..))` is an
    * order-dependent double aggregate, the float-rule violation every
    * other money/score aggregate here integerizes away.
    *
    * 100 TB shape: two map-side-combined aggregations over (source) — a
    * 20-row frame — a broadcast of the rate table, and the same content-
    * hash unit draw as every sampler here, so the keep decision never
    * shuffles the corpus. */
  def temperatureMix(docs: DataFrame, frac: Double = 0.5,
      salt: String = "temp0"): DataFrame = {
    val d = Tables.fanOut(docs)
    val sizes = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      // per-source √-weight quantized to 2^-20: exact per row, so Z is an
      // order-independent BIGINT sum instead of a partition-order double sum
      .withColumn("s20",
        round(sqrt(col("n_docs").cast("double")) * 1048576L).cast("long"))
    val z = sizes.agg(sum(col("s20")).as("z"), sum(col("n_docs")).as("n_total"))
    val rates = sizes.crossJoin(broadcast(z))
      .withColumn("rate", least(lit(1.0),
        lit(frac) * col("n_total") * col("s20") / col("z") / col("n_docs")))
      .select("source", "n_docs", "rate")
    val draw = draw16(concat_ws(":", lit(salt), col("text")).cast("binary"))
    d.join(broadcast(rates), Seq("source"))
      .groupBy("source")
      .agg(first("n_docs").as("n_docs"),
        sum(when(draw < col("rate"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("realized_rate", col("n_kept").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[temperatureMix]] at the defaults — same counts,
    * same √-weighted capped rate in the same operation order, same salted
    * draw. */
  val temperatureMixSql: String =
    """WITH sizes AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1048576) AS BIGINT) AS s20
      |  FROM documents GROUP BY 1),
      |z AS (SELECT sum(s20) AS z, sum(n_docs) AS n_total FROM sizes),
      |rates AS (SELECT source, n_docs,
      |    least(1.0, CAST(0.5 AS DOUBLE) * n_total * s20 / z / n_docs) AS rate
      |  FROM sizes CROSS JOIN z),
      |d AS (SELECT source,
      |    CAST(CAST(('0x' || substr(md5('temp0:' || text), 1, 4)) AS INTEGER) AS DOUBLE)
      |      / 65536.0 AS u
      |  FROM documents)
      |SELECT r.source, r.n_docs,
      |  CAST(sum(CASE WHEN d.u < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN d.u < r.rate THEN 1 ELSE 0 END) AS DOUBLE) / r.n_docs AS realized_rate
      |FROM d JOIN rates r USING (source)
      |GROUP BY 1, 2 ORDER BY r.source""".stripMargin

  /** Deterministic train/val/test split by CONTENT hash — the assignment
    * depends only on `md5(text)`, which buys two properties a 100 TB
    * pipeline needs: (1) reproducible across runs, partitionings, and
    * engines (no RNG, no ordering dependence); (2) leak-proof under exact
    * duplication — two byte-identical documents draw the same `u` and land
    * in the SAME split, so an exact dup can never straddle train/test (the
    * classic eval-contamination failure; near-dups still need the minhash
    * pass, [[Dedup.clusters]]). Pure map-side: no shuffle, no state.
    * Interval layout: `[0, testFrac) → test`, `[testFrac, testFrac +
    * valFrac) → val`, rest train, so a GROWING val/test fraction only moves
    * documents out of train, never between val and test. */
  def trainValTestSplit(docs: DataFrame, valFrac: Double = 0.05,
      testFrac: Double = 0.05): DataFrame =
    Tables.fanOut(docs)
      .withColumn("u", unitDraw)
      .withColumn("split",
        when(col("u") < testFrac, "test")
          .when(col("u") < testFrac + valFrac, "val")
          .otherwise("train"))
      .select("doc_id", "source", "split")
      .orderBy("doc_id")

  val trainValTestSplitSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS u
      |  FROM documents)
      |SELECT doc_id, source,
      |  CASE WHEN u < 0.05 THEN 'test'
      |       WHEN u < 0.10 THEN 'val'
      |       ELSE 'train' END AS split
      |FROM d ORDER BY doc_id""".stripMargin

  /** NEAR-DUP-leak-proof train/val/test split — the upgrade of
    * [[trainValTestSplit]] for the leakage its content-hash draw cannot
    * catch: two nearly identical documents hash differently and can
    * straddle train/test. Here the unit of assignment is the whole minhash
    * near-dup CLUSTER ([[Dedup.clusters]] — exact copies share a component
    * by construction, near-dups at jaccard ≥ 0.8 through the banded LSH
    * graph): every member draws from the cluster REPRESENTATIVE's content
    * hash, so an entire duplicate family lands in one split. This is the
    * split discipline an eval-decontaminated pretraining corpus actually
    * needs (Lee et al. 2022's leakage finding). Cost at 100 TB: the
    * cluster labeling is the pipeline's existing (memoized) CC pass; the
    * split itself is one shuffle join keyed on cluster_id in which only
    * (id, draw) pairs ever move — never text — plus map-side interval
    * logic. */
  def trainValTestSplitNearDup(docs: DataFrame, valFrac: Double = 0.05,
      testFrac: Double = 0.05): DataFrame = {
    val cl = Dedup.clusters(docs).select("doc_id", "cluster_id")
    // the rep IS its cluster's minimum member id, so its row provides the
    // family draw; only (id, draw) pairs cross the join, never text
    val repDraw = docs.select(col("doc_id").as("cluster_id"), unitDraw.as("u"))
    cl.join(repDraw, Seq("cluster_id"))
      .withColumn("split",
        when(col("u") < testFrac, "test")
          .when(col("u") < testFrac + valFrac, "val")
          .otherwise("train"))
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
  }

  val trainValTestSplitNearDupSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashPairsCoreSql},
       |pairs AS (
       |  SELECT doc_a, doc_b FROM crossp
       |  UNION ALL SELECT doc_a, doc_b FROM intra),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, re.r FROM reach re JOIN edges e ON e.a = re.id),
       |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |rd AS (SELECT doc_id AS cluster_id,
       |  CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS u
       |  FROM documents)
       |SELECT cl.doc_id, cl.cluster_id,
       |  CASE WHEN u < 0.05 THEN 'test'
       |       WHEN u < 0.10 THEN 'val'
       |       ELSE 'train' END AS split
       |FROM cl JOIN rd USING (cluster_id) ORDER BY cl.doc_id""".stripMargin

  /** Pretraining sequence packing, concat-and-chunk form: documents are
    * concatenated in a deterministic order and cut into fixed
    * `budget`-token training sequences; each document reports its token
    * offset and the chunk span it lands in. Packing is per `source` (each
    * source's stream packed independently, exactly how a sharded
    * pretraining pipeline packs per shard). All exact integer arithmetic.
    *
    * TWO-LEVEL prefix sum, so no single task ever serializes a whole
    * source's rows (a per-source window alone pushes ~1e9 narrow rows per
    * source through one task at 100 TB): doc_ids split into contiguous
    * `shardWidth`-wide ranges — `doc_id DIV shardWidth` is monotone in
    * doc_id, so shards preserve the concatenation order — with (1) local
    * prefix sums inside each (source, shard), (2) shard base offsets from a
    * per-source running sum over the AGGREGATED shard totals (≤ corpus_ids /
    * shardWidth tiny rows — ~1e4 at 100 TB with the default 2^20 width),
    * broadcast back onto the locals. `tok_offset = base + local − own`,
    * byte-identical to the single-window form (PipelineOpsSpec pins the
    * multi-shard ≡ single-window equality; token counts are computed BEFORE
    * any exchange so text never shuffles). */
  def packChunks(docs: DataFrame, budget: Long = 512,
      shardWidth: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wS = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val narrow = docs
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id DIV $shardWidth"))
      // explicit null-key filter (vacuous on a real corpus): the bases join
      // infers it on one branch only, and an asymmetric pushdown would
      // break the exchange-subtree equality reuse depends on
      .filter(col("source").isNotNull && col("shard").isNotNull)
    val local = narrow.withColumn("lsum", sum("n_tokens").over(w))
    // shard totals come from the WINDOW OUTPUT (max of a nonnegative
    // running sum = the shard's total), not from a second pass over the
    // corpus: both branches then contain the identical under-window
    // exchange subtree, which exchange reuse executes ONCE — scan,
    // tokenization, and shuffle are never duplicated (ScaleTechniquesSpec's
    // e2e scan counts catch exactly that), while the duplicated tail above
    // the reused shuffle is per-partition sort+sum over narrow rows
    val bases = local.groupBy("source", "shard").agg(max("lsum").as("st"))
      .withColumn("base", sum("st").over(wS) - col("st"))
      .select("source", "shard", "base")
    local
      .join(broadcast(bases), Seq("source", "shard"))
      .withColumn("tok_offset", col("base") + col("lsum") - col("n_tokens"))
      .withColumn("chunk_first", (col("tok_offset") / budget).cast("long"))
      .withColumn("chunk_last",
        ((col("tok_offset") + col("n_tokens") - 1) / budget).cast("long"))
      .select("source", "doc_id", "n_tokens", "tok_offset", "chunk_first", "chunk_last")
      .orderBy("source", "doc_id")
  }

  /** Deterministic global shuffle for training-order randomization — the
    * standard final step of a pretraining pipeline: each document draws a
    * content-independent pseudorandom key (md5 of a salt and its id), is
    * routed to one of `nShards` shards by the key's top byte, and gets its
    * position WITHIN the shard. Shard-then-local-sort is the 100 TB shape —
    * a single global row-numbering would serialize through one partition,
    * while per-shard windows sort `1/nShards` of the corpus each; readers
    * consume shards in index order for a fully deterministic epoch. */
  def shuffleShards(docs: DataFrame, salt: String = "graft0",
      nShards: Int = 16): DataFrame =
    shuffleShardsRaw(docs, salt, nShards).orderBy("shard", "pos_in_shard")

  private def shuffleShardsRaw(docs: DataFrame, salt: String,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shuffle key depends only on doc_id — project before any exchange
    // so document text never moves (the per-shard window exchange is the
    // parallelism boundary)
    docs
      .select(col("doc_id"),
        md5(concat_ws(":", lit(salt), col("doc_id").cast("string")).cast("binary")).as("skey"))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 2), 16, 10).cast("long") % nShards)
      .withColumn("pos_in_shard", row_number().over(
        Window.partitionBy("shard").orderBy("skey", "doc_id")).cast("long"))
      .select("doc_id", "shard", "pos_in_shard", "skey")
  }

  val shuffleShardsSql: String =
    """WITH d AS (
      |  SELECT doc_id, md5('graft0:' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents),
      |s AS (SELECT doc_id, skey,
      |  ('0x' || substr(skey, 1, 2))::BIGINT % 16 AS shard FROM d)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard,
      |  skey
      |FROM s ORDER BY shard, pos_in_shard""".stripMargin

  /** Curriculum tiering: bucket the corpus into `nTiers` quality tiers
    * (tier 1 = lowest) whose boundaries are DISCRETE quantiles of
    * [[TextAnalysis.qualityScore]] over a deterministic 25% hash sample —
    * the curriculum/annealing mixer's input ("train low→high quality", or
    * re-weight tiers per epoch), and the same sampled-boundary discipline
    * Spark's own `repartitionByRange` uses for range boundaries.
    *
    * Scale shape: the boundary job NEVER sorts sample rows globally — the
    * sample reduces to map-side-combined counts per DISTINCT score value (a
    * frame bounded by the score's value domain, not row count), cumulated in
    * two keyed levels: within integer score buckets (`quality_score` ∈
    * [0, 100], so ≤ 101 keys) by a PARTITIONED window, plus bucket base
    * offsets from a broadcast triangular self-join over the ≤ 101-row bucket
    * totals. The discrete-rank boundary is then min{c : cum(c) ≥ rank} —
    * element-for-element the row_number selection (the [[graft
    * .RelationalQueries.approxAgg]] discipline), with NO partitionless
    * WindowExec anywhere (ScaleTechniquesSpec bans the class registry-wide).
    * The 9-value bounds array broadcasts to a one-row nested-loop join;
    * assignment is one map-side `aggregate()` over the array; the final
    * per-tier rollup partial-aggregates to ≤ `nTiers` rows. Assumes a
    * non-empty sample (any corpus big enough to tier satisfies it).
    *
    * Returns `(tier, n_docs, total_chars, min_score, max_score)`. */
  def curriculumTiers(docs: DataFrame, nTiers: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.fanOut(docs).select("doc_id", "n_chars")
      .join(TextAnalysis.qualityScore(docs).select("doc_id", "quality_score"), Seq("doc_id"))
    val draw = conv(substring(md5(concat_ws(":", lit("curr0"),
      col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10).cast("long")
    val cnts = scored.filter(draw < lit(16384L)) // 0.25 * 65536, integer compare
      .groupBy(col("quality_score").as("c")).agg(count(lit(1)).as("f"))
      .withColumn("bk", floor(col("c")).cast("long")) // score ∈ [0,100] ⇒ ≤101 buckets
      // vacuous (floor of a non-null score), but keeps the downstream join's
      // inferred null filter from diverging the shared subtree (the same
      // exchange-reuse discipline packChunks documents)
      .filter(col("bk").isNotNull)
    val wB = Window.partitionBy("bk").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // every downstream consumer (bucket totals, their triangular base join,
    // the normalizer, the cumulative frame) derives from the ONE windowed
    // frame — bucket total = max of the in-bucket running sum — so all
    // branches share the window's exchange subtree and the sample scan +
    // score computation execute once, not once per consumer
    val cum0 = cnts.withColumn("lcum", sum("f").over(wB))
    val totals = cum0.groupBy("bk").agg(max("lcum").as("bf"))
    val bases = totals.as("a")
      .join(broadcast(totals.as("b")), col("b.bk") < col("a.bk"), "left")
      .groupBy(col("a.bk").as("bk"))
      .agg(coalesce(sum(col("b.bf")), lit(0L)).as("base"))
    val nnRow = totals.agg(sum("bf").as("nn"))
    val cum = cum0
      .join(broadcast(bases), Seq("bk"))
      .withColumn("cum", col("lcum") + col("base"))
    val bounds = cum.crossJoin(broadcast(nnRow))
      .groupBy().agg(array((1 until nTiers).map { i =>
        min(when(col("cum") >= expr(s"(nn * $i + ${nTiers - 1}) DIV $nTiers"), col("c")))
      }: _*).as("bounds"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("tier",
        (lit(1) + expr("aggregate(bounds, 0, (acc, b) -> acc + IF(quality_score > b, 1, 0))"))
          .cast("long"))
      .groupBy("tier").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        min("quality_score").as("min_score"),
        max("quality_score").as("max_score"))
      .orderBy("tier")
  }

  /** DuckDB oracle for [[curriculumTiers]] (nTiers = 10): the unchanged
    * [[TextAnalysis.qualityScoreSql]] as a CTE, the same doc_id-keyed
    * integer draw, the same ceil-rank discrete boundaries, the same
    * strictly-greater tier rule. */
  val curriculumTiersSql: String = {
    val boundCols = (1 until 10).map { i =>
      s"max(CASE WHEN rn = (nn * $i + 9) // 10 THEN c END) AS b$i"
    }.mkString(", ")
    val tierSum = (1 until 10).map { i =>
      s"(CASE WHEN quality_score > b$i THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
       |d AS (
       |  SELECT doc.doc_id, doc.n_chars, q.quality_score
       |  FROM documents doc JOIN q USING (doc_id)),
       |smp AS (
       |  SELECT quality_score AS c, doc_id FROM d
       |  WHERE CAST(('0x' || substr(md5('curr0:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < 16384),
       |rk AS (
       |  SELECT c, ROW_NUMBER() OVER (ORDER BY c, doc_id) AS rn,
       |    COUNT(*) OVER () AS nn FROM smp),
       |bounds AS (SELECT $boundCols FROM rk),
       |t AS (
       |  SELECT CAST(1 + $tierSum AS BIGINT) AS tier, n_chars, quality_score
       |  FROM d CROSS JOIN bounds)
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  min(quality_score) AS min_score, max(quality_score) AS max_score
       |FROM t GROUP BY tier ORDER BY tier""".stripMargin
  }

  val packChunksSql: String =
    """WITH d AS (
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
      |  FROM d)
      |SELECT source, doc_id, n_tokens, tok_offset,
      |  CAST(tok_offset // 512 AS BIGINT) AS chunk_first,
      |  CAST((tok_offset + n_tokens - 1) // 512 AS BIGINT) AS chunk_last
      |FROM o ORDER BY source, doc_id""".stripMargin
}
