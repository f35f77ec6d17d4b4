package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim).
  *
  * Determinism design: components are quantized to integer thousandths
  * (`round(x*1000)::bigint`) at row level, so dot products and norms are
  * exact BIGINT sums — order-independent and bit-identical in any engine —
  * and the resulting cosine is one deterministic double expression. This is
  * the operator's defined semantics ("quantized cosine"), giving the DuckDB
  * oracle a hash-exact target; at 1e-3 quantization the similarity error is
  * ~1e-3, irrelevant for retrieval ranking.
  *
  * Scale: brute-force top-k is the correctness baseline (fine when the query
  * set is small — it's a broadcast of queries against a scan of the corpus);
  * the LSH-bucketed variant is the 100 TB path: sign-random-hyperplane
  * signatures shrink candidate sets so the pairwise work is per-bucket.
  */
object Similarity {

  import graft.functions.LongDot.long_dot

  /** Quantized vectors + exact squared norm (one codegen'd merge scan, no
    * per-element lambda interpretation — [[graft.functions.LongDotExpr]]). */
  private def quantized(emb: DataFrame): DataFrame =
    Tables.fanOut(emb).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))").as("q"))
      .withColumn("nq", long_dot(col("q"), col("q")))

  private def dotCol = long_dot(col("qa"), col("qb"))

  /** Embedding-cosine near-dup pairs over same-label blocks. */
  def cosinePairs(emb: DataFrame, threshold: Double = 0.35): DataFrame = {
    val q = quantized(emb)
    val a = q.select(col("vec_id").as("vec_a"), col("label"), col("q").as("qa"), col("nq").as("nqa"))
    val b = q.select(col("vec_id").as("vec_b"), col("label"), col("q").as("qb"), col("nq").as("nqb"))
    a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", dotCol)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  val cosinePairsSql: String =
    """WITH ev AS (
      |  SELECT vec_id, label, i, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
      |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |norms AS (SELECT vec_id, CAST(sum(q*q) AS BIGINT) AS nq FROM ev GROUP BY vec_id),
      |labels AS (SELECT DISTINCT vec_id, label FROM ev),
      |dots AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(sum(a.q*b.q) AS BIGINT) AS dot
      |  FROM ev a JOIN ev b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |sims AS (
      |  SELECT vec_a, vec_b,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
      |  FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b)
      |SELECT vec_a, vec_b, cos FROM sims WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  /** Brute-force cosine top-k: query vectors (vec_id < nQueries) against the
    * whole corpus. Query side is broadcast; ranking via per-query window. */
  def bruteForceTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    bruteForceTopKQ(quantized(emb), k, nQueries)

  /** [[bruteForceTopK]] over an already-quantized frame — the exact ground
    * truth the PQ-index recall measurement compares against. */
  private def bruteForceTopKQ(q: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val queries = q.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("nqa"))
    val corpus = q.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nq").as("nqb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(queries).join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotCol)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** Shared oracle CTE chain (ev/norms/bfdots/bfsims/bfranked): exact
    * brute-force cosine ranks for queries `vec_id < nQueries` — ONE
    * definition composed by [[bruteForceTopKSql]] and the hybrid-RRF
    * oracle ([[CurationPipeline.hybridRetrievalRrfSql]]), so a grid or
    * tie-break change cannot desynchronize the two. A def (and lazy
    * composition sites) because [[evNormsSql]] is defined further down. */
  private[operators] def bruteForceRankedSql(nQueries: Int): String =
    s"""$evNormsSql,
      |bfdots AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(sum(a.q*b.q) AS BIGINT) AS dot
      |  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < $nQueries AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |bfsims AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
      |  FROM bfdots JOIN norms na ON na.vec_id = query_id JOIN norms nb ON nb.vec_id = neighbor_id),
      |bfranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM bfsims)""".stripMargin

  lazy val bruteForceTopKSql: String =
    s"""WITH ${bruteForceRankedSql(10)}
      |SELECT query_id, neighbor_id, cos, rnk FROM bfranked WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** HARD-NEGATIVE MINING for contrastive embedding training: for each
    * query vector, the top-`k` most-similar corpus vectors with a
    * DIFFERENT label — the near-misses a trainer wants as negatives
    * (random negatives are too easy to separate; same-label hits are
    * positives, not negatives). Exact quantized-cosine ranking with the
    * label inequality applied INSIDE the broadcast join, so same-label
    * candidates never reach the rank.
    *
    * 100 TB shape: same as [[bruteForceTopK]] — the query set is a small
    * broadcast sample, the corpus streams map-side, and the rank is one
    * window PARTITIONED by query_id (never partitionless); full-corpus
    * mining swaps in the IVF/LSH probed-candidate machinery with this
    * exact form as its recall oracle, exactly like the ANN family. */
  def hardNegatives(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val q = quantized(emb)
    val queries = q.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("q").as("qa"), col("nq").as("nqa"))
    val corpus = q.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), col("q").as("qb"), col("nq").as("nqb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(queries).join(corpus, col("query_label") =!= col("neighbor_label"))
      .withColumn("dot", dotCol)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "neighbor_label", "cos", "rnk")
      .orderBy("query_id", "rnk")
  }

  lazy val hardNegativesSql: String =
    s"""WITH $evNormsSql,
      |lab AS (SELECT vec_id, label FROM embeddings),
      |hnd AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(sum(a.q*b.q) AS BIGINT) AS dot
      |  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |hns AS (
      |  SELECT query_id, neighbor_id, lb.label AS neighbor_label,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
      |  FROM hnd
      |  JOIN norms na ON na.vec_id = query_id JOIN norms nb ON nb.vec_id = neighbor_id
      |  JOIN lab la ON la.vec_id = query_id JOIN lab lb ON lb.vec_id = neighbor_id
      |  WHERE la.label <> lb.label),
      |hnr AS (
      |  SELECT query_id, neighbor_id, neighbor_label, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM hns)
      |SELECT query_id, neighbor_id, neighbor_label, cos, rnk FROM hnr WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** Per-vector SQ8 codes: `m` = max |component| on the quantized grid
    * (BIGINT, exact) and the int8 code `q8ᵢ = sign(qᵢ)·⌊|qᵢ|·127 / m⌋` —
    * the absolute-value form keeps the integer division identical across
    * engines (both truncate == floor on non-negative operands). PINNED:
    * the encode is a per-corpus index build like [[pqCodes]]. */
  private[graft] def sq8Codes(emb: DataFrame): DataFrame =
    PinnedCaches.pin(
      quantized(emb)
        .withColumn("m", array_max(expr("transform(q, x -> abs(x))")))
        .withColumn("q8", expr(
          """transform(q, x -> CASE WHEN m = 0L THEN 0L
            |  WHEN x < 0L THEN -((-x * 127L) div m)
            |  ELSE (x * 127L) div m END)""".stripMargin))
        .select(col("vec_id"), col("m"), col("nq"), col("q8")))

  /** Scalar-quantized (SQ8) ANN — the third index family next to PQ and
    * IVF: each vector compresses to 64 int8 codes + one scale (8× smaller
    * than the float corpus, 1/16th of PQ's accuracy loss since every
    * dimension keeps its own code), candidates are selected by the
    * reconstructed-dot approximate cosine, and the `rerank` best per query
    * pay the exact quantized-cosine rank ([[rankCandidates]], shared with
    * every other index). The selection key `dot8 · m_b / √nq_b` drops the
    * per-QUERY constants (`m_a`, √nq_a — they cannot reorder one query's
    * candidates) so it stays one exact BIGINT product and one
    * exactly-rounded division — bit-deterministic, hash-exact oracle.
    *
    * 100 TB shape: the encode is one map-side scan (pinned index build,
    * no shuffle); queries broadcast (int8 codes — 8× more queries fit in
    * the broadcast budget than with raw vectors); the scan-side work is an
    * int8 dot per (query, vector) — SIMD-friendly and cache-resident where
    * the float scan thrashes; only `rerank` candidates per query touch the
    * full-precision vectors. This is exactly FAISS's SQ8 flat-scan trade. */
  def sq8TopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      rerank: Int = 32): DataFrame = {
    val codes = sq8Codes(emb)
    val queries = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q8").as("q8a"))
    val corpus = codes.select(col("vec_id").as("neighbor_id"),
      col("q8").as("q8b"), col("m").as("mb"), col("nq").as("nqb"))
    val wSel = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx").desc, col("neighbor_id"))
    val cand = broadcast(queries)
      .join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot8", long_dot(col("q8a"), col("q8b")))
      .withColumn("approx", (col("dot8") * col("mb")).cast("double") /
        sqrt(col("nqb").cast("double")))
      .withColumn("rn", row_number().over(wSel))
      .filter(col("rn") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    rankCandidates(cand, quantized(emb), k)
  }

  /** DuckDB oracle for [[sq8TopK]] at the defaults: per-vector scale,
    * int8 encode, approximate-cosine selection, exact-rank tail. (`lazy`:
    * the shared prelude/tail vals are declared further down the file —
    * eager init here would capture them uninitialized.) */
  lazy val sq8TopKSql: String =
    s"""WITH $evNormsSql,
       |mx AS (SELECT vec_id, CAST(max(abs(q)) AS BIGINT) AS m FROM ev GROUP BY vec_id),
       |q8 AS (
       |  SELECT ev.vec_id, i,
       |    CASE WHEN m = 0 THEN 0
       |         WHEN q < 0 THEN -((-q * 127) // m)
       |         ELSE (q * 127) // m END AS q8
       |  FROM ev JOIN mx ON mx.vec_id = ev.vec_id),
       |appr AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum(a.q8*b.q8) AS BIGINT) AS dot8
       |  FROM q8 a JOIN q8 b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |sel AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot8 * mb.m AS DOUBLE) / sqrt(CAST(nb.nq AS DOUBLE)) DESC,
       |      neighbor_id) AS rn
       |  FROM appr JOIN mx mb ON mb.vec_id = neighbor_id
       |    JOIN norms nb ON nb.vec_id = neighbor_id),
       |cand AS (SELECT query_id, neighbor_id FROM sel WHERE rn <= 32),
       |$rankSql""".stripMargin

  private val NumTables = 4
  private val PlanesPerTable = 6

  /** Deterministic pseudo-random ±1 hyperplanes (Knuth multiplicative hash
    * over (plane, dim)). */
  private def plane(j: Int): Seq[Long] =
    (0 until 64).map { i =>
      val h = (j.toLong * 64 + i) * 2654435761L
      if (((h >>> 16) & 1L) == 1L) 1L else -1L
    }

  /** BIGINT SQL literal array for plane j (fed to `long_dot`). */
  private def planeSql(j: Int): String =
    plane(j).map(_.toString + "L").mkString("array(", ", ", ")")

  /** Multi-table LSH approximate NN: 4 hash tables × 6-bit
    * sign-random-projection signatures; candidates are the union of the
    * query's buckets across tables, then exact (quantized-cosine) ranking on
    * the candidate set only. The 100 TB path: pairwise work shrinks to
    * bucket-sized candidate sets, recall recovered through table count —
    * the standard OR-of-ANDs LSH construction. The hyperplanes are
    * deterministic ±1 literals from [[plane]], so the DuckDB oracle
    * ([[lshTopKSql]]) embeds the SAME planes and reproduces the whole
    * pipeline — signatures, bucket join, exact rank — hash-exact. */
  /** `(vec_id, q, nq, table, bucket)` — each vector hashed into its bucket
    * in every LSH table. */
  private def lshBuckets(q: DataFrame, tables: Int = NumTables): DataFrame = {
    val tableSigs = (0 until tables).map { t =>
      val sig = (0 until PlanesPerTable).foldLeft(lit(0L)) { (acc, j) =>
        val proj = long_dot(col("q"), expr(planeSql(t * PlanesPerTable + j)))
        acc.bitwiseOR(when(proj > 0, lit(1L << j)).otherwise(lit(0L)))
      }
      struct(lit(t).as("table"), sig.as("bucket"))
    }
    q.select(col("vec_id"), col("q"), col("nq"), explode(array(tableSigs: _*)).as("tb"))
      .select(col("vec_id"), col("q"), col("nq"), col("tb.table"), col("tb.bucket"))
  }

  /** Multi-probe perturbation depth: the QUERY side may flip any subset of
    * the `MaxFlipBits` lowest-|margin| hyperplanes per table (the planes
    * the vector sits closest to — the bits most likely to differ on a true
    * near neighbor). 2^4 = 16 probe sets per table. */
  private val MaxFlipBits = 4

  /** Shipped probe count for the embed novelty gate: the query's own
    * bucket plus the 15 lowest-penalty perturbations per table (all
    * subsets of the 4 lowest-margin planes) — the standard multi-probe
    * LSH construction (Lv et al., VLDB'07). Query-side only: probing
    * costs O(probes) extra bucket LOOKUPS per query vector, never extra
    * index rows. Chosen by the tables × probes sweep pinned in
    * EmbedGateRecallSpec: measured gate recall on the sf0.01 corpus at
    * threshold 0.35 rises 0.278 (r12's 4 tables × 1 probe) → 0.889 at
    * the shipped 8 × 16. */
  val EmbedGateProbes = 16

  /** Hash-table count for the embed-GATE index family (novelty gate,
    * refresh/delta lifecycle, streaming gate) — decoupled from the other
    * LSH consumers' [[NumTables]] because the gate's contract is recall at
    * threshold 0.35, the hardest LSH regime (a 0.35-cosine pair is ~69°
    * apart — per-plane sign agreement barely beats a coin flip, so table
    * count is the only lever left once multi-probe saturates). Corpus cost
    * is `tables` small bucket rows per vector (the quantized vectors — the
    * index's dominant weight — are stored ONCE regardless), so doubling
    * tables is cheap where doubling the index would not be. Chosen with
    * [[EmbedGateProbes]] by the EmbedGateRecallSpec sweep. */
  val EmbedGateTables = 8

  /** Multi-probe QUERY-side buckets: for each table, the base signature
    * bucket plus the `nProbes - 1` perturbed buckets with the lowest
    * flip penalty (sum of |projection| over flipped planes — flipping a
    * near-zero projection is cheap, the neighbor plausibly lands there).
    * Perturbation sets are subsets of the [[MaxFlipBits]] lowest-|margin|
    * planes, ranked by (penalty, subset id); subset id 0 is the
    * unperturbed bucket, so `nProbes = 1` degenerates to [[lshBuckets]].
    * Deterministic (ties by plane index then subset id) → SQL-replayable
    * ([[probeSigsSql]] mirrors the ranking exactly). */
  private def lshProbeBuckets(q: DataFrame, nProbes: Int,
      tables: Int = NumTables): DataFrame = {
    require(nProbes >= 1 && nProbes <= (1 << MaxFlipBits),
      s"nProbes must be in [1, ${1 << MaxFlipBits}]")
    val tableProbes = (0 until tables).map { t =>
      val planes = (0 until PlanesPerTable).map { j =>
        val d = long_dot(col("q"), expr(planeSql(t * PlanesPerTable + j)))
        struct(abs(d).as("m"), lit(j.toLong).as("j"), lit(1L << j).as("bit"),
          d.as("d"))
      }
      // BIND the six projections once per row as a lambda variable —
      // everything below references the bound array, never a copy of the
      // dot-product tree. The naive inlined form duplicated the
      // array_sort(projections) subtree into every combo reference
      // (Catalyst collapses Projects and codegen CSE gave up on the
      // resulting expression size), evaluating each 64-element long_dot
      // dozens of times per row — measured as a ~6x slowdown across the
      // four embed-gate registry rows at 8 tables x 16 probes.
      val buckets = element_at(transform(array(array(planes: _*)), p => {
        val base = aggregate(filter(p, x => x.getField("d") > lit(0L)),
          lit(0L), (acc, x) => acc + x.getField("bit"))
        // planes ordered by (|proj|, plane index) — struct sort is
        // lexicographic by field order (`bit`/`d` trail j, never perturb)
        element_at(transform(array(array_sort(p)), sorted => {
          val low = (0 until MaxFlipBits).map(i => element_at(sorted, i + 1))
          val combos = (0 until (1 << MaxFlipBits)).map { cid =>
            val bits = (0 until MaxFlipBits).filter(i => ((cid >> i) & 1) == 1)
            val score = bits.foldLeft(lit(0L))((acc, i) => acc + low(i).getField("m"))
            // distinct plane bits, so plain addition IS the bit union (and
            // mirrors the oracle's arithmetic form textually)
            val mask = bits.foldLeft(lit(0L))((acc, i) => acc + low(i).getField("bit"))
            struct(score.as("s"), lit(cid.toLong).as("cid"), mask.as("mask"))
          }
          transform(slice(array_sort(array(combos: _*)), 1, nProbes),
            c => base.bitwiseXOR(c.getField("mask")))
        }), 1)
      }), 1)
      struct(lit(t).as("table"), buckets.as("buckets"))
    }
    q.select(col("vec_id"), explode(array(tableProbes: _*)).as("tb"))
      .select(col("vec_id"), col("tb.table").as("table"),
        explode(col("tb.buckets")).as("bucket"))
  }

  def lshTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val q = quantized(emb)
    val bucketed = lshBuckets(q)

    val queries = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val corpus = bucketed.select(col("vec_id").as("neighbor_id"), col("table"), col("bucket"))
    val cand = queries.join(corpus, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()

    rankCandidates(cand, q, k)
  }

  /** UNBLOCKED embedding near-dup pairs via the multi-table LSH: unlike
    * [[cosinePairs]] (which needs a blocking key such as `label`), candidate
    * pairs here just share a signature in at least one hash table; only
    * candidates pay the exact quantized-cosine verify. This is the 100 TB
    * embedding-dedup path when no natural blocking key exists — candidate
    * volume is per-bucket, recall is tuned through the table count, and
    * degenerate buckets past `bucketCap` are skipped like the text LSH
    * paths. ANN semantics by construction (a pair missed by every table is
    * not reported); deterministic → DuckDB oracle ([[lshCosinePairsSql]]).
    */
  def lshCosinePairs(emb: DataFrame, threshold: Double = 0.35,
      bucketCap: Int = Dedup.DefaultBucketCap): DataFrame =
    lshCosinePairsUnordered(emb, threshold, bucketCap).orderBy("vec_a", "vec_b")

  /** [[lshCosinePairs]] without the presentation sort — the form
    * [[embedClusters]] builds on. */
  private def lshCosinePairsUnordered(emb: DataFrame, threshold: Double,
      bucketCap: Int): DataFrame = {
    val q = quantized(emb)
    val bucketed = Dedup.capBuckets(
      lshBuckets(q).select("vec_id", "table", "bucket"),
      Seq("table", "bucket"), bucketCap)
    val cand = bucketed.as("x").join(bucketed.as("y"), Seq("table", "bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(q.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("nq").as("nqa")), Seq("vec_a"))
      .join(q.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("nq").as("nqb")), Seq("vec_b"))
      .withColumn("dot", dotCol)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** SEMANTIC dedup clusters — connected components of the
    * [[lshCosinePairs]] similarity graph (the embedding twin of
    * [[Dedup.clusters]], via the same [[Dedup.componentsOf]] label
    * propagation): one row per vector, `(vec_id, cluster_id, kept)` where
    * `cluster_id` is the component's minimum member id and `kept` marks the
    * representative — the SemDeDup-style decision of keeping one exemplar
    * per semantic duplicate group. Deterministic end to end, so
    * [[embedClustersSql]] replays it with a recursive CTE. */
  def embedClusters(emb: DataFrame, threshold: Double = 0.35,
      bucketCap: Int = Dedup.DefaultBucketCap): DataFrame =
    // memo-pinned: the star-contraction CC loop is eager and checkpoint-backed, so
    // repeated calls over the same corpus would re-propagate the graph
    // (see Dedup.clusters)
    PinnedCaches.memo(emb, s"embed_clusters:$threshold:$bucketCap") {
      val pairs = lshCosinePairsUnordered(emb, threshold, bucketCap)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      Dedup.componentsOf(Tables.fanOut(emb).select(col("vec_id").as("id")), pairs)
        .select(col("id").as("vec_id"), col("cluster_id"),
          (col("cluster_id") === col("id")).as("kept"))
    }.orderBy("vec_id")

  /** Embedding-ingest novelty gate — the vector twin of
    * [[Dedup.bestMatchAgainst]], the decision a vector store executes
    * before admitting new embeddings: for every BATCH vector, its best
    * match in the EXISTING corpus (`(vec_id, best_match, best_cos,
    * novel)`; best = highest quantized cosine ≥ `threshold`, ties to the
    * lowest corpus id; `novel` = no such match).
    *
    * The corpus side is the precomputed pinned index (quantized vectors +
    * capped multi-table LSH buckets — materialized once, every batch joins
    * against it, so ingest cost is proportional to the BATCH); the batch
    * pays map-side signatures, the bucket join, and the exact verify on
    * candidates only. The cap applies to the CORPUS buckets (a degenerate
    * corpus bucket yields no candidates — [[Dedup.corpusIndex]]'s drop
    * rule). ANN semantics by construction: a match missed by all
    * `NumTables` tables is reported novel; recall is tuned via the
    * QUERY-side probe count ([[EmbedGateProbes]] — multi-probe LSH, the
    * index itself never grows). Deterministic → hash-exact oracle
    * ([[embedNoveltySql]]). */
  def embedNovelty(batch: DataFrame, corpus: DataFrame,
      threshold: Double = 0.35, bucketCap: Int = Dedup.DefaultBucketCap,
      probes: Int = EmbedGateProbes): DataFrame =
    embedNoveltyAgainst(batch, embedIndex(corpus, bucketCap), threshold, probes)

  /** Precomputed EXISTING-corpus side of the embedding novelty gate: pinned
    * quantized vectors (verify side) and their capped multi-table LSH
    * buckets (candidate side) — the vector-store index a 100 TB ingest
    * pipeline materializes ONCE; every batch/micro-batch joins against it
    * ([[graft.operators.Dedup.CorpusIndex]]'s discipline). */
  final case class EmbedIndex private[operators] (qc: DataFrame, cb: DataFrame,
      oversized: DataFrame, bucketCap: Int, tables: Int = EmbedGateTables) {
    private[operators] def frames: Seq[DataFrame] = Seq(qc, cb, oversized)
    /** Force-materialize all pinned components (atomic-swap discipline —
      * see [[Dedup.CorpusIndex.materialize]]). */
    def materialize(): this.type = {
      IndexFiles.inParallel(frames.map(f => () => f.count())); this
    }

    /** Materialize and truncate lineage (see
      * [[Dedup.CorpusIndex.truncated]] — bounds plan depth under a
      * per-batch refresh loop; jobs submitted concurrently). */
    private[graft] def truncated(): EmbedIndex = {
      val t = IndexFiles.inParallel(frames.map(f => () => f.localCheckpoint(true)))
      EmbedIndex(t(0), t(1), t(2), bucketCap, tables)
    }
    /** Unpin this index's frames after a swap. */
    def release(): Unit = frames.foreach(PinnedCaches.unpin)
  }

  def embedIndex(corpus: DataFrame,
      bucketCap: Int = Dedup.DefaultBucketCap,
      tables: Int = EmbedGateTables): EmbedIndex = {
    val qc = PinnedCaches.pin(quantized(corpus).select("vec_id", "q", "nq"))
    val buckets = lshBuckets(qc, tables).select("vec_id", "table", "bucket")
    val cb = PinnedCaches.pin(Dedup.capBuckets(buckets,
      Seq("table", "bucket"), bucketCap))
    // dropped-bucket sizes — refresh bookkeeping, same contract as
    // [[Dedup.CorpusIndex]]'s oversized table
    val oversized = PinnedCaches.pin(buckets
      .groupBy("table", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") > bucketCap))
    EmbedIndex(qc, cb, oversized, bucketCap, tables)
  }

  /** One fold's O(batch) persistence payload — [[Dedup.IndexDelta]]'s
    * vector twin: the batch's quantized vectors, their UNFILTERED LSH
    * bucket rows (pure append — no dup-group collapse and no re-key on the
    * vector side), and the refreshed dropped-bucket size table (tiny,
    * latest-wins at load). */
  final case class EmbedDelta private[operators] (
      qNew: DataFrame, freshBuckets: DataFrame, oversized: DataFrame) {
    private[operators] def frames: Seq[DataFrame] =
      Seq(qNew, freshBuckets, oversized)
  }

  /** The embed index's persisted artifact ([[IndexFiles.Artifact]]). The
    * replay appends quantized vectors and bucket rows and applies the
    * latest dropped-bucket filter once at the end (sizes only grow, so the
    * latest `oversized` subsumes every earlier drop). Contents-identical
    * to the in-memory folded index (spec-pinned; `embed_index_delta` pins
    * the gate output through the round trip). */
  private[graft] object EmbedFiles extends IndexFiles.Artifact[EmbedIndex, EmbedDelta](
      "embed index", Seq("qc", "cb", "oversized"),
      Seq("q_new", "fresh_buckets", "oversized")) {
    protected def baseFrames(idx: EmbedIndex): Seq[DataFrame] = idx.frames
    protected def meta(idx: EmbedIndex): Seq[(String, String)] = Seq(
      "bucket_cap" -> idx.bucketCap.toString, "tables" -> idx.tables.toString)
    protected def deltaFrames(delta: EmbedDelta): Seq[DataFrame] = delta.frames
    override protected def detach(loaded: EmbedIndex): EmbedIndex = loaded.truncated()

    protected def replay(c: IndexFiles.Chain,
        pin: DataFrame => DataFrame): EmbedIndex = {
      var qc = c.base("qc")
      var cbRows = c.base("cb")
      var oversized = c.base("oversized")
      c.deltas.foreach { d =>
        qc = qc.unionByName(d("q_new"))
        cbRows = cbRows.unionByName(d("fresh_buckets"))
        oversized = d("oversized")
      }
      val oversizedP = pin(oversized)
      val cb =
        if (c.deltas.isEmpty) pin(cbRows)
        else pin(cbRows.join(
          broadcast(oversizedP.select("table", "bucket")), Seq("table", "bucket"), "left_anti"))
      EmbedIndex(pin(qc), cb, oversizedP, c.meta("bucket_cap").toInt,
        // metas written before the gate's table count was persisted carry no
        // `tables` key; those indexes were built at the then-global 4
        c.meta.getOrElse("tables", NumTables.toString).toInt)
    }
  }

  /** INDEX LIFECYCLE, vector side — fold a batch of new embeddings into an
    * existing [[EmbedIndex]]: quantize ONLY the batch, append its LSH
    * bucket rows, and re-apply the bucket cap on true combined sizes (a
    * bucket the batch pushes over the cap drops whole; a previously-dropped
    * bucket stays dropped) — contents identical to a from-scratch
    * [[embedIndex]](old ∪ new), cost proportional to the batch. Unlike the
    * text index there is no dup-group collapse to fold: every vec_id keys
    * its own row. */
  def refreshEmbedIndex(idx: EmbedIndex, newVecs: DataFrame): EmbedIndex =
    refreshEmbedIndexCore(idx, newVecs, PinnedCaches.pin)._1

  /** The fold body, parameterized over the caching discipline — see
    * [[graft.operators.Dedup]]'s `refreshIndexCore` for why the lifecycle
    * loop must NOT pin fold intermediates. */
  private def refreshEmbedIndexCore(idx: EmbedIndex, newVecs: DataFrame,
      cache: DataFrame => DataFrame): (EmbedIndex, EmbedDelta) = {
    val qNew = cache(quantized(newVecs).select("vec_id", "q", "nq"))
    val freshBuckets = cache(lshBuckets(qNew, idx.tables).select("vec_id", "table", "bucket"))
    val qc2 = cache(idx.qc.unionAll(qNew))
    // re-cap restricted to buckets the BATCH touches — see
    // [[graft.operators.Dedup]]'s refreshIndexCore for the argument: an
    // untouched bucket cannot change state (present stays ≤ cap, dropped
    // rides through idx.oversized with its true size), so the O(index)
    // full-bucket-table aggregation + O(index) keep join become an
    // O(batch) semi-joined aggregation + broadcast anti-join per fold.
    val freshSizes = cache(
      freshBuckets.groupBy("table", "bucket").agg(count(lit(1)).as("n")))
    val touched = freshSizes.select("table", "bucket")
    val oldPresentTouched = idx.cb
      .join(broadcast(touched), Seq("table", "bucket"), "left_semi")
      .groupBy("table", "bucket").agg(count(lit(1)).as("n"))
    val totals = cache(
      oldPresentTouched.unionAll(idx.oversized).unionAll(freshSizes)
        .groupBy("table", "bucket").agg(sum("n").as("n")))
    val oversized2 = cache(totals.filter(col("n") > idx.bucketCap))
    val cb2 = cache(
      idx.cb.unionAll(freshBuckets).join(
        broadcast(oversized2.select("table", "bucket")),
        Seq("table", "bucket"), "left_anti"))
    (EmbedIndex(qc2, cb2, oversized2, idx.bucketCap, idx.tables),
      EmbedDelta(qNew, freshBuckets, oversized2))
  }

  /** [[refreshEmbedIndex]] for the lifecycle loop: fold-local tracked
    * persists, dropped by the returned thunk after the published frames are
    * checkpointed ([[graft.operators.Dedup.refreshIndexTracked]]'s twin). */
  private[graft] def refreshEmbedIndexTracked(idx: EmbedIndex,
      newVecs: DataFrame): (EmbedIndex, EmbedDelta, () => Unit) = {
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (next, delta) = refreshEmbedIndexCore(idx, newVecs,
      df => { val c = df.persist(); tracked += c; c })
    (next, delta, () => tracked.foreach(_.unpersist()))
  }

  // ───────────── SEGMENTED IN-MEMORY FOLDS, vector side ─────────────
  // [[graft.operators.Dedup]]'s segmented-fold primitives mirrored for the
  // embed index (simpler: no dup-group collapse, no re-key map).

  private[operators] final case class EmbedSegmentParts(
      qNew: DataFrame, freshBuckets: DataFrame, freshSizes: DataFrame)

  private[operators] def embedSegmentFold(newVecs: DataFrame,
      cache: DataFrame => DataFrame,
      tables: Int = EmbedGateTables): EmbedSegmentParts = {
    val qNew = cache(quantized(newVecs).select("vec_id", "q", "nq"))
    val freshBuckets = cache(lshBuckets(qNew, tables).select("vec_id", "table", "bucket"))
    val freshSizes = cache(
      freshBuckets.groupBy("table", "bucket").agg(count(lit(1)).as("n")))
    EmbedSegmentParts(qNew, freshBuckets, freshSizes)
  }

  /** The current dropped-bucket table over per-segment size tables —
    * checkpointed per fold by the holder, never recomputed at gate time
    * (see [[graft.operators.Dedup]]'s `segmentOversized`). */
  private[operators] def embedSegmentOversized(sizes: Seq[DataFrame],
      bucketCap: Int): DataFrame =
    sizes.reduce(_ unionByName _).groupBy("table", "bucket")
      .agg(sum("n").as("n")).filter(col("n") > bucketCap)

  private[operators] def embedSegmentedView(qcs: Seq[DataFrame],
      cbs: Seq[DataFrame], oversized: DataFrame, bucketCap: Int,
      tables: Int = EmbedGateTables): EmbedIndex = {
    def u(fs: Seq[DataFrame]): DataFrame = fs.reduce(_ unionByName _)
    EmbedIndex(u(qcs),
      u(cbs).join(broadcast(oversized.select("table", "bucket")),
        Seq("table", "bucket"), "left_anti"),
      oversized, bucketCap, tables)
  }

  /** The initial embed segment's TRUE size table (present ∪ dropped). */
  private[operators] def embedInitialSizes(idx: EmbedIndex): DataFrame =
    idx.cb.groupBy("table", "bucket").agg(count(lit(1)).as("n"))
      .unionByName(idx.oversized)
      .groupBy("table", "bucket").agg(sum("n").as("n"))

  /** [[embedNovelty]] against an already-built [[EmbedIndex]] — the form
    * the streaming gate applies per micro-batch. */
  def embedNoveltyAgainst(batch: DataFrame, idx: EmbedIndex,
      threshold: Double = 0.35, probes: Int = EmbedGateProbes): DataFrame = {
    val qc = idx.qc
    val cb = idx.cb
    val qb = quantized(batch).select("vec_id", "q", "nq")
    val cand = lshProbeBuckets(qb, probes, idx.tables)
      .join(cb.select(col("vec_id").as("m"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .select("vec_id", "m").distinct()
    val best = cand
      .join(qb.select(col("vec_id"), col("q").as("qa"), col("nq").as("nqa")), Seq("vec_id"))
      // corpus vectors cut to candidate ids at scale (Dedup.shrinkToKeys)
      // — the gate must never shuffle the O(index) quantized table per
      // micro-batch
      .join(Dedup.shrinkToKeys(
        qc.select(col("vec_id").as("m"), col("q").as("qb"), col("nq").as("nqb")),
        cand, "m"), Seq("m"))
      .withColumn("cos", dotCol.cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .filter(col("cos") >= threshold)
      // best match via a map-side-combinable fold, not a ranking window
      .groupBy("vec_id")
      .agg(min(struct((-col("cos")).as("nc"), col("m").as("m"))).as("b"))
      .select(col("vec_id"), col("b.m").as("best_match"), (-col("b.nc")).as("best_cos"))
    // batch-bounded best-match table broadcasts into the final left join
    // (the gate's one SortMergeJoin otherwise — see Dedup.bestMatchAgainst)
    Tables.fanOut(batch).select("vec_id")
      .join(broadcast(best), Seq("vec_id"), "left")
      .withColumn("novel", col("best_cos").isNull)
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[embedNovelty]] on the parity split (odd ids =
    * batch, even = existing) at the defaults — signatures from the SAME
    * embedded hyperplane literals, corpus-side bucket cap, exact verify,
    * best-by-(cos DESC, id). */
  def embedNoveltySql: String =
    s"""WITH $evNormsSql,
       |${sigsSqlTables(EmbedGateTables)},
       |${probeSigsSql(EmbedGateProbes)},
       |csig AS (SELECT vec_id, tbl, bucket FROM (
       |  SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bn
       |  FROM sigs WHERE vec_id % 2 = 0) WHERE bn <= ${Dedup.DefaultBucketCap}),
       |cand AS (
       |  SELECT DISTINCT b.vec_id, c.vec_id AS m
       |  FROM psigs b JOIN csig c ON c.tbl = b.tbl AND c.bucket = b.bucket
       |  WHERE b.vec_id % 2 = 1),
       |dots AS (
       |  SELECT cd.vec_id, cd.m, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM cand cd JOIN ev a ON a.vec_id = cd.vec_id
       |    JOIN ev b ON b.vec_id = cd.m AND b.i = a.i
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT dots.vec_id, dots.m,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
       |  FROM dots JOIN norms na ON na.vec_id = dots.vec_id
       |    JOIN norms nb ON nb.vec_id = dots.m),
       |best AS (SELECT vec_id, m AS best_match, cos AS best_cos FROM (
       |  SELECT vec_id, m, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, m) AS rn
       |  FROM sims WHERE cos >= 0.35) WHERE rn = 1)
       |SELECT e.vec_id, best_match, best_cos, best_cos IS NULL AS novel
       |FROM embeddings e LEFT JOIN best USING (vec_id)
       |WHERE e.vec_id % 2 = 1 ORDER BY e.vec_id""".stripMargin

  /** The embed-GATE recall monitor against an explicit [[EmbedIndex]] —
    * the measurement [[embedGateRecall]] hash-pins and
    * [[IndexMaintenance.monitorEmbedGate]] runs on a cadence: among probe
    * vectors whose TRUE best corpus cosine clears `threshold` (exact brute
    * tier over the probe sample — monitoring cost, like [[pqRecall]]'s),
    * the fraction the LSH-candidate gate also reports non-novel. PQ and
    * graph drift were measured and acted on; the embed gate's
    * random-hyperplane candidate generation is distribution-free in
    * THEORY, but its effective recall depends on threshold × corpus
    * geometry — the same "monitor the measurement" discipline applies.
    * One row `(threshold, hits, possible, recall)`; recall NaN when no
    * probe has a true match (nothing measurable — the
    * [[IndexMaintenance]] NaN rule). */
  def embedGateRecallAgainst(probes: DataFrame, idx: EmbedIndex,
      threshold: Double = 0.35, nProbes: Int = EmbedGateProbes): DataFrame = {
    val gateHit = embedNoveltyAgainst(probes, idx, threshold, nProbes)
      .filter(!col("novel")).select("vec_id")
    val qp = quantized(probes)
      .select(col("vec_id"), col("q").as("qa"), col("nq").as("nqa"))
    val qc = idx.qc
      .select(col("vec_id").as("m"), col("q").as("qb"), col("nq").as("nqb"))
    // exact tier: probe sample × corpus, probes broadcast (the sample is
    // the small side by construction — the monitor's deliberate brute row)
    val exact = broadcast(qp).crossJoin(qc)
      .withColumn("cos", dotCol.cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select("vec_id").distinct()
    exact.join(gateHit, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("possible"))))
      .select(lit(threshold).as("threshold"), col("hits"), col("possible"),
        when(col("possible") === 0, lit(Double.NaN))
          .otherwise(col("hits").cast("double") / col("possible").cast("double"))
          .as("recall"))
  }

  /** The registry form on the parity split (even ids = the indexed corpus,
    * every `sampleMod`-th odd id = the probe sample). */
  def embedGateRecall(emb: DataFrame, threshold: Double = 0.35,
      sampleMod: Int = 7, bucketCap: Int = Dedup.DefaultBucketCap,
      nProbes: Int = EmbedGateProbes, tables: Int = EmbedGateTables): DataFrame = {
    val corpus = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val probes = emb.filter(pmod(col("vec_id"), lit(2L * sampleMod)) === 1)
    embedGateRecallAgainst(probes, embedIndex(corpus, bucketCap, tables), threshold, nProbes)
  }

  /** DuckDB oracle for the `embed_gate_recall` registry row — the monitor
    * ITSELF hash-pinned (the [[pqRecallSql]] composition pattern): the
    * gate chain ([[embedNoveltySql]]'s machinery) and the exact brute
    * chain replayed as subqueries, recall = their agreement over the
    * truly-non-novel probe sample. */
  def embedGateRecallSql(threshold: Double = 0.35, sampleMod: Int = 7): String =
    s"""WITH $evNormsSql,
       |${sigsSqlTables(EmbedGateTables)},
       |${probeSigsSql(EmbedGateProbes)},
       |csig AS (SELECT vec_id, tbl, bucket FROM (
       |  SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bn
       |  FROM sigs WHERE vec_id % 2 = 0) WHERE bn <= ${Dedup.DefaultBucketCap}),
       |cand AS (
       |  SELECT DISTINCT b.vec_id, c.vec_id AS m
       |  FROM psigs b JOIN csig c ON c.tbl = b.tbl AND c.bucket = b.bucket
       |  WHERE b.vec_id % ${2 * sampleMod} = 1),
       |gdots AS (
       |  SELECT cd.vec_id, cd.m, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM cand cd JOIN ev a ON a.vec_id = cd.vec_id
       |    JOIN ev b ON b.vec_id = cd.m AND b.i = a.i
       |  GROUP BY 1, 2),
       |gate AS (SELECT DISTINCT gdots.vec_id FROM gdots
       |  JOIN norms na ON na.vec_id = gdots.vec_id
       |  JOIN norms nb ON nb.vec_id = gdots.m
       |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
       |    >= $threshold),
       |edots AS (
       |  SELECT a.vec_id, b.vec_id AS m, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN ev b ON b.i = a.i AND b.vec_id % 2 = 0
       |  WHERE a.vec_id % ${2 * sampleMod} = 1
       |  GROUP BY 1, 2),
       |exact AS (SELECT DISTINCT edots.vec_id FROM edots
       |  JOIN norms na ON na.vec_id = edots.vec_id
       |  JOIN norms nb ON nb.vec_id = edots.m
       |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
       |    >= $threshold),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM exact e
       |  WHERE EXISTS (SELECT 1 FROM gate g WHERE g.vec_id = e.vec_id)),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM exact)
       |SELECT CAST($threshold AS DOUBLE) AS threshold, hits, possible,
       |  CASE WHEN possible = 0 THEN CAST('NaN' AS DOUBLE)
       |       ELSE CAST(hits AS DOUBLE) / possible END AS recall
       |FROM h CROSS JOIN p""".stripMargin

  /** DuckDB oracle for the `embed_index_refresh` registry row — the
    * vector INDEX-LIFECYCLE gate on a 3-way split: vec_id%3==0 indexed
    * from scratch, %3==1 [[refreshEmbedIndex]]ed in, %3==2 gated through
    * the refreshed index. The oracle builds one flat existing side
    * (%3 < 2) with the bucket cap over it, so the hash gate validates
    * incrementally-folded ≡ from-scratch over the union corpus. */
  def embedIndexRefreshSql: String =
    s"""WITH $evNormsSql,
       |${sigsSqlTables(EmbedGateTables)},
       |${probeSigsSql(EmbedGateProbes)},
       |csig AS (SELECT vec_id, tbl, bucket FROM (
       |  SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bn
       |  FROM sigs WHERE vec_id % 3 < 2) WHERE bn <= ${Dedup.DefaultBucketCap}),
       |cand AS (
       |  SELECT DISTINCT b.vec_id, c.vec_id AS m
       |  FROM psigs b JOIN csig c ON c.tbl = b.tbl AND c.bucket = b.bucket
       |  WHERE b.vec_id % 3 = 2),
       |dots AS (
       |  SELECT cd.vec_id, cd.m, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM cand cd JOIN ev a ON a.vec_id = cd.vec_id
       |    JOIN ev b ON b.vec_id = cd.m AND b.i = a.i
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT dots.vec_id, dots.m,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
       |  FROM dots JOIN norms na ON na.vec_id = dots.vec_id
       |    JOIN norms nb ON nb.vec_id = dots.m),
       |best AS (SELECT vec_id, m AS best_match, cos AS best_cos FROM (
       |  SELECT vec_id, m, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, m) AS rn
       |  FROM sims WHERE cos >= 0.35) WHERE rn = 1)
       |SELECT e.vec_id, best_match, best_cos, best_cos IS NULL AS novel
       |FROM embeddings e LEFT JOIN best USING (vec_id)
       |WHERE e.vec_id % 3 = 2 ORDER BY e.vec_id""".stripMargin

  /** Materialize this family's pinned working sets (quantized vectors, the
    * default k-means assignment) — bench warm-up hook, so per-query numbers
    * measure the queries instead of charging the shared materializations to
    * whichever family member happens to run first. */
  def warmPins(emb: DataFrame): Unit = {
    def stage(name: String)(f: => Unit): Unit =
      PinnedCaches.warmStage(emb.sparkSession, s"sim.$name")(f)
    // the shared base pin first (every index build reads it), then FOUR
    // independent branches concurrently — this chain was the cache_build
    // critical path (35.9 s sequential at sf0.1; the longest branch,
    // kmeans, is ~11 s). pq/ivfpq stay ordered WITHIN their branch
    // (learned consumes the same pinned residual/slice frames as sampled,
    // materialized by the first build). Branch keys never collide in
    // PinnedCaches, so no pin is computed twice.
    def fut(body: => Unit) = PinnedCaches.warmFuture(emb.sparkSession)(body)
    stage("quantized")(PinnedCaches.pin(quantized(emb).select("vec_id", "q", "nq")).count())
    val branches = Seq(
      fut(stage("kmeans")(kmeansAssign(emb, 8, 2).count())),
      // memoized semantic-cluster labeling (eager star-contraction CC
      // loop) — warmed so bench best-of-2 measures label consumption, not
      // first-run asymmetry
      fut(stage("clusters")(embedClusters(emb).count())),
      // PQ / IVF-PQ index builds (codebooks + whole-corpus encodes) —
      // pinned per-corpus artifacts, charged to cache_build so the
      // sim_topk_pq / sim_topk_ivfpq rows measure query cost only
      fut {
        stage("pq_codes")(pqCodes(emb).count())
        stage("pq_learned")(pqLearnedCodes(emb).count())
      },
      fut {
        stage("ivfpq_codes")(ivfpqCodes(emb).count())
        stage("ivfpq_learned")(ivfpqLearnedCodes(emb).count())
      },
      // SQ8 encode: one map-side scan over the pinned quantized frame
      fut(stage("sq8_codes")(sq8Codes(emb).count())),
      // the default kNN graph — the index artifact graph_quality_prop and
      // graph_pagerank traverse; warmed so their rows measure traversal
      fut(stage("knn_graph")(knnGraphPinned(emb).count())))
    // no stray warm jobs after control returns
    PinnedCaches.settle(branches)
  }

  /** Deterministic quantized k-means over the embedding corpus — the
    * semantic-clustering stage of a curation pipeline (diversity sampling,
    * cluster-balanced mixtures, semantic dedup). Engineered for exact
    * cross-engine replay like every sketch op here:
    *
    *   - init: the `k` lowest vec_ids ARE the initial centroids (cluster
    *     label = the centroid's vec_id) — selected by sort/limit, so the
    *     init is well-defined for non-contiguous or non-0-based ids too;
    *     deterministic, no RNG;
    *   - assignment: argmin over exact integer squared distances
    *     (`nq - 2·dot + nc`, all codegen'd [[graft.functions.LongDotExpr]]
    *     dots against a broadcast centroid table), ties to the lowest
    *     cluster index;
    *   - update: centroids are FLOOR-AVERAGED back to integers
    *     (`floor(sum/n)` per component — exact: |sum| ≪ 2^53 so the double
    *     quotient's floor is the true floor). Quantized centroids keep every
    *     later distance in exact BIGINT math; the ~1e-3-scale rounding is
    *     noise at clustering granularity. Empty clusters keep their previous
    *     centroid;
    *   - `iters` (assign, update) rounds, then one final assignment is
    *     reported.
    *
    * 100 TB shape: each round is one broadcast-join scan (k·dim-sized
    * centroid table) plus one map-side-combined component-sum aggregation —
    * the textbook distributed Lloyd step; nothing but k·dim values ever
    * leaves an executor twice. */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssign(emb, k, iters).select("vec_id", "cluster", "dist2").orderBy("vec_id")

  /** The final k-means assignment frame (unordered; carries `q`), shared by
    * [[kmeans]] and [[clusterBalancedSample]]. */
  private def kmeansAssign(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    // scanned once per Lloyd round (assign) plus the update joins — pinned
    // like the minhash working sets; released by PinnedCaches.release
    val vecs = PinnedCaches.pin(quantized(emb).select("vec_id", "q", "nq"))
    // the k lowest ids, not `vec_id < k`: robust to non-contiguous ids
    // (TakeOrderedAndProject — no global sort materializes)
    val init = vecs.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cluster"), col("q").as("cq"))

    def withNc(cent: DataFrame): DataFrame =
      cent.withColumn("nc", long_dot(col("cq"), col("cq")))

    // nearest centroid as a map-side-combinable aggregate (the same shape as
    // the IVF probe): min(struct(dist2, cluster)) IS the (dist2 ASC, cluster
    // ASC) tie-break, and because the broadcast crossJoin preserves the vec
    // partitioning, the k rows per vec_id collapse to one BEFORE the
    // exchange — ~N rows shuffle instead of the N×k a ranking window sorts.
    // `first(q)` is deterministic: q is identical across a vec_id's k rows.
    def assign(cent: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(withNc(cent)))
        .withColumn("dist2",
          col("nq") - lit(2L) * long_dot(col("q"), col("cq")) + col("nc"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("cluster"))).as("b"), first(col("q")).as("q"))
        .select(col("vec_id"), col("b.cluster").as("cluster"),
          col("b.dist2").as("dist2"), col("q"))

    def update(assigned: DataFrame, prev: DataFrame): DataFrame = {
      val sums = assigned
        .select(col("cluster"), posexplode(col("q")).as(Seq("i", "x")))
        .groupBy("cluster", "i")
        .agg(floor(sum("x").cast("double") / count(lit(1))).cast("long").as("c"))
        .groupBy("cluster")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)").as("ucq"))
      // both sides are k rows — without the hint this pair of tiny frames
      // plans as a SortMergeJoin (caught by ScaleTechniquesSpec)
      prev.join(broadcast(sums), Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("ucq"), col("cq")).as("cq"))
    }

    val centFinal = (1 to iters).foldLeft(init) { (cent, _) =>
      update(assign(cent), cent)
    }
    // the FINAL assignment is the frame every consumer reads (kmeans's
    // report, the balanced sampler's sizes and rate join) — pin it so the
    // Lloyd chain runs once per corpus, not once per consumer
    PinnedCaches.pin(assign(centFinal))
  }

  /** Cluster-balanced sampling — what the clusters are FOR in a curation
    * pipeline: equalize cluster contributions to a training mixture by
    * keeping each cluster at rate `n_min / n_cluster` (the smallest
    * cluster's size over this cluster's), decided by the same deterministic
    * content-hash unit draw the mixture sampler uses. Rate-based rather
    * than exact-top-n so the keep decision stays MAP-SIDE (no per-cluster
    * global sort — at 100 TB a k-partition ranking window would serialize
    * each cluster through one task); the tiny (cluster, rate) table
    * broadcasts. Returns per-cluster accounting. */
  def clusterBalancedSample(emb: DataFrame, k: Int = 8, iters: Int = 2,
      salt: String = "bal0"): DataFrame = {
    // consumed twice (cluster sizes, then the rate join) — reads through
    // the assignment pin kmeansAssign registered
    val assigned = kmeansAssign(emb, k, iters).select("vec_id", "cluster")
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
    val rates = sizes.crossJoin(broadcast(sizes.agg(min("n_vecs").as("n_min"))))
      .withColumn("target_rate", col("n_min").cast("double") / col("n_vecs"))
      .select("cluster", "n_vecs", "target_rate")
    val draw = conv(substring(md5(
      concat_ws(":", lit(salt), col("vec_id").cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast("long").cast("double") / 65536.0
    assigned.join(broadcast(rates), Seq("cluster"))
      .groupBy("cluster").agg(
        first("n_vecs").as("n_vecs"), first("target_rate").as("target_rate"),
        sum(when(draw < col("target_rate"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("cluster")
  }

  /** DuckDB oracle for [[clusterBalancedSample]] at the defaults: the
    * k-means core plus per-cluster sizes, min-size rate, and the same md5
    * unit draw. */
  lazy val clusterBalancedSampleSql: String =
    s"""$kmeansCoreSql,
       |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs FROM a3 GROUP BY 1),
       |m AS (SELECT min(n_vecs) AS n_min FROM sizes),
       |rates AS (SELECT cluster, n_vecs,
       |  CAST(n_min AS DOUBLE) / n_vecs AS target_rate FROM sizes CROSS JOIN m),
       |drawn AS (
       |  SELECT a.cluster,
       |    CAST(CAST(('0x' || substr(md5('bal0:' || CAST(a.vec_id AS VARCHAR)), 1, 4)) AS INTEGER) AS DOUBLE)
       |      / 65536.0 AS u
       |  FROM a3 a)
       |SELECT r.cluster, r.n_vecs, r.target_rate,
       |  CAST(sum(CASE WHEN d.u < r.target_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM drawn d JOIN rates r ON r.cluster = d.cluster
       |GROUP BY 1, 2, 3 ORDER BY r.cluster""".stripMargin

  /** DuckDB oracle for [[kmeans]] at the default (k=8, iters=2): the same
    * init / integer-distance assignment / floor-averaged update, unrolled —
    * centroids carried in long format (cluster, i, c), distances as direct
    * Σ(q−c)² which equals the operator's nq − 2·dot + nc exactly in
    * integers. */
  /** The k-means WITH-chain through the final assignment CTE `a3`, shared
    * by [[kmeansSql]] and [[clusterBalancedSampleSql]]. */
  private val kmeansCoreSql: String = {
    def assign(a: String, cent: String): String =
      s"""d$a AS (
         |  SELECT e.vec_id, c.cluster, CAST(SUM((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS dist2
         |  FROM ev e JOIN $cent c ON c.i = e.i GROUP BY 1, 2),
         |$a AS (SELECT vec_id, cluster, dist2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
         |  FROM d$a) WHERE rn = 1)""".stripMargin
    def update(u: String, a: String, prev: String, next: String): String =
      s"""$u AS (
         |  SELECT a.cluster, e.i,
         |    CAST(floor(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |  FROM $a a JOIN ev e ON e.vec_id = a.vec_id GROUP BY 1, 2),
         |$next AS (
         |  SELECT cluster, i, c FROM $u
         |  UNION ALL
         |  SELECT cluster, i, c FROM $prev
         |  WHERE cluster NOT IN (SELECT DISTINCT cluster FROM $u))""".stripMargin
    s"""WITH ev AS (
       |  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |c0 AS (SELECT vec_id AS cluster, i, q AS c FROM ev WHERE vec_id IN (
       |  SELECT DISTINCT vec_id FROM ev ORDER BY vec_id LIMIT 8)),
       |${assign("a1", "c0")},
       |${update("u1", "a1", "c0", "c1")},
       |${assign("a2", "c1")},
       |${update("u2", "a2", "c1", "c2")},
       |${assign("a3", "c2")}""".stripMargin
  }

  val kmeansSql: String =
    s"""$kmeansCoreSql
       |SELECT vec_id, cluster, dist2 FROM a3 ORDER BY vec_id""".stripMargin

  /** Shared oracle prelude: quantized components + exact norms. */
  private val evNormsSql: String =
    """ev AS (
      |  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |norms AS (SELECT vec_id, CAST(sum(q*q) AS BIGINT) AS nq FROM ev GROUP BY vec_id)""".stripMargin

  /** Shared oracle tail: exact-rank the candidate set (mirrors
    * [[rankCandidates]]; expects a `cand(query_id, neighbor_id)` CTE). */
  private val rankSql: String = rankSqlK(5)

  private def rankSqlK(k: Int): String =
    s"""dots AS (
      |  SELECT c.query_id, c.neighbor_id, CAST(sum(a.q*b.q) AS BIGINT) AS dot
      |  FROM cand c JOIN ev a ON a.vec_id = c.query_id
      |    JOIN ev b ON b.vec_id = c.neighbor_id AND b.i = a.i
      |  GROUP BY 1, 2),
      |sims AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
      |  FROM dots JOIN norms na ON na.vec_id = query_id JOIN norms nb ON nb.vec_id = neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM sims)
      |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= $k
      |ORDER BY query_id, rnk""".stripMargin

  /** DuckDB oracle for [[lshTopK]] at the default parameters: the ±1
    * hyperplanes are emitted as literal rows from the SAME [[plane]]
    * generator the operator uses, so both engines hash every vector into
    * identical buckets; signatures are sums of distinct powers of two
    * (equal to the operator's bitwise OR). */
  /** Shared LSH oracle CTEs: literal hyperplanes → projections →
    * per-(vector, table) bucket signatures. */
  private def sigsSql: String = sigsSqlTables(NumTables)

  /** [[sigsSql]] at an explicit table count — the gate oracles run at
    * [[EmbedGateTables]]. */
  private def sigsSqlTables(tables: Int): String = {
    val planeRows = (0 until tables * PlanesPerTable).map(j =>
      s"(${j / PlanesPerTable}, ${j % PlanesPerTable}, ${plane(j).mkString("[", ", ", "]")})")
      .mkString(",\n      ")
    s"""planes(tbl, j, v) AS (VALUES
       |      $planeRows),
       |pv AS (SELECT tbl, j, generate_subscripts(v, 1) AS i, unnest(v) AS p FROM planes),
       |proj AS (
       |  SELECT e.vec_id, p.tbl, p.j, CAST(sum(e.q * p.p) AS BIGINT) AS d
       |  FROM ev e JOIN pv p ON p.i = e.i GROUP BY 1, 2, 3),
       |sigs AS (
       |  SELECT vec_id, tbl,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  }

  /** Multi-probe oracle CTEs (appended after [[sigsSql]]): replays
    * [[lshProbeBuckets]]'s ranking exactly — per (vector, table) the
    * [[MaxFlipBits]] lowest-(|projection|, plane) planes, all subsets as
    * perturbations ordered by (penalty, subset id), top `nProbes` kept.
    * Yields `psigs(vec_id, tbl, bucket)` — the QUERY-side bucket set. */
  private def probeSigsSql(nProbes: Int): String = {
    // all 2^MaxFlipBits perturbation sets, cid-indexed exactly like the
    // Spark side (bit i of cid = flip the (i+1)-th lowest-margin plane)
    val comboRows = (0 until (1 << MaxFlipBits)).map { cid =>
      val bits = (0 until MaxFlipBits).map(i => (cid >> i) & 1)
      s"($cid, ${bits.mkString(", ")})"
    }.mkString(",\n       |  ")
    val flipCols = (1 to MaxFlipBits)
    val maskSql = flipCols.map(i => s"c$i*(CAST(1 AS BIGINT) << j$i)").mkString(" + ")
    val scoreSql = flipCols.map(i => s"c$i*m$i").mkString(" + ")
    val lowCols = flipCols.map(i =>
      s"max(CASE WHEN r = $i THEN m END) AS m$i, max(CASE WHEN r = $i THEN j END) AS j$i")
      .mkString(",\n       |    ")
    s"""marg AS (
       |  SELECT vec_id, tbl, j, abs(d) AS m,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, tbl ORDER BY abs(d), j) AS r
       |  FROM proj),
       |low AS (
       |  SELECT vec_id, tbl,
       |    $lowCols
       |  FROM marg WHERE r <= $MaxFlipBits GROUP BY 1, 2),
       |combos(cid, ${flipCols.map("c" + _).mkString(", ")}) AS (VALUES
       |  $comboRows),
       |pranked AS (
       |  SELECT l.vec_id, l.tbl,
       |    xor(s.bucket, CAST($maskSql AS BIGINT)) AS bucket,
       |    ROW_NUMBER() OVER (PARTITION BY l.vec_id, l.tbl
       |      ORDER BY $scoreSql, cid) AS pr
       |  FROM low l JOIN sigs s ON s.vec_id = l.vec_id AND s.tbl = l.tbl
       |  CROSS JOIN combos),
       |psigs AS (SELECT vec_id, tbl, bucket FROM pranked WHERE pr <= $nProbes)""".stripMargin
  }

  def lshTopKSql: String =
    s"""WITH $evNormsSql,
       |$sigsSql,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
       |$rankSql""".stripMargin

  /** The [[lshCosinePairsSql]] CTE chain (signatures through the verified
    * `sims` pairs), shared with [[embedClustersSql]] and the semantic
    * pipeline stage ([[CurationPipeline.e2eSemanticSql]]). */
  private[operators] def lshCosinePairsCoreSql: String =
    s"""$evNormsSql,
       |$sigsSql,
       |sigc AS (SELECT vec_id, tbl, bucket FROM (
       |  SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bn FROM sigs)
       |  WHERE bn <= ${Dedup.DefaultBucketCap}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sigc a JOIN sigc b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT c.vec_a, c.vec_b, CAST(sum(a.q*b.q) AS BIGINT) AS dot
       |  FROM cand c JOIN ev a ON a.vec_id = c.vec_a
       |    JOIN ev b ON b.vec_id = c.vec_b AND b.i = a.i
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT vec_a, vec_b,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
       |  FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b)""".stripMargin

  /** DuckDB oracle for [[lshCosinePairs]] at the default parameters — the
    * bucket cap included (`sigc`), so operator and oracle agree even on a
    * corpus with a degenerate (> cap) LSH bucket. */
  def lshCosinePairsSql: String =
    s"""WITH $lshCosinePairsCoreSql
       |SELECT vec_a, vec_b, cos FROM sims WHERE cos >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin

  /** The embedding-similarity reachability chain through `sreach(id, r)` —
    * the LSH pair chain, then transitive reachability over the symmetric
    * edge list (recursive CTE; UNION-dedup guarantees termination).
    * ONE definition of the component graph, shared by [[embedClustersSql]]
    * and the semantic pipeline oracles
    * ([[CurationPipeline.e2eSemanticSql]]/`semanticExemplarsSql`), with
    * the threshold inlined here so the oracles can never drift from the
    * operator's default. */
  private[operators] def embedReachCoreSql(threshold: Double = 0.35): String =
    s"""$lshCosinePairsCoreSql,
       |p AS (SELECT vec_a, vec_b FROM sims WHERE cos >= $threshold),
       |sedges AS (
       |  SELECT vec_a AS a, vec_b AS b FROM p
       |  UNION SELECT vec_b, vec_a FROM p),
       |sreach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.b, re.r FROM sreach re JOIN sedges e ON e.a = re.id)""".stripMargin

  /** DuckDB oracle for [[embedClusters]]: the shared reachability chain,
    * labeling each vector with the minimum reachable id. */
  def embedClustersSql: String =
    s"""WITH RECURSIVE ${embedReachCoreSql()}
       |SELECT id AS vec_id, min(r) AS cluster_id, min(r) = id AS kept
       |FROM sreach GROUP BY id ORDER BY id""".stripMargin

  /** Shared IVF oracle chain through the `probes` CTE — composed by
    * [[ivfTopKSql]] and [[hardNegativesIvfSql]] (the same
    * cannot-desynchronize discipline as the operator-side
    * `ivfProbeParts`). */
  private val ivfProbeChainSql: String =
    s"""$evNormsSql,
       |cents AS (SELECT vec_id AS cent_id FROM norms WHERE vec_id % 127 = 1),
       |cdots AS (
       |  SELECT a.vec_id, c.cent_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN cents c ON true JOIN ev b ON b.vec_id = c.cent_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.vec_id, d.cent_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nc.nq AS DOUBLE)) AS score
       |  FROM cdots d JOIN norms nc ON nc.vec_id = d.cent_id),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS rn
       |    FROM scored) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS pr
       |    FROM scored WHERE vec_id < 10) WHERE pr <= 2)""".stripMargin

  /** DuckDB oracle for [[ivfTopK]] at the default parameters — codebook
    * selection, cell assignment, nProbe probing, and the exact-rank tail are
    * all integer/IEEE arithmetic, reproduced step for step. */
  val ivfTopKSql: String =
    s"""WITH $ivfProbeChainSql,
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |$rankSql""".stripMargin

  /** DuckDB oracle for [[hardNegativesIvf]]: the probe chain with the
    * label inequality applied at candidate generation. */
  val hardNegativesIvfSql: String =
    s"""WITH $ivfProbeChainSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN lab lq ON lq.vec_id = p.query_id
       |  JOIN lab ln ON ln.vec_id = a.vec_id
       |  WHERE lq.label <> ln.label),
       |$rankSql""".stripMargin

  /** The MINING-QUALITY monitor, [[pqRecall]]'s sibling for the
    * hard-negative pipeline: recall of the IVF-probed miner against the
    * exact different-label top-k over the same corpus, one summary row
    * `(k, n_queries, hits, possible, recall)`. At 100 TB the per-cell
    * label mix shifts as the corpus grows — run this on the same sampled
    * cadence as the index monitors and raise `nProbe` (or rebuild the
    * coarse codebook) on a floor breach. */
  def hardNegativesRecall(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nProbe: Int = 2, centroidMod: Int = 127): DataFrame = {
    val got = hardNegativesIvf(emb, k, nQueries, nProbe, centroidMod)
      .select("query_id", "neighbor_id")
    val want = hardNegatives(emb, k, nQueries)
      .select("query_id", "neighbor_id")
    val hits = want.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val possible = want.agg(count(lit(1)).as("possible"))
    hits.crossJoin(broadcast(possible))
      .select(lit(k).as("k"), lit(nQueries).as("n_queries"),
        col("hits"), col("possible"),
        when(col("possible") === 0, lit(Double.NaN))
          .otherwise(col("hits").cast("double") / col("possible").cast("double"))
          .as("recall"))
  }

  /** DuckDB oracle for [[hardNegativesRecall]]: both miners replayed as
    * whole subqueries (the [[knnGraphRecallSql]] composition pattern). */
  lazy val hardNegativesRecallSql: String =
    s"""WITH got AS (SELECT query_id, neighbor_id FROM ($hardNegativesIvfSql) g),
       |want AS (SELECT query_id, neighbor_id FROM ($hardNegativesSql) w),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM want w
       |  WHERE EXISTS (SELECT 1 FROM got g
       |    WHERE g.query_id = w.query_id AND g.neighbor_id = w.neighbor_id)),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM want)
       |SELECT CAST(5 AS INTEGER) AS k, CAST(10 AS INTEGER) AS n_queries,
       |  hits, possible, CAST(hits AS DOUBLE) / possible AS recall
       |FROM h CROSS JOIN p""".stripMargin

  /** DuckDB oracle for [[knnGraph]] at the defaults (k=3, nProbe=2): the
    * [[ivfTopKSql]] chain with the query-set filter removed — the ranking-
    * window probe selection here is semantically identical to the
    * operator's sorted-slice collect (DESC score, DESC cent_id ties). */
  val knnGraphSql: String =
    s"""WITH $evNormsSql,
       |cents AS (SELECT vec_id AS cent_id FROM norms WHERE vec_id % 127 = 1),
       |cdots AS (
       |  SELECT a.vec_id, c.cent_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN cents c ON true JOIN ev b ON b.vec_id = c.cent_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.vec_id, d.cent_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nc.nq AS DOUBLE)) AS score
       |  FROM cdots d JOIN norms nc ON nc.vec_id = d.cent_id),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS rn
       |    FROM scored) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS pr
       |    FROM scored) WHERE pr <= 2),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |${rankSqlK(3)}""".stripMargin

  /** Explode a 64-dim vector column into one `(ids…, m, outCol)` row per
    * contiguous `64/subspaces`-dim subspace slice — the shared fan-out of
    * the product-quantization paths. Pure map-side (a generate, no
    * shuffle). */
  private def sliceSubs(df: DataFrame, idCols: Seq[String], vecCol: String,
      outCol: String, subspaces: Int): DataFrame = {
    val sub = 64 / subspaces
    df.select(idCols.map(col) :+ explode(array((0 until subspaces).map { m =>
        struct(lit(m).as("m"), slice(col(vecCol), m * sub + 1, sub).as(outCol))
      }: _*)).as("s"): _*)
      .select(idCols.map(col) :+ col("s.m").as("m") :+ col(s"s.$outCol").as(outCol): _*)
  }

  /** Exact (quantized-cosine) ranking of a `(query_id, neighbor_id)`
    * candidate set — the shared verification tail of the ANN variants: only
    * candidate pairs pay a dot product, the window partitions on query_id. */
  private def rankCandidates(cand: DataFrame, q: DataFrame, k: Int,
      ordered: Boolean = true): DataFrame = {
    val vecs = q.select(col("vec_id"), col("q"), col("nq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val ranked = cand
      .join(vecs.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("nqa")), Seq("query_id"))
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nq").as("nqb")), Seq("neighbor_id"))
      .withColumn("dot", dotCol)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cos", "rnk")
    // `ordered = false` for INDEX-INTERNAL edge lists (graph builds/folds):
    // the rows are immediately cached/checkpointed/unioned, so the
    // presentation sort is a wasted range exchange + global sort per fold
    // (r13); row surfaces keep the ordered form
    if (ordered) ranked.orderBy("query_id", "rnk") else ranked
  }

  /** IVF (inverted-file) approximate NN — the second 100 TB scale path next
    * to [[lshTopK]], trading LSH's hash buckets for a learned-ish coarse
    * quantizer: every `centroidMod`-th vector is a centroid (deterministic,
    * scale-proportional codebook ~N/centroidMod), each vector is assigned to
    * its best centroid cell (broadcast codebook, exact integer dots, ties to
    * the higher cent_id), queries probe their `nProbe` best cells, and only
    * the probed cells' members are exactly ranked. Pairwise work shrinks
    * from N² to N·K + N²·nProbe/K. Fully deterministic integer/IEEE
    * arithmetic → hash-exact DuckDB oracle ([[ivfTopKSql]]) plus the recall
    * spec vs brute force. */
  def ivfTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nProbe: Int = 2, centroidMod: Int = 127): DataFrame = {
    val q = quantized(emb)
    val (probes, assigned) = ivfProbeParts(q, nQueries, nProbe, centroidMod)
    val cand = probes
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()

    rankCandidates(cand, q, k)
  }

  /** The shared IVF probe machinery: `(probes(query_id, cell),
    * assigned(vec_id, cell))` — composed by [[ivfTopK]] and
    * [[hardNegativesIvf]], so a probe-selection change cannot
    * desynchronize them. */
  private def ivfProbeParts(q: DataFrame, nQueries: Int, nProbe: Int,
      centroidMod: Int): (DataFrame, DataFrame) = {
    val cents = q.filter(pmod(col("vec_id"), lit(centroidMod)) === 1)
      .select(col("vec_id").as("cent_id"), col("q").as("qc"), col("nq").as("nqc"))

    // normalized projection onto each centroid direction; query-side norm is
    // constant per vector so it cannot change the argmax. N×K broadcast
    // nested loop — the codebook is the small side by construction.
    val scored = q.crossJoin(broadcast(cents))
      .withColumn("score", long_dot(col("q"), col("qc")).cast("double") /
        sqrt(col("nqc").cast("double")))

    val assigned = scored.groupBy("vec_id")
      .agg(max_by(col("cent_id"), struct(col("score"), col("cent_id"))).as("cell"))

    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("score").desc, col("cent_id").desc)
    val probes = scored.filter(col("vec_id") < nQueries)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    (probes, assigned)
  }

  /** [[hardNegatives]]' IVF scale path — full-corpus mining at 100 TB
    * cannot afford the exact N·sample scan per refresh, so candidates come
    * from the probed cells ([[ivfTopK]]'s machinery) with the label
    * inequality applied BEFORE the exact-rank tail. Same
    * approximate-recall trade as ivfTopK vs bruteForce (the exact
    * [[hardNegatives]] is this variant's recall reference); deterministic
    * end to end, hash-exact oracle. */
  def hardNegativesIvf(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nProbe: Int = 2, centroidMod: Int = 127): DataFrame = {
    val q = quantized(emb)
    val (probes, assigned) = ivfProbeParts(q, nQueries, nProbe, centroidMod)
    val lab = q.select(col("vec_id"), col("label"))
    val cand = probes
      .join(lab.select(col("vec_id").as("query_id"), col("label").as("ql")),
        Seq("query_id"))
      .join(assigned.join(lab, Seq("vec_id"))
        .select(col("vec_id").as("neighbor_id"), col("label").as("nl"), col("cell")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id") && col("ql") =!= col("nl"))
      .select("query_id", "neighbor_id").distinct()

    rankCandidates(cand, q, k)
  }

  /** All-vectors k-nearest-neighbor GRAPH via the [[ivfTopK]] machinery —
    * the batch graph-construction primitive behind SemDeDup-style semantic
    * curation, kNN-graph quality propagation, and connectivity-based
    * cluster analysis: every vector is a query, so the output is the edge
    * list `(query_id, neighbor_id, cos, rnk)` with `rnk ≤ k` per vector.
    *
    * Differences from the query-set path, both for scale:
    *   - probe selection uses NO ranking window: the per-vector top-`nProbe`
    *     cells come from one map-side-combinable `collect_list` over the
    *     K-row codebook scores (K is fixed by the codebook budget —
    *     `centroidMod ≈ N/K` — so the collected array is O(K), never O(N)),
    *     sorted and sliced in place; the N×K scored frame is never
    *     sort-shuffled;
    *   - candidate volume is N·nProbe·cellSize rather than
    *     nQueries·nProbe·cellSize — the quadratic-avoidance arithmetic
    *     (N²·nProbe/K pairwise dots instead of N²) is the reason a 1e9-
    *     vector graph build is feasible at all.
    * Exact integer/IEEE arithmetic end to end → [[knnGraphSql]] hash-exact;
    * the full-probe form collapses to brute force (spec-pinned). */
  def knnGraph(emb: DataFrame, k: Int = 3, nProbe: Int = 2,
      centroidMod: Int = 127): DataFrame = {
    val q = quantized(emb)
    val cents = q.filter(pmod(col("vec_id"), lit(centroidMod)) === 1)
      .select(col("vec_id").as("cent_id"), col("q").as("qc"), col("nq").as("nqc"))
    val scored = q.crossJoin(broadcast(cents))
      .withColumn("score", long_dot(col("q"), col("qc")).cast("double") /
        sqrt(col("nqc").cast("double")))
    val assigned = scored.groupBy("vec_id")
      .agg(max_by(col("cent_id"), struct(col("score"), col("cent_id"))).as("cell"))
    val probes = scored.groupBy("vec_id")
      .agg(slice(reverse(array_sort(collect_list(struct(col("score"), col("cent_id"))))),
        1, nProbe).as("cells"))
      .select(col("vec_id").as("query_id"), explode(col("cells.cent_id")).as("cell"))
    val cand = probes
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    rankCandidates(cand, q, k)
  }

  /** Memo-pinned default-parameter [[knnGraph]] — the graph is a per-corpus
    * INDEX ARTIFACT like the PQ codes, and two registry consumers
    * ([[qualityPropagation]], [[pageRank]]) traverse it without wanting to
    * re-run the IVF probe machinery: they share one pinned build (warmed in
    * `warmPins`, charged to cache_build), while `sim_knn_graph` itself keeps
    * calling [[knnGraph]] directly so the registry still carries an honest
    * graph-CONSTRUCTION cost row. A LIVING corpus should hold the graph in
    * a [[graft.operators.RefreshableKnnGraph]] instead — the memo key is
    * the corpus plan, so a refreshed corpus never serves a stale memo, but
    * the memo rebuilds from scratch where the holder folds incrementally. */
  private[graft] def knnGraphPinned(emb: DataFrame, k: Int = 3): DataFrame =
    PinnedCaches.memo(emb, s"knn_graph_$k")(knnGraph(emb, k))

  // ───────────────────────── kNN-GRAPH LIFECYCLE ─────────────────────────

  /** The kNN graph as a refreshable INDEX artifact — what a living corpus
    * holds so [[pageRank]]/[[qualityPropagation]]-class consumers never
    * traverse a stale graph after a corpus refresh:
    *
    *   - `cents` is the FROZEN coarse quantizer (the base corpus's modular
    *     sample — the same frozen-codebook policy as the PQ paths; retrain
    *     with [[knnGraphIndex]] over the refreshed corpus and swap when
    *     drift warrants, exactly the [[retrainPqIndex]] discipline);
    *   - `qn` carries every vector's quantized form AND its cell; `probes`
    *     its `nProbe` probe cells — the state a fold needs to find which
    *     OLD queries a new batch affects;
    *   - `edges` is the [[knnGraph]] edge list `(query_id, neighbor_id,
    *     cos, rnk)`.
    *
    * [[refreshKnnGraph]] folds a batch in with cost proportional to the
    * batch's candidate volume, provably ≡ a from-scratch build over the
    * union corpus UNDER THE SAME centroids (spec-pinned; the
    * `knn_graph_refresh` registry row pins the folded edges against the
    * DuckDB oracle replaying frozen base centroids). */
  final case class KnnGraphIndex private[operators] (
      cents: DataFrame, qn: DataFrame, probes: DataFrame, edges: DataFrame,
      k: Int, nProbe: Int) {
    private[operators] def frames: Seq[DataFrame] =
      Seq(cents, qn, probes, edges)
    def materialize(): this.type = {
      IndexFiles.inParallel(frames.map(f => () => f.count())); this
    }
    private[graft] def truncated(): KnnGraphIndex = {
      val t = IndexFiles.inParallel(frames.map(f => () => f.localCheckpoint(true)))
      KnnGraphIndex(t(0), t(1), t(2), t(3), k, nProbe)
    }
    def release(): Unit = frames.foreach(PinnedCaches.unpin)
  }

  /** Build the [[KnnGraphIndex]] for a static corpus — [[knnGraph]]'s
    * machinery, retaining the assignment/probe state a refresh needs.
    * `index.edges` contents equal [[knnGraph]]'s output (spec-pinned). */
  def knnGraphIndex(emb: DataFrame, k: Int = 3, nProbe: Int = 2,
      centroidMod: Int = 127): KnnGraphIndex = {
    val q = quantized(emb).select("vec_id", "q", "nq")
    val cents = PinnedCaches.pin(
      q.filter(pmod(col("vec_id"), lit(centroidMod)) === 1)
        .select(col("vec_id").as("cent_id"), col("q").as("qc"), col("nq").as("nqc")))
    knnGraphIndexWith(q, cents, k, nProbe, PinnedCaches.pin)
  }

  /** Graph construction against an EXPLICIT (frozen) codebook over an
    * already-quantized `(vec_id, q, nq)` frame — shared by the from-scratch
    * build and the refresh-equivalence spec. */
  private def knnGraphIndexWith(q: DataFrame, cents: DataFrame, k: Int,
      nProbe: Int, cache: DataFrame => DataFrame): KnnGraphIndex = {
    val scored = q.crossJoin(broadcast(cents))
      .withColumn("score", long_dot(col("q"), col("qc")).cast("double") /
        sqrt(col("nqc").cast("double")))
    val assigned = scored.groupBy("vec_id")
      .agg(max_by(col("cent_id"), struct(col("score"), col("cent_id"))).as("cell"))
    val qn = cache(q.join(assigned, Seq("vec_id")))
    val probes = cache(scored.groupBy("vec_id")
      .agg(slice(reverse(array_sort(collect_list(struct(col("score"), col("cent_id"))))),
        1, nProbe).as("cells"))
      .select(col("vec_id").as("query_id"), explode(col("cells.cent_id")).as("cell")))
    val cand = probes
      .join(qn.select(col("vec_id").as("neighbor_id"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val edges = cache(rankCandidates(cand, q, k, ordered = false))
    KnnGraphIndex(cents, qn, probes, edges, k, nProbe)
  }

  /** [[knnGraphIndexWith]] for spec use: the edge list over `emb` under an
    * explicit frozen codebook (no caching — one-shot comparison builds). */
  private[graft] def knnGraphEdgesWith(emb: DataFrame, cents: DataFrame,
      k: Int = 3, nProbe: Int = 2): DataFrame =
    knnGraphIndexWith(quantized(emb).select("vec_id", "q", "nq"), cents,
      k, nProbe, identity).edges

  /** GRAPH LIFECYCLE — fold a batch of new vectors into an existing
    * [[KnnGraphIndex]] under its frozen centroids, producing exactly the
    * graph a from-scratch build over the union corpus (same centroids)
    * would produce:
    *
    *   - the batch assigns/probes against the broadcast codebook
    *     (map-side);
    *   - NEW-as-query edges rank the members of each new vector's probed
    *     cells — the same candidate rule as from-scratch;
    *   - OLD queries are affected iff a new vector landed in one of their
    *     probed cells (cells are frozen, so nothing else can change);
    *     their new top-k re-ranks their EXISTING top-k edges ∪ the new
    *     in-cell candidates — sound because top-k(old ∪ new) =
    *     top-k(top-k(old) ∪ new): a candidate outside the old top-k is
    *     already beaten by k others, and new candidates only add
    *     competition (ties break to the lower neighbor_id on both paths);
    *   - unaffected queries keep their edge rows verbatim.
    *
    * Cost is the batch's candidate volume (batch·nProbe·cellSize) plus the
    * affected queries' bounded re-rank (≤ k + new-in-cell candidates each)
    * — never a corpus-wide rebuild. */
  def refreshKnnGraph(idx: KnnGraphIndex, newVecs: DataFrame): KnnGraphIndex =
    refreshKnnGraphCore(idx, newVecs, PinnedCaches.pin)

  /** One graph fold's SEGMENT pieces — the decomposition the segmented
    * holder checkpoints. Everything is batch-proportional: `edgesSeg` is
    * the fold's fresh rows (new-as-query edges ∪ the re-ranked rows of
    * affected old queries) and `tombstones` the affected query ids — the
    * key fact making a segmented EDGE view possible despite edges not
    * being pure-append: a fold never edits rows in place, it supersedes
    * whole query_ids, so "earlier segments minus later tombstones" is
    * exactly latest-wins. `qnAll` is the fold-local cached union the
    * rankings ran against, returned so the monolithic path reuses it. */
  private[operators] final case class GraphSegmentParts(
      qnNew: DataFrame, probesNew: DataFrame, edgesSeg: DataFrame,
      tombstones: DataFrame, qnAll: DataFrame)

  private[operators] def knnGraphSegmentFold(idx: KnnGraphIndex,
      newVecs: DataFrame, cache: DataFrame => DataFrame): GraphSegmentParts = {
    val qNew = cache(quantized(newVecs).select("vec_id", "q", "nq"))
    val scoredNew = qNew.crossJoin(broadcast(idx.cents))
      .withColumn("score", long_dot(col("q"), col("qc")).cast("double") /
        sqrt(col("nqc").cast("double")))
    val assignedNew = scoredNew.groupBy("vec_id")
      .agg(max_by(col("cent_id"), struct(col("score"), col("cent_id"))).as("cell"))
    val qnNew = cache(qNew.join(assignedNew, Seq("vec_id")))
    val probesNew = cache(scoredNew.groupBy("vec_id")
      .agg(slice(reverse(array_sort(collect_list(struct(col("score"), col("cent_id"))))),
        1, idx.nProbe).as("cells"))
      .select(col("vec_id").as("query_id"), explode(col("cells.cent_id")).as("cell")))

    val qnAll = cache(idx.qn.unionByName(qnNew))
    val qAll = qnAll.select("vec_id", "q", "nq")

    // new-as-query: probe cells' members among old ∪ new. The BATCH side
    // (probesNew / newInCell / affected — all batch-bounded by the fold
    // contract) broadcasts into every join against an O(index) component,
    // so the fold never shuffles qn / probes / edges (the old plans
    // sort-merge-joined them by cell per fold — an O(index) exchange).
    val candNew = broadcast(probesNew)
      .join(qnAll.select(col("vec_id").as("neighbor_id"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()

    // affected old queries: a new vector landed in a probed cell
    val newInCell = assignedNew.select(col("cell"), col("vec_id").as("neighbor_id"))
    val affCand = idx.probes.join(broadcast(newInCell), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val affected = cache(affCand.select("query_id").distinct())
    val mergedCand = idx.edges.join(broadcast(affected), Seq("query_id"))
      .select("query_id", "neighbor_id")
      .unionByName(affCand)

    // ONE ranking pass over both candidate families (guide §2.4 — the two
    // rank jobs shared the same vector-join + per-query top-k shape and
    // their query_id sets are disjoint: new vectors vs affected OLD
    // queries — so ranking the union is row-identical to the union of the
    // two rankings, and the fold pays one shuffle + one pair of vector
    // joins instead of two of each). No duplicate candidate pairs can
    // enter: candNew and mergedCand never share a query_id, an affected
    // query's surviving edges point at OLD neighbors while affCand's are
    // NEW vectors, and each side is .distinct()/top-k-unique already.
    val edgesSeg = rankCandidates(candNew.unionByName(mergedCand), qAll,
      idx.k, ordered = false)

    GraphSegmentParts(qnNew, probesNew, edgesSeg, affected, qnAll)
  }

  private def refreshKnnGraphCore(idx: KnnGraphIndex, newVecs: DataFrame,
      cache: DataFrame => DataFrame): KnnGraphIndex = {
    val p = knnGraphSegmentFold(idx, newVecs, cache)
    val edges2 = cache(
      idx.edges.join(broadcast(p.tombstones), Seq("query_id"), "left_anti")
        .unionByName(p.edgesSeg))
    KnnGraphIndex(idx.cents, p.qnAll,
      cache(idx.probes.unionByName(p.probesNew)), edges2, idx.k, idx.nProbe)
  }

  /** MEASURED recall of the graph's edges against the exact kNN over the
    * same corpus, on a deterministic query sample — the drift monitor for
    * the graph's FROZEN coarse quantizer ([[pqRecall]]'s sibling for the
    * second frozen artifact): vectors from a region the base centroids
    * never saw all land in the same few cells, their probe sets stop
    * discriminating, and edge recall decays — unobserved without this.
    * One summary row `(k, n_queries, hits, possible, recall)`; the exact
    * side is sample×N brute force — monitoring cost. Recovery is
    * [[knnGraphIndex]] over the refreshed corpus swapped through
    * [[graft.operators.RefreshableKnnGraph.rebuildWith]] (spec-pinned
    * degradation + recovery in KnnGraphLifecycleSpec). */
  def knnGraphRecall(idx: KnnGraphIndex, sampleMod: Int = 7): DataFrame = {
    val queries = idx.qn.filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("nqa"))
    val corpus = idx.qn.select(col("vec_id").as("neighbor_id"),
      col("q").as("qb"), col("nq").as("nqb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val want = broadcast(queries).join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotCol)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= idx.k)
      .select("query_id", "neighbor_id")
    val got = idx.edges
      .join(broadcast(queries.select("query_id")), Seq("query_id"))
      .select("query_id", "neighbor_id")
    want.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(want.agg(count(lit(1)).as("possible"))))
      .select(lit(idx.k).as("k"),
        lit(sampleMod).as("sample_mod"), col("hits"), col("possible"),
        when(col("possible") === 0, lit(Double.NaN))
          .otherwise(col("hits").cast("double") / col("possible").cast("double"))
          .as("recall"))
  }

  /** DuckDB oracle for the `sim_graph_recall` registry row — the graph-side
    * drift monitor hash-pinned, [[pqRecallSql]]'s sibling: the full
    * [[knnGraphSql]] chain filtered to the deterministic query sample as
    * `got`, the exact quantized-cosine top-k over the sampled queries as
    * `want`, recall = their set intersection over the possible pairs. Every
    * term is already-oracle-checked arithmetic, so the gate proves the
    * MEASUREMENT a deployment's graph-rebuild policy triggers on. */
  lazy val knnGraphRecallSql: String =
    s"""WITH got AS (SELECT query_id, neighbor_id FROM ($knnGraphSql) g
       |  WHERE query_id % 7 = 0),
       |$evNormsSql,
       |wdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum(a.q*b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN ev b ON b.i = a.i AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id % 7 = 0
       |  GROUP BY 1, 2),
       |wsims AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
       |  FROM wdots JOIN norms na ON na.vec_id = query_id
       |    JOIN norms nb ON nb.vec_id = neighbor_id),
       |want AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |    FROM wsims) WHERE rnk <= 3),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM want w
       |  WHERE EXISTS (SELECT 1 FROM got g
       |    WHERE g.query_id = w.query_id AND g.neighbor_id = w.neighbor_id)),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM want)
       |SELECT CAST(3 AS INTEGER) AS k, CAST(7 AS INTEGER) AS sample_mod,
       |  hits, possible, CAST(hits AS DOUBLE) / possible AS recall
       |FROM h CROSS JOIN p""".stripMargin

  // ──────────── kNN-GRAPH PERSISTENCE (base + tombstone deltas) ────────────
  // The edge component is not pure-append (a fold REPLACES affected old queries'
  // rows), but a fold supersedes WHOLE query_ids — so a delta is the
  // fold's [[GraphSegmentParts]] (batch qn/probe rows, fresh edge rows,
  // affected-id tombstones) and load replays deltas in id order: append
  // qn/probes, and per delta `edges := (edges ⊖ tombstones) ∪ edges_seg`
  // — the on-disk twin of the segmented holder's latest-wins view.

  /** One graph fold's O(batch) persistence payload (see
    * [[GraphSegmentParts]] for why each piece is batch-proportional). */
  final case class KnnGraphDelta private[operators] (
      qnNew: DataFrame, probesNew: DataFrame, edgesSeg: DataFrame,
      tombstones: DataFrame) {
    private[operators] def frames: Seq[DataFrame] =
      Seq(qnNew, probesNew, edgesSeg, tombstones)
  }

  /** The kNN graph's persisted artifact ([[IndexFiles.Artifact]]). The
    * replay appends qn/probes; edges apply each delta's tombstones, then
    * union its fresh rows (order matters: a later fold may supersede rows
    * an earlier delta introduced). Folding the loaded graph equals folding
    * the original (spec-pinned), so a restarted graph lifecycle resumes
    * instead of rebuilding. */
  private[graft] object GraphFiles extends IndexFiles.Artifact[KnnGraphIndex, KnnGraphDelta](
      "knn graph", Seq("cents", "qn", "probes", "edges"),
      Seq("qn_new", "probes_new", "edges_seg", "tombstones")) {
    protected def baseFrames(idx: KnnGraphIndex): Seq[DataFrame] = idx.frames
    protected def meta(idx: KnnGraphIndex): Seq[(String, String)] = Seq(
      "k" -> idx.k.toString, "n_probe" -> idx.nProbe.toString)
    protected def deltaFrames(delta: KnnGraphDelta): Seq[DataFrame] = delta.frames
    override protected def detach(loaded: KnnGraphIndex): KnnGraphIndex = loaded.truncated()

    protected def replay(c: IndexFiles.Chain,
        pin: DataFrame => DataFrame): KnnGraphIndex = {
      var qn = c.base("qn")
      var probes = c.base("probes")
      var edges = c.base("edges")
      c.deltas.foreach { d =>
        qn = qn.unionByName(d("qn_new"))
        probes = probes.unionByName(d("probes_new"))
        edges = edges.join(broadcast(d("tombstones")), Seq("query_id"), "left_anti")
          .unionByName(d("edges_seg"))
      }
      KnnGraphIndex(pin(c.base("cents")), pin(qn), pin(probes), pin(edges),
        c.meta("k").toInt, c.meta("n_probe").toInt)
    }
  }

  /** DuckDB oracle for the `knn_graph_refresh` registry row — the graph
    * lifecycle on the 3-way split: corpus %3==0 built from scratch (its
    * centroids FROZEN), %3==1 folded in via [[refreshKnnGraph]], output =
    * the refreshed edge list. The oracle knows nothing about the refresh:
    * it builds the whole graph over the union population under the base
    * corpus's centroid set, so the hash gate proves folded ≡ from-scratch
    * (same codebook). */
  val knnGraphRefreshSql: String =
    s"""WITH $evNormsSql,
       |cents AS (SELECT vec_id AS cent_id FROM norms
       |  WHERE vec_id % 127 = 1 AND vec_id % 3 = 0),
       |cdots AS (
       |  SELECT a.vec_id, c.cent_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN cents c ON true JOIN ev b ON b.vec_id = c.cent_id AND b.i = a.i
       |  WHERE a.vec_id % 3 < 2
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.vec_id, d.cent_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nc.nq AS DOUBLE)) AS score
       |  FROM cdots d JOIN norms nc ON nc.vec_id = d.cent_id),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS rn
       |    FROM scored) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS pr
       |    FROM scored) WHERE pr <= 2),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |${rankSqlK(3)}""".stripMargin

  /** One round of quality-score propagation over the [[knnGraph]] — the
    * graph-curation step that smooths a noisy per-document quality signal
    * with its semantic neighborhood (label-propagation/SSL shape: a doc
    * surrounded by high-quality neighbors is probably under-scored by the
    * text heuristics, and vice versa). Per document: its own
    * [[TextAnalysis.qualityScore]], the shifted-cosine-weighted mean of its
    * k neighbors' scores, and the 50/50 blend.
    *
    * Determinism discipline: weights (`round((1+cos)·1e6)`) and scores
    * (`round(score·100)`) are integerized AT ROW LEVEL, so the weighted sums
    * are exact BIGINT arithmetic in any summation order — the ratio is then
    * one deterministic double division ([[qualityPropagationSql]]
    * hash-exact). Scale shape: the edge list joins the (doc_id, s100)
    * projection — never text — and the propagation is one map-side-
    * combinable aggregate keyed by doc; isolated vectors keep NULL
    * neighbor/blended scores on both engines. */
  def qualityPropagation(docs: DataFrame, emb: DataFrame, k: Int = 3): DataFrame =
    qualityPropagationOver(docs, knnGraphPinned(emb, k))

  /** [[qualityPropagation]] over an EXPLICIT edge list — the form a
    * [[graft.operators.RefreshableKnnGraph]] consumer calls
    * (`qualityPropagationOver(docs, holder.current.edges)`), so a corpus
    * refresh propagates through the folded graph instead of a stale memo.
    * Spec-pinned: over a refreshed graph it equals the from-scratch result. */
  def qualityPropagationOver(docs: DataFrame, graphEdges: DataFrame): DataFrame = {
    val s = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), round(col("quality_score") * 100).cast("long").as("s100"))
    val contrib = graphEdges
      .join(s.select(col("doc_id").as("neighbor_id"), col("s100")), Seq("neighbor_id"))
      .withColumn("w", round((lit(1.0) + col("cos")) * 1000000).cast("long"))
      .groupBy(col("query_id").as("doc_id"))
      .agg(sum(col("w") * col("s100")).as("ws"), sum("w").as("wsum"),
        count(lit(1)).as("n_neighbors"))
    s.join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("s100").cast("double") / 100.0).as("quality_score"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        (col("ws").cast("double") / col("wsum").cast("double") / 100.0).as("neighbor_score"))
      .withColumn("blended",
        (col("quality_score") + col("neighbor_score")) / 2.0)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qualityPropagation]] at the defaults: the
    * [[knnGraphSql]] edge list and [[TextAnalysis.qualityScoreSql]] as
    * CTEs, identical row-level integerization, identical division order. */
  val qualityPropagationSql: String =
    s"""WITH g AS ($knnGraphSql),
       |q AS (${TextAnalysis.qualityScoreSql}),
       |s AS (SELECT doc_id, CAST(round(quality_score * 100) AS BIGINT) AS s100 FROM q),
       |c AS (
       |  SELECT g.query_id AS doc_id,
       |    CAST(sum(CAST(round((1.0 + cos) * 1000000) AS BIGINT) * s.s100) AS BIGINT) AS ws,
       |    CAST(sum(CAST(round((1.0 + cos) * 1000000) AS BIGINT)) AS BIGINT) AS wsum,
       |    CAST(count(*) AS BIGINT) AS n_neighbors
       |  FROM g JOIN s ON s.doc_id = g.neighbor_id GROUP BY 1)
       |SELECT s.doc_id,
       |  CAST(s100 AS DOUBLE) / 100.0 AS quality_score,
       |  COALESCE(n_neighbors, 0) AS n_neighbors,
       |  CAST(ws AS DOUBLE) / CAST(wsum AS DOUBLE) / 100.0 AS neighbor_score,
       |  (CAST(s100 AS DOUBLE) / 100.0 + CAST(ws AS DOUBLE) / CAST(wsum AS DOUBLE) / 100.0) / 2.0 AS blended
       |FROM s LEFT JOIN c ON c.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** Bounded-iteration PageRank over the [[knnGraph]] edge list — the
    * centrality signal semantic-curation pipelines use to pick exemplar
    * documents (a vector many neighborhoods point AT is a hub of its
    * semantic region; complements [[qualityPropagation]]'s one-hop smoothing
    * with a global, iterated notion of importance).
    *
    * Determinism discipline (hash-exact vs [[pageRankSql]]): rank mass is
    * INTEGER throughout — `S = 10¹²` scaled units seeded as `S div N`, each
    * iteration redistributes `(r·85) div (100·deg)` per out-edge plus the
    * `(S·15) div (100·N)` teleport. Every operand is non-negative, so
    * Spark's `div` and DuckDB's `//` agree (trunc == floor), and the
    * per-node sums are order-free BIGINT adds. Mass lost to floor-division
    * remainders (and through the rare out-edge-less vector) is NOT
    * redistributed — both engines drop it identically, and ranking is
    * unaffected at the 10¹² scale. `iters` is fixed, small, and unrolled:
    * the oracle mirrors each round as a CTE.
    *
    * Scale shape: the edge list is built ONCE ([[knnGraphPinned]] — the
    * graph is a per-corpus index artifact like the PQ codes; the fixpoint
    * loop must not rebuild the IVF probe machinery per round) and each
    * round is one shuffle — join ranks⋈edges on `src` (both sides hash-
    * partitioned on the same key) then a map-side-combinable sum keyed on
    * `dst`. Rank state is 2 longs per node; the loop never collects, and
    * lineage stays `iters`-bounded so no checkpointing is needed. */
  def pageRank(emb: DataFrame, k: Int = 3, iters: Int = 3): DataFrame =
    pageRankOver(knnGraphPinned(emb, k), emb.select("vec_id"), iters)

  /** [[pageRank]] over an EXPLICIT edge list and node set — the
    * [[graft.operators.RefreshableKnnGraph]] consumer form
    * (`pageRankOver(holder.current.edges, nodes)`); spec-pinned equal to
    * from-scratch over a refreshed graph. */
  def pageRankOver(graphEdges: DataFrame, nodeIds: DataFrame,
      iters: Int = 3): DataFrame = {
    val S = 1000000000000L
    val edges = graphEdges
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val n = nodeIds.agg(count(lit(1)).as("n"))
    val nodes = nodeIds.crossJoin(broadcast(n))
    val r0 = nodes.withColumn("r", expr(s"${S}L div n"))
    val ranks = (1 to iters).foldLeft(r0) { (r, _) =>
      val contrib = edges.join(deg, Seq("src"))
        .join(r.select(col("vec_id").as("src"), col("r")), Seq("src"))
        .groupBy(col("dst").as("vec_id"))
        .agg(sum(expr("(r * 85L) div (100L * d)")).as("m"))
      nodes.join(contrib, Seq("vec_id"), "left")
        .withColumn("r", expr(s"(${S}L * 15L) div (100L * n)") +
          coalesce(col("m"), lit(0L)))
        .select("vec_id", "n", "r")
    }
    ranks.select(col("vec_id"), col("r").as("pr_scaled"),
        (col("r").cast("double") / 1e12).as("pr"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[pageRank]] at the defaults: the [[knnGraphSql]]
    * edge list, then each round unrolled as a CTE with the identical
    * integer redistribution. */
  lazy val pageRankSql: String = {
    val rounds = (1 to 3).map { t =>
      s"""c$t AS (
         |  SELECT e.dst AS vec_id,
         |    CAST(sum((r.r * 85) // (100 * deg.d)) AS BIGINT) AS m
         |  FROM edges e JOIN r${t - 1} r ON r.vec_id = e.src
         |    JOIN deg ON deg.src = e.src GROUP BY 1),
         |r$t AS (
         |  SELECT nodes.vec_id,
         |    (1000000000000 * 15) // (100 * nn.n) + coalesce(c$t.m, 0) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$t ON c$t.vec_id = nodes.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS ($knnGraphSql),
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM g),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
       |nodes AS (SELECT vec_id FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT vec_id, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT vec_id, CAST(r AS BIGINT) AS pr_scaled, CAST(r AS DOUBLE) / 1e12 AS pr
       |FROM r3 ORDER BY vec_id""".stripMargin
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR 1998) — the selection rule curation pipelines use when the
    * plain cosine top-k is pathologically redundant (near-duplicate
    * passages crowding out coverage): greedily pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` with λ = 0.5, ties to
    * the lower id, starting from the most relevant candidate (empty-set
    * max-sim = 0, so step 1's score is λ·rel).
    *
    * Scale shape — the standard two-phase ANN re-rank split: the only
    * corpus-proportional work is the candidate generation (exact top-`pool`
    * for query 0 via [[bruteForceTopK]]; any index family drops in), and
    * the greedy runs entirely on the pool — `pool²` pairwise sims and `k`
    * bounded TakeOrdered steps over ≤`pool` rows. Pool and pair frames are
    * memo-pinned (per-corpus artifacts); the selected set is
    * `localCheckpoint`ed each step so plan depth stays O(1) per step
    * instead of compounding (the star-contraction discipline). Nothing
    * collects to the driver.
    *
    * Exactness: rel/sim are the engine-portable quantized cosines; the MMR
    * score is two IEEE multiplies and a subtract in fixed order, so
    * [[mmrTopKSql]] (the same greedy unrolled as CTEs) is hash-exact. */
  def mmrTopK(emb: DataFrame, k: Int = 5, pool: Int = 20): DataFrame = {
    val cand = PinnedCaches.memo(emb, s"mmr_cand_$pool") {
      bruteForceTopK(emb, k = pool, nQueries = 1)
        .select(col("neighbor_id").as("vec_id"), col("cos").as("rel"))
    }
    val q = quantized(emb)
    val poolVecs = q.join(cand.select("vec_id"), Seq("vec_id"))
    val psims = PinnedCaches.memo(emb, s"mmr_psims_$pool") {
      val a = poolVecs.select(col("vec_id").as("ida"), col("q").as("qa"), col("nq").as("nqa"))
      val b = poolVecs.select(col("vec_id").as("idb"), col("q").as("qb"), col("nq").as("nqb"))
      a.join(broadcast(b), col("ida") =!= col("idb"))
        .withColumn("sim", dotCol.cast("double") /
          (sqrt(col("nqa").cast("double")) * sqrt(col("nqb").cast("double"))))
        .select("ida", "idb", "sim")
    }
    val first = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("rel"),
        (col("rel") * 0.5).as("mmr"), lit(1L).as("step"))
    (2 to k).foldLeft(first.localCheckpoint(true)) { (sel, t) =>
      val ms = psims.join(sel.select(col("vec_id").as("idb")), Seq("idb"))
        .groupBy(col("ida").as("vec_id")).agg(max(col("sim")).as("maxsim"))
      val next = cand.join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
        .join(ms, Seq("vec_id"))
        .select(col("vec_id"), col("rel"),
          (col("rel") * 0.5 - col("maxsim") * 0.5).as("mmr"))
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .withColumn("step", lit(t.toLong))
      sel.unionByName(next).localCheckpoint(true)
    }.orderBy("step")
  }

  /** DuckDB oracle for [[mmrTopK]] at the defaults: the shared brute-force
    * ranking chain for the pool, the pool-internal pairwise sims, then the
    * greedy unrolled — one (step, selected-set) CTE pair per round with
    * the identical score expression and tie-break. */
  lazy val mmrTopKSql: String = {
    val steps = (2 to 5).map { t =>
      s"""s$t AS (
         |  SELECT c.id, c.rel, 0.5*c.rel - 0.5*max(p.sim) AS mmr,
         |    CAST($t AS BIGINT) AS step
         |  FROM cand c JOIN psims p ON p.ida = c.id
         |    JOIN sel${t - 1} s ON s.id = p.idb
         |  WHERE c.id NOT IN (SELECT id FROM sel${t - 1})
         |  GROUP BY c.id, c.rel
         |  ORDER BY mmr DESC, c.id LIMIT 1),
         |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bruteForceRankedSql(1)},
       |cand AS (SELECT neighbor_id AS id, cos AS rel FROM bfranked WHERE rnk <= 20),
       |pdots AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb, CAST(sum(a.q*b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN cand ca ON ca.id = a.vec_id
       |    JOIN ev b ON b.i = a.i AND b.vec_id <> a.vec_id
       |    JOIN cand cb ON cb.id = b.vec_id
       |  GROUP BY 1, 2),
       |psims AS (
       |  SELECT d.ida, d.idb,
       |    CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS sim
       |  FROM pdots d JOIN norms na ON na.vec_id = d.ida
       |    JOIN norms nb ON nb.vec_id = d.idb),
       |sel1 AS (
       |  SELECT id, rel, 0.5*rel AS mmr, CAST(1 AS BIGINT) AS step
       |  FROM cand ORDER BY rel DESC, id LIMIT 1),
       |$steps
       |SELECT id AS vec_id, rel, mmr, step FROM sel5 ORDER BY step""".stripMargin
  }

  /** Product-quantization approximate NN (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the third
    * 100 TB scale path next to [[lshTopK]] and [[ivfTopK]], and the one a
    * billion-vector index actually runs: the corpus is COMPRESSED to
    * `subspaces` one-code-per-subspace bytes per vector, queries score the
    * whole corpus through per-subspace distance lookup tables (ADC), and
    * only a small re-rank buffer pays an exact dot product.
    *
    *   - codebook: per subspace, the sub-vectors of every `centroidMod`-th
    *     vector (deterministic, scale-proportional — the same sampled-
    *     codebook discipline as [[ivfTopK]]; a learned variant would train
    *     per-subspace k-means with [[kmeansAssign]]'s machinery);
    *   - encode: each vector's subspace slice takes the code of its nearest
    *     centroid by exact integer squared distance `nqc − 2·dot` (the
    *     vector-side norm is constant per (vector, subspace), so it cannot
    *     change the argmin; ties to the lower cent_id);
    *   - ADC: a query's table entry for (subspace, code) is the SAME
    *     `nqc − 2·dot(sub_q, c)` expression — the query-side norm sums to a
    *     per-query constant across subspaces, so candidate order is the true
    *     quantized-L2 order of the code approximation; the approximate score
    *     is an exact BIGINT sum of `subspaces` table lookups;
    *   - re-rank: the `rerank` best ADC candidates per query (ties to the
    *     lower neighbor_id) go through the shared exact-cosine tail
    *     ([[rankCandidates]]), which absorbs both the code approximation and
    *     the L2-vs-cosine gap on unnormalized vectors.
    *
    * Plan shape: the codebook and the query tables are broadcast (both tiny
    * by construction), so encode and ADC are map-side against the corpus
    * scan; the only corpus-sized shuffles are the two partial-aggregated
    * sums (codes, ADC totals). Integer arithmetic end to end until the final
    * cosine → hash-exact DuckDB oracle ([[pqTopKSql]]). */
  def pqTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      rerank: Int = 32, centroidMod: Int = 127, subspaces: Int = 8): DataFrame = {
    val q = quantized(emb)

    val codes = pqCodes(emb, centroidMod, subspaces)
    // query-side ADC tables: the same scored frame filtered to the query
    // vectors — the filter pushes into the sub-slice scan, so this reads
    // nQueries vectors, not the corpus
    val qtab = pqScored(emb, centroidMod, subspaces)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("cent_id"), col("d"))
    adcRerank(q, codes, qtab, k, rerank)
  }

  /** The sampled PQ codebook: sub-slices of every `centroidMod`-th vector. */
  private def pqSampledCents(emb: DataFrame, centroidMod: Int, subspaces: Int): DataFrame =
    sliceSubs(
      quantized(emb).filter(pmod(col("vec_id"), lit(centroidMod)) === 1)
        .select(col("vec_id").as("cent_id"), col("q")),
      Seq("cent_id"), "q", "qc", subspaces)
      .withColumn("nqc", long_dot(col("qc"), col("qc")))

  /** Shared PQ encode/table frame against an arbitrary codebook
    * `(m, cent_id, qc, nqc)`: d = nqc − 2·dot(sub, centroid) per
    * (vector, subspace, centroid) — broadcast codebook, map-side. */
  private def pqScoredWith(emb: DataFrame, cents: DataFrame, subspaces: Int): DataFrame =
    pqScoredWithQ(quantized(emb), cents, subspaces)

  /** [[pqScoredWith]] over an ALREADY-quantized `(vec_id, q, …)` frame —
    * the form the PQ-index lifecycle uses (its components carry quantized
    * vectors; re-quantizing raw embeddings per call would rescan the
    * corpus). */
  private def pqScoredWithQ(qf: DataFrame, cents: DataFrame, subspaces: Int): DataFrame =
    sliceSubs(qf.select(col("vec_id"), col("q")),
      Seq("vec_id"), "q", "qs", subspaces)
      .join(broadcast(cents), Seq("m"))
      .withColumn("d", col("nqc") - lit(2L) * long_dot(col("qs"), col("qc")))

  private def pqScored(emb: DataFrame, centroidMod: Int, subspaces: Int): DataFrame =
    pqScoredWith(emb, pqSampledCents(emb, centroidMod, subspaces), subspaces)

  /** Shared ADC tail: score every coded vector through the broadcast
    * per-query tables, keep the `rerank` best per query (ties to the lower
    * neighbor), finish with the exact-cosine rank. */
  private def adcRerank(q: DataFrame, codes: DataFrame, qtab: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    val adc = codes.join(broadcast(qtab),
        codes("m") === qtab("m") && codes("code") === qtab("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id").agg(sum(col("d")).as("adc"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val cand = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rankCandidates(cand, q, k)
  }

  /** The corpus PQ code table — PINNED: codebook construction and the
    * whole-corpus encode are per-CORPUS artifacts (an index build), not
    * per-query work, so they join the family's other pinned working sets
    * ([[warmPins]] materializes them into `cache_build`; repeated
    * [[pqTopK]] calls share one encode instead of re-quantizing the
    * corpus per invocation — r5's most expensive family row was exactly
    * this rebuild). */
  private[graft] def pqCodes(emb: DataFrame, centroidMod: Int = 127,
      subspaces: Int = 8): DataFrame =
    PinnedCaches.pin(
      pqScored(emb, centroidMod, subspaces).groupBy("vec_id", "m")
        .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("code")))

  /** DuckDB oracle for [[pqTopK]] at the default parameters — sampled
    * codebook, per-subspace encode, ADC scoring, re-rank buffer, and the
    * exact-rank tail, reproduced step for step in BIGINT. */
  val pqTopKSql: String =
    s"""WITH $evNormsSql,
       |cents AS (SELECT vec_id AS cent_id FROM norms WHERE vec_id % 127 = 1),
       |cdist AS (
       |  SELECT a.vec_id, CAST((a.i - 1) // 8 AS BIGINT) AS m, b.vec_id AS cent_id,
       |    CAST(sum(b.q*b.q) - 2*sum(a.q*b.q) AS BIGINT) AS d
       |  FROM ev a JOIN ev b ON b.i = a.i AND b.vec_id IN (SELECT cent_id FROM cents)
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT vec_id, m, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn
       |    FROM cdist) WHERE rn = 1),
       |adc AS (
       |  SELECT t.vec_id AS query_id, n.vec_id AS neighbor_id, CAST(sum(t.d) AS BIGINT) AS adc
       |  FROM codes n JOIN cdist t ON t.m = n.m AND t.cent_id = n.code
       |  WHERE t.vec_id < 10 AND n.vec_id <> t.vec_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= 32),
       |$rankSql""".stripMargin

  /** LEARNED per-subspace PQ codebook (the fidelity upgrade over
    * [[pqSampledCents]]'s modular sampling): per subspace, `codes`
    * centroids trained with `iters` Lloyd rounds under the exact same
    * determinism discipline as [[kmeansAssign]] —
    *
    *   - init: the sub-slices of the `codes` lowest vec_ids (code label =
    *     that vector's id), selected by sort/limit;
    *   - assign: argmin over exact integer `‖c‖² − 2·sub·c` (the sub-vector
    *     norm is constant per (vector, subspace)), ties to the lowest code;
    *   - update: floor-averaged integer centroids per (subspace, code,
    *     component); empty codes keep their previous centroid.
    *
    * All 8 subspaces train in the SAME two broadcast-join passes per round
    * (`m` is just another grouping key), so learning costs 2·iters corpus
    * scans — at 100 TB you'd train on a deterministic sample (add a
    * `vec_id % trainMod` filter to `subs`) and encode everything; the test
    * corpus trains on all vectors so the oracle replay stays one WHERE-free
    * chain. Integer end to end → hash-exact DuckDB oracle
    * ([[pqLearnedTopKSql]]). */
  /** The shared per-subspace Lloyd core: train `codes` centroids per
    * subspace over a `(vec_id, m, sub)` slice frame — init from `initIds`'
    * slices, integer-argmin assignment (ties to the lowest code),
    * floor-averaged integer updates, empty-code carry-forward. Returns the
    * PINNED codebook `(m, cent_id, qc, nqc)` — the frame is k·subspaces
    * rows, but its build is 2·iters corpus scans, so repeated callers (and
    * the query-side ADC tables) must read the trained centroids instead of
    * re-running Lloyd. */
  private def lloydSubspaces(subs: DataFrame, subCol: String,
      initIds: DataFrame, iters: Int): DataFrame = {
    val init = subs.join(broadcast(initIds), Seq("vec_id"))
      .select(col("m"), col("vec_id").as("cent_id"), col(subCol).as("qc"))

    def withN(cent: DataFrame): DataFrame =
      cent.withColumn("nqc", long_dot(col("qc"), col("qc")))

    def assign(cent: DataFrame): DataFrame =
      subs.join(broadcast(withN(cent)), Seq("m"))
        .withColumn("d", col("nqc") - lit(2L) * long_dot(col(subCol), col("qc")))
        .groupBy("vec_id", "m")
        .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("cent_id"),
          first(col(subCol)).as("s"))

    def update(assigned: DataFrame, prev: DataFrame): DataFrame = {
      val sums = assigned
        .select(col("m"), col("cent_id"), posexplode(col("s")).as(Seq("i", "x")))
        .groupBy("m", "cent_id", "i")
        .agg(floor(sum("x").cast("double") / count(lit(1))).cast("long").as("c"))
        .groupBy("m", "cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)").as("ucq"))
      prev.join(broadcast(sums), Seq("m", "cent_id"), "left")
        .select(col("m"), col("cent_id"), coalesce(col("ucq"), col("qc")).as("qc"))
    }

    PinnedCaches.pin(
      withN((1 to iters).foldLeft(init) { (c, _) => update(assign(c), c) }))
  }

  private[graft] def pqLearnedCents(emb: DataFrame, subspaces: Int = 8,
      codes: Int = 32, iters: Int = 2): DataFrame =
    lloydSubspaces(
      sliceSubs(quantized(emb).select(col("vec_id"), col("q")),
        Seq("vec_id"), "q", "qs", subspaces),
      "qs",
      quantized(emb).select("vec_id").orderBy("vec_id").limit(codes),
      iters)

  /** Corpus code table under the learned codebook — PINNED like
    * [[pqCodes]] (warmed by [[warmPins]]). */
  private[graft] def pqLearnedCodes(emb: DataFrame, subspaces: Int = 8,
      codes: Int = 32, iters: Int = 2): DataFrame =
    PinnedCaches.pin(
      pqScoredWith(emb, pqLearnedCents(emb, subspaces, codes, iters), subspaces)
        .groupBy("vec_id", "m")
        .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("code")))

  // ──────────────── LEARNED-PQ CODEBOOK LIFECYCLE ────────────────

  /** The learned-PQ index as a VERSIONED artifact — the codebook-drift
    * story for a 100 TB ingest (append-encode with frozen codebooks decays
    * recall under distribution shift, and without measurement it decays
    * UNOBSERVED). The documented policy, spec-pinned end to end
    * (PqDriftSpec):
    *
    *   - routine ingest APPEND-ENCODES against the frozen codebook
    *     ([[appendEncodePq]] — O(batch): slice, broadcast-codebook argmin,
    *     append);
    *   - drift is MEASURED, not assumed: [[pqRecall]] computes recall@k of
    *     the index's ADC chain against the exact quantized-cosine top-k
    *     over the same corpus — run on a monitoring cadence; a drop below
    *     the deployment's floor is the retrain signal;
    *   - [[retrainPqIndex]] trains a NEW Lloyd codebook over the refreshed
    *     corpus, re-encodes everything, bumps `version`, and swaps through
    *     [[graft.operators.RefreshablePqIndex]] — readers mid-query keep
    *     the complete old version (the standard swap monotonicity).
    */
  final case class PqIndex private[operators] (
      cents: DataFrame, codes: DataFrame, qn: DataFrame,
      version: Int, subspaces: Int, nCodes: Int, iters: Int) {
    private[operators] def frames: Seq[DataFrame] = Seq(cents, codes, qn)
    def materialize(): this.type = {
      IndexFiles.inParallel(frames.map(f => () => f.count())); this
    }
    private[graft] def truncated(): PqIndex = {
      val t = IndexFiles.inParallel(frames.map(f => () => f.localCheckpoint(true)))
      PqIndex(t(0), t(1), t(2), version, subspaces, nCodes, iters)
    }
    def release(): Unit = frames.foreach(PinnedCaches.unpin)
  }

  /** Train the version-1 [[PqIndex]] over a corpus: Lloyd codebook
    * ([[pqLearnedCents]]'s machinery), full encode, quantized corpus kept
    * for the exact re-rank tail. */
  def pqIndexBuild(emb: DataFrame, subspaces: Int = 8, nCodes: Int = 32,
      iters: Int = 2, version: Int = 1): PqIndex = {
    val qn = PinnedCaches.pin(quantized(emb).select("vec_id", "q", "nq"))
    val cents = pqLearnedCents(emb, subspaces, nCodes, iters)
    val codes = PinnedCaches.pin(
      pqScoredWithQ(qn, cents, subspaces).groupBy("vec_id", "m")
        .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("code")))
    PqIndex(cents, codes, qn, version, subspaces, nCodes, iters)
  }

  /** FROZEN-codebook append: encode only the batch against the existing
    * codebook and append its codes/vectors — same version (the codebook
    * did not change; recall under drift is [[pqRecall]]'s to observe). */
  def appendEncodePq(idx: PqIndex, newVecs: DataFrame): PqIndex =
    appendEncodePqCore(idx, newVecs, PinnedCaches.pin)._1

  /** One append's O(batch) persistence payload — the PQ side is the
    * simplest delta of the four index families: codes and quantized
    * vectors are PURE append under a frozen codebook (no re-key, no
    * dropped-bucket table), so the delta is exactly the batch's two fresh
    * frames. */
  final case class PqDelta private[operators] (codesNew: DataFrame, qNew: DataFrame) {
    private[operators] def frames: Seq[DataFrame] = Seq(codesNew, qNew)
  }

  /** The O(batch) heart of a frozen-codebook append: quantize ONLY the
    * batch and encode it against the (broadcast) codebook — depends on the
    * index through `cents`/`subspaces` alone, which is what makes the
    * segmented holder's per-append work batch-proportional. */
  private[operators] def pqAppendDelta(cents: DataFrame, subspaces: Int,
      newVecs: DataFrame, cache: DataFrame => DataFrame): PqDelta = {
    val qNew = cache(quantized(newVecs).select("vec_id", "q", "nq"))
    val codesNew = cache(pqScoredWithQ(qNew, cents, subspaces)
      .groupBy("vec_id", "m")
      .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("code")))
    PqDelta(codesNew, qNew)
  }

  private def appendEncodePqCore(idx: PqIndex, newVecs: DataFrame,
      cache: DataFrame => DataFrame): (PqIndex, PqDelta) = {
    val delta = pqAppendDelta(idx.cents, idx.subspaces, newVecs, cache)
    (PqIndex(idx.cents, cache(idx.codes.unionByName(delta.codesNew)),
      cache(idx.qn.unionByName(delta.qNew)),
      idx.version, idx.subspaces, idx.nCodes, idx.iters),
      delta)
  }

  /** [[appendEncodePq]] for the lifecycle holder (tracked fold-local
    * persists — the shared no-pin-in-loops discipline). */
  private[graft] def appendEncodePqTracked(idx: PqIndex,
      newVecs: DataFrame): (PqIndex, PqDelta, () => Unit) = {
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (next, delta) = appendEncodePqCore(idx, newVecs,
      df => { val c = df.persist(); tracked += c; c })
    (next, delta, () => tracked.foreach(_.unpersist()))
  }

  /** RETRAIN-AND-SWAP: a fresh Lloyd codebook over the (refreshed) corpus,
    * full re-encode, version bump — the escape when [[pqRecall]] shows the
    * frozen codebook has drifted from the data. */
  def retrainPqIndex(emb: DataFrame, prev: PqIndex): PqIndex =
    pqIndexBuild(emb, prev.subspaces, prev.nCodes, prev.iters, prev.version + 1)

  /** The PQ index's persisted artifact ([[IndexFiles.Artifact]]). Appends
    * under a frozen codebook are pure append of (codes, qn), so the replay
    * is two unions: no re-key map, no dropped-bucket filter. A RETRAIN (new
    * codebook, version bump) persists as a new base whose stamp swallows
    * every older delta, so deltas encoded against the dead codebook are
    * never replayed, and the base save sweeps them. Contents-identical to
    * the in-memory append chain (spec-pinned; `sim_pq_delta` pins the ADC
    * chain's answers through the round trip). */
  private[graft] object PqFiles extends IndexFiles.Artifact[PqIndex, PqDelta](
      "pq index", Seq("cents", "codes", "qn"), Seq("codes_new", "q_new")) {
    protected def baseFrames(idx: PqIndex): Seq[DataFrame] = idx.frames
    protected def meta(idx: PqIndex): Seq[(String, String)] = Seq(
      "version" -> idx.version.toString,
      "subspaces" -> idx.subspaces.toString,
      "n_codes" -> idx.nCodes.toString,
      "iters" -> idx.iters.toString)
    protected def deltaFrames(delta: PqDelta): Seq[DataFrame] = delta.frames
    override protected def detach(loaded: PqIndex): PqIndex = loaded.truncated()

    protected def replay(c: IndexFiles.Chain,
        pin: DataFrame => DataFrame): PqIndex =
      PqIndex(pin(c.base("cents")),
        pin(c.deltas.foldLeft(c.base("codes"))((acc, d) => acc.unionByName(d("codes_new")))),
        pin(c.deltas.foldLeft(c.base("qn"))((acc, d) => acc.unionByName(d("q_new")))),
        c.meta("version").toInt, c.meta("subspaces").toInt,
        c.meta("n_codes").toInt, c.meta("iters").toInt)
  }

  /** The [[pqTopKLearned]] ADC/re-rank chain against an explicit
    * [[PqIndex]] — what queries run between lifecycle events. */
  def pqTopKOver(idx: PqIndex, k: Int = 5, nQueries: Int = 10,
      rerank: Int = 32): DataFrame = {
    val qtab = pqScoredWithQ(idx.qn.filter(col("vec_id") < nQueries),
        idx.cents, idx.subspaces)
      .select(col("vec_id").as("query_id"), col("m"), col("cent_id"), col("d"))
    adcRerank(idx.qn, idx.codes, qtab, k, rerank)
  }

  /** MEASURED recall@k of the index's ADC chain vs the exact
    * quantized-cosine top-k over the same corpus — the drift monitor
    * (one row: `(version, k, n_queries, hits, possible, recall)`). The
    * exact side is the `nQueries·N` brute-force row — monitoring cost, run
    * on a sampled query set at scale, never per-query. */
  def pqRecall(idx: PqIndex, k: Int = 5, nQueries: Int = 10,
      rerank: Int = 32): DataFrame = {
    val got = pqTopKOver(idx, k, nQueries, rerank).select("query_id", "neighbor_id")
    val want = bruteForceTopKQ(idx.qn, k, nQueries).select("query_id", "neighbor_id")
    want.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(want.agg(count(lit(1)).as("possible"))))
      .select(lit(idx.version).as("version"), lit(k).as("k"),
        lit(nQueries).as("n_queries"), col("hits"), col("possible"),
        when(col("possible") === 0, lit(Double.NaN))
          .otherwise(col("hits").cast("double") / col("possible").cast("double"))
          .as("recall"))
  }

  /** DuckDB oracle for the `sim_pq_recall` registry row — the drift
    * MONITOR itself hash-pinned: the learned-PQ chain
    * ([[pqLearnedTopKSql]]) and the exact brute force
    * ([[bruteForceTopKSql]]) replayed as subqueries, recall = their
    * set intersection over the possible pairs. Every term is the already-
    * oracle-checked arithmetic, so the gate proves the MEASUREMENT — the
    * number a deployment's retrain policy triggers on — not just the
    * chains it compares. */
  lazy val pqRecallSql: String =
    s"""WITH got AS (SELECT query_id, neighbor_id FROM ($pqLearnedTopKSql) g),
       |want AS (SELECT query_id, neighbor_id FROM ($bruteForceTopKSql) w),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM want w
       |  WHERE EXISTS (SELECT 1 FROM got g
       |    WHERE g.query_id = w.query_id AND g.neighbor_id = w.neighbor_id)),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM want)
       |SELECT CAST(1 AS INTEGER) AS version, CAST(5 AS INTEGER) AS k,
       |  CAST(10 AS INTEGER) AS n_queries, hits, possible,
       |  CAST(hits AS DOUBLE) / possible AS recall
       |FROM h CROSS JOIN p""".stripMargin

  /** DuckDB oracle for the `sim_pq_delta` registry row — the PERSISTED
    * base+delta replay proven equivalent to from-scratch frozen-codebook
    * encoding: the oracle trains the Lloyd codebook on the BASE corpus
    * only (`vec_id % 3 = 0` — the population the persisted base was built
    * from), encodes the UNION (`% 3 < 2` — base plus the appended delta
    * batch) under that frozen codebook, and runs the standard ADC/re-rank
    * chain. It knows nothing about bases, deltas, or reloads — so hash
    * equality proves the persisted append chain answers exactly like a
    * from-scratch encode under the same codebook. */
  lazy val pqDeltaTopKSql: String = {
    val assign = lloydAssignSql("evm0", "q") _
    def update(u: String, a: String, prev: String, next: String): String =
      lloydUpdateSql("evm0", "q")(u, a, prev, next)
    s"""WITH $evNormsSql,
       |evm AS (SELECT vec_id, i, q, CAST((i - 1) // 8 AS BIGINT) AS m FROM ev
       |  WHERE vec_id % 3 < 2),
       |evm0 AS (SELECT * FROM evm WHERE vec_id % 3 = 0),
       |c0 AS (SELECT m, vec_id AS cent_id, i, q AS c FROM evm0 WHERE vec_id IN (
       |  SELECT DISTINCT vec_id FROM ev WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 32)),
       |${assign("a1", "c0")},
       |${update("u1", "a1", "c0", "c1")},
       |${assign("a2", "c1")},
       |${update("u2", "a2", "c1", "c2")},
       |cdist AS (
       |  SELECT e.vec_id, e.m, c.cent_id,
       |    CAST(SUM(c.c * c.c) - 2 * SUM(e.q * c.c) AS BIGINT) AS d
       |  FROM evm e JOIN c2 c ON c.i = e.i GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT vec_id, m, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn
       |    FROM cdist) WHERE rn = 1),
       |adc AS (
       |  SELECT t.vec_id AS query_id, n.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adc
       |  FROM codes n JOIN cdist t ON t.m = n.m AND t.cent_id = n.code
       |  WHERE t.vec_id < 10 AND n.vec_id <> t.vec_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= 32),
       |$rankSql""".stripMargin
  }

  /** [[pqTopK]] with the LEARNED codebook: same encode/ADC/re-rank chain,
    * only the code words change. 32 codes/subspace trained by Lloyd rounds
    * (vs the sampled path's 127-modular table); measured recall@5 0.700, up
    * from 0.640 at 16 codes (r7 sweep). The recall-vs-brute-force bound is
    * spec'd in PipelineOpsSpec. */
  def pqTopKLearned(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      rerank: Int = 32, codes: Int = 32, subspaces: Int = 8,
      iters: Int = 2): DataFrame = {
    val q = quantized(emb)
    val cents = pqLearnedCents(emb, subspaces, codes, iters)
    val codeTab = pqLearnedCodes(emb, subspaces, codes, iters)
    val qtab = pqScoredWith(emb, cents, subspaces)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("cent_id"), col("d"))
    adcRerank(q, codeTab, qtab, k, rerank)
  }

  /** DuckDB oracle for [[pqTopKLearned]] at the defaults — the per-subspace
    * Lloyd chain (init from the 32 lowest ids, two assign/update rounds
    * with floor-averaged integer centroids and empty-code carry-forward),
    * then the standard encode/ADC/re-rank tail, all replayed in BIGINT. */
  /** Lloyd assign/update CTE builders shared by the two learned-codebook
    * oracles ([[pqLearnedTopKSql]] over raw slices `evm.q`,
    * [[ivfpqLearnedTopKSql]] over residual slices `resm.r`) — one
    * definition, so a chain fix cannot reach one oracle and miss its twin. */
  private def lloydAssignSql(frame: String, v: String)(a: String, cent: String): String =
    s"""d$a AS (
       |  SELECT e.vec_id, e.m, c.cent_id,
       |    CAST(SUM((e.$v - c.c) * (e.$v - c.c)) AS BIGINT) AS dist2
       |  FROM $frame e JOIN $cent c ON c.i = e.i GROUP BY 1, 2, 3),
       |$a AS (SELECT vec_id, m, cent_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist2, cent_id) AS rn
       |  FROM d$a) WHERE rn = 1)""".stripMargin

  private def lloydUpdateSql(frame: String, v: String)(
      u: String, a: String, prev: String, next: String): String =
    s"""$u AS (
       |  SELECT a.m, a.cent_id, e.i,
       |    CAST(floor(CAST(SUM(e.$v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       |  FROM $a a JOIN $frame e ON e.vec_id = a.vec_id AND e.m = a.m GROUP BY 1, 2, 3),
       |$next AS (
       |  SELECT m, cent_id, i, c FROM $u
       |  UNION ALL
       |  SELECT p.m, p.cent_id, p.i, p.c FROM $prev p
       |  WHERE NOT EXISTS (SELECT 1 FROM $u u
       |    WHERE u.m = p.m AND u.cent_id = p.cent_id))""".stripMargin

  val pqLearnedTopKSql: String = {
    val assign = lloydAssignSql("evm", "q") _
    def update(u: String, a: String, prev: String, next: String): String =
      lloydUpdateSql("evm", "q")(u, a, prev, next)
    s"""WITH $evNormsSql,
       |evm AS (SELECT vec_id, i, q, CAST((i - 1) // 8 AS BIGINT) AS m FROM ev),
       |c0 AS (SELECT m, vec_id AS cent_id, i, q AS c FROM evm WHERE vec_id IN (
       |  SELECT DISTINCT vec_id FROM ev ORDER BY vec_id LIMIT 32)),
       |${assign("a1", "c0")},
       |${update("u1", "a1", "c0", "c1")},
       |${assign("a2", "c1")},
       |${update("u2", "a2", "c1", "c2")},
       |cdist AS (
       |  SELECT e.vec_id, e.m, c.cent_id,
       |    CAST(SUM(c.c * c.c) - 2 * SUM(e.q * c.c) AS BIGINT) AS d
       |  FROM evm e JOIN c2 c ON c.i = e.i GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT vec_id, m, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn
       |    FROM cdist) WHERE rn = 1),
       |adc AS (
       |  SELECT t.vec_id AS query_id, n.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adc
       |  FROM codes n JOIN cdist t ON t.m = n.m AND t.cent_id = n.code
       |  WHERE t.vec_id < 10 AND n.vec_id <> t.vec_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= 32),
       |$rankSql""".stripMargin
  }

  /** IVF-PQ approximate NN (Jégou et al., TPAMI 2011, §V "IVFADC") — the
    * composition a billion-vector index actually deploys: [[ivfTopK]]'s
    * coarse quantizer restricts each query to `nProbe` cells, and within
    * the probed cells candidates are scored through [[pqTopK]]'s ADC lookup
    * tables built on the RESIDUAL `x − c(cell)` rather than the raw vector
    * (residuals concentrate around 0, so the same code budget quantizes
    * them far more accurately than raw vectors).
    *
    *   - coarse pass: identical discipline to [[ivfTopK]] — every
    *     `centroidMod`-th vector is a centroid, assignment by exact integer
    *     projection score, broadcast codebook, map-side-combinable argmax;
    *   - residuals: `r = x − c(cell)` element-wise over the quantized
    *     vectors (exact BIGINT), computed map-side after a broadcast join
    *     back to the centroid table;
    *   - PQ codebook: residual sub-slices of every `pqMod`-th vector
    *     (sampled AFTER assignment, so codes model the residual
    *     distribution; a coarse centroid can be sampled — its residual is
    *     the zero vector, a perfectly valid code word);
    *   - ADC with the cross-cell correction: a query's approximate distance
    *     to candidate `x` in cell `c` is `Σ_m ‖qr_m − code_m(x)‖²` where
    *     `qr = q − c` is the PER-CELL query residual. Unlike single-table
    *     PQ the `‖qr‖²` term VARIES across probed cells, so it is added
    *     back (`nqr`), making scores comparable across cells — exactly
    *     `‖q − x̂‖²` for the reconstruction `x̂ = c + r̂`, all BIGINT;
    *   - re-rank: the `rerank` best candidates per query through the shared
    *     exact-cosine tail ([[rankCandidates]]).
    *
    * Plan shape: every join against a codebook (coarse cents, residual
    * cents, the per-query ADC tables) broadcasts the small side; the
    * corpus-sized work is three map-side-combinable aggregates (coarse
    * argmax, code argmin, ADC sum). At 100 TB the probed-cell candidate
    * join replaces pqTopK's whole-corpus ADC scan with `nProbe/K` of the
    * corpus. The broadcasts stay broadcastable only if the codebooks have
    * a FIXED budget: at N vectors set `centroidMod ≈ N/K` for the target
    * cell count K (k-NN practice: K ≈ √N up to ~2^18) and `pqMod ≈ N/256`
    * for byte-sized codes — the defaults here are sized for the test
    * corpora, not a constant for every scale. Integer arithmetic end to
    * end until the final cosine → hash-exact DuckDB oracle
    * ([[ivfpqTopKSql]]). */
  def ivfpqTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nProbe: Int = 2, rerank: Int = 32, centroidMod: Int = 127,
      pqMod: Int = 61, subspaces: Int = 8): DataFrame =
    ivfpqAdcTail(emb,
      ivfpqCodes(emb, centroidMod, pqMod, subspaces),
      ivfpqCodebook(emb, centroidMod, pqMod, subspaces),
      k, nQueries, nProbe, rerank, centroidMod, subspaces)

  /** The shared IVF-PQ query tail against an arbitrary residual codebook
    * `(m, code_id, rc, nrc)` and its corpus code table: probe selection,
    * per-(query, cell) residual ADC tables with the `‖qr‖²` cross-cell
    * correction, re-rank buffer, exact-cosine rank. */
  private def ivfpqAdcTail(emb: DataFrame, codes: DataFrame, pqCents: DataFrame,
      k: Int, nQueries: Int, nProbe: Int, rerank: Int,
      centroidMod: Int, subspaces: Int): DataFrame = {
    val q = quantized(emb)
    val scored = ivfpqScored(emb, centroidMod)

    // query side — tiny by construction: nQueries × nProbe (cells) ×
    // subspaces × |codes| table entries, plus the per-(query, cell)
    // residual-norm constant
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("score").desc, col("cent_id").desc)
    val probes = scored.filter(col("vec_id") < nQueries)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"),
        col("q"), col("qc"))
    val qres = probes
      .withColumn("qr", expr("zip_with(q, qc, (x, y) -> x - y)"))
      .withColumn("nqr", long_dot(col("qr"), col("qr")))
      .select("query_id", "cell", "qr", "nqr")
    val qtab = sliceSubs(qres, Seq("query_id", "cell", "nqr"), "qr", "qs", subspaces)
      .join(pqCents, Seq("m"))
      .withColumn("e", col("nrc") - lit(2L) * long_dot(col("qs"), col("rc")))
      .select("query_id", "cell", "m", "code_id", "e", "nqr")

    val adc = codes.join(broadcast(qtab),
        codes("cell") === qtab("cell") && codes("m") === qtab("m") &&
          codes("code") === qtab("code_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg((sum(col("e")) + first(col("nqr"))).as("adc"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val cand = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    rankCandidates(cand, q, k)
  }

  /** [[ivfpqTopK]] with a LEARNED residual codebook: the coarse quantizer
    * stays the sampled projection pass (its job is routing, and a learned
    * coarse pass would put a second Lloyd chain inside every oracle CTE for
    * marginal routing gain), but the RESIDUAL code words — where the
    * reconstruction error actually lives (Jégou et al.'s finding: residual
    * quantization dominates IVFADC accuracy) — are trained with the shared
    * per-subspace Lloyd core over the residual slices. Same ADC tail;
    * hash-exact oracle ([[ivfpqLearnedTopKSql]]); recall spec'd vs brute
    * force in PipelineOpsSpec.
    *
    * `nProbe` defaults to 4 here (vs the sampled path's 2) after the r8
    * sweep: recall@5 0.54 → 0.64 at sf0.01 and 0.16 → 0.30 at sf0.1 with
    * NO measurable query-time cost (warm ≈ 0.7–1.0 s either way — probing
    * is query-side only, candidate volume stays nProbe/K of the corpus);
    * nProbe=8 bought only +0.04 more at sf0.1, so 4 is the knee.
    *
    * `rerank` defaults to 128 after the r9 sweep (rerank 32/64/128 ×
    * residual-Lloyd iters 2/3 at sf0.1, nProbe 4): recall@5 0.30 → 0.48
    * with warm time flat (0.69 s vs 0.72 s) — confirming r8's
    * non-monotonicity diagnosis that the extra probes' candidates were
    * displacing true neighbors from a too-small ADC top-32; the exact
    * re-rank is over only nQueries × rerank rows, so the buffer is
    * nearly free. A third Lloyd iteration LOST recall at rerank 32
    * (0.26) and stayed below rerank-128 at every width while costing
    * ~0.3 s warm — residual codebooks here overfit the init sample
    * before they converge, so iters stays 2. */
  def ivfpqTopKLearned(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nProbe: Int = 4, rerank: Int = 128, centroidMod: Int = 127,
      codes: Int = 32, subspaces: Int = 8, iters: Int = 2): DataFrame =
    ivfpqAdcTail(emb,
      ivfpqLearnedCodes(emb, centroidMod, codes, subspaces, iters),
      ivfpqLearnedCents(emb, centroidMod, codes, subspaces, iters),
      k, nQueries, nProbe, rerank, centroidMod, subspaces)

  /** Learned residual codebook `(m, code_id, rc, nrc)` — the per-subspace
    * Lloyd core over the pinned residual frame, init from the residuals of
    * the `codes` lowest vec_ids. Pinned (via the core). */
  private[graft] def ivfpqLearnedCents(emb: DataFrame, centroidMod: Int = 127,
      codes: Int = 32, subspaces: Int = 8, iters: Int = 2): DataFrame =
    lloydSubspaces(
      sliceSubs(ivfResiduals(emb, centroidMod),
        Seq("vec_id", "cell"), "r", "rs", subspaces)
        .select("vec_id", "m", "rs"),
      "rs",
      quantized(emb).select("vec_id").orderBy("vec_id").limit(codes),
      iters)
      .select(col("m"), col("cent_id").as("code_id"),
        col("qc").as("rc"), col("nqc").as("nrc"))

  /** Corpus residual-code table under the learned codebook — PINNED like
    * [[ivfpqCodes]], warmed by [[warmPins]]. */
  private[graft] def ivfpqLearnedCodes(emb: DataFrame, centroidMod: Int = 127,
      codes: Int = 32, subspaces: Int = 8, iters: Int = 2): DataFrame = {
    val rsubs = sliceSubs(ivfResiduals(emb, centroidMod),
      Seq("vec_id", "cell"), "r", "rs", subspaces)
    PinnedCaches.pin(
      rsubs.join(broadcast(ivfpqLearnedCents(emb, centroidMod, codes, subspaces, iters)),
          Seq("m"))
        .withColumn("d", col("nrc") - lit(2L) * long_dot(col("rs"), col("rc")))
        .groupBy("vec_id", "m").agg(
          min_by(col("code_id"), struct(col("d"), col("code_id"))).as("code"),
          first(col("cell")).as("cell")))
  }

  /** Coarse codebook: every `centroidMod`-th vector, with its norm. */
  private def coarseCents(emb: DataFrame, centroidMod: Int): DataFrame =
    quantized(emb).filter(pmod(col("vec_id"), lit(centroidMod)) === 1)
      .select(col("vec_id").as("cent_id"), col("q").as("qc"), col("nq").as("nqc"))

  /** Coarse projection scores (vector × centroid) — shared by the corpus
    * assignment and the query-side probe selection; broadcast codebook,
    * map-side. */
  private def ivfpqScored(emb: DataFrame, centroidMod: Int): DataFrame =
    quantized(emb).crossJoin(broadcast(coarseCents(emb, centroidMod)))
      .withColumn("score", long_dot(col("q"), col("qc")).cast("double") /
        sqrt(col("nqc").cast("double")))

  /** Corpus residuals `r = x − c(cell)` after coarse assignment — PINNED:
    * the coarse pass + residual computation is index-build work shared by
    * the residual codebook and the encode (and re-used across calls). */
  private[graft] def ivfResiduals(emb: DataFrame, centroidMod: Int = 127): DataFrame = {
    val assigned = ivfpqScored(emb, centroidMod).groupBy("vec_id").agg(
      max_by(col("cent_id"), struct(col("score"), col("cent_id"))).as("cell"),
      first(col("q")).as("q"))
    val centVecs = coarseCents(emb, centroidMod)
      .select(col("cent_id").as("cell"), col("qc"))
    PinnedCaches.pin(
      assigned.join(broadcast(centVecs), Seq("cell"))
        .withColumn("r", expr("zip_with(q, qc, (x, y) -> x - y)"))
        .select("vec_id", "cell", "r"))
  }

  /** Residual PQ codebook: sub-slices of every `pqMod`-th vector's residual
    * (sampled AFTER assignment so codes model the residual distribution) —
    * tiny, read straight off the pinned residual frame. */
  private def ivfpqCodebook(emb: DataFrame, centroidMod: Int,
      pqMod: Int, subspaces: Int): DataFrame =
    sliceSubs(
      ivfResiduals(emb, centroidMod).filter(pmod(col("vec_id"), lit(pqMod)) === 3)
        .select(col("vec_id").as("code_id"), col("r")),
      Seq("code_id"), "r", "rc", subspaces)
      .withColumn("nrc", long_dot(col("rc"), col("rc")))

  /** The corpus residual-code table — PINNED like [[pqCodes]]: nearest
    * residual code word per (vector, subspace), broadcast codebook, exact
    * integer `‖c‖² − 2·r·c` (the r-side norm is constant per (vector,
    * subspace) so it cannot change the argmin), ties to the lower code_id.
    * [[warmPins]] materializes it into `cache_build` so the bench row
    * measures ADC + re-rank, not the index build. */
  private[graft] def ivfpqCodes(emb: DataFrame, centroidMod: Int = 127,
      pqMod: Int = 61, subspaces: Int = 8): DataFrame = {
    val rsubs = sliceSubs(ivfResiduals(emb, centroidMod),
      Seq("vec_id", "cell"), "r", "rs", subspaces)
    PinnedCaches.pin(
      rsubs.join(broadcast(ivfpqCodebook(emb, centroidMod, pqMod, subspaces)), Seq("m"))
        .withColumn("d", col("nrc") - lit(2L) * long_dot(col("rs"), col("rc")))
        .groupBy("vec_id", "m").agg(
          min_by(col("code_id"), struct(col("d"), col("code_id"))).as("code"),
          first(col("cell")).as("cell")))
  }

  /** DuckDB oracle for [[ivfpqTopK]] at the default parameters — coarse
    * assignment, residuals, residual codebook, encode, per-(query, cell)
    * ADC tables with the `‖qr‖²` cross-cell correction, re-rank buffer, and
    * the exact-rank tail, reproduced step for step in BIGINT. */
  val ivfpqTopKSql: String =
    s"""WITH $evNormsSql,
       |cents AS (SELECT vec_id AS cent_id FROM norms WHERE vec_id % 127 = 1),
       |cdots AS (
       |  SELECT a.vec_id, c.cent_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN cents c ON true JOIN ev b ON b.vec_id = c.cent_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |cscored AS (
       |  SELECT d.vec_id, d.cent_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nc.nq AS DOUBLE)) AS score
       |  FROM cdots d JOIN norms nc ON nc.vec_id = d.cent_id),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS rn
       |    FROM cscored) WHERE rn = 1),
       |res AS (
       |  SELECT a.vec_id, ax.cell, a.i, a.q - b.q AS r
       |  FROM ev a JOIN assigned ax ON ax.vec_id = a.vec_id
       |    JOIN ev b ON b.vec_id = ax.cell AND b.i = a.i),
       |pqc AS (
       |  SELECT vec_id AS code_id, CAST((i - 1) // 8 AS BIGINT) AS m, i, r
       |  FROM res WHERE vec_id % 61 = 3),
       |cdist AS (
       |  SELECT a.vec_id, p.m, p.code_id,
       |    CAST(sum(p.r * p.r) - 2 * sum(a.r * p.r) AS BIGINT) AS d
       |  FROM res a JOIN pqc p ON p.i = a.i
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, code_id AS code FROM (
       |    SELECT vec_id, m, code_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, code_id) AS rn
       |    FROM cdist) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS pr
       |    FROM cscored WHERE vec_id < 10) WHERE pr <= 2),
       |qres AS (
       |  SELECT p.query_id, p.cell, a.i, a.q - b.q AS r
       |  FROM probes p JOIN ev a ON a.vec_id = p.query_id
       |    JOIN ev b ON b.vec_id = p.cell AND b.i = a.i),
       |qrnorm AS (
       |  SELECT query_id, cell, CAST(sum(r * r) AS BIGINT) AS nqr
       |  FROM qres GROUP BY 1, 2),
       |qtab AS (
       |  SELECT qr.query_id, qr.cell, p.m, p.code_id,
       |    CAST(sum(p.r * p.r) - 2 * sum(qr.r * p.r) AS BIGINT) AS e
       |  FROM qres qr JOIN pqc p ON p.i = qr.i
       |  GROUP BY 1, 2, 3, 4),
       |adcs AS (
       |  SELECT t.query_id, c.vec_id AS neighbor_id, na.cell,
       |    CAST(sum(t.e) AS BIGINT) AS s
       |  FROM codes c JOIN assigned na ON na.vec_id = c.vec_id
       |    JOIN qtab t ON t.cell = na.cell AND t.m = c.m AND t.code_id = c.code
       |  WHERE c.vec_id <> t.query_id
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT a.query_id, a.neighbor_id, a.s + qn.nqr AS adc
       |  FROM adcs a JOIN qrnorm qn ON qn.query_id = a.query_id AND qn.cell = a.cell),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= 32),
       |$rankSql""".stripMargin

  /** DuckDB oracle for [[ivfpqTopKLearned]] at the defaults — the same
    * coarse/residual prelude as [[ivfpqTopKSql]], then the per-subspace
    * Lloyd chain over residual slices (init from the 32 lowest ids' residuals,
    * two assign/update rounds, floor-averaged integer centroids, empty-code
    * carry-forward), then the standard encode / per-(query, cell) ADC with
    * the `‖qr‖²` correction / re-rank tail, all in BIGINT. */
  val ivfpqLearnedTopKSql: String = {
    val assign = lloydAssignSql("resm", "r") _
    def update(u: String, a: String, prev: String, next: String): String =
      lloydUpdateSql("resm", "r")(u, a, prev, next)
    s"""WITH $evNormsSql,
       |cents AS (SELECT vec_id AS cent_id FROM norms WHERE vec_id % 127 = 1),
       |cdots AS (
       |  SELECT a.vec_id, c.cent_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM ev a JOIN cents c ON true JOIN ev b ON b.vec_id = c.cent_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |cscored AS (
       |  SELECT d.vec_id, d.cent_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nc.nq AS DOUBLE)) AS score
       |  FROM cdots d JOIN norms nc ON nc.vec_id = d.cent_id),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS rn
       |    FROM cscored) WHERE rn = 1),
       |res AS (
       |  SELECT a.vec_id, ax.cell, a.i, a.q - b.q AS r
       |  FROM ev a JOIN assigned ax ON ax.vec_id = a.vec_id
       |    JOIN ev b ON b.vec_id = ax.cell AND b.i = a.i),
       |resm AS (SELECT vec_id, cell, i, r, CAST((i - 1) // 8 AS BIGINT) AS m FROM res),
       |r0 AS (SELECT m, vec_id AS cent_id, i, r AS c FROM resm WHERE vec_id IN (
       |  SELECT DISTINCT vec_id FROM ev ORDER BY vec_id LIMIT 32)),
       |${assign("a1", "r0")},
       |${update("u1", "a1", "r0", "r1")},
       |${assign("a2", "r1")},
       |${update("u2", "a2", "r1", "r2")},
       |cdist AS (
       |  SELECT a.vec_id, c.m, c.cent_id AS code_id,
       |    CAST(SUM(c.c * c.c) - 2 * SUM(a.r * c.c) AS BIGINT) AS d
       |  FROM resm a JOIN r2 c ON c.i = a.i GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, code_id AS code FROM (
       |    SELECT vec_id, m, code_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, code_id) AS rn
       |    FROM cdist) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cent_id DESC) AS pr
       |    FROM cscored WHERE vec_id < 10) WHERE pr <= 4),
       |qres AS (
       |  SELECT p.query_id, p.cell, a.i, a.q - b.q AS r
       |  FROM probes p JOIN ev a ON a.vec_id = p.query_id
       |    JOIN ev b ON b.vec_id = p.cell AND b.i = a.i),
       |qrnorm AS (
       |  SELECT query_id, cell, CAST(sum(r * r) AS BIGINT) AS nqr
       |  FROM qres GROUP BY 1, 2),
       |qtab AS (
       |  SELECT qr.query_id, qr.cell, c.m, c.cent_id AS code_id,
       |    CAST(SUM(c.c * c.c) - 2 * SUM(qr.r * c.c) AS BIGINT) AS e
       |  FROM qres qr JOIN r2 c ON c.i = qr.i
       |  GROUP BY 1, 2, 3, 4),
       |adcs AS (
       |  SELECT t.query_id, c.vec_id AS neighbor_id, na.cell,
       |    CAST(sum(t.e) AS BIGINT) AS s
       |  FROM codes c JOIN assigned na ON na.vec_id = c.vec_id
       |    JOIN qtab t ON t.cell = na.cell AND t.m = c.m AND t.code_id = c.code
       |  WHERE c.vec_id <> t.query_id
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT a.query_id, a.neighbor_id, a.s + qn.nqr AS adc
       |  FROM adcs a JOIN qrnorm qn ON qn.query_id = a.query_id AND qn.cell = a.cell),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= 128),
       |$rankSql""".stripMargin
  }
}
