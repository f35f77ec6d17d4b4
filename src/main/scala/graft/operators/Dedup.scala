package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SortedIntersectCount.{sorted_intersect_at_least, sorted_intersect_count}

/** Deduplication operators for large-scale text corpora (the
  * beyond-reference training-data-pipeline surface; BASELINE.json north
  * star). All operators are pure DataFrame transforms designed for the
  * 100 TB case:
  *
  *   - exact dedup groups by a 128-bit content fingerprint, so the shuffle
  *     key is 16 bytes instead of the document body;
  *   - pairwise similarity ops never go O(n²) globally — candidate pairs are
  *     generated inside a blocking key (source, LSH band bucket) and only
  *     verified pairs leave the shuffle;
  *   - everything partial-aggregates map-side before its single shuffle.
  */
object Dedup {

  /** Bucket-size cap for the LSH candidate self-joins: a blocking bucket
    * (band signature / simhash chunk / winnowing fingerprint) containing more
    * than this many DISTINCT texts generates quadratic candidates while
    * carrying no discriminating signal (degenerate band, boilerplate
    * fingerprint) — such buckets are skipped, MOSS "stop fingerprint" style.
    * The skipped volume is enumerable via [[minhashOversizedBuckets]] /
    * [[TextAnalysis.winnowingHotFingerprints]]. */
  val DefaultBucketCap: Int = 1000

  /** One row per DISTINCT text: the representative (minimum) doc id, the
    * text, and the sorted member-id array. All near-dup candidate generation
    * runs on representatives only: d exact copies of one document share
    * every band signature / chunk key / fingerprint, so without collapsing,
    * one bucket yields d²/2 candidate pairs each paying full verification —
    * at training-corpus dup rates (20-50% exact duplicates) exactly the
    * quadratic blowup banding exists to avoid. The required member-level
    * output is reconstructed afterwards by [[expandPairs]] with zero
    * per-pair verification work. At 100 TB a pipeline would materialize this
    * frame once (it IS the exact-dedup result keyed for reuse) and run every
    * near-dup pass against it; here it is cached for the consumers inside
    * one query. */
  private[operators] def dupGroups(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"), first("text").as("text"),
        sort_array(collect_list("doc_id")).as("member_ids"))
      .drop("fp")

  /** Expand representative-level pairs `(doc_a, doc_b, valueCol)` back to
    * member level, and append intra-group pairs (pairs of exact copies) for
    * the groups in `intraGroups`, which must carry `member_ids` plus a
    * `valueCol` column holding the constant pair value for identical texts
    * (jaccard 1.0, hamming 0, full shared-fingerprint count). Cross-group
    * expansion is two linear joins on the representative id; intra-group
    * expansion enumerates each i<j member pair once (member_ids is sorted
    * ascending). Output size is exactly the pair count the operator's
    * semantics require — the expansion adds no verification work. */
  private[operators] def expandPairs(repPairs: DataFrame, groups: DataFrame,
      valueCol: String, intraGroups: DataFrame): DataFrame = {
    val members = groups.select(col("doc_id").as("rep_id"),
      explode(col("member_ids")).as("member"))
    val cross = repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("member").as("ma")), Seq("doc_a"))
      .join(members.select(col("rep_id").as("doc_b"), col("member").as("mb")), Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col(valueCol))
    val intra = intraGroups
      .filter(size(col("member_ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(member_ids, (x, i) -> " +
          "transform(slice(member_ids, i + 2, size(member_ids)), y -> struct(x AS a, y AS b))))"))
        .as("p"), col(valueCol))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"), col(valueCol))
    cross.unionAll(intra)
  }

  /** Keep only blocking buckets of size <= cap (cap applied per key over the
    * already-collapsed representative rows). */
  private[operators] def capBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    df.withColumn("bn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bn") <= cap).drop("bn")

  /** Distinct word-token set per document (single-space tokenization of the
    * corpus). */
  private def tokenSets(docs: DataFrame): DataFrame =
    Tables.fanOut(docs).select(col("doc_id"), col("source"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))

  /** Materialize this family's pinned working sets (dup-group collapse,
    * shingle sets) — bench warm-up hook, so per-query numbers measure the
    * queries instead of charging the shared materializations to whichever
    * family member happens to run first. */
  def warmPins(docs: DataFrame): Unit = {
    warmBasePins(docs)
    warmClusterPin(docs)
  }

  /** The shared dup-group and shingle pins — materialized BEFORE the
    * concurrent warm tail forks (both the cluster labeling and the text
    * fingerprint pins read them; racing two `pin(dupGroups(docs))` calls
    * would double-compute the same plan key). */
  private[graft] def warmBasePins(docs: DataFrame): Unit = {
    def stage(name: String)(f: => Unit): Unit =
      PinnedCaches.warmStage(docs.sparkSession, s"dedup.$name")(f)
    stage("groups") {
      PinnedCaches.pin(dupGroups(docs)).count()
    }
    stage("shingles") {
      val groups = PinnedCaches.pin(dupGroups(docs))
      PinnedCaches.pin(shingleArrays(groups.select("doc_id", "text"))).count()
    }
  }

  /** The memoized cluster labeling (eager star-contraction CC loop) — warmed so
    * the bench's best-of-2 min measures consuming the labels, not a
    * first-run/memo-hit asymmetry, and the CC cost is attributed to
    * cache_build like every other shared materialization. */
  private[graft] def warmClusterPin(docs: DataFrame): Unit =
    clusters(docs).count()

  /** Exact dedup via content fingerprint: one row per distinct text with the
    * kept (minimum) doc id and the copy count. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  val exactSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Case/punctuation/whitespace-canonicalizing dedup — the CCNet-style
    * normalization tier between exact dedup and minhash: lowercase, squash
    * every non-alphanumeric run to one space, trim, THEN fingerprint, so
    * `"Hello,  World!"` and `"hello world"` collapse into one group. One
    * row per canonical text: the kept (minimum) doc id, the copy count,
    * and `n_variants` = how many DISTINCT raw texts the group folds
    * together (groups with `n_variants > 1` are exactly the duplicates
    * [[exact]] cannot see). Same scale shape as [[exact]]: map-side
    * normalization inside codegen, a 16-byte md5 shuffle key, one
    * partial-aggregated groupBy. The normalization is deliberately
    * ASCII-regex only ([a-z0-9] classes) so the oracle replays it
    * byte-identically in RE2. */
  def canonical(docs: DataFrame): DataFrame =
    docs
      .withColumn("cfp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .groupBy("cfp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(md5(col("text"))).as("n_variants"))
      .orderBy("keep_id")

  val canonicalSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS cfp,
      |  min(doc_id) AS keep_id, count(*) AS n_copies,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_variants
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Cross-source duplication matrix over NEAR-dup clusters — the
    * provenance question a multi-source corpus audit asks first: which
    * source pairs carry (near-)copies of the same content (mirrors,
    * scrape-of-a-scrape, boilerplate-edited reposts), and how much? One
    * row per unordered source pair sharing at least one [[clusters]]
    * family, `n_shared` = the number of distinct families containing both.
    * Scale shape: the memoized cluster labels join the tiny
    * `(doc_id, source)` projection; the self-join runs on the DISTINCT
    * `(cluster_id, source)` frame — bounded by clusters × sources, not by
    * corpus size — and output is ≤ n_sources² rows. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val f = clusters(docs).select("doc_id", "cluster_id")
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("cluster_id", "source").distinct()
    f.join(f.select(col("cluster_id"), col("source").as("source_b")), Seq("cluster_id"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** DuckDB oracle for [[sourceOverlap]]: cluster labels via the same
    * reachability construction as [[clustersSql]], then the distinct
    * (cluster, source) self-join. */
  lazy val sourceOverlapSql: String =
    s"""WITH RECURSIVE $minhashPairsCoreSql,
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
       |f AS (
       |  SELECT DISTINCT cl.cluster_id, d.source
       |  FROM cl JOIN documents d USING (doc_id))
       |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |FROM f a JOIN f b ON a.cluster_id = b.cluster_id AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One-row corpus health report — the summary a curation run prints
    * before anyone ships a training mix: document count, distinct /
    * canonical / near-dup-family counts with the implied dup rates,
    * language spread, token volume, and the integerized mean quality
    * score. Composes the already-hash-exact per-doc signals ([[exact]]'s
    * fp, [[canonical]]'s cfp, the memoized [[clusters]] labels,
    * [[TextAnalysis.qualityScore]]) into one aggregate.
    *
    * Scale note: the multiple exact `count(DISTINCT)`s expand into one
    * multi-pass aggregate here; a 100 TB deployment would either run them
    * as separate partial-agg passes over the same cached projection or
    * swap in the KMV sketch ([[RelationalQueries.approxAgg]]'s machinery)
    * — the per-doc projection this aggregates is 5 small columns, never
    * text. Rates are ratios of exact BIGINTs; the mean is an exact-BIGINT
    * sum divided once — deterministic in any partitioning. */
  def corpusReport(docs: DataFrame): DataFrame = {
    // fingerprints, token counts AND the quality score all come from ONE
    // text scan (the score arithmetic is TextAnalysis's single shared
    // definition) — the former qualityScore join was a second full corpus
    // pass for a column this projection can compute in place
    val perDoc = docs.select(Seq(col("doc_id"), col("lang"),
        md5(col("text")).as("fp"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("cfp")) ++
        TextAnalysis.qualityCountCols: _*)
      .withColumn("s100", round(TextAnalysis.qualityScoreFrom(
        col("n_stop"), col("n_distinct"), col("n_tokens")) * 100).cast("long"))
      .join(clusters(docs).select("doc_id", "cluster_id"), Seq("doc_id"))
    perDoc.agg(
      count(lit(1)).as("n_docs"),
      countDistinct("fp").as("n_distinct_texts"),
      countDistinct("cfp").as("n_canonical_texts"),
      countDistinct("cluster_id").as("n_families"),
      countDistinct("lang").as("n_langs"),
      sum("n_tokens").as("total_tokens"),
      sum("s100").as("sum_q100"))
      .withColumn("exact_dup_rate",
        lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs").cast("double"))
      .withColumn("near_dup_rate",
        lit(1.0) - col("n_families").cast("double") / col("n_docs").cast("double"))
      .withColumn("mean_quality",
        col("sum_q100").cast("double") / col("n_docs").cast("double") / 100.0)
  }

  /** DuckDB oracle for [[corpusReport]]: cluster labels via the
    * [[clustersSql]] reachability construction, the unchanged quality CTE,
    * identical integerization and division order. */
  lazy val corpusReportSql: String =
    s"""WITH RECURSIVE $minhashPairsCoreSql,
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
       |q AS (${TextAnalysis.qualityScoreSql}),
       |per AS (
       |  SELECT d.doc_id, d.lang, md5(d.text) AS fp,
       |    md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS cfp,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(round(q.quality_score * 100) AS BIGINT) AS s100,
       |    cl.cluster_id
       |  FROM documents d JOIN q USING (doc_id) JOIN cl USING (doc_id)),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
       |    CAST(count(DISTINCT cfp) AS BIGINT) AS n_canonical_texts,
       |    CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_families,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(s100) AS BIGINT) AS sum_q100
       |  FROM per)
       |SELECT n_docs, n_distinct_texts, n_canonical_texts, n_families, n_langs,
       |  total_tokens, sum_q100,
       |  1.0 - CAST(n_distinct_texts AS DOUBLE) / CAST(n_docs AS DOUBLE) AS exact_dup_rate,
       |  1.0 - CAST(n_families AS DOUBLE) / CAST(n_docs AS DOUBLE) AS near_dup_rate,
       |  CAST(sum_q100 AS DOUBLE) / CAST(n_docs AS DOUBLE) / 100.0 AS mean_quality
       |FROM a""".stripMargin

  /** LOWER bound on the intersection a Jaccard-`t` pair must reach —
    * `⌊t·(n_a+n_b)/(1+t)⌋` (the exact requirement is its ceiling, so the
    * floor is always sound for `sorted_intersect_at_least`'s abort and a
    * float rounding error can never over-tighten it: the computed double is
    * within 1 ulp of the true quotient, and floor of that stays ≤ the true
    * ceiling). */
  private def jaccardMinInter(t: Double, na: Column, nb: Column): Column =
    floor(lit(t) * (na + nb).cast("double") / lit(1.0 + t)).cast("long")

  /** Exact n-gram (word-set) Jaccard near-dup pairs, blocked by `source` so
    * candidate generation is per-block (at 100 TB the block is the unit of
    * pairwise work; an unblocked corpus would use [[minhashPairs]]). Jaccard
    * is a ratio of exact ints — bit-reproducible.
    *
    * Scale guards on the per-block quadratic scan:
    *   - a LOSSLESS size-ratio prune runs before the merge-scan intersect:
    *     `J >= t  ⟹  min(|A|,|B|)/max(|A|,|B|) >= t` (intersection ≤ the
    *     smaller set, union ≥ the larger), evaluated with the same double
    *     division as the final jaccard so no boundary pair is lost;
    *   - set sizes are computed once per doc (map-side), not per pair.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val t = tokenSets(docs).withColumn("n", size(col("toks")).cast("long"))
    val a = t.select(col("doc_id").as("doc_a"), col("source"),
      col("toks").as("toks_a"), col("n").as("n_a"))
    val b = t.select(col("doc_id").as("doc_b"), col("source"),
      col("toks").as("toks_b"), col("n").as("n_b"))
    a.join(b, Seq("source")).filter(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")).cast("double") /
          greatest(col("n_a"), col("n_b")).cast("double") >= threshold)
      .withColumn("inter", sorted_intersect_at_least(col("toks_a"), col("toks_b"),
        jaccardMinInter(threshold, col("n_a"), col("n_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val jaccardPairsSql: String =
    """WITH tok AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t FROM documents),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) /
      |    CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) AS jaccard
      |  FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** CORPUS-WIDE exact Jaccard pairs via PREFIX FILTERING (the All-Pairs /
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): the exact
    * complement to this file's other two set-similarity paths.
    * [[jaccardPairs]] is exact but `source`-BLOCKED (cross-block dups are
    * invisible by construction); [[minhashPairs]] is corpus-wide but
    * probabilistic (banding can miss true pairs). This operator is BOTH
    * corpus-wide AND exact, with no quadratic scan: under a global total
    * token order, a pair with `J ≥ τ` MUST share a token inside each side's
    * first `|x| − ⌈τ·|x|⌉ + 1` tokens (the Jaccard prefix), so candidates
    * come from ONE equi-join on prefix tokens and only they pay the exact
    * verify. τ = 0.9 fixed (inlined in the oracle like every sketch
    * constant; the integer-exact prefix length is `n − (9n+9) div 10 + 1`
    * ≈ n/10 + 1 — the higher threshold buys BOTH a sparser true-pair set
    * on this deliberately near-dup-saturated corpus and 10× shorter
    * prefix postings driving the candidate join).
    *
    * The global order is RARE-FIRST — (document frequency, token) — the
    * classic candidate-minimizing heuristic: a doc's prefix holds its
    * rarest tokens, so postings lists driving the join are the shortest
    * ones. Correctness needs only SOME total order; df ties break on the
    * token string, so the order (and the output) is deterministic.
    *
    * The candidate join is ASYMMETRIC (PPJoin's index-prefix bound): for a
    * qualifying pair the required overlap is O = ⌈τ/(1+τ)·(n_l+n_s)⌉, and
    * with n_s ≤ n_l that gives O ≥ ⌈τ·n_l⌉ AND O ≥ ⌈2τ/(1+τ)·n_s⌉ — so the
    * shared token sits within the LARGER doc's τ-prefix (n − ⌈τn⌉ + 1
    * tokens) and simultaneously within the SMALLER doc's shorter
    * 2τ/(1+τ)-prefix (n − ⌈2τ/(1+τ)·n⌉ + 1 ≈ n/19 + 1 at τ = 0.9). One
    * side of the equi-join therefore carries roughly HALF the postings of
    * the symmetric form, and each unordered pair is probed exactly once
    * (larger-by-(n, doc_id) side probes, smaller side is the index).
    * Measured on the 10× corpus (48.8k reps, 17.8M candidates, 31k true
    * pairs), the asymmetric index prefix cut raw join volume from 428M to
    * 286M rows and won every alternating A/B verify round by ~5-10%. An
    * extended c-prefix with a grouped `count(shared) >= c` filter
    * (AdaptJoin-style, sound for c ≤ 9 at τ = 0.9) only trimmed candidates
    * to 14.2M at c = 3: that corpus has no rare tokens, so the count filter
    * cannot bind and its extra aggregation cancels the saving.
    *
    * The ORACLE is deliberately the naive quadratic all-pairs join: the
    * hash-exact compare therefore VALIDATES the no-false-negative prefix
    * theorem on the real corpus rather than assuming it — a filter bug
    * that dropped one true pair would fail the gate, not hide inside a
    * replicated filter. 100 TB shape: token df is one map-side-combinable
    * aggregate; per-doc ordering is a bounded in-array sort (collect_list
    * over the doc's own tokens, never a window); the candidate join
    * shuffles prefix postings (rare tokens → short lists; a stop-word can
    * never enter a prefix unless a doc is almost all stop-words); the
    * verify joins token arrays only for surviving candidate pairs.
    *
    * Pairs are emitted between TOKEN-SET REPRESENTATIVES (identical
    * distinct-token sets collapse to their min-id member first — the
    * analog of [[exact]]'s md5(text) collapse one level up): this corpus
    * deliberately contains word-reshuffled variants whose token sets are
    * IDENTICAL, and their pairwise Jaccard is definitionally 1.0 — a
    * family of k variants would emit k(k−1)/2 content-free rows (the
    * quadratic clique blowup that makes all-pairs outputs explode at
    * scale) while the real information is just the family itself, which
    * [[canonical]]/[[clusters]] already report. The collapse is exact set
    * equality, orthogonal to the prefix filter being validated. */
  def prefixJoinPairs(docs: DataFrame): DataFrame = {
    val threshold = 0.9
    // reps + prefix postings are per-corpus INDEX artifacts (the analog of
    // the PQ codes / minhash signature pins): memo-pinned so repeated runs
    // measure candidate generation + verify, not index rebuild
    val t = PinnedCaches.memo(docs, "prefix_join_reps") {
      Tables.fanOut(docs)
        .select(col("doc_id"),
          array_sort(array_distinct(split(col("text"), " "))).as("toks"))
        .groupBy("toks").agg(min("doc_id").as("doc_id"))
        .withColumn("n", size(col("toks")).cast("long"))
    }
    val prefix = PinnedCaches.memo(docs, "prefix_join_postings") {
      val dfreq = t.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      t.select(col("doc_id"), col("n"), explode(col("toks")).as("tok"))
        .join(dfreq, Seq("tok"))
        .groupBy("doc_id", "n")
        .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
        // probe (Jaccard) prefix at tau = 0.9: n - ceil(0.9 n) + 1; index
        // prefix: n - ceil(2*0.9/1.9 n) + 1 = n - ceil(18n/19) + 1 — both
        // integer-exact
        .withColumn("p", expr("n - (9L * n + 9L) div 10L + 1L"))
        .withColumn("pi", expr("n - (18L * n + 18L) div 19L + 1L"))
        .select(col("doc_id"), col("n"), col("pi"),
          posexplode(expr("transform(slice(ordered, 1, cast(p as int)), s -> s.tok)")))
        .withColumnRenamed("col", "tok").withColumnRenamed("pos", "i")
    }
    // probe side = the LARGER doc of a pair (full tau-prefix); index side =
    // the smaller doc, cut to its shorter 2tau/(1+tau)-prefix (see scaladoc)
    val a = prefix.select(col("tok"), col("doc_id").as("doc_a"),
      col("n").as("n_a"), col("i").as("i_a"))
    val b = prefix.filter(col("i") < col("pi"))
      .select(col("tok"), col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("i").as("i_b"))
    val cand = a.join(b, Seq("tok"))
      // b strictly smaller under the (n, doc_id) total size order: each
      // unordered pair is generated in exactly one orientation
      .filter((col("n_b") < col("n_a")) ||
        (col("n_b") === col("n_a") && col("doc_b") < col("doc_a")))
      .filter(col("n_b").cast("double") / col("n_a").cast("double") >= threshold &&
        // PPJoin positional filter: with the shared token at 0-based prefix
        // positions (i_a, i_b), the overlap can be at most
        // 1 + min(n_a - i_a - 1, n_b - i_b - 1); pairs whose bound misses
        // the required overlap ceil(tau/(1+tau)*(n_a+n_b)) = (9(na+nb)+18) div 19
        // are dropped MAP-SIDE, before the distinct shuffle
        lit(1L) + least(col("n_a") - col("i_a") - 1L, col("n_b") - col("i_b") - 1L) >=
          expr("(9L * (n_a + n_b) + 18L) div 19L"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    cand
      .join(t.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("n").as("n_b")), Seq("doc_b"))
      // bounded verify: the integer-exact floor of the tau = 0.9 overlap
      // requirement ((9(na+nb)+18) div 19 is the ceiling) — on this
      // near-dup-saturated corpus ~98% of candidates fail the threshold
      // (1.73M candidates -> 29k true pairs at sf0.1), and the abort
      // learns that in the first mismatching ~5% of the merge scan
      .withColumn("inter", sorted_intersect_at_least(col("toks_a"), col("toks_b"),
        expr("(9L * (n_a + n_b)) div 19L")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[prefixJoinPairs]]: the same min-id token-set
    * collapse, then the NAIVE corpus-wide quadratic join — see the
    * operator scaladoc for why replicating the prefix filter here would
    * weaken the check. */
  val prefixJoinPairsSql: String =
    """WITH tok AS (
      |  SELECT list_sort(list_distinct(string_split(text, ' '))) AS t,
      |    min(doc_id) AS doc_id
      |  FROM documents GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) /
      |    CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) AS jaccard
      |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin

  /** Asymmetric CONTAINMENT near-dup pairs — the doc-embedded-in-doc case
    * symmetric Jaccard structurally misses: a paragraph quoted inside a
    * much larger page has tiny Jaccard (union is the page) but containment
    * |A∩B| / min(|A|,|B|) = 1.0. Shingle-set based (the same 48-bit hashed
    * 3-word shingles as the minhash family, so "contained" means contiguous
    * phrasing, not just shared vocabulary), blocked by `source` like
    * [[jaccardPairs]] — the per-block exact baseline. No size-ratio prune
    * exists here BY DEFINITION (the interesting pair is exactly the
    * size-skewed one), which is why this stays a per-block scan; the
    * corpus-wide sampled variant of the same signal is
    * [[TextAnalysis.winnowingPairs]] (a shared substring of winnowing
    * length always yields shared fingerprints regardless of the size
    * skew). */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    import graft.functions.SketchHashes.shingle_hashes
    val t = Tables.fanOut(docs).select(col("doc_id"), col("source"),
      shingle_hashes(col("text"), 3).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
    val a = t.select(col("doc_id").as("doc_a"), col("source"),
      col("shs").as("shs_a"), col("n").as("n_a"))
    val b = t.select(col("doc_id").as("doc_b"), col("source"),
      col("shs").as("shs_b"), col("n").as("n_b"))
    a.join(b, Seq("source")).filter(col("doc_a") < col("doc_b"))
      // bounded verify: containment-t demands inter >= ceil(t*min(n)); its
      // floor is a sound abort bound
      .withColumn("inter", sorted_intersect_at_least(col("shs_a"), col("shs_b"),
        floor(lit(threshold) * least(col("n_a"), col("n_b")).cast("double")).cast("long")))
      .withColumn("containment", col("inter").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[containmentPairs]] (threshold 0.9): the same
    * hashed-shingle sets, per-source pairs, intersection over the smaller
    * set. */
  val containmentPairsSql: String =
    """WITH sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(
      |    CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |      ELSE [text] END,
      |    s -> ('0x' || substr(md5(s), 1, 12))::BIGINT)) AS shs
      |  FROM (SELECT doc_id, text, source, string_split(text, ' ') AS t FROM documents)),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
      |    CAST(least(len(a.shs), len(b.shs)) AS DOUBLE) AS containment
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, containment FROM p WHERE containment >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  private val NumHashes = 32
  private val BandRows = LshPlan.plan(NumHashes, 0.8)._2 // 8 bands x 4 rows

  /** Engine-portable hashing for the sketch paths, chosen so a SQL oracle
    * can reproduce every intermediate with exact 64-bit integer arithmetic:
    *
    *   - base hashes are md5 prefixes parsed as integers (md5 exists, and is
    *     bit-identical, in every engine);
    *   - per-seed minhash permutations are the textbook universal family
    *     `h_i(s) = (a_i * s + b_i) mod p` with p = 2^61 - 1 (prime). With
    *     s < 2^48 and a_i < 2^14 every intermediate stays below 2^63, so
    *     the same expression is overflow-free BIGINT math in any engine —
    *     and one multiply-add per element is CHEAPER than re-hashing.
    *
    * The constants are fixed arbitrary members of the family (the md5 base
    * hash supplies the uniformity); they are interpolated verbatim into the
    * oracle SQL, so operator and oracle share one source of truth. */
  private[operators] val MinHashP: Long = 2305843009213693951L // 2^61 - 1
  // FULL 61-bit multipliers (golden/mix constants spread by seed index,
  // reduced mod p at init): a small multiplier never wraps `a*s + b` past
  // p for 48-bit shingle hashes, which makes the map ORDER-PRESERVING and
  // collapses every minhash to the global-min shingle (zero bands shared
  // by near-dups that differ in their minimum — the r10 gate leak). Both
  // engines consume the INTERPOLATED LITERAL values, with the multiply in
  // 128 bits (SketchHashes.mulModM61 / DuckDB HUGEINT).
  private[operators] def hashA(i: Int): Long =
    ((BigInt("9E3779B97F4A7C15", 16) * (i + 1)) mod BigInt(MinHashP - 1)).toLong + 1L
  private[operators] def hashB(i: Int): Long =
    ((BigInt("C2B2AE3D27D4EB4F", 16) * (i + 1)) mod BigInt(MinHashP)).toLong

  /** Per-doc distinct 3-word shingle set as a SORTED BIGINT array: shingles
    * are hashed to 48-bit ints at build time (map-side, no explode/shuffle),
    * so every downstream op — minhash signatures, banding, the verify merge
    * scan — moves 8-byte hashes instead of ~20-byte strings. Set semantics
    * are preserved modulo 48-bit collisions (~n²/2⁴⁹ over the shingle
    * vocabulary — harmless, and both engines collide identically since the
    * oracle computes the same hashes: the first 12 hex chars of
    * md5(shingle), built in one codegen'd pass per document
    * ([[graft.functions.SketchHashes.shingle_hashes]]). */
  private def shingleArrays(docs: DataFrame): DataFrame = {
    import graft.functions.SketchHashes.shingle_hashes
    docs.select(col("doc_id"), shingle_hashes(col("text"), 3).as("shs"))
  }

  /** Banded LSH buckets `(doc_id, band, sig)` for a set-per-doc frame. The
    * band signature is md5 over the comma-joined row hashes — a fixed
    * 16-byte join key reproducible by the oracle. All `NumHashes` minima
    * come from ONE codegen'd traversal of the shingle array
    * ([[graft.functions.SketchHashes.affine_min_hashes]]) instead of 32
    * interpreted `array_min(transform(...))` passes. */
  private def minhashBuckets(sets: DataFrame): DataFrame = {
    import graft.functions.SketchHashes.affine_min_hashes
    val seeds = 0 until NumHashes
    val sigs = sets.select(col("doc_id"),
      affine_min_hashes(col("shs"), seeds.map(hashA), seeds.map(hashB), MinHashP).as("hs"))
    val bands = (0 until NumHashes / BandRows).map { b =>
      val cols = (b * BandRows until (b + 1) * BandRows)
        .map(i => element_at(col("hs"), i + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*).cast("binary")).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.sig"))
  }

  /** MinHash + LSH near-dup pairs: exact-dup collapse → 3-word shingles →
    * 32 minhashes → 8 banded signatures → candidate pairs per band bucket →
    * exact shingle-set Jaccard verify (the quantity MinHash estimates, so
    * band recall theory applies: P(candidate | j=0.8) = 1-(1-0.8⁴)⁸ ≈ 0.985)
    * → member-level expansion. Banding keeps candidate generation linear-ish
    * in the number of DISTINCT texts ([[dupGroups]]); residual degenerate
    * buckets are dropped at `bucketCap` ([[minhashOversizedBuckets]] lists
    * them). Every stage is exact integer / md5 arithmetic, so
    * [[minhashPairsSql]] reproduces the full pipeline and the query is
    * oracle hash-checked. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    minhashPairsUnordered(docs, threshold, bucketCap).orderBy("doc_a", "doc_b")

  /** [[minhashPairs]] without the presentation sort — the form consumers
    * like [[clusters]] build on. */
  private def minhashPairsUnordered(docs: DataFrame, threshold: Double,
      bucketCap: Int): DataFrame = {
    val groups = PinnedCaches.pin(dupGroups(docs))
    val repPairs = minhashRepPairs(groups, threshold, bucketCap)
    expandPairs(repPairs, groups, "jaccard", groups.withColumn("jaccard", lit(1.0)))
  }

  /** Verified representative-level minhash pairs `(doc_a, doc_b, jaccard)`
    * over an already-collapsed [[dupGroups]] frame — the shared core of
    * [[minhashPairs]] (which expands members) and [[incremental]] (which
    * folds them into per-batch-doc novelty). */
  private def minhashRepPairs(groups: DataFrame, threshold: Double,
      bucketCap: Int): DataFrame = {
    // Both pins span multiple consumers inside this one query (groups:
    // shingles + expansion; sets: signatures + both verify sides); they are
    // registered with PinnedCaches so repeated calls over the same corpus
    // share one materialization and PinnedCaches.release drops them.
    // map-side signatures: min over the shingle array per hash seed — no
    // explode, no shuffle until the (tiny) band-bucket join.
    val sets = PinnedCaches.pin(shingleArrays(groups.select("doc_id", "text")))
    val buckets = capBuckets(minhashBuckets(sets), Seq("band", "sig"), bucketCap)

    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // the verified pair set is pinned too: it is tiny (near-dup pairs at
    // threshold), but the chain BEHIND it (bucket self-join + distinct +
    // shingle verify) is the family's most expensive stage, and several
    // consumers evaluate the frame more than once per query —
    // [[incremental]] unions both orientations, [[minhashPairs]] feeds it
    // to the member expansion join twice. One materialization serves
    // minhash_pairs, clusters, incremental, and the bench's repeat runs.
    PinnedCaches.pin(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), Seq("doc_b"))
      .withColumn("inter", sorted_intersect_at_least(col("shs_a"), col("shs_b"),
        jaccardMinInter(threshold,
          size(col("shs_a")).cast("long"), size(col("shs_b")).cast("long"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard"))
  }

  /** Maximum large-star/small-star iterations before [[componentsOf]] gives
    * up: the alternation converges in O(log² n) iterations in the worst
    * case and single digits on real similarity graphs (the sf0.1 embedding
    * LSH graph's 444-node diameter-42 component converges in ~5); 64 is far
    * above anything a real corpus produces. */
  private val MaxClusterRounds = 64

  /** Connected components of an undirected similarity graph by alternating
    * LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC 2014) — the shared core of [[clusters]]
    * (minhash text graph, over representatives) and
    * [[Similarity.embedClusters]] (embedding LSH graph).
    *
    * State is an EDGE LIST, canonically oriented (u, v) with u > v — every
    * row is O(1) regardless of component size. Per iteration:
    *   - large-star: each node x links its strictly-larger neighbors to
    *     m = min(Γ(x) ∪ {x});
    *   - small-star: on the (larger → smaller) orientation, each node u
    *     links itself and its smaller neighbors to their minimum.
    * The alternation strictly contracts toward star graphs rooted at each
    * component's minimum id; edge count never grows (each input edge maps
    * to exactly one output edge, then duplicates collapse). This is the
    * skew-proof successor to the previous Hash-to-Min loop, whose fixpoint
    * held each ENTIRE component in one collect_set row at the min node — a
    * single-task O(|component|) hotspot for giant components at 100 TB.
    * Here the per-node work is a map-side-combinable `min` plus an
    * edge-keyed join; a giant component is just many O(1) rows.
    *
    * Each iteration ends in `localCheckpoint(eager)`: an iterative
    * DataFrame loop otherwise accumulates every previous round in its
    * logical plan and re-plans the whole chain each iteration — the
    * standard Spark iterative-algorithm pitfall (GraphFrames checkpoints
    * for the same reason). Only nodes with at least one edge iterate;
    * singletons rejoin at the end labeled with themselves.
    *
    * Convergence is detected by a per-iteration CHECKSUM of the (already
    * checkpointed) canonical edge set — `(row count, Σ xxhash64(u, v))` —
    * compared to the previous iteration's: one small aggregate job per
    * round instead of a full-outer join of consecutive states plus a
    * count. The alternation reaches an exact fixpoint (the edge set stops
    * changing), so checksum equality ⇔ fixpoint up to a ~2^-64 per-round
    * hash-collision chance; MaxClusterRounds still backstops. The sum runs
    * in decimal(38,0) because a BIGINT sum of full-range xxhash64 values
    * overflows (ANSI).
    *
    * Deterministic end to end (pure min arithmetic), so the DuckDB oracles
    * replay the same partition with a recursive CTE.
    *
    * `ids` must have one column `id`; `pairs` columns `a`, `b`. Returns
    * `(id, cluster_id)` where `cluster_id` is the component's minimum id. */
  private[operators] def componentsOf(ids: DataFrame, pairs: DataFrame): DataFrame = {
    var edges = pairs.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .dropDuplicates("u", "v")
      .localCheckpoint(true)
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var prev = checksum(edges)
    var converged = prev._1 == 0L
    var rounds = 0
    while (!converged && rounds < MaxClusterRounds) {
      // large-star: for each node x, link neighbors n > x to min(Γ⁺(x));
      // the emitted (n, m) is already canonical since n > x ≥ m
      val sym = edges.select(col("u").as("x"), col("v").as("n"))
        .unionAll(edges.select(col("v").as("x"), col("u").as("n")))
      val mins = sym.groupBy("x").agg(min("n").as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      // NOT deduplicated between the stars (r13): `min` is duplicate-
      // insensitive and the round's final dropDuplicates restores the set,
      // so the intermediate (u, v) dedup bought nothing semantically and
      // cost a full exchange per round. Volume stays bounded — sym keeps
      // exactly one orientation per edge under n > x, so |large| ≤ |E|.
      // Both consumers below repartition by u, and the identical subtrees
      // collapse into one computation via exchange reuse.
      val large = sym.join(mins, Seq("x")).filter(col("n") > col("x"))
        .select(col("n").as("u"), col("m").as("v"))
      // small-star on the canonical (larger → smaller) orientation: link u
      // and every smaller neighbor to the group minimum
      val mins2 = large.groupBy("u").agg(min("v").as("m"))
      val next = large.join(mins2, Seq("u")).filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins2.select(col("u"), col("m").as("v")))
        .dropDuplicates("u", "v")
        .localCheckpoint(true)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      edges = next
      rounds += 1
    }
    require(converged, s"large-star/small-star did not converge in $MaxClusterRounds rounds")
    // at the star fixpoint every non-root u carries exactly (u, root);
    // roots and singletons label themselves
    val labels = edges.groupBy("u").agg(min("v").as("m"))
      .select(col("u").as("id"), col("m"))
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("m"), col("id")).as("cluster_id"))
  }

  /** Near-duplicate CLUSTERS — the stage the pair lists exist for: connected
    * components of the [[minhashPairs]] similarity graph, with the dedup
    * decision (keep each component's minimum doc id). One row per document:
    * `(doc_id, cluster_id, kept)` where `cluster_id` is the component's
    * minimum member id and `kept` marks the representative (singletons keep
    * themselves).
    *
    * Components are computed by [[componentsOf]] over REPRESENTATIVES
    * only: exact copies collapse into their [[dupGroups]] group before the
    * graph is built, members inherit their representative's component
    * afterwards. The label needs no translation — every representative is
    * its group's minimum member and the component label is the minimum
    * representative, so the rep-level label IS the minimum member id. On a
    * duplicate-heavy corpus this is the difference between propagating
    * over d²/2 member pairs and over the handful of rep pairs (the same
    * collapse [[minhashPairs]] relies on, applied to the graph stage).
    * Deterministic, so the DuckDB oracle ([[clustersSql]]) reproduces it
    * with a recursive CTE over the member-level pair list — member
    * reachability and rep reachability partition identically. */
  def clusters(docs: DataFrame, threshold: Double = 0.8,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    // memo-pinned like the other working sets — the star-contraction CC loop is
    // EAGER (it runs jobs at construction) and ends in a checkpoint RDD no
    // plan-keyed cache can deduplicate, so without the memo every consumer
    // (the registry query, pipeline_e2e_near, repeated bench runs) would
    // re-propagate the whole component graph
    PinnedCaches.memo(docs, s"dedup_clusters:$threshold:$bucketCap") {
      val groups = PinnedCaches.pin(dupGroups(docs))
      val repPairs = minhashRepPairs(groups, threshold, bucketCap)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val repCC = componentsOf(groups.select(col("doc_id").as("id")), repPairs)
      groups.select(col("doc_id").as("id"), explode(col("member_ids")).as("doc_id"))
        .join(repCC, Seq("id"))
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") === col("doc_id")).as("kept"))
    }.orderBy("doc_id")

  /** DuckDB oracle for [[minhashPairs]]: the same dup-collapse → shingle
    * hash → 32 affine minhashes → 8 band signatures → cap → candidate join →
    * exact verify → member expansion, with the affine constants interpolated
    * from the single source of truth above. */
  /** The [[minhashPairsSql]] CTE chain (dup-collapse through the
    * member-expanded `crossp`/`intra` pair CTEs), shared with
    * [[clustersSql]]. */
  private[operators] val minhashPairsCoreSql: String = {
    val hashDefs = (0 until NumHashes).map(i =>
      // HUGEINT: the 61-bit multiplier times a 48-bit shingle hash
      // overflows BIGINT; the 128-bit product reduces exactly like
      // SketchHashes.mulModM61
      s"    list_min(list_transform(shs, s -> CAST((${hashA(i)}::HUGEINT * s + ${hashB(i)}) % $MinHashP AS BIGINT))) AS h$i")
      .mkString(",\n")
    val bandSelects = (0 until NumHashes / BandRows).map { b =>
      val cs = (b * BandRows until (b + 1) * BandRows)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ',' || ")
      s"  SELECT doc_id, $b AS band, md5($cs) AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""g AS (
       |  SELECT min(doc_id) AS doc_id, any_value(text) AS text,
       |    list_sort(list(doc_id)) AS member_ids
       |  FROM documents GROUP BY md5(text)),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    CASE WHEN len(t) >= 3
       |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |      ELSE [text] END,
       |    s -> ('0x' || substr(md5(s), 1, 12))::BIGINT)) AS shs
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM g)),
       |sigs AS (SELECT doc_id,
       |$hashDefs
       |  FROM sh),
       |bk AS (
       |$bandSelects),
       |bkc AS (SELECT doc_id, band, sig FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, sig) AS bn FROM bk) WHERE bn <= $DefaultBucketCap),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bkc x JOIN bkc y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |repf AS (SELECT * FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
       |    CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a JOIN sh sb ON sb.doc_id = cand.doc_b)
       |  WHERE jaccard >= 0.8),
       |mem AS (SELECT doc_id AS rep_id, unnest(member_ids) AS member FROM g),
       |crossp AS (
       |  SELECT least(ma.member, mb.member) AS doc_a, greatest(ma.member, mb.member) AS doc_b, jaccard
       |  FROM repf JOIN mem ma ON ma.rep_id = repf.doc_a JOIN mem mb ON mb.rep_id = repf.doc_b),
       |intra AS (
       |  SELECT a.member AS doc_a, b.member AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM mem a JOIN mem b ON a.rep_id = b.rep_id AND a.member < b.member)""".stripMargin
  }

  val minhashPairsSql: String =
    s"""WITH $minhashPairsCoreSql
       |SELECT doc_a, doc_b, jaccard FROM crossp
       |UNION ALL SELECT doc_a, doc_b, jaccard FROM intra
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB oracle for [[clusters]]: the minhash-pair chain, then connected
    * components as transitive reachability over the symmetric edge list (a
    * recursive CTE — UNION-dedup guarantees termination), labeling each doc
    * with the minimum reachable id. */
  val clustersSql: String =
    s"""WITH RECURSIVE $minhashPairsCoreSql,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM crossp
       |  UNION ALL SELECT doc_a, doc_b FROM intra),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, re.r FROM reach re JOIN edges e ON e.a = re.id)
       |SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS kept
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** Window length for [[spans]]: 24 bytes ≈ 5 words of this corpus — long
    * enough that a repeated window is real shared content, short enough
    * that partial overlaps (not just whole near-dup documents) surface. */
  private val SpanWindowBytes = 24

  /** Duplicated-SPAN detection — substring-level dedup in the style of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
    * 2022): for every document, the maximal spans covered by `k`-byte
    * windows whose content occurs MORE THAN ONCE in the corpus (in another
    * document or elsewhere in the same one), plus the duplicated-byte
    * fraction and the keep decision. Document-level dedup ([[exact]],
    * [[minhashPairs]]) misses exactly this case — a unique page wrapping a
    * boilerplate block; span-level detection finds the block itself.
    *
    * Where the paper builds a suffix array, the distributed shape here is
    * window fingerprinting: each k-byte window's Rabin-Karp hash
    * ([[graft.functions.RollingHashesExpr]] — O(1) per window, one linear
    * pass per doc) is counted corpus-wide, positions whose hash count
    * exceeds 1 are duplicated, and overlapping/adjacent duplicated windows
    * merge into maximal spans (a shared substring of length L ≥ k yields
    * L − k + 1 consecutive duplicated windows = one span of exactly L
    * bytes). Hashing is exact modulo 2^61−1 ([[graft.functions.RollingHashes]]
    * — expected phantom-dup window pairs ≈ W²/2^62 corpus-wide, negligible
    * even at 100 TB; see the collision analysis there), and both engines
    * compute the identical polynomial, so [[spansSql]] is hash-exact.
    *
    * All accounting is in BYTES: window positions come from the UTF-8
    * rolling hash, `n_bytes` is `octet_length`, and the [[spansClean]] cut
    * slices the UTF-8 byte stream — so the operator is consistent on
    * arbitrary multibyte input (a span boundary inside a multibyte
    * character cuts at the byte, the Lee et al. suffix-array semantics).
    *
    * 100 TB notes: the hash-count aggregation is the honest cost of
    * substring-level dedup (the suffix array it stands in for costs ~8
    * bytes/byte too) — it partial-aggregates map-side and shuffles
    * (hash, count) pairs, never text; the count>1 side then joins back on
    * the hash (both sides already partitioned by it). The span merge is a
    * map-side fold over each doc's sorted duplicated positions — no
    * per-position window functions. [[TextAnalysis.winnowingPairs]] is the
    * SAMPLED variant of the same signal when full window counting is too
    * heavy. */
  def spans(docs: DataFrame, k: Int = SpanWindowBytes,
      keepMaxFrac: Double = 0.5): DataFrame = {
    import graft.functions.RollingHashes.rolling_hashes
    val base = Tables.fanOut(docs).select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      rolling_hashes(col("text"), k).as("rh"))
    // duplicate marking rides ONE keyed window over the single exploded
    // frame — the former groupBy-then-self-join consumed `pos` twice, and
    // each consumer re-ran the scan + rolling hashes + explode (the shuffle
    // volume is the same either way: the position frame moves once on `h`;
    // per-h window groups are occurrence counts, tiny by construction)
    val wH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val pos = base.select(col("doc_id"), posexplode(col("rh")).as(Seq("p", "h")))
    val dupPos = pos.withColumn("c", count(lit(1)).over(wH))
      .filter(col("c") > 1)
      .groupBy("doc_id").agg(sort_array(collect_list(col("p"))).as("ps"))
    // one fold computes both the span count and the covered-byte union:
    // window i adds min(k, p_i − p_{i−1}) new bytes and starts a new span
    // iff the gap exceeds k; the -(k+1) seed makes the first window
    // contribute k bytes and one span through the same two branches.
    val fold = expr(
      s"""aggregate(coalesce(ps, CAST(array() AS ARRAY<INT>)),
         |  named_struct('pp', CAST(${-(k + 1)} AS BIGINT), 'ns', 0L, 'cov', 0L),
         |  (acc, x) -> named_struct('pp', CAST(x AS BIGINT),
         |    'ns', acc.ns + IF(CAST(x AS BIGINT) - acc.pp > $k, 1L, 0L),
         |    'cov', acc.cov + least(CAST($k AS BIGINT), CAST(x AS BIGINT) - acc.pp)),
         |  acc -> struct(acc.ns AS ns, acc.cov AS cov))""".stripMargin)
    base.select("doc_id", "n_bytes").join(dupPos, Seq("doc_id"), "left")
      .withColumn("st", fold)
      .select(col("doc_id"), col("n_bytes"),
        col("st.ns").as("dup_spans"), col("st.cov").as("dup_bytes"))
      .withColumn("dup_frac", col("dup_bytes").cast("double") / col("n_bytes"))
      .withColumn("keep", col("dup_frac") <= keepMaxFrac)
      .orderBy("doc_id")
  }

  /** The byte-domain window-hash CTE chain shared by [[spansSql]] and
    * [[spansCleanSql]]: the UTF-8 byte stream as a hex string (2 hex chars
    * per byte — DuckDB has no BLOB substring, so hex is the byte-accurate
    * representation), each k-byte window hash recomputed as the left fold
    * `(acc * 257 + byte) mod (2^61−1)` in 128-bit HUGEINT — exactly the
    * polynomial [[graft.functions.RollingHashes]] rolls in O(1)/window. */
  private def spanHashCoreSql(k: Int): String = {
    val (p, b) = (graft.functions.RollingHashes.Mod, graft.functions.RollingHashes.Base)
    s"""dx AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
       |  FROM documents),
       |rh AS (
       |  SELECT doc_id, list_transform(range(0, nb - $k + 1), i ->
       |    list_reduce(
       |      list_transform(range(0, $k), j ->
       |        ('0x' || substr(hx, CAST(2 * (i + j) + 1 AS INT), 2))::BIGINT),
       |      (a, c) -> CAST((CAST(a AS HUGEINT) * $b + c) % $p AS BIGINT))) AS hs
       |  FROM dx WHERE nb >= $k),
       |pos AS (SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) - 1 AS p FROM rh),
       |dup AS (SELECT h FROM (SELECT h, count(*) AS c FROM pos GROUP BY h) WHERE c > 1)""".stripMargin
  }

  /** DuckDB oracle for [[spans]] (defaults k=24, keep ≤ 0.5): the shared
    * byte-domain hash chain ([[spanHashCoreSql]]), then the same count>1
    * mark and gaps-and-islands span merge — positions and lengths in bytes. */
  val spansSql: String = {
    val k = SpanWindowBytes
    s"""WITH ${spanHashCoreSql(k)},
       |dp AS (SELECT doc_id, p FROM pos JOIN dup USING (h)),
       |win AS (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp FROM dp),
       |agg AS (SELECT doc_id,
       |    sum(CASE WHEN pp IS NULL OR p - pp > $k THEN 1 ELSE 0 END) AS dup_spans,
       |    sum(CASE WHEN pp IS NULL THEN $k ELSE least($k, p - pp) END) AS dup_bytes
       |  FROM win GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.nb AS BIGINT) AS n_bytes,
       |  CAST(coalesce(dup_spans, 0) AS BIGINT) AS dup_spans,
       |  CAST(coalesce(dup_bytes, 0) AS BIGINT) AS dup_bytes,
       |  CAST(coalesce(dup_bytes, 0) AS DOUBLE) / d.nb AS dup_frac,
       |  (CAST(coalesce(dup_bytes, 0) AS DOUBLE) / d.nb <= 0.5) AS keep
       |FROM dx d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Substring-dedup as a TRANSFORM — the cut [[spans]] only reports:
    * every duplicated `k`-byte window keeps its globally-FIRST occurrence
    * (minimum (doc_id, position) — one `min(struct)` per hash, no ranking
    * window) and is removed everywhere else; per document the removed
    * windows merge into maximal spans and the kept byte ranges concatenate
    * back into `clean_text`. Exact copies collapse to the first doc's full
    * text and empty strings elsewhere; internal repetition R+R collapses
    * to one R; a boilerplate block survives only where it first appeared —
    * the single-pass cut of Lee et al. 2022, window-fingerprint form.
    *
    * The span merge AND the cut are ONE fold over each doc's sorted
    * removed positions (state: open span, cut watermark, rebuilt string) —
    * pure map-side work after the (hash-keyed, map-side-combined) keeper
    * aggregation and position join. Deterministic, so [[spansCleanSql]]
    * replays it hash-exactly. */
  def spansClean(docs: DataFrame, k: Int = SpanWindowBytes): DataFrame = {
    import graft.functions.RollingHashes.rolling_hashes
    val base = Tables.fanOut(docs).select(col("doc_id"), col("text"),
      rolling_hashes(col("text"), k).as("rh"))
    // same one-window discipline as [[spans]]: occurrence count AND the
    // canonical keeper both ride ONE keyed window over the single exploded
    // frame (the former groupBy + self-join re-ran scan + hashes + explode
    // per consumer); the keeper is min(struct(doc_id, p)) — identical to
    // the aggregated form
    val wH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val pos = base.select(col("doc_id"), posexplode(col("rh")).as(Seq("p", "h")))
    val rm = pos
      .withColumn("c", count(lit(1)).over(wH))
      .withColumn("kk", min(struct(col("doc_id"), col("p"))).over(wH))
      .filter(col("c") > 1 &&
        !(col("doc_id") === col("kk.doc_id") && col("p") === col("kk.p")))
      .groupBy("doc_id").agg(sort_array(collect_list(col("p"))).as("ps"))
    // one pass over the sorted positions: extend the open span while the
    // next window touches it (p <= e), else flush the kept bytes before it
    // and open a new span; finish flushes the last span and the tail. The
    // cut slices `tb` — the UTF-8 BYTE stream — because the rolling-hash
    // positions are byte offsets; a char-indexed substring would misalign
    // on any multibyte document.
    val fold = expr(
      s"""aggregate(ps,
         |  named_struct('s', CAST(-1 AS BIGINT), 'e', CAST(-1 AS BIGINT),
         |               'ce', 0L, 'sb', CAST('' AS BINARY)),
         |  (acc, x) -> CASE
         |    WHEN acc.s < 0 THEN
         |      named_struct('s', CAST(x AS BIGINT), 'e', CAST(x AS BIGINT) + $k,
         |                   'ce', acc.ce, 'sb', acc.sb)
         |    WHEN CAST(x AS BIGINT) <= acc.e THEN
         |      named_struct('s', acc.s, 'e', CAST(x AS BIGINT) + $k,
         |                   'ce', acc.ce, 'sb', acc.sb)
         |    ELSE named_struct('s', CAST(x AS BIGINT), 'e', CAST(x AS BIGINT) + $k,
         |                   'ce', acc.e,
         |                   'sb', concat(acc.sb, substring(tb, CAST(acc.ce + 1 AS INT),
         |                                CAST(acc.s - acc.ce AS INT)))) END,
         |  acc -> CAST(concat(acc.sb,
         |    substring(tb, CAST(acc.ce + 1 AS INT), CAST(acc.s - acc.ce AS INT)),
         |    substring(tb, CAST(acc.e + 1 AS INT), CAST(octet_length(tb) AS INT))) AS STRING))""".stripMargin)
    base.select("doc_id", "text").join(rm, Seq("doc_id"), "left")
      .withColumn("tb", col("text").cast("binary"))
      .withColumn("clean_text", when(col("ps").isNull, col("text")).otherwise(fold))
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"),
        col("clean_text"),
        (octet_length(col("text")) - octet_length(col("clean_text"))).cast("long").as("removed_bytes"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[spansClean]] (k=24): the shared byte-domain hash
    * chain ([[spanHashCoreSql]]), the keeper via ROW_NUMBER over
    * (doc_id, p), removed-window islands, and the kept-range complement
    * concatenated as HEX substrings (2 hex chars per byte — the
    * byte-accurate cut) then decoded back to text; zero-length pieces
    * contribute ''. */
  val spansCleanSql: String = {
    val k = SpanWindowBytes
    s"""WITH ${spanHashCoreSql(k)},
       |keep AS (SELECT h, doc_id AS kd, p AS kp FROM (
       |  SELECT h, doc_id, p, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
       |  FROM pos JOIN dup USING (h)) WHERE rn = 1),
       |rm AS (
       |  SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (h)
       |  LEFT JOIN keep ON keep.h = pos.h AND keep.kd = pos.doc_id AND keep.kp = pos.p
       |  WHERE keep.h IS NULL),
       |win AS (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp FROM rm),
       |isl AS (SELECT doc_id, p, sum(CASE WHEN pp IS NULL OR p - pp > $k THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY p) AS g FROM win),
       |spans AS (SELECT doc_id, min(p) AS s, max(p) + $k AS e FROM isl GROUP BY doc_id, g),
       |pieces AS (
       |  SELECT sp.doc_id,
       |    coalesce(lag(e) OVER (PARTITION BY sp.doc_id ORDER BY s), 0) AS ks,
       |    s AS ke
       |  FROM spans sp
       |  UNION ALL
       |  SELECT doc_id, max(e), NULL FROM spans GROUP BY doc_id),
       |clean AS (
       |  SELECT pc.doc_id,
       |    string_agg(substr(d.hx, CAST(2 * ks + 1 AS INT),
       |      CAST(2 * (coalesce(ke, d.nb) - ks) AS INT)), '' ORDER BY ks) AS chex
       |  FROM pieces pc JOIN dx d USING (doc_id)
       |  GROUP BY pc.doc_id)
       |SELECT dd.doc_id, CAST(d.nb AS BIGINT) AS n_bytes,
       |  CASE WHEN c.chex IS NULL THEN dd.text ELSE decode(unhex(c.chex)) END AS clean_text,
       |  CAST(d.nb - coalesce(len(c.chex) // 2, d.nb) AS BIGINT) AS removed_bytes
       |FROM documents dd JOIN dx d USING (doc_id) LEFT JOIN clean c USING (doc_id)
       |ORDER BY dd.doc_id""".stripMargin
  }

  /** INCREMENTAL dedup — the batch-ingest novelty gate (the batch twin of
    * [[graft.streaming.StreamingDedup]], extended from exact to NEAR-dup
    * matching): given a corpus split into an EXISTING side and a NEW batch
    * (`batchCol`; default: odd doc_ids are today's batch, even ids
    * yesterday's snapshot), report for every batch document its best match
    * in the existing corpus — `(doc_id, best_match, best_jaccard, novel)`
    * where `novel` marks batch docs with no existing match at `threshold`
    * (exact copies match at jaccard 1.0 through their [[dupGroups]] group;
    * near-dups through the banded LSH pairs). Only novel docs enter the
    * corpus — the dedup decision an ingest pipeline actually executes.
    *
    * Reuses the [[minhashPairs]] machinery wholesale: the SAME pinned
    * dup-group collapse and shingle sets (one materialization serves both
    * queries), the same capped band-bucket candidate join and exact verify —
    * then, instead of member-pair expansion, a per-batch-member fold: best
    * match = highest jaccard, ties to the lowest existing doc_id (encoded
    * as `min(struct(-jaccard, match))`, one shuffle keyed by the batch
    * doc). At 100 TB the existing side's signatures are precomputed and
    * stored — each batch pays LSH work proportional to the BATCH, not the
    * corpus.
    *
    * CONTRACT: batch docs are matched against the EXISTING side only —
    * two copies arriving in the same batch are each reported novel.
    * In-batch dedup is deliberately a separate upstream pass ([[exact]] /
    * [[graft.streaming.StreamingDedup.firstOccurrences]]); keeping the
    * tiers separate is what lets the novelty join stay
    * batch-proportional. */
  def incremental(docs: DataFrame, threshold: Double = 0.8,
      bucketCap: Int = DefaultBucketCap,
      batchCol: Column = pmod(col("doc_id"), lit(2)) === 1): DataFrame = {
    val groups = PinnedCaches.pin(dupGroups(docs))
    val repPairs = minhashRepPairs(groups, threshold, bucketCap)

    val members = groups
      .select(col("doc_id").as("rep_id"), explode(col("member_ids")).as("doc_id"))
      .withColumn("is_batch", batchCol)
    val batchMembers = members.filter(col("is_batch")).select("rep_id", "doc_id")
    // each group's lowest existing member — the match id exact copies report
    val existMin = members.filter(!col("is_batch"))
      .groupBy("rep_id").agg(min("doc_id").as("m"))

    // candidate (batch member, existing match, jaccard):
    //  (a) an existing copy in the batch doc's own group → jaccard 1.0;
    //  (b) rep-level near-dup pairs, in both orientations, joined to the
    //      other rep's lowest existing member.
    val intra = batchMembers.join(existMin, Seq("rep_id"))
      .select(col("doc_id"), col("m"), lit(1.0).as("jaccard"))
    val oriented = repPairs.select(col("doc_a").as("rep_id"), col("doc_b").as("other"), col("jaccard"))
      .unionAll(repPairs.select(col("doc_b").as("rep_id"), col("doc_a").as("other"), col("jaccard")))
    val cross = batchMembers.join(oriented, Seq("rep_id"))
      .join(existMin.select(col("rep_id").as("other"), col("m")), Seq("other"))
      .select(col("doc_id"), col("m"), col("jaccard"))

    val best = intra.unionAll(cross)
      .groupBy("doc_id")
      .agg(min(struct((-col("jaccard")).as("nj"), col("m").as("m"))).as("b"))
      .select(col("doc_id"), col("b.m").as("best_match"), (-col("b.nj")).as("best_jaccard"))
    // batch-bounded best table → broadcast left join (see bestMatchAgainst)
    Tables.fanOut(docs).filter(batchCol).select("doc_id")
      .join(broadcast(best), Seq("doc_id"), "left")
      .withColumn("novel", col("best_jaccard").isNull)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[incremental]] at the defaults: the member-level
    * minhash pair chain (crossp ∪ intra from [[minhashPairsSql]]'s core),
    * oriented batch→existing by the parity split, best match per batch doc
    * by (jaccard DESC, match ASC). */
  val incrementalSql: String =
    s"""WITH $minhashPairsCoreSql,
       |pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM crossp
       |  UNION ALL SELECT doc_a, doc_b, jaccard FROM intra),
       |bcand AS (
       |  SELECT doc_a AS doc_id, doc_b AS m, jaccard FROM pairs
       |  WHERE doc_a % 2 = 1 AND doc_b % 2 = 0
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_a AS m, jaccard FROM pairs
       |  WHERE doc_b % 2 = 1 AND doc_a % 2 = 0),
       |best AS (SELECT doc_id, m AS best_match, jaccard AS best_jaccard FROM (
       |  SELECT doc_id, m, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, m) AS rn
       |  FROM bcand) WHERE rn = 1)
       |SELECT d.doc_id, best_match, best_jaccard, best_jaccard IS NULL AS novel
       |FROM documents d LEFT JOIN best USING (doc_id)
       |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin

  /** DuckDB oracle for the `dedup_index_refresh` registry row — the
    * INDEX-LIFECYCLE gate on a 3-way split: corpus = doc_id%3==0 (indexed
    * from scratch), fold batch = %3==1 (folded in through a
    * [[RefreshableCorpusIndex]]), gate batch = %3==2 (matched through the
    * REFRESHED index). The oracle knows nothing about the refresh: it
    * orients the same member-level pair chain batch(2)→existing(0∪1), so
    * the hash gate validates that the incrementally-folded index answers
    * exactly like a from-scratch build over the union corpus. */
  val indexRefreshSql: String =
    s"""WITH $minhashPairsCoreSql,
       |pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM crossp
       |  UNION ALL SELECT doc_a, doc_b, jaccard FROM intra),
       |bcand AS (
       |  SELECT doc_a AS doc_id, doc_b AS m, jaccard FROM pairs
       |  WHERE doc_a % 3 = 2 AND doc_b % 3 < 2
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_a AS m, jaccard FROM pairs
       |  WHERE doc_b % 3 = 2 AND doc_a % 3 < 2),
       |best AS (SELECT doc_id, m AS best_match, jaccard AS best_jaccard FROM (
       |  SELECT doc_id, m, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, m) AS rn
       |  FROM bcand) WHERE rn = 1)
       |SELECT d.doc_id, best_match, best_jaccard, best_jaccard IS NULL AS novel
       |FROM documents d LEFT JOIN best USING (doc_id)
       |WHERE d.doc_id % 3 = 2 ORDER BY d.doc_id""".stripMargin

  /** Precomputed EXISTING-corpus side of the stream-vs-corpus NEAR-dup
    * novelty gate ([[bestMatchAgainst]] /
    * [[graft.streaming.StreamingDedup.novelNearCorpusIngest]]): the exact-tier
    * fingerprint table (16-byte md5 → the group's minimum member id), the
    * dup-group representatives' shingle sets (verify side), and their
    * capped LSH band buckets (candidate side). All three are pinned — at
    * 100 TB this is the signature table an ingest pipeline materializes
    * ONCE and every batch/micro-batch joins against, so ingest cost is
    * proportional to the BATCH, never the corpus. */
  final case class CorpusIndex private[operators] (
      fps: DataFrame, sets: DataFrame, buckets: DataFrame,
      fpBloom: DataFrame, bucketBloom: DataFrame, logBloomBits: Int,
      oversized: DataFrame, bucketCap: Int) extends IndexValue[CorpusIndex] {
    private[operators] def frames: Seq[DataFrame] =
      Seq(fps, sets, buckets, fpBloom, bucketBloom, oversized)
    private[graft] def truncated(): CorpusIndex = {
      val t = IndexValue.checkpointed(frames)
      CorpusIndex(t(0), t(1), t(2), t(3), t(4), logBloomBits, t(5), bucketCap)
    }
  }

  private val BloomHashes = 4

  /** Word table `(w, bits)` of a 2^`logBits`-bit Bloom filter over the
    * given key columns: each key sets [[BloomHashes]] salted-xxhash64 bit
    * positions; bits pack 64-per-word so the whole filter is
    * 2^(logBits−6) rows (a few hundred KB at the default — broadcastable
    * however big the keyed corpus is). Built as a plain aggregation: no
    * driver-side collect, no UDF. */
  private[operators] def bloomWords(keys: DataFrame, key: Seq[Column],
      logBits: Int): DataFrame = {
    val nBits = 1L << logBits
    val pos = (0 until BloomHashes).map(j => pmod(xxhash64((key :+ lit(j)): _*), lit(nBits)))
    keys.select(explode(array(pos: _*)).as("p"))
      .select(expr("p div 64").as("w"), expr("cast(p % 64 as int)").as("b"))
      .groupBy("w").agg(bit_or(expr("shiftleft(1L, b)")).as("bits"))
  }

  /** Keep only rows whose key MIGHT be in the Bloom filter `words` — the
    * map-side semi-join reduction ahead of the novelty gate's corpus-index
    * joins: a definite miss (any of the [[BloomHashes]] bits unset) is
    * proven absent from the corpus key set and skips the join entirely.
    * No false negatives, so the gate's RESULT is unchanged — false
    * positives just pay the join they would have paid anyway. Each probe is
    * a broadcast hash join on the word index plus a bit test; all map-side,
    * no shuffle. */
  private[operators] def bloomFiltered(df: DataFrame, key: Seq[Column],
      words: DataFrame, logBits: Int): DataFrame = {
    val nBits = 1L << logBits
    val out = (0 until BloomHashes).foldLeft(df) { (acc, j) =>
      val w = words.select(col("w").as(s"_bw$j"), col("bits").as(s"_bb$j"))
      acc.withColumn(s"_bp$j", pmod(xxhash64((key :+ lit(j)): _*), lit(nBits)))
        .join(broadcast(w), expr(s"_bp$j div 64") === col(s"_bw$j"))
        .filter(expr(s"(shiftright(_bb$j, cast(_bp$j % 64 as int)) & 1) = 1"))
    }
    out.drop((0 until BloomHashes).flatMap(j => Seq(s"_bp$j", s"_bw$j", s"_bb$j")): _*)
  }

  /** Build (and pin) the [[CorpusIndex]] for a static corpus. The bucket
    * cap applies to the CORPUS side: a degenerate corpus bucket (> cap
    * distinct texts behind one band signature) is skipped, so an incoming
    * doc landing in it finds no candidates there — the same drop rule as
    * [[minhashPairs]]. */
  def corpusIndex(corpus: DataFrame, bucketCap: Int = DefaultBucketCap,
      logBloomBits: Int = 20): CorpusIndex = {
    val groups = PinnedCaches.pin(dupGroups(corpus))
    val fps = PinnedCaches.pin(
      groups.select(md5(col("text")).as("fp"), col("doc_id").as("match_id")))
    val sets = PinnedCaches.pin(shingleArrays(groups.select("doc_id", "text")))
    val buckets = PinnedCaches.pin(
      capBuckets(minhashBuckets(sets), Seq("band", "sig"), bucketCap))
    // Bloom word tables over both join-key sets — the gate's map-side
    // semi-join reduction. 2^20 bits ≈ 1% false positives at 10^5 keys;
    // size logBloomBits ≈ log2(10 × keys) for a larger corpus (the CAPPED
    // bucket table feeds the bucket bloom, so a pruned probe and a missing
    // bucket agree by construction).
    val fpBloom = PinnedCaches.pin(bloomWords(fps, Seq(col("fp")), logBloomBits))
    val bucketBloom = PinnedCaches.pin(
      bloomWords(buckets, Seq(col("band"), col("sig")), logBloomBits))
    // sizes of the buckets the cap DROPPED — the fold's bookkeeping
    // ([[recapTouched]]): a fold landing new docs in a dropped bucket must
    // know the true size (old + new still exceeds the cap), or the index would
    // resurrect the bucket with only its new members and diverge from a
    // from-scratch build. Bounded: only degenerate buckets appear here.
    val oversized = PinnedCaches.pin(minhashBuckets(sets)
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .filter(col("n") > bucketCap))
    CorpusIndex(fps, sets, buckets, fpBloom, bucketBloom, logBloomBits,
      oversized, bucketCap)
  }

  /** One fold's O(batch)-sized pieces ([[segmentFold]]) — what a
    * [[RefreshableCorpusIndex]] checkpoints as a segment and persists as the
    * fold's delta, sufficient (with the previous persisted state) to
    * reconstruct the refreshed index at load:
    * the genuinely-new texts' fingerprints / shingle sets / UNFILTERED band
    * buckets, their Bloom word tables (Blooms fold by OR, so the delta is
    * pure append), the rep re-key map (collision-sized), and the refreshed
    * dropped-bucket size table (tiny — degenerate buckets only; the one
    * non-append component, so each delta carries the whole refreshed
    * table and the latest wins at load). [[CorpusFiles]]`.saveDelta` writes exactly
    * this, which is what makes per-fold persistence O(batch) instead of
    * the O(index) full-snapshot rewrite. */
  final case class IndexDelta private[operators] (
      freshFps: DataFrame, freshSets: DataFrame, freshBuckets: DataFrame,
      fpBloomWords: DataFrame, bucketBloomWords: DataFrame,
      remap: DataFrame, oversized: DataFrame) {
    private[operators] def frames: Seq[DataFrame] =
      Seq(freshFps, freshSets, freshBuckets, fpBloomWords, bucketBloomWords,
        remap, oversized)
  }

  /** Collide/fresh SPLIT of a batch's fingerprints against the index fps
    * table — the first step of every fold, in two scale-adaptive shapes:
    *
    *   - SMALL index (Catalyst size estimate ≤ [[FoldFpShuffleCeiling]]):
    *     the direct inner + anti joins. AQE converts the inner join to a
    *     broadcast at runtime when a side is small, and the shuffles are
    *     bounded by the ceiling — at bench scale this path measures ~0.9 s
    *     faster per fold than the split below (two broadcast build/round
    *     trips cost more than two tiny shuffles);
    *   - LARGE index: the anti join's index side CANNOT be broadcast
    *     (LeftAnti builds right), so the direct shape re-shuffles the
    *     whole fps table every fold. Instead the index is first SHRUNK to
    *     the batch's own fingerprints by a broadcast semi-join (map-side
    *     scan of the pinned table, no shuffle), and the batch-bounded
    *     result broadcasts into both splits (guide §8: decide with small
    *     rows) — fold shuffle work stays O(batch) however big the index.
    *
    * Both shapes are row-identical (the split is on fp ∈ idx.fps ∩ batch
    * either way; FoldSplitSpec pins the equivalence by forcing the large
    * shape on a small corpus). The branch is driven by the plan's OWN size
    * estimate — data-adaptive, not a tuned constant: any corpus-scale
    * index estimates far above the ceiling, and the failure direction of a
    * bad estimate is the status-quo direct join.
    * `-Dgraft.fold.forceSemiJoinSplit=true` forces the large shape (spec
    * hook). Returns (collide `(fp, match_id, new_id)`, freshGroups
    * `(doc_id, text)`). */
  private[operators] val FoldFpShuffleCeiling: Long = 64L << 20

  /** An O(index) component cut to rows whose `key` appears in the
    * batch-bounded `keys` frame — the gates' verify-join guard, same
    * scale-adaptive discipline as [[splitByIndexedFp]]: below the size
    * ceiling the component passes through UNTOUCHED (the verify join is a
    * tiny shuffle, and the batch side converts to a broadcast at runtime
    * via AQE where profitable — measured the faster shape at bench
    * scale); above it the component is semi-joined map-side against the
    * broadcast candidate keys FIRST, so a per-micro-batch gate never
    * shuffles a corpus-sized component (the batch-with-arrays side of the
    * verify join can exceed the broadcast threshold at scale, at which
    * point the planner would otherwise shuffle the corpus per batch).
    * Row-identical by construction — the verify join is an inner
    * equi-join on `key`, so rows outside the candidate key set never
    * contribute. `-Dgraft.gate.forceSemiShrink=true` forces the large
    * shape (spec hook). */
  private[operators] def shrinkToKeys(component: DataFrame, keys: DataFrame,
      key: String): DataFrame = {
    val force = java.lang.Boolean.getBoolean("graft.gate.forceSemiShrink")
    val bytes = component.queryExecution.optimizedPlan.stats.sizeInBytes
    if (!force && bytes <= FoldFpShuffleCeiling) component
    else component.join(
      broadcast(keys.select(col(key)).distinct()), Seq(key), "left_semi")
  }

  private def splitByIndexedFp(newFps: DataFrame, idxFps: DataFrame,
      cache: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val force = java.lang.Boolean.getBoolean("graft.fold.forceSemiJoinSplit")
    val idxBytes = idxFps.queryExecution.optimizedPlan.stats.sizeInBytes
    if (!force && idxBytes <= FoldFpShuffleCeiling) {
      (newFps.join(idxFps, Seq("fp"))
         .select(col("fp"), col("match_id"), col("new_id")),
       newFps.join(idxFps, Seq("fp"), "left_anti")
         .select(col("new_id").as("doc_id"), col("text")))
    } else {
      val fpsCand = cache(idxFps.join(
        broadcast(newFps.select("fp")), Seq("fp"), "left_semi"))
      (newFps.join(broadcast(fpsCand), Seq("fp"))
         .select(col("fp"), col("match_id"), col("new_id")),
       newFps.join(broadcast(fpsCand.select("fp")), Seq("fp"), "left_anti")
         .select(col("new_id").as("doc_id"), col("text")))
    }
  }

  /** Re-key `idCol` through the `(old_id, new_id)` rep re-key map — the
    * shared spelling of the fold and the base+delta load. The remap holds
    * only cross-batch collisions with a smaller arriving id, so it always
    * broadcasts. */
  private[operators] def rekeyWith(remap: DataFrame)(df: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(remap.withColumnRenamed("old_id", idCol)), Seq(idCol), "left")
      .withColumn(idCol, coalesce(col("new_id"), col(idCol)))
      .drop("new_id")

  /** FOLD a batch of new documents into the index `view`: the batch's
    * fresh pieces, such that the view plus these pieces is the index a
    * from-scratch [[corpusIndex]](old corpus ∪ new docs) build produces
    * (same fps / sets / buckets contents; Bloom filters may carry extra
    * stale bits for buckets the fold dropped, which is false-positive-only
    * and result-neutral by [[bloomFiltered]]'s construction). Cost is
    * proportional to the NEW batch, never the corpus:
    *
    *   - exact-dup fold: new docs whose fingerprint already exists join
    *     their group; a new member id SMALLER than the group's current rep
    *     re-keys the rep everywhere (the `remap`) — the min-member contract
    *     survives out-of-order ingest;
    *   - genuinely-new texts group among themselves (first arrival in the
    *     batch wins by min id, exactly [[dupGroups]]), then add their
    *     shingle sets and UNFILTERED band buckets;
    *   - the bucket cap re-applies on TRUE combined sizes
    *     ([[recapTouched]]);
    *   - the Bloom word tables of the fresh keys, OR-ed in by the holder.
    *
    * Every fold-local frame goes through `cache` (the holder's tracked
    * persist, dropped after its checkpoints). */
  private[operators] def segmentFold(view: CorpusIndex, newDocs: DataFrame,
      cache: DataFrame => DataFrame): IndexDelta = {
    val newGroups = cache(dupGroups(newDocs))
    val newFps = newGroups.select(md5(col("text")).as("fp"),
      col("doc_id").as("new_id"), col("text"))
    // scale-adaptive collide/fresh split — see [[splitByIndexedFp]]
    val (collide, freshGroups) = splitByIndexedFp(newFps, view.fps, cache)
    // rep re-key: a smaller member id becomes the group's reported match
    // (and the rep id carried by sets/buckets) — empty under monotone ids
    val remap = cache(collide.filter(col("new_id") < col("match_id"))
      .select(col("match_id").as("old_id"), col("new_id")))
    val freshFps = cache(freshGroups.select(md5(col("text")).as("fp"),
      col("doc_id").as("match_id")))
    val freshSets = cache(shingleArrays(freshGroups))
    val freshBuckets = cache(minhashBuckets(freshSets))
    IndexDelta(freshFps, freshSets, freshBuckets,
      cache(bloomWords(freshFps, Seq(col("fp")), view.logBloomBits)),
      cache(bloomWords(freshBuckets, Seq(col("band"), col("sig")), view.logBloomBits)),
      remap,
      recapTouched(view.buckets, view.oversized, freshBuckets, Seq("band", "sig"),
        view.bucketCap, cache))
  }

  /** The dropped-bucket table after a fold: the bucket cap re-applied on
    * TRUE combined sizes, restricted to the buckets the BATCH touches. A
    * bucket the batch never lands in cannot change state: present stays
    * ≤ cap (its size did not move), dropped stays dropped (sizes only
    * grow, and `oversized` carries its true size through unchanged). So
    * the kept `present` rows are semi-joined map-side against the
    * batch-sized touched keys and only those are counted; a touched
    * bucket's true size is that count (present) or its `oversized` size
    * (dropped), plus the batch's rows. A present bucket pushed over the cap
    * drops whole and a dropped one stays dropped — both exactly as
    * from-scratch — at an O(batch) shuffle per fold (the index's size
    * table is never re-aggregated). Shared by the corpus and embed
    * folds. */
  private[operators] def recapTouched(present: DataFrame, oversized: DataFrame,
      fresh: DataFrame, key: Seq[String], cap: Int,
      cache: DataFrame => DataFrame): DataFrame = {
    val freshSizes = cache(fresh.groupBy(key.map(col): _*).agg(count(lit(1)).as("n")))
    val presentTouched = present
      .join(broadcast(freshSizes.select(key.map(col): _*)), key, "left_semi")
      .groupBy(key.map(col): _*).agg(count(lit(1)).as("n"))
    presentTouched.unionByName(oversized).unionByName(freshSizes)
      .groupBy(key.map(col): _*).agg(sum("n").as("n"))
      .filter(col("n") > cap)
  }

  /** OR-fold a Bloom word table `(w, bits)` that may hold several rows per
    * word (a base plus fresh words). */
  private[operators] def orWords(words: DataFrame): DataFrame =
    words.groupBy("w").agg(bit_or(col("bits")).as("bits"))

  /** An empty `(old_id, new_id)` re-key map. */
  private[operators] def emptyRemap(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("old_id"), col("id").as("new_id"))

  /** Compose the accumulated re-key map with one fold's: the result maps
    * every old id DIRECTLY to its final rep, so ONE broadcast re-key at
    * view time equals the fold-by-fold chain. Sound because domains are
    * disjoint by construction (an id in `r`'s domain was re-keyed away and
    * can never reappear as a current rep for `rn` to re-key), and a chain
    * only ever extends through `r`'s RANGE. Both inputs are
    * collision-sized; the compose is two broadcast joins. */
  private[operators] def composeRemaps(r: DataFrame, rn: DataFrame): DataFrame = {
    val rn2 = rn.select(col("old_id").as("mid"), col("new_id").as("nn"))
    val chained = r.join(broadcast(rn2), col("new_id") === col("mid"), "left")
      .select(col("old_id"), coalesce(col("nn"), col("new_id")).as("new_id"))
    val fresh = rn.join(broadcast(r.select(col("new_id").as("mid"))),
      col("old_id") === col("mid"), "left_anti")
    chained.unionByName(fresh.select("old_id", "new_id"))
  }

  /** The corpus index's persisted artifact ([[IndexFiles.Artifact]]). The
    * replay re-keys by each delta's remap, appends its fresh fps/sets/
    * bucket rows, ORs its Bloom words in, and applies the final
    * dropped-bucket filter ONCE at the end: a bucket's true size only
    * grows, so the latest `oversized` table subsumes every earlier drop,
    * and filter-then-rekey commutes with rekey-then-filter because
    * re-keying never touches the bucket key. Gate decisions and later
    * folds equal the in-memory original's (spec-pinned), and
    * the `dedup_index_delta` registry row pins the gate output against the
    * DuckDB oracle through a base + delta round trip. */
  private[graft] object CorpusFiles extends IndexFiles.Artifact[CorpusIndex, IndexDelta](
      "corpus index",
      Seq("fps", "sets", "buckets", "fp_bloom", "bucket_bloom", "oversized"),
      Seq("fresh_fps", "fresh_sets", "fresh_buckets", "fp_bloom_words",
        "bucket_bloom_words", "remap", "oversized")) {
    protected def baseFrames(idx: CorpusIndex): Seq[DataFrame] = idx.frames
    protected def meta(idx: CorpusIndex): Seq[(String, String)] = Seq(
      "bucket_cap" -> idx.bucketCap.toString,
      "log_bloom_bits" -> idx.logBloomBits.toString)
    protected def deltaFrames(delta: IndexDelta): Seq[DataFrame] = delta.frames
    override protected def detach(loaded: CorpusIndex): CorpusIndex = loaded.truncated()

    protected def replay(c: IndexFiles.Chain,
        pin: DataFrame => DataFrame): CorpusIndex = {
      var fps = c.base("fps")
      var sets = c.base("sets")
      var bucketRows = c.base("buckets")
      var fpW = c.base("fp_bloom")
      var bW = c.base("bucket_bloom")
      var oversized = c.base("oversized")
      c.deltas.foreach { d =>
        val rekey = rekeyWith(d("remap")) _
        fps = rekey(fps, "match_id").unionByName(d("fresh_fps"))
        sets = rekey(sets, "doc_id").unionByName(d("fresh_sets"))
        bucketRows = rekey(bucketRows, "doc_id").unionByName(d("fresh_buckets"))
        fpW = fpW.unionAll(d("fp_bloom_words"))
        bW = bW.unionAll(d("bucket_bloom_words"))
        oversized = d("oversized")
      }
      val oversizedP = pin(oversized)
      val buckets =
        if (c.deltas.isEmpty) pin(bucketRows) // base buckets are already capped
        else pin(bucketRows.join(
          broadcast(oversizedP.select("band", "sig")), Seq("band", "sig"), "left_anti"))
      def words(df: DataFrame): DataFrame = if (c.deltas.isEmpty) df else orWords(df)
      CorpusIndex(pin(fps), pin(sets), buckets, pin(words(fpW)), pin(words(bW)),
        c.meta("log_bloom_bits").toInt, oversizedP, c.meta("bucket_cap").toInt)
    }
  }

  /** Best corpus match per incoming document — the shared core of the
    * batch and streaming novelty gates: for each doc in `docs`, its best
    * match in the indexed corpus as `(doc_id, best_match, best_jaccard,
    * novel)`, `novel` ⇔ no match at `threshold`. Two tiers, exactly
    * [[incremental]]'s semantics against a corpus that is entirely
    * "existing":
    *
    *   - EXACT: md5 fingerprint join against `idx.fps` → jaccard 1.0 with
    *     the group's minimum member;
    *   - NEAR: the doc's own band signatures (map-side, the same codegen'd
    *     shingle/minhash expressions) joined against `idx.buckets`, then
    *     exact shingle-Jaccard verify against `idx.sets` on collisions.
    *
    * Best = highest jaccard, ties to the lowest corpus id (one
    * `min(struct)` fold). Docs-vs-docs dedup is deliberately NOT part of
    * this operator (same contract as [[incremental]]): run [[exact]] /
    * [[graft.streaming.StreamingDedup.firstOccurrences]] over the incoming
    * side first if in-batch copies must also collapse.
    *
    * Works on any batch frame; inside a `foreachBatch` body it is the
    * per-micro-batch transform — pure stream-static joins plus one
    * batch-local aggregate, no streaming state at all. */
  def bestMatchAgainst(docs: DataFrame, idx: CorpusIndex,
      threshold: Double = 0.8): DataFrame = {
    import graft.functions.SketchHashes.shingle_hashes
    val base = docs.select(col("doc_id"), md5(col("text")).as("fp"),
      shingle_hashes(col("text"), 3).as("shs"))
    // both tiers are Bloom-prefiltered map-side ([[bloomFiltered]]):
    // definite-novel keys skip the corpus-index joins entirely — at ingest
    // scale most incoming docs ARE novel, so the broadcast bit test, not
    // the index join, is the common path. Result-neutral by construction
    // (no false negatives).
    val exact = bloomFiltered(base.select("doc_id", "fp"),
        Seq(col("fp")), idx.fpBloom, idx.logBloomBits)
      .join(idx.fps, Seq("fp"))
      .select(col("doc_id"), col("match_id").as("m"), lit(1.0).as("jaccard"))
    val cand = bloomFiltered(minhashBuckets(base.select("doc_id", "shs")),
        Seq(col("band"), col("sig")), idx.bucketBloom, idx.logBloomBits)
      .join(idx.buckets.select(col("band"), col("sig"), col("doc_id").as("m")),
        Seq("band", "sig"))
      .select("doc_id", "m").distinct()
    val near = cand
      .join(base.select(col("doc_id"), col("shs").as("shs_a")), Seq("doc_id"))
      // verify side cut to candidate reps at scale ([[shrinkToKeys]]) —
      // idx.sets is the index's HEAVIEST component and must never shuffle
      // per micro-batch
      .join(shrinkToKeys(
        idx.sets.select(col("doc_id").as("m"), col("shs").as("shs_b")),
        cand, "m"), Seq("m"))
      .withColumn("inter", sorted_intersect_at_least(col("shs_a"), col("shs_b"),
        jaccardMinInter(threshold,
          size(col("shs_a")).cast("long"), size(col("shs_b")).cast("long"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_id", "m", "jaccard")
    val best = exact.unionAll(near)
      .groupBy("doc_id")
      .agg(min(struct((-col("jaccard")).as("nj"), col("m").as("m"))).as("b"))
      .select(col("doc_id"), col("b.m").as("best_match"), (-col("b.nj")).as("best_jaccard"))
    // `best` is batch-bounded (≤ one row per incoming doc), so it
    // broadcasts into the final left join — without the hint this was the
    // gate's one SortMergeJoin, shuffling + sorting both sides on doc_id
    docs.select("doc_id").join(broadcast(best), Seq("doc_id"), "left")
      .withColumn("novel", col("best_jaccard").isNull)
  }

  /** The (band, sig) buckets [[minhashPairs]] would skip at `bucketCap`,
    * with their sizes — drop accounting for cap tuning. */
  def minhashOversizedBuckets(docs: DataFrame,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    minhashBuckets(shingleArrays(dupGroups(docs).select("doc_id", "text")))
      .groupBy("band", "sig").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > bucketCap)

  /** Exact shingle-set Jaccard pairs (ground truth for [[minhashPairs]]'s
    * recall spec) — O(n²), test-scale only. */
  def exactShinglePairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sets = shingleArrays(Tables.fanOut(docs))
    val a = sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", sorted_intersect_count(col("shs_a"), col("shs_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Bit width of the SimHash signature: 60 rather than 64 so the signature
    * and every per-bit test stay strictly below 2^63 — exact, overflow-free
    * BIGINT arithmetic in any engine (the signature reconstruction in the
    * oracle is a sum of distinct powers of two). 60 = 4 blocking chunks x 15
    * bits; the sign bit is never touched. */
  private val SimHashBits = 60
  private val SimHashChunkBits = SimHashBits / 4

  /** 60-bit SimHash signature per document (token-level): per-bit majority
    * vote of 60-bit md5-derived token hashes, computed ENTIRELY map-side by
    * one codegen'd expression per document
    * ([[graft.functions.SketchHashes.simhash_sig]]) — no token explode, no
    * 60-counter aggregation, no shuffle at all (the naive shape would
    * shuffle one 60-counter partial row per document; this moves nothing).
    * Every stage is exact integer arithmetic → oracle hash-checked
    * ([[simhashSql]]), which replays the explode-and-majority-sum
    * formulation and must agree bit-for-bit. */
  def simhash(docs: DataFrame): DataFrame = {
    import graft.functions.SketchHashes.simhash_sig
    Tables.fanOut(docs)
      .select(col("doc_id"), simhash_sig(col("text"), SimHashBits).as("simhash"))
      .orderBy("doc_id")
  }

  /** Signature reconstruction shared by the two simhash oracles: the 60
    * conditional majority sums over the token-hash bits, then the signature
    * as a sum of distinct powers of two. `rel` is the FROM-able relation
    * holding (doc_id, text). */
  private def simhashSqlCore(rel: String): String = {
    val sums = (0 until SimHashBits).map(i =>
      s"    sum(CASE WHEN (h // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n")
    val sig = (0 until SimHashBits).map(i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" +\n    ")
    s"""tok AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $rel)),
       |bits AS (
       |  SELECT doc_id,
       |$sums
       |  FROM tok GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, CAST(
       |    $sig
       |  AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** DuckDB oracle for [[simhash]]. */
  val simhashSql: String =
    s"""WITH ${simhashSqlCore("documents")}
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs by Hamming distance: exact-dup collapse →
    * blocking on 15-bit signature chunks (a pair within distance d must
    * share at least one of d+1 chunks — here 4 chunks catches d <= 3
    * exactly) → member-level expansion (exact copies are at Hamming 0).
    * Degenerate chunk buckets past `bucketCap` distinct texts are skipped.
    * Oracle hash-checked ([[simhashPairsSql]]). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val groups = PinnedCaches.pin(dupGroups(docs))
    val sigs = simhash(groups.select("doc_id", "text"))
    val chunkMask = (1L << SimHashChunkBits) - 1L
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * SimHashChunkBits).bitwiseAND(lit(chunkMask)).as("key")))
    val blocked = capBuckets(
      sigs.select(col("doc_id"), col("simhash"), explode(array(chunks: _*)).as("ck"))
        .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.key")),
      Seq("chunk", "key"), bucketCap)
    val repPairs = blocked.as("x").join(blocked.as("y"), Seq("chunk", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    expandPairs(repPairs, groups, "hamming", groups.withColumn("hamming", lit(0L)))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[simhashPairs]]: dup-collapse → signatures over the
    * representatives → 15-bit chunk blocking with the bucket cap →
    * bit_count(xor) Hamming verify → member expansion. */
  val simhashPairsSql: String = {
    val chunkSelects = (0 until 4).map { c =>
      val div = 1L << (c * SimHashChunkBits)
      val mod = 1L << SimHashChunkBits
      s"  SELECT doc_id, simhash, $c AS chunk, (simhash // $div) % $mod AS key FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""WITH g AS (
       |  SELECT min(doc_id) AS doc_id, any_value(text) AS text,
       |    list_sort(list(doc_id)) AS member_ids
       |  FROM documents GROUP BY md5(text)),
       |${simhashSqlCore("g")},
       |ck AS (
       |$chunkSelects),
       |ckc AS (SELECT doc_id, simhash, chunk, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY chunk, key) AS bn FROM ck) WHERE bn <= $DefaultBucketCap),
       |repf AS (SELECT * FROM (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |  FROM ckc x JOIN ckc y ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id)
       |  WHERE hamming <= 3),
       |mem AS (SELECT doc_id AS rep_id, unnest(member_ids) AS member FROM g),
       |crossp AS (
       |  SELECT least(ma.member, mb.member) AS doc_a, greatest(ma.member, mb.member) AS doc_b, hamming
       |  FROM repf JOIN mem ma ON ma.rep_id = repf.doc_a JOIN mem mb ON mb.rep_id = repf.doc_b),
       |intra AS (
       |  SELECT a.member AS doc_a, b.member AS doc_b, CAST(0 AS BIGINT) AS hamming
       |  FROM mem a JOIN mem b ON a.rep_id = b.rep_id AND a.member < b.member)
       |SELECT doc_a, doc_b, hamming FROM crossp
       |UNION ALL SELECT doc_a, doc_b, hamming FROM intra
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
