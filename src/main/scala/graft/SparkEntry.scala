package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * beyond-reference operator), runnable on the driver's testdata; entries
  * with SQL-expressible semantics have a DuckDB oracle in [[oracleSql]].
  */
object SparkEntry {

  /** Flagship: the full log pipeline (render → single-pass regex parse →
    * keyed merge) producing the per-query merged record table the reference
    * never got to sink (main.go:126 TODO). */
  def entry(spark: SparkSession): DataFrame =
    mergedQueries(spark, "/root/testdata/sf0.001")

  /** Parsed-event frame, cached per (session, dir): every log query — and
    * the multiple state-window subtrees inside one query plan — reuses the
    * one materialized parse instead of re-running render + 4 regexes over
    * the corpus (Spark's CacheManager substitutes the InMemoryRelation into
    * any matching subtree). */
  private val parsedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Boolean), DataFrame]

  /** Rendered log lines, cached per (session, dir, noisy) and shared by the
    * parse cache AND `log_read_lines` — round 1 rebuilt the corpus for the
    * line counter (21 s of duplicate render at sf0.1). */
  private val linesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Boolean), DataFrame]

  private def renderedLines(s: SparkSession, dir: String, noisy: Boolean = false): DataFrame =
    linesCache.getOrElseUpdate((s, dir, noisy),
      LogRender.lines(Tables.fanOut(Tables.events(s, dir)), noisy).cache())

  private def parsed(s: SparkSession, dir: String, noisy: Boolean = false): DataFrame =
    parsedCache.getOrElseUpdate((s, dir, noisy), {
      // The clean corpus shares the cached lines frame with log_read_lines;
      // the noisy corpus has exactly one consumer (this parse), so caching
      // its lines would only add a full materialization pass.
      val src =
        if (noisy) LogRender.lines(Tables.fanOut(Tables.events(s, dir)), noisy = true)
        else renderedLines(s, dir)
      val p = LogParser.parse(src).cache()
      // Also pin the state-record table AND the classified-event frame:
      // every metric query (and every subtree inside log_metrics_table's
      // 13-branch union) contains the same window + state-join plan, and
      // the CacheManager substitutes these two materializations wherever
      // the subtree recurs — without the second pin, log_metrics_table
      // re-ran the parsed⋈state join once per metric family (8.4 s of its
      // r2 cost was exactly that recompute).
      QueryMerge.stateInserts(p).cache()
      QueryMerge.classified(p).cache()
      p
    })

  /** Materialize the shared corpus caches (rendered lines, parsed events,
    * pinned merge subtrees, the noisy-corpus parse) up front, so per-query
    * bench timings measure the query itself instead of charging the whole
    * render+parse+merge cache build to whichever log query happens to run
    * first ([[Bench]] reports this as its own `cache_build` line item). */
  def warmCaches(s: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // per-stage stderr breakdown: cache_build is the bench's calibration
    // line, and when it drifts round-over-round this log says WHICH index
    // build moved (box noise shifts every stage; a code change shifts one)
    def stage(name: String)(f: => Unit): Unit = PinnedCaches.warmStage(name)(f)
    // GRAFT_WARM_SEQUENTIAL=1 (dev-only, graft.WarmProfile): run every
    // chain/branch one at a time so each [warm] line is the stage's own
    // compute, not its share of a saturated core pool
    val sequential = PinnedCaches.warmSequential
    // THREE independent chains run CONCURRENTLY (Spark schedules jobs from
    // multiple driver threads across the same executor pool; no pin is
    // shared across chains, and PinnedCaches' TrieMaps are concurrent) —
    // the sequential warm left most cores idle through each chain's
    // intra-stage barriers, and cache_build was ~40% of the whole bench.
    // Stages WITHIN a chain stay ordered (parse consumes render's lines;
    // text_pins reads dedup's dup-group pin).
    def fut(body: => Unit): scala.concurrent.Future[Unit] =
      if (sequential) Future.fromTry(scala.util.Try(body)) else Future(body)
    // settle ALL futures to COMPLETION before rethrowing (fail-fast would
    // return control while siblings still run warm jobs)
    def settle(fs: Seq[scala.concurrent.Future[Unit]]): Unit =
      Await.result(Future.sequence(
        fs.map(_.transform(scala.util.Success(_)))), Duration.Inf)
        .foreach(_.get)
    val logChain = fut {
      // the two parse+merge corpora are independent END TO END (the noisy
      // corpus renders its own lines inline), so both branches start at
      // t=0. The clean branch has NO separate render stage any more: the
      // parse job scans the uncached lines InMemoryRelation, and Spark
      // materializes cache blocks read-through as the scan consumes them —
      // one fused render+parse+store pass where the r13 shape paid a full
      // extra pass (render job, then parse re-reading the stored strings;
      // guide §2.4 — remove duplicate passes). The lines pin comes out
      // materialized exactly as before for log_read_lines / log_pii_scrub.
      val parses = Seq(false, true).map(noisy => fut {
        stage(s"parse(noisy=$noisy)")(parsed(s, dir, noisy).count())
        // once the parse pin is materialized, the two merge-subtree pins
        // and (clean corpus only) the fleet twin's pins are independent
        // jobs — running them concurrently shortens the chain's tail by
        // the smaller pins' wall time (r13; each was serial before).
        // WITHIN a merge stage the two pins are independent aggregations
        // over the already-built parse pin, so they too run concurrently
        // (r14; stateInserts then classified was serial).
        val p = parsed(s, dir, noisy)
        settle(Seq(
          fut(stage(s"merge_pins(noisy=$noisy)") {
            settle(Seq(
              fut(QueryMerge.stateInserts(p).count()),
              fut(QueryMerge.classified(p).count())))
          })) ++
          // the fleet twin's namespaced merge pins ride the clean corpus —
          // without them log_merged_fleet re-ran the lifecycle fold per run
          (if (noisy) Nil else Seq(fut(stage("fleet_pins") {
            val f = fleetParsed(s, dir)
            settle(Seq(
              fut(QueryMerge.stateInserts(f).count()),
              fut(QueryMerge.classified(f).count())))
          }))))
      })
      settle(parses)
    }
    // the pipeline families' pinned working sets (dup groups, shingle sets,
    // winnowing fingerprints, quantized vectors, the k-means assignment)
    val docs = Tables.load(s, dir, "documents")
    val docChain = fut {
      // the shared dup-group + shingle pins first (both families read
      // them; materializing before the fork avoids a double-pin race on
      // the same plan key), then the CC cluster labeling and the text
      // fingerprint pins — independent — run concurrently (r13)
      stage("dedup_base")(Dedup.warmBasePins(docs))
      settle(Seq(
        fut(stage("dedup_clusters")(Dedup.warmClusterPin(docs))),
        fut(stage("text_pins")(TextAnalysis.warmPins(docs)))))
    }
    val simChain = fut {
      stage("sim_pins")(Similarity.warmPins(Tables.load(s, dir, "embeddings")))
    }
    // await ALL chains to COMPLETION before rethrowing: a fail-fast return
    // would hand control back to Bench while the sibling chains still run
    // warm jobs — contaminating the per-query timings with nothing in the
    // artifact flagging it
    settle(Seq(logChain, docChain, simChain))
    ()
  }

  /** Drop every cached frame this object pinned for `s` (long-lived-session
    * hygiene: the TrieMaps would otherwise retain SparkSession references and
    * executor storage forever — Verify/Bench run one session and never need
    * this, but a library user embedding the engine does). */
  def clearCaches(s: SparkSession): Unit = {
    def drop[K <: Product](m: scala.collection.concurrent.TrieMap[K, DataFrame]): Unit =
      m.keys.filter(_.productElement(0) == s).foreach { k =>
        m.remove(k).foreach(_.unpersist())
      }
    drop(parsedCache)
    drop(linesCache)
    fleetCache.keys.filter(_._1 == s).foreach(fleetCache.remove) // subtrees drop via cacheManager below
    PinnedCaches.release(s) // the operators' call-local working-set pins
    s.sharedState.cacheManager.clearCache() // the pinned merge-subtree frames
  }

  private def ntz(c: org.apache.spark.sql.Column) = c.cast("timestamp_ntz")

  /** Fleet-twin namespaced parse, cached per (session, dir) with its OWN
    * pinned merge subtrees: the id rewrite sits between the shared parse pin
    * and the merge plan, so the plain corpus pins never match here and
    * `QueryMerge.merged(ns)` recomputed the full lifecycle fold per run
    * (3.2 s vs log_merged's 0.72 s off the warm pins — r9 verdict #2).
    * The frame is built identically on every call, so the CacheManager
    * substitutes these pins into the query's plan by canonicalized match. */
  private val fleetCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def fleetParsed(s: SparkSession, dir: String): DataFrame =
    fleetCache.getOrElseUpdate((s, dir), {
      val eid = substring(col("id"), 3, Int.MaxValue).cast("long")
      val ns = parsed(s, dir).withColumn("id", concat_ws("\u0000",
        concat(lit("srv"), (eid % 2).cast("string")),
        concat(lit("q-"), (eid / 2).cast("long").cast("string"))))
      QueryMerge.stateInserts(ns).cache()
      QueryMerge.classified(ns).cache()
      ns
    })

  private def mergedQueries(s: SparkSession, dir: String): DataFrame =
    QueryMerge.merged(parsed(s, dir))
      .withColumn("start_time", ntz(col("start_time")))
      .withColumn("end_time", ntz(col("end_time")))
      // no output sort: ~100k rows at sf0.1 and the driver compare re-sorts

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    logQueries ++ RelationalQueries.queries ++ DataPipelineQueries.queries

  private def logQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- log pipeline (SURVEY §2.1-2.5): render from events, parse, merge ----
    "log_read_lines" -> ((s, dir) =>
      renderedLines(s, dir).agg(count("*").as("n"))),

    "log_parsed_events" -> ((s, dir) =>
      parsed(s, dir).select("seq", "kind", "id", "pid", "rows_read",
        "bytes_read", "rps", "speed", "memory", "error_code")),

    "log_merged" -> mergedQueries _,

    // the FLEET merge's batch twin: the corpus split across two synthetic
    // servers BY EVENT with COLLIDING query ids (events 2k and 2k+1 share
    // plain id q-k on srv0/srv1). A global merge on the plain ids would
    // cross-contaminate the lifecycles (dup initials, clobbered stats);
    // the per-server namespacing (exactly StreamingMerge.fleetMergeWithDelivery's
    // composite key) must keep them independent — pinned hash-exact by
    // the per-event oracle.
    "log_merged_fleet" -> ((s, dir) =>
      QueryMerge.merged(fleetParsed(s, dir))
        .withColumn("server", substring_index(col("id"), "\u0000", 1))
        .withColumn("id", substring_index(col("id"), "\u0000", -1))
        .withColumn("start_time", ntz(col("start_time")))
        .withColumn("end_time", ntz(col("end_time")))),

    "log_query_count" -> ((s, dir) =>
      PromMetrics.queryCount(parsed(s, dir))
        .withColumnRenamed("count", "cnt").orderBy("stmt_type")),

    "log_query_errors" -> ((s, dir) =>
      PromMetrics.queryErrors(parsed(s, dir))
        .withColumnRenamed("count", "cnt").orderBy("stmt_type", "error_code")),

    "log_error_counters" -> ((s, dir) =>
      QueryMerge.errorCounters(parsed(s, dir))
        .withColumnRenamed("count", "cnt").orderBy("type")),

    // noisy corpus: dashed-date initials -> convert counter (P5/P7 routing)
    "log_convert_counters" -> ((s, dir) =>
      QueryMerge.errorCounters(parsed(s, dir, noisy = true))
        .withColumnRenamed("count", "cnt").orderBy("type")),

    "log_query_time_hist" -> ((s, dir) =>
      PromMetrics.queryTimeHistogram(parsed(s, dir)).orderBy("stmt_type", "le")),

    "log_query_time_sum" -> ((s, dir) =>
      PromMetrics.queryTimeSumCount(parsed(s, dir))
        .withColumnRenamed("sum", "sum_elapsed_us")
        .withColumnRenamed("count", "cnt").orderBy("stmt_type")),

    "log_rows_read_hist" -> ((s, dir) =>
      PromMetrics.rowsReadHistogram(parsed(s, dir)).orderBy("le")),

    "log_bytes_read_hist" -> ((s, dir) =>
      PromMetrics.bytesReadHistogram(parsed(s, dir)).orderBy("le")),

    "log_rps_hist" -> ((s, dir) =>
      PromMetrics.rpsHistogram(parsed(s, dir)).orderBy("le")),

    "log_bps_hist" -> ((s, dir) =>
      PromMetrics.bpsHistogram(parsed(s, dir)).orderBy("le")),

    "log_stats_sums" -> ((s, dir) =>
      PromMetrics.statsSumCounts(parsed(s, dir))
        .withColumnRenamed("count", "cnt")),

    // PII scrub over the rendered corpus (map-side, codegen regex; the
    // oracle rebuilds every line string and replays the redaction)
    "log_pii_scrub" -> ((s, dir) =>
      Pii.scrub(renderedLines(s, dir), "value")
        .select("seq", "n_email", "n_ipv4", "n_num", "redacted")),

    // the whole registry as one tall table (S4 table-sink form) — a single
    // hash-checked query covering every metric series at once; the A1
    // read-lines count is computed INSIDE the plan (metricsTableOver), so
    // the bench row's measured frame carries its whole input scan
    "log_metrics_table" -> ((s, dir) =>
      graft.streaming.MetricsSink
        .metricsTableOver(parsed(s, dir), renderedLines(s, dir))
        .orderBy(col("metric"), col("labels"), col("le"))),
  )

  def oracleSql: Map[String, String] = Map(
    "log_read_lines" -> LogOracle.readLines,
    "log_parsed_events" -> LogOracle.parsedEvents,
    "log_merged" -> LogOracle.merged,
    "log_merged_fleet" -> LogOracle.mergedFleet,
    "log_query_count" -> LogOracle.queryCount,
    "log_query_errors" -> LogOracle.queryErrors,
    "log_error_counters" -> LogOracle.errorCounters,
    "log_convert_counters" -> LogOracle.convertCounters,
    "log_query_time_hist" -> LogOracle.queryTimeHist,
    "log_query_time_sum" -> LogOracle.queryTimeSum,
    "log_rows_read_hist" -> LogOracle.rowsReadHist,
    "log_bytes_read_hist" -> LogOracle.bytesReadHist,
    "log_rps_hist" -> LogOracle.rpsHist,
    "log_bps_hist" -> LogOracle.bpsHist,
    "log_stats_sums" -> LogOracle.statsSums,
    "log_pii_scrub" -> LogOracle.piiScrub,
    "log_metrics_table" -> LogOracle.metricsTable,
  ) ++ RelationalQueries.oracles ++ DataPipelineQueries.oracles
}
