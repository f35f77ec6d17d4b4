package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Success

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Registry for the operators' call-local cache pins (dup-group collapse,
  * shingle/fingerprint working sets, k-means assignments).
  *
  * Before this existed each operator call issued its own `.cache()`, and the
  * pins were released only by a full `catalog`-level cache clear — a
  * long-lived service invoking the operators repeatedly across corpora would
  * accumulate executor storage until that manual sweep. Centralizing the
  * pins here makes the lifecycle explicit ([[release]] drops exactly what
  * the operators pinned for a session, nothing else) and adds cross-call
  * reuse for free: the key is the frame's CANONICALIZED logical plan, so two
  * operator calls over the same input (minhash pairs and simhash pairs both
  * collapsing the same corpus, k-means and the cluster sampler sharing one
  * assignment) hit one materialization instead of pinning twins.
  */
object PinnedCaches {

  private val pinned =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, LogicalPlan), DataFrame]

  /** Cache-and-register `df`: returns the already-pinned frame for a
    * semantically equal plan in the same session, else caches this one and
    * tracks it for [[release]]. */
  def pin(df: DataFrame): DataFrame = {
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized)
    pinned.getOrElseUpdate(key, df.cache())
  }

  private val memos = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, LogicalPlan, String), DataFrame]

  /** Pin keyed by an INPUT frame + tag instead of the result's own plan —
    * for operators whose result embeds non-canonicalizable state (the
    * star-contraction CC loop ends in a `localCheckpoint` RDD, so two runs over
    * the same corpus produce plan-distinct results and [[pin]] alone can
    * never deduplicate them; worse, the loop is EAGER, so the work re-runs
    * before any cache lookup could hit). `build` runs once per (session,
    * canonicalized input plan, tag); the result is pinned and shared. */
  def memo(keyFrame: DataFrame, tag: String)(build: => DataFrame): DataFrame = {
    val key = (keyFrame.sparkSession, keyFrame.queryExecution.analyzed.canonicalized, tag)
    memos.getOrElseUpdate(key, pin(build))
  }

  /** Unpersist and forget ONE pin by its frame (index-lifecycle swaps drop
    * a superseded index's frames without sweeping the whole session). A
    * plan another operator still uses simply re-caches on its next call. */
  def unpin(df: DataFrame): Unit = {
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized)
    pinned.remove(key).foreach(_.unpersist())
  }

  /** Unpersist and forget every pin registered for `s` (called by
    * `SparkEntry.clearCaches`; safe to call between corpora). */
  def release(s: SparkSession): Unit = {
    memos.keys.filter(_._1 == s).foreach(memos.remove)
    warmSeconds.keys.filter(_._1 == s).foreach(warmSeconds.remove)
    pinned.keys.filter(_._1 == s).foreach { k =>
      pinned.remove(k).foreach(_.unpersist())
    }
  }

  /** Pin count for `s` — spec hook. */
  def size(s: SparkSession): Int = pinned.keys.count(_._1 == s)

  /** Root paths of every file relation a pinned plan reads — the input to
    * the MUTABLE-PATH PIN SWEEP ([[assertNoPinsUnder]]). */
  def pinnedSourcePaths(s: SparkSession): Set[String] =
    pinned.collect { case ((ss, _), df) if ss == s =>
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    }.flatten.toSet

  /** The mutable-path pin INVARIANT, generalized from the VecIngest
    * daemon-maintenance bug: no pin may root a plan on (or under) a path a
    * daemon APPENDS to. The CacheManager substitutes cached plan FRAGMENTS
    * into semantically-equal subtrees of later plans, so a pin rooted on a
    * growing path serves a STALE snapshot (frozen at pin-time file
    * listing) into every identical future read — the retrain that
    * re-encoded only bootstrap-era rows. Operators may pin such reads
    * TRANSIENTLY (the PQ/graph bootstraps do) but must release before the
    * batch ends; daemons/specs call this at quiet points. Throws listing
    * the violations — the detector direction of the repo's plan bans. */
  def assertNoPinsUnder(s: SparkSession, mutablePath: String): Unit = {
    // FULLY-QUALIFIED comparison (scheme + authority + path): a bare-path
    // compare would falsely trip a pin on s3://bucketA/data against a
    // sweep of hdfs:///data, and a relative mutablePath would silently
    // never match the qualified pinned roots (ADVICE r12)
    val root = IndexFiles.qualified(s, mutablePath)
    val bad = pinnedSourcePaths(s).filter { p =>
      val q = IndexFiles.qualified(s, p)
      q == root || q.startsWith(root + "/")
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"mutable-path pin violation: pinned plans root on the growing path " +
        s"$mutablePath: ${bad.mkString(", ")} — release the pin or read " +
        "through a checkpointed copy")
  }

  /** The job-local property that names the [[warmStage]] a job runs under,
    * so a listener can attribute concurrent warm jobs to their stage. */
  val WarmStageKey = "graft.warmStage"

  private val warmSeconds =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Double]

  /** One labelled cache-warm stage, shared by SparkEntry.warmCaches and the
    * families' warmPins. Its jobs carry `label` as [[WarmStageKey]] (a
    * nested stage's jobs carry the innermost label), and its wall seconds
    * are kept for [[warmTimes]] and printed as `[warm] <label> <s> s` on
    * stderr. */
  private[graft] def warmStage(s: SparkSession, label: String)(f: => Unit): Unit = {
    val sc = s.sparkContext
    val outer = sc.getLocalProperty(WarmStageKey)
    sc.setLocalProperty(WarmStageKey, label)
    val t0 = System.nanoTime()
    try f finally sc.setLocalProperty(WarmStageKey, outer)
    val secs = (System.nanoTime() - t0) / 1e9
    warmSeconds((s, label)) = secs
    System.err.println(f"[warm] $label $secs%.1f s")
  }

  /** A concurrent warm branch that runs under the caller's warm-stage
    * label. Pool threads are reused, so a branch must neither lose the
    * label of the stage that forked it nor keep one a previous branch
    * left on its thread. */
  private[graft] def warmFuture(s: SparkSession)(body: => Unit): Future[Unit] = {
    val sc = s.sparkContext
    val label = sc.getLocalProperty(WarmStageKey)
    Future {
      val outer = sc.getLocalProperty(WarmStageKey)
      sc.setLocalProperty(WarmStageKey, label)
      try body finally sc.setLocalProperty(WarmStageKey, outer)
    }(ExecutionContext.global)
  }

  /** Wait for ALL warm branches to complete, then rethrow the first failure:
    * a fail-fast return would hand control back while siblings still run
    * warm jobs. */
  private[graft] def settle(fs: Seq[Future[Unit]]): Unit = {
    import ExecutionContext.Implicits.global
    Await.result(Future.sequence(fs.map(_.transform(Success(_)))), Duration.Inf)
      .foreach(_.get)
  }

  /** Wall seconds of every [[warmStage]] label run in `s` (the last run of
    * a label wins). */
  def warmTimes(s: SparkSession): Map[String, Double] =
    warmSeconds.collect { case ((ss, label), secs) if ss == s => label -> secs }.toMap
}
