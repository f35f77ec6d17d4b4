package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hadoop-FS plumbing shared by the persisted index artifacts
  * ([[IndexFiles.Artifact]]), the ingest gates' durable staging and the
  * output compaction: numbered-directory listing, manifest-last
  * publication, writer fencing, recursive delete. Everything goes through
  * the path's own `FileSystem`, never `java.io.File` — these artifacts
  * live on `s3a://`-like stores in a real deployment. */
private[graft] object IndexFiles {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The fully-qualified URI of `path` on its own filesystem —
    * scheme+authority+path, so two paths compare equal only when they
    * name the same object on the same store. */
  def qualified(spark: SparkSession, path: String): String = {
    val u = fs(spark, path).makeQualified(new Path(path)).toUri
    // render scheme://authority/path by component: URIs with a NULL
    // authority print "file:/x" while an EMPTY authority prints
    // "file:///x" — the same object, two strings, a false mismatch
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
      .stripSuffix("/")
  }

  /** The commit marker a manifest-committed directory carries
    * ([[publish]] writes it LAST into the tmp dir; Spark's own parquet
    * committer writes `_SUCCESS` at job commit) — what [[numbered]]
    * demands before exposing a directory to readers. */
  private[graft] val ManifestFile = "_manifest"

  /** Final (non-`.tmp`) child directories of `path` named `<prefix><id>`,
    * as `(id, path)` ascending by id. A missing root lists empty; foreign
    * children (wrong prefix, non-numeric suffix) are skipped, not errors.
    *
    * MANIFEST-COMMIT: a directory is listed only once its commit marker
    * exists — `_manifest` (written last by [[publish]]) or `_SUCCESS`
    * (Spark's job-commit marker on directly-written parquet dirs, e.g.
    * the daemons' `ingest_batch=<id>` landings). On stores whose rename
    * is copy-then-delete (S3-style), a half-copied directory therefore
    * stays invisible until the marker — the LAST object written — lands;
    * rename-atomic stores never expose partials anyway. */
  def numbered(spark: SparkSession, path: String, prefix: String): Seq[(Long, Path)] = {
    val root = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix) && !n.endsWith(".tmp") &&
            (f.exists(new Path(st.getPath, ManifestFile)) ||
             f.exists(new Path(st.getPath, "_SUCCESS"))))
          n.stripPrefix(prefix).toLongOption.map(_ -> st.getPath)
        else None
      }
      .sortBy(_._1)
  }

  /** Publish the fully-written `tmp` directory as `dest` — MANIFEST-LAST
    * commit, safe on stores with AND without atomic rename:
    *
    *   1. re-check the in-JVM writer lease on any enclosing fenced path
    *      (narrowing the check-then-mutate window — a writer fenced
    *      mid-batch fails here instead of landing its in-flight artifact);
    *   2. rename `tmp` → `dest` WITHOUT its commit marker. On HDFS-like
    *      stores the rename is atomic; on copy-then-delete stores a
    *      half-copied `dest` may be listable — but [[numbered]] refuses
    *      unmarked directories, so readers ignore it either way;
    *   3. create `dest/_manifest` — one single-object write, the atomic
    *      commit point on every store.
    *
    * A crash between 2 and 3 leaves an unmarked `dest` no reader sees;
    * the next publish of the same version deletes and rewrites it (the
    * version allocator in each writer reads [[numbered]]'s max, which
    * ignores the unmarked leftover — single-writer paths re-allocate the
    * same number). */
  def publish(spark: SparkSession, tmp: String, dest: String): Unit = {
    val f = fs(spark, tmp)
    val tm = new Path(tmp, ManifestFile)
    if (f.exists(tm)) f.delete(tm, false) // marker never rides the rename
    checkLeasesCovering(spark, dest)
    val d = new Path(dest)
    if (f.exists(d)) f.delete(d, true)
    require(f.rename(new Path(tmp), d), s"publish rename failed: $tmp -> $dest")
    val o = f.create(new Path(d, ManifestFile), true)
    o.close()
  }

  /** Key=value metadata sidecar for index artifacts (`meta_kv`, one plain
    * FS object): the knob/stamp payload is a handful of scalars, and the
    * previous 1-row-parquet spelling cost one Spark JOB per save (the
    * coalesce(1) write) plus one per read (`spark.read.parquet(...).head()`
    * — footer + head job) — pure scheduler latency on every index
    * save/load/high-water probe, multiplied by the per-micro-batch cadence
    * in the daemons. A planning read must not launch a distributed job
    * (guide §5: the driver should do almost no data work — and a scalar
    * sidecar is not data). Written INSIDE the unpublished `.tmp` directory,
    * so the manifest-last commit rules cover it unchanged. */
  private[graft] val MetaKvFile = "meta_kv"

  /** Write `kv` as `meta_kv` under `dir` — one FS create, no Spark job. */
  def writeMetaKv(spark: SparkSession, dir: String,
      kv: Seq[(String, String)]): Unit = {
    val f = fs(spark, dir)
    val out = f.create(new Path(dir, MetaKvFile), true)
    try out.write(kv.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read `dir`'s metadata as a string map: `meta_kv` when present (one FS
    * read), else the family's legacy 1-row parquet `meta` directory (pre-
    * meta_kv artifacts — daemons resuming an old index path), else empty.
    * Callers parse values and supply defaults for keys a legacy meta never
    * carried (e.g. the embed gate's `tables`). */
  def readMeta(spark: SparkSession, dir: String): Map[String, String] = {
    val f = fs(spark, dir)
    val p = new Path(dir, MetaKvFile)
    if (f.exists(p)) {
      val in = f.open(p)
      val txt =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
          buf.toString("UTF-8")
        } finally in.close()
      txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"malformed meta_kv line at $dir: $l")
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    } else if (f.exists(new Path(dir, "meta"))) {
      val r = spark.read.parquet(s"$dir/meta").head()
      r.schema.fieldNames.map(n => n -> String.valueOf(r.getAs[Any](n))).toMap
    } else Map.empty
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Numbered claim FILES `<prefix><id>` under `path`, ascending — the
    * writer-lease listing ([[numbered]]'s file twin; leases are files, not
    * directories, because the claim primitive is create-if-absent). */
  private def numberedClaims(spark: SparkSession, path: String,
      prefix: String): Seq[(Long, Path)] = {
    val root = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq
      .filter(_.isFile)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix) && !n.endsWith(".tmp"))
          n.stripPrefix(prefix).toLongOption.map(_ -> st.getPath)
        else None
      }
      .sortBy(_._1)
  }

  /** WRITER FENCING for the LSM index paths — turns the documented
    * single-writer contract into fail-fast. Two daemons pointed at one
    * index path would otherwise claim the same `delta_<N>` number and
    * corrupt the chain SILENTLY (an ops accident, not an exotic failure,
    * in any HA deployment). The classic fencing-token design:
    *
    *   - [[claimWriter]] claims the next epoch by atomic create-if-absent
    *     of `path/_writer/epoch_<E>` — underscore-prefixed so the lease is
    *     invisible to Spark partition discovery even under a parquet-read
    *     root (the daemons fence their `--out` paths too). Two claimants
    *     of the same E: exactly one create succeeds; the loser retries
    *     at E+1;
    *   - [[WriterLease.check]] (called by every ingest gate before any
    *     mutation — staging, fold, delta write, compaction, maintenance)
    *     demands the path's HIGHEST epoch still be this writer's: a newer
    *     claim means another writer owns the path now, and this one dies
    *     loudly instead of interleaving delta numbers with it;
    *   - a CRASHED writer needs no cleanup — the next writer simply claims
    *     the next epoch (stale leases fence nothing; superseded claim
    *     files are pruned on claim).
    *
    * Latest-claim-wins is the standard fencing direction (the new epoch
    * holder is the deployment's intended owner — a restart, a failover);
    * the fenced predecessor is the one that must stop. Readers need no
    * lease — loads are safe at any moment by the stamp/atomic-publish
    * rules.
    *
    * STRENGTH, honestly stated: the claim's atomicity is the store's
    * `create(overwrite = false)`. On HDFS that is a true atomic
    * create-if-absent; on the local filesystem it is check-then-create,
    * and on S3A the object only appears at close (no conditional-PUT
    * precondition rides through this API) — on such stores two claimants
    * CAN both believe they won the same epoch, so the fence there is
    * BEST-EFFORT: it converts the overwhelmingly common ops accident
    * (second daemon started seconds-to-minutes later — its claim lists
    * the first one's file and supersedes it) into a loud failure, but a
    * sub-visibility-window tie is not excluded. A hard guarantee needs
    * the store to validate the token itself (conditional PUT / a lock
    * service). Check-before-mutate also leaves a check-to-write window;
    * [[publish]] narrows it by re-checking the registered lease
    * immediately before the rename ([[checkLeasesCovering]]). */
  final class WriterLease private[IndexFiles] (spark: SparkSession,
      path: String, val epoch: Long) {
    /** Fail fast when a newer writer claimed the path. One listing per
      * call — cheap against a per-micro-batch cadence. */
    def check(): Unit = {
      val top = numberedClaims(spark, s"$path/_writer", "epoch_")
        .lastOption.map(_._1)
      if (!top.contains(epoch))
        throw new IllegalStateException(
          s"writer fenced at $path: this writer holds epoch $epoch but the " +
            s"latest claim is ${top.getOrElse(-1L)} — a newer writer owns " +
            "the path (two ingest daemons on one index path?)")
    }
  }

  /** In-JVM registry of the latest lease per fenced root (fully-qualified
    * URI → lease): lets [[publish]] re-check the owning lease at the last
    * moment without threading lease handles through every save path. Only
    * tracks THIS process's claims — exactly the writer whose in-flight
    * artifact the publish-time check should stop. */
  private val leases =
    new java.util.concurrent.ConcurrentHashMap[String, WriterLease]()

  /** Re-check every registered lease whose fenced root encloses `dest`
    * (fully-qualified prefix match, so scheme/authority differences never
    * cross-trip — the PinnedCaches qualification rule). */
  private def checkLeasesCovering(spark: SparkSession, dest: String): Unit = {
    val q = qualified(spark, dest)
    leases.forEach { (root, lease) =>
      if (q == root || q.startsWith(root + "/")) lease.check()
    }
  }

  /** Claim the writer lease on an index path (see [[WriterLease]]). */
  def claimWriter(spark: SparkSession, path: String,
      attempts: Int = 5): WriterLease = {
    val root = s"$path/_writer"
    val f = fs(spark, path)
    var n = attempts
    while (n > 0) {
      val e = numberedClaims(spark, root, "epoch_")
        .map(_._1).maxOption.getOrElse(0L) + 1
      try {
        // create-if-absent IS the atomic claim (overwrite = false); the
        // content is diagnostic only — epoch numbers carry the protocol
        val out = f.create(new Path(s"$root/epoch_$e"), false)
        try out.write(
          java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
        finally out.close()
        // prune superseded claims — their writers are fenced by this one
        numberedClaims(spark, root, "epoch_").filter(_._1 < e)
          .foreach { case (_, p) => if (f.exists(p)) { f.delete(p, false); () } }
        val lease = new WriterLease(spark, path, e)
        leases.put(qualified(spark, path), lease)
        return lease
      } catch {
        // FileAlreadyExistsException on modern Hadoop FS, bare IOException
        // on older local FS — either way: lost the race, retry above it
        // (a persistent real failure exhausts `attempts` and fails loudly)
        case _: java.io.IOException => n -= 1
      }
    }
    throw new IllegalStateException(
      s"could not claim a writer lease at $path after $attempts attempts")
  }

  /** `df` narrowed for WRITING toward ~128 MB output files (guide §6:
    * small files hurt twice — driver listing/planning and per-file open
    * overhead; aim for 128 MB–1 GB). Partition count = ⌈estimate/128 MB⌉
    * from Catalyst's own size estimate for the plan:
    *
    *   - a SMALL frame (every index component at batch scale, all of the
    *     scalar stats frames) collapses to one output file instead of one
    *     near-empty file per shuffle partition — at the default 32-partition
    *     bench session that is 32× fewer task commits per component write;
    *   - an OVER-estimated frame asks for more partitions than it has and
    *     `coalesce` is then a no-op (it never increases) — the safe failure
    *     direction: layout stays as computed;
    *   - `coalesce`, not `repartition`: no extra exchange — only the final
    *     stage narrows, which for sub-128 MB frames is the right trade.
    *
    * Scale-adaptive by construction: a corpus-sized component estimates
    * large and keeps its parallel layout; only genuinely small artifacts
    * narrow. */
  def sizedForWrite(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(128L << 20)
    if (est <= 0) df
    else {
      val parts = ((est + target - 1) / target)
        .min(BigInt(Int.MaxValue)).max(BigInt(1)).toInt
      df.coalesce(parts)
    }
  }

  /** Run independent Spark actions concurrently and return their results
    * in order — the index save/materialize paths are 3–7 embarrassingly-
    * parallel component jobs (distinct output dirs / distinct cached
    * frames), and running them sequentially serializes each job's fixed
    * scheduling overhead (the dominant cost of a small-component write).
    * Spark's scheduler is designed for multi-threaded job submission; the
    * first failure propagates. */
  def inParallel[A](work: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(work)(w => Future(w())), Duration.Inf)
  }

  // ──────────────────── THE PERSISTED INDEX ARTIFACT ────────────────────

  private val BasePrefix = "base_v"
  private val DeltaPrefix = "delta_"
  private val StampKey = "last_delta"

  /** Published base versions at `path`, ascending. */
  def bases(spark: SparkSession, path: String): Seq[(Long, Path)] =
    numbered(spark, path, BasePrefix)

  /** The latest base's `last_delta` stamp (0 without a base). */
  def stamp(spark: SparkSession, path: String): Long =
    bases(spark, path).lastOption
      .map { case (_, p) => readMeta(spark, p.toString)(StampKey).toLong }
      .getOrElse(0L)

  /** The LIVE delta chain: published deltas above the latest stamp, in
    * replay order. Dead deltas (≤ stamp) a crashed sweep left are not in
    * it. */
  def liveDeltas(spark: SparkSession, path: String): Seq[(Long, Path)] = {
    val s = stamp(spark, path)
    numbered(spark, path, DeltaPrefix).filter(_._1 > s)
  }

  /** The delta-id HIGH-WATER mark: the max over deltas on disk AND the
    * latest stamp. A new delta numbers above both — the base save sweeps
    * the deltas it swallowed, so a fold numbered from the disk listing
    * alone would land at or below the stamp and be invisible to every
    * load. */
  def highWater(spark: SparkSession, path: String): Long =
    math.max(numbered(spark, path, DeltaPrefix).map(_._1).maxOption.getOrElse(0L),
      stamp(spark, path))

  /** What a family's replay fold reads: the base's components and meta,
    * and each live delta's components, in id order. */
  final case class Chain(base: String => DataFrame, meta: Map[String, String],
      deltas: Seq[String => DataFrame])

  /** THE PERSISTED INDEX ARTIFACT — the one on-disk format of every index
    * family: corpus ([[Dedup.CorpusFiles]]), embed
    * ([[Similarity.EmbedFiles]]), kNN graph ([[Similarity.GraphFiles]]),
    * PQ ([[Similarity.PqFiles]]) and BM25 stats
    * ([[TextAnalysis.Bm25Files]]). It is LSM-shaped, so a fold loop
    * writes O(batch) bytes per fold, never O(index) — the reference's
    * tail-follow is incremental by construction (main.go:100-106), and this
    * is its index-side analog, with the same base + append + compact
    * discipline [[graft.streaming.MetricsJdbcAppend]] uses for the metric
    * sink. Layout under `path` (any Hadoop-FS scheme):
    *
    *   base_v<V>/<base component>/ …, meta_kv, _manifest
    *   delta_<N>/<delta component>/ …, _manifest
    *
    * A family declares only its component names, its meta keys and its
    * replay fold (the base plus the live delta chain into its index
    * value). Everything else lives here, under these crash rules:
    *
    *   - `meta_kv` carries the family's knobs plus `last_delta`: the
    *     highest delta id the base already incorporates. A load reads the
    *     HIGHEST base and replays only deltas with id > `last_delta`, in id
    *     order, so a delta the stamp swallowed is ignored by construction,
    *     never applied twice;
    *   - deltas number above the [[highWater]] mark;
    *   - every numbered directory is written as a `.tmp` sibling and
    *     published manifest-last ([[publish]]). `.tmp` and unmarked
    *     directories are invisible to loads ([[numbered]]) and are
    *     overwritten by the next writer of that number;
    *   - a base save stamps `last_delta` = the high-water mark (it asserts
    *     that the saved value incorporates every persisted fold), publishes,
    *     prunes the superseded bases and then sweeps the deltas its stamp
    *     swallowed. A crash before the sweep leaves only dead deltas;
    *     compaction is "load, truncate, save base";
    *   - one writer per path, fenced by [[claimWriter]]; readers are safe
    *     at any moment.
    *
    * Bases written before `meta_kv` keep their knobs in a 1-row parquet
    * `meta` directory, which [[readMeta]] still reads. */
  abstract class Artifact[I, D](kind: String, baseComponents: Seq[String],
      deltaComponents: Seq[String]) {
    /** The base components of `idx`, in `baseComponents` order. */
    protected def baseFrames(idx: I): Seq[DataFrame]
    /** The family's knobs (the stamp is added here). */
    protected def meta(idx: I): Seq[(String, String)]
    /** The delta components of `delta`, in `deltaComponents` order. */
    protected def deltaFrames(delta: D): Seq[DataFrame]
    /** The replay fold: the base plus the live delta chain into the index
      * value, each kept component passed through `pin`. */
    protected def replay(chain: Chain, pin: DataFrame => DataFrame): I
    /** Compaction's truncation: materialize a loaded value off the delta
      * files the base save sweeps. Plain frames need none. */
    protected def detach(loaded: I): I = loaded

    /** True when `path` holds a published base. */
    def exists(spark: SparkSession, path: String): Boolean =
      bases(spark, path).nonEmpty

    /** Persist `idx` as the next base version (see the crash rules). */
    def save(idx: I, path: String): Unit = {
      val frames = baseFrames(idx)
      val spark = frames.head.sparkSession
      val stamped = highWater(spark, path)
      val v = bases(spark, path).map(_._1).maxOption.getOrElse(0L) + 1
      write(spark, path, s"$BasePrefix$v", baseComponents.zip(frames),
        meta(idx) :+ (StampKey -> stamped.toString))
      bases(spark, path).filter(_._1 < v)
        .foreach { case (_, p) => delete(spark, p.toString) }
      numbered(spark, path, DeltaPrefix).filter(_._1 <= stamped)
        .foreach { case (_, p) => delete(spark, p.toString) }
    }

    /** Persist one fold's O(batch) delta as the next numbered delta.
      * Returns the assigned id. */
    def saveDelta(delta: D, path: String): Long = {
      val frames = deltaFrames(delta)
      val n = highWater(frames.head.sparkSession, path) + 1
      write(frames.head.sparkSession, path, s"$DeltaPrefix$n",
        deltaComponents.zip(frames), Nil)
      n
    }

    /** Persist a delta under a REPLAY-STABLE id (a foreachBatch batchId + 1,
      * so ids start above the empty-base stamp 0). A delta that depends
      * only on its batch is then replay-safe without staging: a replayed
      * batch overwrites identical bytes, and a replay whose id a base
      * already swallowed (id ≤ stamp) skips, because its content is in that
      * base. */
    def saveDeltaAt(delta: D, path: String, id: Long): Option[Long] = {
      val frames = deltaFrames(delta)
      val spark = frames.head.sparkSession
      if (id <= stamp(spark, path)) None
      else {
        write(spark, path, s"$DeltaPrefix$id", deltaComponents.zip(frames), Nil)
        Some(id)
      }
    }

    /** Load the highest base replayed through its live delta chain, each
      * component pinned. */
    def load(spark: SparkSession, path: String): I = load(spark, path, pin = true)

    /** [[load]] with the pinning optional: a caller that immediately
      * truncates the loaded value (compaction, the registry's delta rows)
      * would otherwise write every component to executor storage twice —
      * once for the pin, once for the checkpoint. */
    def load(spark: SparkSession, path: String, pin: Boolean): I = {
      val bs = bases(spark, path)
      require(bs.nonEmpty, s"no persisted $kind at $path")
      val base = bs.last._2.toString
      val kv = readMeta(spark, base)
      def reader(dir: String): String => DataFrame =
        name => spark.read.parquet(s"$dir/$name")
      val live = numbered(spark, path, DeltaPrefix)
        .filter(_._1 > kv(StampKey).toLong)
      replay(Chain(reader(base), kv, live.map { case (_, p) => reader(p.toString) }),
        if (pin) PinnedCaches.pin else identity)
    }

    /** COMPACT the base + delta chain into one new base — bounds what a
      * restart replays. Contents-identical to the uncompacted load. */
    def compact(spark: SparkSession, path: String): Unit =
      save(detach(load(spark, path, pin = false)), path)

    private def write(spark: SparkSession, path: String, name: String,
        components: Seq[(String, DataFrame)], kv: Seq[(String, String)]): Unit = {
      val tmp = s"$path/$name.tmp"
      delete(spark, tmp)
      inParallel(components.map { case (c, df) =>
        () => sizedForWrite(df).write.mode("overwrite").parquet(s"$tmp/$c")
      })
      if (kv.nonEmpty) writeMetaKv(spark, tmp, kv)
      publish(spark, tmp, s"$path/$name")
    }
  }
}
