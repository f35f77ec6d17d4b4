package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IndexFiles

/** CURATED-OUTPUT compaction — the small-files bound for the ingest
  * daemons' sinks. [[StreamingCuration.ingestTo]] and [[graft.VecIngest]]
  * land one `outPath/ingest_batch=<id>` parquet directory per micro-batch
  * for exactly-once replay (a re-delivered batch overwrites its own dir);
  * without maintenance that is ~500k directories/year at a minute-level
  * trigger — the classic downstream-read killer at 100 TB, and the one
  * artifact family that did NOT yet compact (the index delta chains do:
  * [[graft.operators.Dedup.CorpusFiles.compact]], `--near-compact-every`). The
  * reference consumes logrotate'd BOUNDED file sets (main.go:100-106
  * `ReOpen`); this gives the output side the same boundedness.
  *
  * TIERED, because the output is the one artifact that grows without
  * bound: a single-base design would rewrite the WHOLE corpus every N
  * batches (O(corpus) on the trigger cadence — at 100 TB, a full-corpus
  * rewrite every few minutes). Instead:
  *
  *   ingest_batch=<id>/            one per landed micro-batch (live tail)
  *   compacted_v<V>/{data,meta}    a SEGMENT; meta: `last_batch` (highest
  *                                 batch folded into it), `full` (major?)
  *
  *   - MINOR [[compact]] folds the live batch dirs into ONE new segment —
  *     O(compaction window), never O(corpus); prior segments untouched.
  *   - TIERED MERGE [[mergeTiers]] bounds segment count WITHOUT scheduled
  *     full rewrites (the r12 `--out-major-every` count cadence was a
  *     full-corpus rewrite every ~N minutes at a minute trigger — the
  *     scale-killer): segments are bucketed by size into log-`ratio`
  *     tiers, and a merge folds ONLY the segments of one tier once
  *     `minMerge` of them accumulate. Merging `minMerge ≥ ratio` same-tier
  *     segments always produces a segment of a HIGHER tier, so any byte is
  *     rewritten at most once per tier level — total bytes rewritten over
  *     the corpus lifetime is O(n·log n), never O(n) per cadence. The
  *     merged meta CLAIMS its inputs (`merged_from`), so a crash between
  *     publish and sweep leaves claimed segments every read ignores.
  *   - MAJOR [[compactFull]] still exists as the EXPLICIT operator (one
  *     final corpus-wide fold before a handoff); no daemon schedules it.
  *   - [[read]] = every unclaimed segment above the highest full segment,
  *     plus that full segment, plus live dirs above the global stamp. An
  *     interrupted sweep leaves stale segments this rule ignores BY
  *     CONSTRUCTION (the index artifact's stamp argument, segment-shaped); the next
  *     compaction deletes them.
  *   - a REPLAYED batch at or below the stamp (crash between compaction
  *     and checkpoint commit) must SKIP landing — its rows are in a
  *     segment, and re-creating the dir would double them in every read
  *     (the `--bm25-stats` swallowed-replay rule, applied to the output).
  *
  * Every segment publishes by atomic tmp-rename; rows live in EXACTLY ONE
  * visible segment, so reads are plain unions. `upTo` exists because
  * compaction runs INSIDE a foreachBatch body: dirs beyond the current
  * batch id cannot exist in a healthy run, but bounding the fold keeps a
  * foreign half-written leftover from ever being folded. Single-writer
  * contract, fenced at the daemon tier like the index chains. */
object OutputCompaction {

  private[graft] val BatchPrefix = "ingest_batch="
  private[graft] val BasePrefix = "compacted_v"

  private final case class Seg(version: Long, path: String, lastBatch: Long,
      full: Boolean, mergedFrom: Seq[Long])

  /** CONSOLIDATED SEGMENT MANIFEST — a read-path cache, never a source of
    * truth. Without it every [[segments]] call pays one tiny parquet read
    * (a Spark job round trip) PER segment — bounded by the tier policy,
    * but that is still ~24 driver round trips on every daemon-internal
    * read, restart offset rebuild, and ops gauge. The manifest folds all
    * per-segment metas into ONE plain-text file read with bare FS ops (no
    * Spark job at all).
    *
    * Consistency is by CONSTRUCTION, not coordination: per-segment metas
    * remain authoritative, a marked segment's meta is immutable after
    * publish (writers never rewrite a committed version), and the
    * manifest is trusted ONLY when its version set equals the live
    * listing's — any publish or sweep changes the listing and therefore
    * invalidates the manifest wholesale. On mismatch the reader falls
    * back to the per-segment metas and SELF-HEALS by rewriting the
    * manifest; a torn write (crash mid-manifest) fails the `end <count>`
    * trailer and is ignored the same way. A stale concurrent heal write
    * is likewise harmless: it can only publish a set that disagrees with
    * the listing, which the next reader detects and re-heals. Mutators
    * pre-heal on exit so the daemons' per-batch read paths stay
    * zero-Spark-job. */
  private[graft] val SegManifest = "_segments_manifest"

  private def parseSegLine(l: String): Option[(Long, (Long, Boolean, Seq[Long]))] = {
    val parts = l.split(" ")
    if (parts.length != 5) None
    else for {
      v <- parts(1).toLongOption
      last <- parts(2).toLongOption
      full <- parts(3).toBooleanOption
      claims <-
        if (parts(4) == "-") Some(Seq.empty[Long])
        else {
          val cs = parts(4).split(",").toSeq.map(_.toLongOption)
          if (cs.exists(_.isEmpty)) None else Some(cs.flatten)
        }
    } yield v -> ((last, full, claims))
  }

  /** version → (lastBatch, full, mergedFrom); None when absent, torn, or
    * unparseable — callers treat all three identically (fall back to the
    * per-segment metas). */
  private def readSegManifest(f: org.apache.hadoop.fs.FileSystem,
      outPath: String): Option[Map[Long, (Long, Boolean, Seq[Long])]] =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$outPath/$SegManifest")
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = text.linesIterator.toSeq
        if (lines.headOption.fold(true)(_ != "graft-segments-v1")) None
        else {
          val segLines = lines.tail.takeWhile(_.startsWith("seg "))
          val trailer = lines.drop(1 + segLines.size).headOption
          val parsed = segLines.map(parseSegLine)
          if (!trailer.contains(s"end ${segLines.size}") || parsed.exists(_.isEmpty)) None
          else Some(parsed.flatten.toMap)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Best-effort cache write (single-object overwrite — last writer wins
    * whole-file on every store); a failure only costs the next reader a
    * fallback scan. */
  private def writeSegManifest(f: org.apache.hadoop.fs.FileSystem,
      outPath: String, segs: Seq[Seg]): Unit =
    try {
      val body = new StringBuilder("graft-segments-v1\n")
      segs.sortBy(_.version).foreach { s =>
        val claims = if (s.mergedFrom.isEmpty) "-" else s.mergedFrom.sorted.mkString(",")
        body.append(s"seg ${s.version} ${s.lastBatch} ${s.full} $claims\n")
      }
      body.append(s"end ${segs.size}\n")
      val out = f.create(new org.apache.hadoop.fs.Path(s"$outPath/$SegManifest"), true)
      try out.write(body.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** All published segments, ascending by version — served from the
    * consolidated manifest when its version set matches the live listing
    * (zero Spark jobs), else from the per-segment metas (one tiny parquet
    * read each), self-healing the manifest on the way out. */
  private def segments(spark: SparkSession, outPath: String): Seq[Seg] = {
    val listed = IndexFiles.numbered(spark, outPath, BasePrefix)
    val f = IndexFiles.fs(spark, outPath)
    val versions = listed.map(_._1).toSet
    val cached = readSegManifest(f, outPath)
    cached match {
      case Some(m) if m.keySet == versions =>
        listed.map { case (v, p) =>
          val (last, full, claims) = m(v)
          Seg(v, p.toString, last, full, claims)
        }
      case _ =>
        val segs = listed.map { case (v, p) =>
          val m = spark.read.parquet(s"$p/meta").head()
          val fields = m.schema.fieldNames
          Seg(v, p.toString, m.getAs[Long]("last_batch"),
            // metas written before the tiered layout carry no `full` column;
            // treat them as majors (a single base subsumed everything)
            if (fields.contains("full")) m.getAs[Boolean]("full") else true,
            // merge CLAIMS: segment versions whose rows this segment contains
            // (a crashed sweep's leftovers stay claimed — and invisible)
            // rows hand arrays back as scala.collection.Seq (mutable.ArraySeq)
            if (fields.contains("merged_from"))
              m.getAs[scala.collection.Seq[Long]]("merged_from").toSeq
            else Seq.empty)
        }
        // heal only when there is something to record or to retract — a
        // read of a never-written outPath must not create files
        if (listed.nonEmpty || cached.isDefined)
          writeSegManifest(f, outPath, segs)
        segs
    }
  }

  /** The segments a read sees: the highest `full` segment and everything
    * above it, minus any segment CLAIMED by another's `merged_from` (the
    * claimant holds its rows — transitively, so a claimed claimant still
    * shields its own inputs). Stale leftovers of an interrupted sweep are
    * invisible by construction under both rules. */
  private def visible(segs: Seq[Seg]): Seq[Seg] = {
    val claimed = segs.flatMap(_.mergedFrom).toSet
    val unclaimed = segs.filterNot(s => claimed.contains(s.version))
    val floor = unclaimed.filter(_.full).map(_.version).maxOption.getOrElse(Long.MinValue)
    unclaimed.filter(_.version >= floor)
  }

  /** Bytes under a segment's data dir (FS listing only — no Spark job). */
  private def dataBytes(spark: SparkSession, segPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$segPath/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** The highest batch id any visible segment incorporates; -1 when
    * nothing was ever compacted (batch ids start at 0, so every id is
    * above a fresh path's stamp). */
  def highWater(spark: SparkSession, outPath: String): Long =
    visible(segments(spark, outPath)).map(_.lastBatch).maxOption.getOrElse(-1L)

  /** The accumulated curated corpus when any exists: visible segments ∪
    * live batch dirs above the stamp. Dead batch dirs (id ≤ stamp — an
    * interrupted sweep's leftovers) are invisible by construction. */
  def readIfAny(spark: SparkSession, outPath: String): Option[DataFrame] = {
    val vis = visible(segments(spark, outPath))
    val stamp = vis.map(_.lastBatch).maxOption.getOrElse(-1L)
    val live = IndexFiles.numbered(spark, outPath, BatchPrefix)
      .filter(_._1 > stamp).map(_._2.toString)
    val parts = vis.map(s => spark.read.parquet(s"${s.path}/data")) ++
      (if (live.nonEmpty) Seq(spark.read.parquet(live: _*)) else Nil)
    parts.reduceOption(_ unionByName _)
  }

  /** [[readIfAny]] that demands output exists — the daemon-internal reads
    * (retrain corpus, offset bases) where an empty sink is a bug. */
  def read(spark: SparkSession, outPath: String): DataFrame =
    readIfAny(spark, outPath)
      .getOrElse(throw new IllegalStateException(s"no curated output at $outPath"))

  /** Number of published segments — the major-cadence input and an ops
    * gauge. */
  def segmentCount(spark: SparkSession, outPath: String): Int =
    visible(segments(spark, outPath)).size

  /** Everything already FINAL at a restart: visible segments ∪ live batch
    * dirs strictly below `beforeBatch` (ids at or beyond it are the
    * replayed/new batches this run will overwrite). The offset-base
    * rebuild's input ([[StreamingCuration.basesFromSink]]). */
  def readFinalBefore(spark: SparkSession, outPath: String,
      beforeBatch: Long): Option[DataFrame] = {
    val vis = visible(segments(spark, outPath))
    val stamp = vis.map(_.lastBatch).maxOption.getOrElse(-1L)
    val live = IndexFiles.numbered(spark, outPath, BatchPrefix)
      .filter { case (id, _) => id > stamp && id < beforeBatch }
      .map(_._2.toString)
    val parts = vis.map(s => spark.read.parquet(s"${s.path}/data")) ++
      (if (live.nonEmpty) Seq(spark.read.parquet(live: _*)) else Nil)
    parts.reduceOption(_ unionByName _)
  }

  /** A minor segment's file-count bound: without it, each minor inherits
    * the write's shuffle partitioning (`spark.sql.shuffle.partitions` —
    * 32-file segments of a 1-minute window in production defaults), and
    * the small-FILES problem survives the small-DIRS fix. Minor windows
    * are compaction-cadence-bounded, so a fixed small coalesce is safe;
    * majors keep their natural (corpus-sized) partitioning, and an
    * explicit `layout` transform owns partitioning outright. */
  private val MinorSegmentFiles = 8

  /** Publish `data` as segment V+1 (atomic tmp-rename), stamped; the meta
    * claims `mergedFrom` so readers ignore the inputs even if the sweep
    * that deletes them never runs. */
  private def publishSegment(spark: SparkSession, outPath: String,
      data: DataFrame, lastBatch: Long, full: Boolean,
      layout: Option[DataFrame => DataFrame],
      mergedFrom: Seq[Long] = Seq.empty): Long = {
    import spark.implicits._
    val v = IndexFiles.numbered(spark, outPath, BasePrefix)
      .map(_._1).maxOption.getOrElse(0L) + 1
    val tmp = s"$outPath/$BasePrefix$v.tmp"
    IndexFiles.delete(spark, tmp)
    // the write MATERIALIZES the input before anything is deleted; an
    // optional layout transform (the daemons' --layout z-order)
    // re-clusters so the long-lived files keep box-prunable min/max stats
    layout.map(f => f(data)).getOrElse(data)
      .write.mode("overwrite").parquet(s"$tmp/data")
    Seq((lastBatch, full, mergedFrom)).toDF("last_batch", "full", "merged_from")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    IndexFiles.publish(spark, tmp, s"$outPath/$BasePrefix$v")
    v
  }

  private def sweepDirs(spark: SparkSession, dirs: Seq[(Long, org.apache.hadoop.fs.Path)]): Unit =
    dirs.foreach { case (_, p) => IndexFiles.delete(spark, p.toString) }

  /** Pre-heal the consolidated manifest after a mutation, so the
    * daemons' per-batch read paths never pay the fallback meta scan. */
  private def healManifest(spark: SparkSession, outPath: String): Unit = {
    segments(spark, outPath); ()
  }

  /** MINOR compaction: fold the live batch dirs (stamp, upTo] into ONE new
    * segment and sweep them — O(compaction window), prior segments
    * untouched. No-op when nothing is foldable (still sweeps dead batch
    * dirs and invisible stale segments an interrupted sweep left).
    * Contents-identical to the pre-compaction [[read]]; crash-safe at
    * every boundary by the stamp/visibility rules. */
  def compact(spark: SparkSession, outPath: String,
      upTo: Long = Long.MaxValue,
      layout: Option[DataFrame => DataFrame] = None): Unit = {
    val segs = segments(spark, outPath)
    val stamp = visible(segs).map(_.lastBatch).maxOption.getOrElse(-1L)
    val all = IndexFiles.numbered(spark, outPath, BatchPrefix)
    val dead = all.filter(_._1 <= stamp)
    val fold = all.filter { case (id, _) => id > stamp && id <= upTo }
    sweepStale(spark, segs)
    if (fold.isEmpty) { sweepDirs(spark, dead); healManifest(spark, outPath); return }
    val window = spark.read.parquet(fold.map(_._2.toString): _*)
    publishSegment(spark, outPath,
      if (layout.isEmpty) window.coalesce(MinorSegmentFiles) else window,
      lastBatch = fold.map(_._1).max, full = false, layout)
    sweepDirs(spark, dead ++ fold)
    healManifest(spark, outPath)
  }

  /** MAJOR compaction: merge every visible segment plus the live batch
    * dirs (≤ `upTo`) into one `full` segment, then sweep the merged
    * inputs — the rare O(corpus) pass that bounds segment count. A crash
    * between publish and sweep leaves stale segments the visibility rule
    * already ignores. */
  def compactFull(spark: SparkSession, outPath: String,
      upTo: Long = Long.MaxValue,
      layout: Option[DataFrame => DataFrame] = None): Unit = {
    val segs = segments(spark, outPath)
    val vis = visible(segs)
    val stamp = vis.map(_.lastBatch).maxOption.getOrElse(-1L)
    val all = IndexFiles.numbered(spark, outPath, BatchPrefix)
    val dead = all.filter(_._1 <= stamp)
    val fold = all.filter { case (id, _) => id > stamp && id <= upTo }
    // already fully merged and nothing new: re-copying the corpus into a
    // fresh segment would be an O(corpus) no-op — skip (sweeps still run)
    if (fold.isEmpty && vis.size <= 1 && vis.forall(_.full)) {
      sweepDirs(spark, dead); sweepStale(spark, segs)
      healManifest(spark, outPath); return
    }
    val parts = vis.map(s => spark.read.parquet(s"${s.path}/data")) ++
      (if (fold.nonEmpty) Seq(spark.read.parquet(fold.map(_._2.toString): _*)) else Nil)
    if (parts.isEmpty) {
      sweepDirs(spark, dead); sweepStale(spark, segs)
      healManifest(spark, outPath); return
    }
    val newStamp = (stamp +: fold.map(_._1)).max
    val v = publishSegment(spark, outPath,
      parts.reduce(_ unionByName _), newStamp, full = true, layout)
    // sweep everything the new major subsumes (stale pre-crash leftovers
    // included — they are below the new major by construction)
    segments(spark, outPath).filter(_.version < v)
      .foreach(s => IndexFiles.delete(spark, s.path))
    sweepDirs(spark, dead ++ fold)
    healManifest(spark, outPath)
  }

  /** Delete invisible segments — claimed merge inputs and pre-full
    * leftovers an interrupted sweep left behind (already invisible to
    * every read by the [[visible]] rules). */
  private def sweepStale(spark: SparkSession, segs: Seq[Seg]): Unit = {
    val vis = visible(segs).map(_.version).toSet
    segs.filterNot(s => vis.contains(s.version))
      .foreach(s => IndexFiles.delete(spark, s.path))
  }

  /** Size-tiered segment merging — the bound on segment count that never
    * schedules a corpus rewrite. Visible non-full segments are bucketed
    * into log-`ratio` size tiers; whenever one tier holds ≥ `minMerge`
    * segments, they merge into ONE new segment (meta claims the inputs,
    * then the inputs are swept), and the scan repeats — a merge can
    * cascade into the next tier, exactly like LSM size-tiered compaction.
    * With `minMerge ≥ ratio`, merging a tier's segments always yields a
    * segment of a strictly higher tier, so a byte is rewritten at most
    * once per tier: lifetime rewrite volume is O(n·log n) and steady-state
    * segment count is O(minMerge · log_ratio(corpus/batch)).
    *
    * The merged segment is `full` only when its inputs were ALL visible
    * segments (then it subsumes the corpus — the natural major, reached
    * occasionally by cascade rather than by schedule). Returns the total
    * bytes rewritten (the spec's O(n·log n) accounting). */
  def mergeTiers(spark: SparkSession, outPath: String,
      layout: Option[DataFrame => DataFrame] = None,
      ratio: Int = 4, minMerge: Int = 4): Long = {
    require(ratio >= 2 && minMerge >= ratio,
      s"minMerge ($minMerge) must be >= ratio ($ratio) for the tier-escape bound")
    var rewritten = 0L
    var repeat = true
    while (repeat) {
      repeat = false
      // sweep claimed/stale leftovers BEFORE merging: a merge that folded
      // away a claimant while its inputs' crash leftovers still existed
      // would orphan those leftovers into visibility (claim inheritance
      // below closes the same hole for the in-pass window)
      sweepStale(spark, segments(spark, outPath))
      val segs = segments(spark, outPath)
      val vis = visible(segs)
      val existing = segs.map(_.version).toSet
      // the visible FULL segment (at most one — the floor) never joins a
      // tier group: folding it into a non-full result would erase the
      // floor and resurface any pre-floor crash leftovers beneath it
      val sized = vis.filterNot(_.full).map(s => (s, dataBytes(spark, s.path)))
      val tiers = sized.groupBy { case (_, bytes) =>
        // log-ratio bucket; segments below `ratio` bytes share tier 0
        (math.log(math.max(bytes, 1L).toDouble) / math.log(ratio.toDouble)).toInt
      }
      tiers.toSeq.sortBy(_._1).find(_._2.size >= minMerge).foreach { case (_, group) =>
        val inputs = group.map(_._1).sortBy(_.version)
        val data = inputs.map(s => spark.read.parquet(s"${s.path}/data"))
          .reduce(_ unionByName _)
        val bytes = group.map(_._2).sum
        // bound output files without undoing an explicit layout's
        // clustering: ~128 MiB target parquet files at scale, floor of
        // MinorSegmentFiles so small-tier merges stay small-file-bounded
        val targetFiles = math.max(MinorSegmentFiles,
          (bytes / (128L << 20)).toInt + 1)
        // claims are TRANSITIVE: inherit the inputs' own claims (pruned
        // to still-existing versions, so lists never grow past the crash
        // leftovers they shield) — a leftover stays claimed even after
        // its original claimant merges away
        val claims = (inputs.map(_.version) ++
          inputs.flatMap(_.mergedFrom).filter(existing.contains)).distinct.sorted
        val v = publishSegment(spark, outPath,
          if (layout.isEmpty) data.coalesce(targetFiles) else data,
          lastBatch = inputs.map(_.lastBatch).max,
          full = inputs.size == vis.size,
          layout, mergedFrom = claims)
        inputs.foreach(s => IndexFiles.delete(spark, s.path))
        rewritten += bytes
        repeat = true
        // versions monotone: the claimant (v) is the new max
        assert(v > inputs.map(_.version).max)
      }
    }
    rewritten
  }
}
