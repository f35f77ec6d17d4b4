package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Tail-follow a FLEET of appending log files — the cluster story the
  * single-file source's scaladoc promises (TailFileSource.scala: "MANY
  * tailed files, one per server, each a cheap single-partition scan
  * feeding the id-partitioned stateful merge"): one ClickHouse server log
  * per path, all tailed by ONE source whose offset is the map of per-file
  * positions.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.sources.TailFleetSourceProvider")
  *     .option("paths", "/logs/ch1.log,/logs/ch2.log")
  *     .option("fromStart", "false")
  *     .load()                 // schema: src string, seq long, value string
  * }}}
  *
  * Design: the stream DELEGATES per-file to [[TailFileMicroBatchStream]] —
  * every single-file behavior (seek-to-EOF, line-buffered delivery,
  * copytruncate + move/recreate rotation epochs, mid-file checkpoint
  * resume) holds per fleet member unchanged, and this class only composes
  * offsets and partitions. Each micro-batch plans at most one
  * [[TailRange]] per file, tagged with its `src` path; readers run in
  * parallel across the cluster (one task per progressing file), and the
  * shuffle into the id-partitioned stateful merge is where per-query
  * parallelism happens — the fleet scales by adding files, not by
  * splitting any one tail.
  *
  * `src` + `seq` is the fleet's arrival-order key: `seq` is monotone per
  * file (byte offset within rotation epoch), and lines of different files
  * are causally independent — exactly the partial order the keyed merge
  * needs once query ids are namespaced per server (see
  * `StreamingMerge.fleetMergeWithDelivery`). A restart may grow/shrink the fleet:
  * checkpointed offsets are matched by path, a new path starts at its own
  * initial offset, a removed path's offset entry is ignored.
  *
  * Paths must not contain `,` (the option separator), newlines, or
  * U+0001/U+0002 (the offset-map separators).
  */
class TailFleetSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TailFleetSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val specs = Option(properties.get("paths")).getOrElse(
      throw new IllegalArgumentException("option 'paths' is required"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val (globs, literals) = specs.partition(TailFleetSource.isGlob)
    new TailFleetTable(literals, globs,
      java.lang.Boolean.parseBoolean(properties.getOrDefault("fromStart", "false")),
      java.lang.Long.parseLong(properties.getOrDefault("maxBytesPerTrigger", "0")),
      TailFleetSource.parseBackfill(properties.getOrDefault("backfill", "")))
  }
}

object TailFleetSource {
  val Schema: StructType = new StructType()
    .add("src", StringType, nullable = false)
    .add("seq", LongType, nullable = false)
    .add("value", StringType, nullable = false)

  /** A `paths` entry whose FILENAME component contains glob metacharacters
    * is dynamic-membership: the parent directory is literal, the filename
    * pattern is re-evaluated every `latestOffset()` poll, so a new
    * server's log joins the fleet within a micro-batch of appearing — the
    * same new-file discovery FileStreamSource does for directories,
    * grafted onto per-file tail offsets. */
  def isGlob(spec: String): Boolean = spec.exists("*?[{".contains(_))

  /** Brace alternations (`{a,b}.log`) are UNSUPPORTED and rejected with
    * this message: ',' is the path-LIST separator in both the CLI and the
    * `paths` option wire form, so a brace glob is shredded into nonsense
    * specs before glob parsing ever sees it — and would otherwise surface
    * as a cryptic PatternSyntaxException ("unclosed group") from the path
    * matcher at stream start. */
  def rejectBraces(spec: String): Unit =
    require(!spec.exists("{}".contains(_)),
      s"brace globs are not supported in '$spec': ',' is the path-list " +
        "separator, so '{a,b}' alternations are split apart before glob " +
        "parsing — use ?, * or [...] patterns, or list the files")

  /** Expand one glob spec against the CURRENT directory contents: regular
    * files whose name matches the pattern, sorted for determinism. The
    * directory component must be literal. */
  def expandGlob(spec: String): Seq[String] = {
    val p = java.nio.file.Paths.get(spec)
    val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
    require(!isGlob(dir.toString),
      s"only the filename component of a fleet glob may contain wildcards: $spec")
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    val matcher = java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + p.getFileName.toString)
    val stream = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          matcher.matches(f.getFileName))
        .map(_.toString).toSeq.sorted
    } finally stream.close()
  }

  /** The fleet membership a spec list denotes RIGHT NOW: literal entries
    * as-is plus each glob's current expansion (used for registry seeding
    * and the stream's initial membership). */
  def expandMembers(specs: Seq[String]): Seq[String] = {
    val (globs, literals) = specs.partition(isGlob)
    (literals ++ globs.flatMap(expandGlob)).distinct
  }

  /** Does `path` belong to glob spec `spec`? Same directory (literal by
    * [[expandGlob]]'s contract) and a filename match — the membership test
    * checkpoint-replay uses so a path dropped from the config is not
    * resurrected by its checkpoint entry. */
  def matchesGlob(spec: String, path: String): Boolean = {
    val sp = java.nio.file.Paths.get(spec)
    val pp = java.nio.file.Paths.get(path)
    val dirOf = (p: java.nio.file.Path) =>
      Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
    dirOf(sp) == dirOf(pp) &&
      java.nio.file.FileSystems.getDefault
        .getPathMatcher("glob:" + sp.getFileName.toString)
        .matches(pp.getFileName)
  }

  /** Per-member backfill chains, `live=arch1,arch2` entries joined by `;`
    * (so backfill-mapped paths must not contain `,`, `;`, or `=` — the
    * single-file source keeps its bare comma-list form). Duplicate keys
    * concatenate in option order, matching a repeated CLI flag. */
  def parseBackfill(spec: String): Map[String, Seq[String]] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).foldLeft(
      Map.empty[String, Seq[String]]) { (acc, entry) =>
      entry.split("=", 2) match {
        case Array(live, archs) if live.trim.nonEmpty =>
          val k = live.trim
          acc.updated(k, acc.getOrElse(k, Nil) ++
            archs.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case _ => throw new IllegalArgumentException(
          s"bad fleet backfill entry '$entry' (want live=arch1,arch2)")
      }
    }

  /** [[parseBackfill]]'s inverse — the option wire form. */
  def renderBackfill(backfill: Map[String, Seq[String]]): String =
    backfill.toSeq.sortBy(_._1)
      .map { case (live, archs) => live + "=" + archs.mkString(",") }
      .mkString(";")
}

/** Fleet position: one [[TailOffset]] per path. The wire form must stay a
  * SINGLE line — Spark's offset log is line-based, so an embedded newline
  * would read back as extra sources — hence the control-char separators
  * (U+0001 inside an entry, U+0002 between entries). */
final case class TailFleetOffset(offsets: Map[String, TailOffset]) extends Offset {
  override def json(): String = offsets.toSeq.sortBy(_._1)
    .map { case (p, o) => p + "\u0001" + o.json() }.mkString("\u0002")
}

object TailFleetOffset {
  def parse(s: String): TailFleetOffset = TailFleetOffset(
    s.split("\u0002").filter(_.nonEmpty).map { entry =>
      val Array(p, o) = entry.split("\u0001", 2)
      p -> TailOffset.parse(o)
    }.toMap)
}

class TailFleetTable(paths: Seq[String], globs: Seq[String], fromStart: Boolean,
    maxBytesPerTrigger: Long = 0L,
    backfillFor: Map[String, Seq[String]] = Map.empty)
    extends Table with SupportsRead {
  require(paths.nonEmpty || globs.nonEmpty,
    "option 'paths' must list at least one file or glob")
  (paths ++ globs).foreach(TailFleetSource.rejectBraces)
  require(backfillFor.keySet.subsetOf(paths.toSet),
    "every backfill key must be a LITERAL fleet path (a glob-discovered " +
      s"member postdates the attach, its history is its own content): " +
      s"${backfillFor.keySet.diff(paths.toSet).mkString(", ")}")
  override def name(): String = s"tailfleet:${(paths ++ globs).mkString(",")}"
  override def schema(): StructType = TailFleetSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = TailFleetSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new TailFleetMicroBatchStream(paths, fromStart, globs, maxBytesPerTrigger,
          backfillFor)
      override def toBatch: Batch = throw new UnsupportedOperationException(
        "tailfleet is a streaming-only source; use LogSource.readText per file for batch")
    }
}

/** @param backfillFor per-member BACKFILL-THEN-FOLLOW chains (see
  *   [[TailFileMicroBatchStream]]'s backfill scaladoc — the semantics are
  *   the member's, unchanged): each mapped member drains its rotated-away
  *   archives as pre-live epochs before attaching to its live tail, while
  *   unmapped members tail normally. Archive lines carry the LIVE path as
  *   their `src` tag — history and tail are one per-server stream, so the
  *   keyed merge correlates a query lifecycle spanning the archive
  *   boundary and the fleet's `server` labels stay per live file. Keys
  *   must be literal fleet paths. */
class TailFleetMicroBatchStream(paths: Seq[String], fromStart: Boolean,
    globs: Seq[String] = Nil, maxBytesPerTrigger: Long = 0L,
    backfillFor: Map[String, Seq[String]] = Map.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Mutable membership: literal paths are fixed (and fail fast if
    * invalid, like the reference's pre-flight); glob matches join at
    * construction AND at every [[latestOffset]] poll. */
  private val streams =
    scala.collection.concurrent.TrieMap.empty[String, TailFileMicroBatchStream]
  paths.foreach(p => streams.put(p,
    new TailFileMicroBatchStream(p, fromStart,
      backfill = backfillFor.getOrElse(p, Nil))))
  globs.flatMap(TailFleetSource.expandGlob).foreach(register(_, fromStart))

  /** `Trigger.AvailableNow`: every member drains to its own goal (captured
    * lazily after the checkpoint replay — see the member's scaladoc) and
    * the run ends when ALL members report no progress. A member discovered
    * mid-drain joins in drain mode too: it drains the content it was
    * discovered with, then parks. */
  @volatile private var drainMode: Boolean = false
  override def prepareForTriggerAvailableNow(): Unit = {
    drainMode = true
    streams.values.foreach(_.prepareForTriggerAvailableNow())
  }

  /** Register a member. For DISCOVERY (`swallowFailure = true`) a file
    * that fails pre-flight or open is SKIPPED — a .gz rotation artifact
    * matching the glob, a file deleted between the directory listing and
    * the open (FileNotFoundException), or an unreadable one must not kill
    * the whole fleet (a persistently unreadable file would otherwise
    * crash-loop the query: every restart rediscovers it). For CHECKPOINT
    * REPLAY (`swallowFailure = false`) failures PROPAGATE: swallowing
    * there would drop the member's restored offset, and the next
    * discovery poll would re-register it `fromStart = true` — a silent
    * full re-read double-counting all its metrics. Failing the query
    * retries the replay deterministically instead. */
  private def register(p: String, memberFromStart: Boolean,
      swallowFailure: Boolean = true): Unit =
    if (!streams.contains(p)) {
      try {
        val m = new TailFileMicroBatchStream(p, memberFromStart)
        if (streams.putIfAbsent(p, m).isEmpty && drainMode)
          m.prepareForTriggerAvailableNow()
        ()
      } catch {
        case scala.util.control.NonFatal(_) if swallowFailure => ()
      }
    }

  /** Re-evaluate the globs: a file that appeared mid-stream joins with
    * `fromStart = true` — it postdates the attach, so ALL its content is
    * new data (the seek-to-EOF default only applies to members present at
    * query start). Membership never shrinks within a run; a deleted
    * member simply holds position (and is dropped on the next restart,
    * when its checkpoint entry finds no file). */
  private def discover(): Unit =
    globs.flatMap(TailFleetSource.expandGlob).foreach(register(_, memberFromStart = true))

  private def perFile(o: Offset): Map[String, TailOffset] =
    o.asInstanceOf[TailFleetOffset].offsets

  override def initialOffset(): Offset = TailFleetOffset(
    streams.toMap.map { case (p, s) => p -> s.initialOffset().asInstanceOf[TailOffset] })

  /** Advertised as the PER-MEMBER budget ([[admitAll]]): a fleet poll may
    * admit up to `members × maxBytesPerTrigger` bytes — each member drains
    * its own backlog independently, so one cold `--from-start` giant
    * cannot starve the live tails sharing its micro-batches. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxBytesPerTrigger > 0) ReadLimit.maxBytes(maxBytesPerTrigger)
    else ReadLimit.allAvailable()

  /** The admission-control poll Spark actually drives: replaying `start`
    * (the RESTORED fleet position on the first post-restart call) into
    * the members before polling closes the restart race where a plain
    * `latestOffset()` ran before `deserializeOffset`, bootstrapped a
    * member from its fresh initial offset, and emitted a regressed
    * epoch — which the next poll mistook for a rotation and re-read. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    replayInto(perFile(start))
    admitAll(TailFileSource.byteCapOf(limit, maxBytesPerTrigger))
  }

  override def latestOffset(): Offset = admitAll(maxBytesPerTrigger)

  private def admitAll(cap: Long): Offset = {
    discover()
    TailFleetOffset(
      streams.toMap.map { case (p, s) => p -> s.admit(cap).asInstanceOf[TailOffset] })
  }

  /** True per-member tail positions regardless of the byte budget — the
    * live backlog gauge in progress events while a capped drain runs.
    * Never advances any member's admitted position. */
  override def reportLatestOffset(): Offset = TailFleetOffset(
    streams.toMap.map { case (p, s) =>
      p -> s.reportLatestOffset().asInstanceOf[TailOffset] })

  /** Feed known per-file positions into the member streams, registering
    * members for checkpointed paths that still exist AND still match a
    * CURRENT glob (restart-before-discovery on the glob path). The match
    * check is what lets membership shrink by config change: a path removed
    * from the specs — a literal dropped, or a glob narrowed — must NOT be
    * resurrected just because its offset is in the checkpoint. */
  private def replayInto(offsets: Map[String, TailOffset]): Unit = {
    offsets.foreach { case (p, _) =>
      if (!streams.contains(p) &&
          globs.exists(TailFleetSource.matchesGlob(_, p)) &&
          new java.io.File(p).isFile)
        register(p, memberFromStart = false, swallowFailure = false)
    }
    offsets.foreach { case (p, o) =>
      streams.get(p).foreach(_.deserializeOffset(o.json()))
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val fleet = TailFleetOffset.parse(json)
    // replay the per-file positions into each member stream's known-offset
    // tracking (checkpoint restore path). A checkpointed path not in the
    // current membership re-registers IF it still exists and belongs to a
    // glob (restart before the first post-restore discovery); otherwise
    // its offset entry is dropped and the path leaves the fleet.
    replayInto(fleet.offsets)
    TailFleetOffset(fleet.offsets.filter { case (p, _) => streams.contains(p) })
  }

  override def commit(end: Offset): Unit =
    perFile(end).foreach { case (p, o) => streams.get(p).foreach(_.commit(o)) }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = perFile(start)
    val e = perFile(end)
    streams.toArray.flatMap { case (p, stream) =>
      // initialOffset is memoized per member, so a path absent from the
      // start map (fleet grown mid-run or across a restart) plans from
      // exactly the position latestOffset() first observed
      val from = s.getOrElse(p, stream.initialOffset().asInstanceOf[TailOffset])
      e.get(p).toSeq.flatMap(to =>
        stream.planInputPartitions(from, to)
          .map(ip => FleetRange(p, ip.asInstanceOf[TailRange])))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new FleetRangeReader(p.asInstanceOf[FleetRange])
    }

  override def stop(): Unit = streams.values.foreach(_.stop())
}

/** One file's byte range, tagged with its fleet source path. */
final case class FleetRange(src: String, range: TailRange) extends InputPartition

/** [[TailRangeReader]] with the `src` tag prepended to each row. */
class FleetRangeReader(fr: FleetRange) extends PartitionReader[InternalRow] {
  private val inner = new TailRangeReader(fr.range)
  private val srcUtf8 = UTF8String.fromString(fr.src)
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val r = inner.get()
    new GenericInternalRow(Array[Any](srcUtf8, r.getLong(0), r.getUTF8String(1)))
  }
  override def close(): Unit = inner.close()
}
