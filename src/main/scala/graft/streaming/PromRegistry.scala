package graft.streaming

import scala.collection.mutable

import graft.operators.PromMetrics
import graft.streaming.StreamingMerge.MergeOut

/** Driver-side INCREMENTAL metric registry — the reference's actual model
  * (metrics.go:72-75: an in-process registry mutated per event, read by the
  * scrape handler), re-created for the streaming engine: each micro-batch
  * folds the merge's observation events ([[StreamingMerge.MergeOut]], one
  * per reference observe site) into running counters/bucket arrays, so
  * serving cost is O(batch), not O(corpus-so-far).
  *
  * [[render]] reproduces [[MetricsSink.exposition]] BYTE-FOR-BYTE for the
  * same corpus (asserted by spec) — the incremental and re-aggregating
  * paths are interchangeable scrape surfaces.
  *
  * Like the reference's registry, state is in-memory and BY DEFAULT
  * volatile: a restart starts from zero. With a JDBC sink attached the
  * warehouse table is the durable cumulative registry, and [[seedFrom]]
  * restores this registry from its snapshot at start (the exporter's
  * `--resume-from-jdbc`), making the scrape surface continue monotone
  * across restarts. Thread-safety: all mutators and render synchronize on
  * this (scrape handler vs micro-batch thread).
  */
final class PromRegistry extends MergeRegistry {

  private var readLines: Long = 0L
  private var tailLineErrors: Long = 0L
  private val errors = mutable.Map.empty[String, Long]
  private val queryCount = mutable.Map.empty[String, Long]
  private val queryErrors = mutable.Map.empty[(String, Long), Long]

  private final class Hist(buckets: Seq[Double]) {
    val bounds: Array[Double] = buckets.toArray
    val counts: Array[Long] = new Array[Long](buckets.size + 1) // + Inf slot
    var n: Long = 0L
    def observe(v: Double): Unit = {
      var i = 0
      while (i < bounds.length && v > bounds(i)) i += 1
      counts(i) += 1
      n += 1
    }
    def cumulative: Seq[(Double, Long)] = {
      var acc = 0L
      (bounds :+ Double.PositiveInfinity).toSeq.zipWithIndex.map { case (le, i) =>
        acc += counts(i); (le, acc)
      }
    }
    /** Inverse of [[cumulative]] for registry resume: set the per-slot
      * counts from cumulative per-`le` values keyed by their rendered
      * string (the JDBC table's storage form). A missing cell inherits the
      * previous cumulative (a zero slot). */
    def seedCumulative(byLe: Map[String, Long]): Unit = {
      var prev = 0L
      (bounds :+ Double.PositiveInfinity).zipWithIndex.foreach { case (le, i) =>
        val cum = byLe.getOrElse(MetricsSink.fmtDouble(le), prev)
        counts(i) = cum - prev
        prev = cum
      }
      n = prev
    }
  }

  private val timeHists = mutable.Map.empty[String, Hist] // stmt_type -> hist
  private val timeSumUs = mutable.Map.empty[String, Long]
  private val rowsHist = new Hist(PromMetrics.RowsReadBuckets)
  private val bytesHist = new Hist(PromMetrics.BytesReadBuckets)
  private val rpsHist = new Hist(PromMetrics.RpsBuckets)
  private val bpsHist = new Hist(PromMetrics.BpsBuckets)
  private var rowsSum, bytesSum, rpsSum, bpsSum, statsN = 0L

  /** Fold one merge emission (counter or observation) into the registry. */
  def observe(o: MergeOut): Unit = synchronized {
    o.out match {
      case "counter" =>
        o.counterType.foreach(t => errors(t) = errors.getOrElse(t, 0L) + 1)
      case "insert" =>
        o.stmtType.foreach(t => queryCount(t) = queryCount.getOrElse(t, 0L) + 1)
      case "query_error" =>
        for (t <- o.stmtType; c <- o.errorCode)
          queryErrors((t, c)) = queryErrors.getOrElse((t, c), 0L) + 1
      case "time_obs" =>
        for (t <- o.stmtType; us <- o.elapsedUs) {
          timeHists.getOrElseUpdate(t, new Hist(PromMetrics.QueryTimeBuckets))
            .observe(us / 1000000.0)
          timeSumUs(t) = timeSumUs.getOrElse(t, 0L) + us
        }
      case "stats_obs" =>
        rowsHist.observe(o.rowsRead.getOrElse(0L).toDouble)
        bytesHist.observe(o.bytesRead.getOrElse(0L).toDouble)
        rpsHist.observe(o.rps.getOrElse(0L).toDouble)
        bpsHist.observe(o.speed.getOrElse(0L).toDouble)
        rowsSum += o.rowsRead.getOrElse(0L)
        bytesSum += o.bytesRead.getOrElse(0L)
        rpsSum += o.rps.getOrElse(0L)
        bpsSum += o.speed.getOrElse(0L)
        statsN += 1
      // delivery events (StreamingMerge.mergeWithDelivery): the
      // exactly-once replacement for the observe()-listener side channel,
      // pre-aggregated per source partition (`n` lines each)
      case "read_line" => readLines += o.n
      case "tail_line" => tailLineErrors += o.n
      case _ => () // "record" — the data sink's concern, not the registry's
    }
  }

  /** REGISTRY RESUME — the inverse of the JDBC delta fold: replace this
    * registry's whole state with the additive rows of a
    * [[MetricsJdbcUpsert]] table snapshot (`(metric, labels, le, value)` on
    * [[MetricsJdbcUpsert.contributions]]'s key space), so an exporter
    * restarted on the same checkpoint + table serves counters that CONTINUE
    * instead of resetting to zero (no post-restart rate() blip; scrape and
    * warehouse surfaces agree at every batch boundary). The caller must
    * then skip registry folds for ledger-replayed batches — the snapshot
    * already contains them ([[MetricsServing]] does). Rows with label keys
    * this registry doesn't own (e.g. another server's `server=` rows in a
    * shared table) must be filtered by the caller ([[FleetPromRegistry
    * .seedFrom]] routes them). */
  def seedFrom(rows: Seq[(String, String, String, Long)]): Unit = synchronized {
    def labelMap(s: String): Map[String, String] =
      if (s.isEmpty) Map.empty
      else s.split(",").map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          // fail with the row in hand instead of a bare MatchError at
          // startup: a malformed cell means the table isn't a metrics
          // table this exporter wrote (or a later schema's rows)
          case _ => throw new IllegalArgumentException(
            s"--resume-from-jdbc: unparseable label cell '$kv' in labels '$s' — " +
              "the table does not hold this exporter's metric rows")
        }
      }.toMap
    // A `server=` label means the table was written by a FLEET exporter
    // (MetricsJdbcUpsert.contributions prefixes every fleet row): seeding a
    // single-file registry from it would last-row-wins-collapse N servers'
    // scalar rows into one counter. Route through FleetPromRegistry.seedFrom
    // instead (MetricsServing picks the registry form from the --log count).
    rows.find { case (_, labels, _, _) =>
      labels == "server" || labels.startsWith("server=") ||
        labels.contains(",server=")
    }.foreach { case (m, labels, _, _) =>
      throw new IllegalArgumentException(
        s"--resume-from-jdbc: row ($m, $labels) carries a server label — the " +
          "table was written by a FLEET exporter; resuming a single-file " +
          "exporter from it would collapse per-server series. Run with the " +
          "same --log fleet, or point --jdbc-table at this exporter's own table.")
    }
    readLines = 0L; tailLineErrors = 0L
    errors.clear(); queryCount.clear(); queryErrors.clear()
    timeHists.clear(); timeSumUs.clear()
    rowsSum = 0L; bytesSum = 0L; rpsSum = 0L; bpsSum = 0L; statsN = 0L
    val timeBuckets = mutable.Map.empty[String, mutable.Map[String, Long]]
    val statBuckets = mutable.Map.empty[String, mutable.Map[String, Long]]
    rows.foreach { case (metric, labels, le, v) =>
      metric match {
        case "chlogexporter_read_lines" => readLines = v
        case "chlogexporter_errors" =>
          val t = labelMap(labels)("type")
          if (t == "tail_line") tailLineErrors = v else errors(t) = v
        case "clickhouse_query_count" =>
          queryCount(labelMap(labels)("type")) = v
        case "clickhouse_query_errors" =>
          val m = labelMap(labels)
          queryErrors((m("type"), m("code").toLong)) = v
        case "clickhouse_query_time_bucket" =>
          timeBuckets.getOrElseUpdate(labelMap(labels)("type"),
            mutable.Map.empty)(le) = v
        case "clickhouse_query_time_sum" =>
          timeSumUs(labelMap(labels)("type")) = v // stored as exact µs
        case "clickhouse_query_time_count" => () // = the +Inf bucket, derived
        case m if m.endsWith("_bucket") =>
          statBuckets.getOrElseUpdate(m.stripSuffix("_bucket"),
            mutable.Map.empty)(le) = v
        case "clickhouse_select_query_rows_read_sum" => rowsSum = v
        case "clickhouse_select_query_bytes_read_sum" => bytesSum = v
        case "clickhouse_select_query_rows_per_second_sum" => rpsSum = v
        case "clickhouse_select_query_bytes_per_second_sum" => bpsSum = v
        case m if m.endsWith("_count") => () // = the family's +Inf bucket
        case _ => () // unknown family: a later schema's row, ignore
      }
    }
    timeBuckets.foreach { case (t, byLe) =>
      timeHists.getOrElseUpdate(t, new Hist(PromMetrics.QueryTimeBuckets))
        .seedCumulative(byLe.toMap)
    }
    Seq(("clickhouse_select_query_rows_read", rowsHist),
      ("clickhouse_select_query_bytes_read", bytesHist),
      ("clickhouse_select_query_rows_per_second", rpsHist),
      ("clickhouse_select_query_bytes_per_second", bpsHist)).foreach {
      case (m, h) => h.seedCumulative(statBuckets.getOrElse(m, mutable.Map.empty).toMap)
    }
    statsN = rowsHist.n
  }

  import MetricsSink.fmtDouble
  import PromRegistry.Family

  /** Prometheus text exposition — byte-identical to
    * [[MetricsSink.exposition]] over the same corpus. */
  def render(): String = PromRegistry.assemble(families(PromRegistry.plainWrap))

  /** The metric families with every label set rendered through `wrap`
    * (which receives the inner label body — possibly empty — and returns
    * the braced rendering). The family list and per-family segment count
    * are FIXED regardless of content, which is what lets the fleet
    * renderer merge families position-by-position across per-server
    * registries ([[PromRegistry.renderMerged]]). */
  private[streaming] def families(wrap: String => String): Seq[Family] = synchronized {
    def counterFamily(name: String, help: String, lines: Seq[String]): Family =
      Family(name, help, "counter", Seq(lines.sorted))

    val readFam = Family("chlogexporter_read_lines", "Total read lines count",
      "counter", Seq(Seq(s"chlogexporter_read_lines${wrap("")} $readLines")))

    val errAll = errors.toMap ++
      (if (tailLineErrors > 0) Map("tail_line" -> tailLineErrors) else Map.empty)
    val errFam = counterFamily("chlogexporter_errors",
      "Clickhouse Log Exporter Internal Errors",
      errAll.toSeq.map { case (t, v) =>
        s"""chlogexporter_errors${wrap(s"""type="$t"""")} $v""" })
    val countFam = counterFamily("clickhouse_query_count",
      "Clickhouse Query Count by Type",
      queryCount.toSeq.map { case (t, v) =>
        s"""clickhouse_query_count${wrap(s"""stmt_type="$t"""")} $v""" })
    val qErrFam = counterFamily("clickhouse_query_errors",
      "Clickhouse Query Errors Count by Code",
      queryErrors.toSeq.map { case ((t, c), v) =>
        s"""clickhouse_query_errors${wrap(s"""stmt_type="$t",error_code="$c"""")} $v""" })

    // labeled time histogram: observed labels × full bucket grid, buckets in
    // (label, numeric le) order; _count/_sum lines sorted together
    val name = "clickhouse_query_time"
    val bucketLines = timeHists.toSeq.sortBy(_._1).flatMap { case (t, h) =>
      h.cumulative.map { case (le, c) =>
        s"""${name}_bucket${wrap(s"""stmt_type="$t",le="${fmtDouble(le)}"""")} $c"""
      }
    }
    val sumLines = timeHists.keys.toSeq.flatMap { t =>
      Seq(s"""${name}_sum${wrap(s"""stmt_type="$t"""")} ${fmtDouble(timeSumUs.getOrElse(t, 0L) * 1e-6)}""",
        s"""${name}_count${wrap(s"""stmt_type="$t"""")} ${timeHists(t).n}""")
    }.sorted
    val timeFam = Family(name, "Time needed to process query by type",
      "histogram", Seq(bucketLines, sumLines))

    def statFamily(name: String, help: String, h: Hist, sum: Long): Family =
      Family(name, help, "histogram", Seq(
        h.cumulative.map { case (le, c) =>
          s"""${name}_bucket${wrap(s"""le="${fmtDouble(le)}"""")} $c"""
        },
        Seq(s"${name}_sum${wrap("")} $sum"),
        Seq(s"${name}_count${wrap("")} ${h.n}")))

    Seq(readFam, errFam, countFam, qErrFam, timeFam,
      statFamily("clickhouse_select_query_rows_read", "Number of rows read by query",
        rowsHist, rowsSum),
      statFamily("clickhouse_select_query_bytes_read", "Bytes read by query",
        bytesHist, bytesSum),
      statFamily("clickhouse_select_query_rows_per_second", "Rows Per Second speed by query",
        rpsHist, rpsSum),
      statFamily("clickhouse_select_query_bytes_per_second", "Bytes Per Second speed by query",
        bpsHist, bpsSum))
  }
}

object PromRegistry {

  /** One metric family's rendering material: HELP/TYPE header plus
    * line segments (each segment joins with '\n' and terminates with
    * one '\n' — the segment boundaries reproduce the historical block
    * layout byte-for-byte). */
  private[streaming] final case class Family(name: String, help: String,
      typ: String, segments: Seq[Seq[String]])

  /** Label rendering of the single-registry scrape: no extra labels,
    * empty label sets render as no braces at all. */
  private[streaming] val plainWrap: String => String =
    body => if (body.isEmpty) "" else "{" + body + "}"

  /** Label rendering with a `server` label prepended to every series —
    * the fleet form. */
  private[streaming] def serverWrap(server: String): String => String = {
    val esc = escapeLabel(server)
    body => s"""{server="$esc"""" + (if (body.isEmpty) "}" else "," + body + "}")
  }

  /** A label VALUE escaped for the text exposition (`\` and `"`). */
  private[streaming] def escapeLabel(value: String): String =
    value.replace("\\", "\\\\").replace("\"", "\\\"")

  /** A family of plain series lines — the telemetry blocks' form. */
  private[streaming] def family(name: String, help: String, typ: String,
      lines: Seq[String]): Family =
    Family(name, help, typ, Seq(lines).filter(_.nonEmpty))

  private[streaming] def assemble(fams: Seq[Family]): String = {
    val sb = new StringBuilder
    fams.foreach { f =>
      sb.append(s"# HELP ${f.name} ${f.help}\n# TYPE ${f.name} ${f.typ}\n")
      f.segments.foreach(seg => sb.append(seg.mkString("\n")).append("\n"))
    }
    sb.toString
  }

  /** Merge per-server registries into ONE exposition: each family's
    * HELP/TYPE appears once, its series enumerated per server (sorted by
    * server name) with the `server` label leading every label set —
    * valid Prometheus exposition for N servers through one endpoint
    * (repeating HELP per server would be an invalid exposition). */
  private[streaming] def renderMerged(regs: Seq[(String, PromRegistry)]): String = {
    val perServer = regs.sortBy(_._1).map { case (srv, reg) =>
      reg.families(serverWrap(srv))
    }
    // zero members (a fleet whose globs match nothing yet): headers-only
    // exposition. The old fallback rendered the label-free single-registry
    // form, so series first appeared WITHOUT a server label and later
    // re-appeared WITH one — an identity flip Prometheus treats as a new
    // series. Headers with no samples keep the schema stable until the
    // first member joins.
    if (perServer.isEmpty)
      return assemble(new PromRegistry().families(plainWrap)
        .map(f => f.copy(segments = f.segments.map(_ => Seq.empty[String]))))
    val merged = perServer.transpose.map { fams =>
      Family(fams.head.name, fams.head.help, fams.head.typ,
        fams.head.segments.indices.map(i => fams.flatMap(_.segments(i))))
    }
    assemble(merged)
  }
}

/** The surface the incremental serving loop needs from either registry
  * form — single-file [[PromRegistry]] or per-server [[FleetPromRegistry]]:
  * fold one merge emission, seed from a warehouse snapshot, render the
  * exposition. One trait so the serving tail (and its replay-skip rule)
  * exists ONCE (`MetricsServing.serveMerged`). */
trait MergeRegistry {
  def observe(o: MergeOut): Unit
  def seedFrom(rows: Seq[(String, String, String, Long)]): Unit
  def render(): String
}

/** Per-server scrape registry for the FLEET exporter: one [[PromRegistry]]
  * per tailed log, folded from the fleet merge's server-tagged emissions,
  * rendered as one merged exposition with a `server` label on every
  * series. [[seed]] the configured paths up front so every server's
  * zero-state series are scrapeable before its first line arrives. */
final class FleetPromRegistry extends MergeRegistry {
  private val regs = scala.collection.concurrent.TrieMap.empty[String, PromRegistry]

  def seed(server: String): Unit = { regs.getOrElseUpdate(server, new PromRegistry); () }

  def observe(o: MergeOut): Unit =
    regs.getOrElseUpdate(o.server.getOrElse(""), new PromRegistry).observe(o)

  /** Registry resume, fleet form: table rows carry a leading `server=`
    * label ([[MetricsJdbcUpsert.contributions]]); route each server's rows
    * (label stripped) into that server's registry. Server-less rows are the
    * observation-independent zero grid the sink seeds — every registry
    * renders that grid by construction, so they carry no state. */
  def seedFrom(rows: Seq[(String, String, String, Long)]): Unit = {
    // a LABELED row without the leading server= prefix was written by a
    // single-file exporter: routing it nowhere would silently drop that
    // state from the resumed scrape — refuse instead (the label-less rows
    // are the observation-independent zero grid both forms seed)
    rows.find { case (_, labels, _, v) =>
      (labels.nonEmpty && !labels.startsWith("server=")) ||
        (labels.isEmpty && v != 0L) // the server-less zero grid is all-zero
    }.foreach { case (m, labels, _, _) =>
      throw new IllegalArgumentException(
        s"--resume-from-jdbc: row ($m, $labels) has no server label — the " +
          "table was written by a single-file exporter; resuming a fleet " +
          "from it would drop that state. Run with one literal --log, or " +
          "point --jdbc-table at this fleet's own table.")
    }
    val byServer = rows.flatMap { case (m, labels, le, v) =>
      if (!labels.startsWith("server=")) None
      else labels.split(",", 2) match {
        case Array(srv) => Some((srv.stripPrefix("server="), (m, "", le, v)))
        case Array(srv, rest) => Some((srv.stripPrefix("server="), (m, rest, le, v)))
      }
    }.groupBy(_._1)
    byServer.foreach { case (srv, rs) =>
      regs.getOrElseUpdate(srv, new PromRegistry).seedFrom(rs.map(_._2))
    }
  }

  def render(): String = PromRegistry.renderMerged(regs.toSeq)
}
