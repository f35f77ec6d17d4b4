package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{ChQuery, LogEvent}

/** Structured-Streaming re-expression of the reference's keyed stateful
  * merge (J1-J5, /root/reference/query.go:91-274 + main.go:110-129): events
  * shuffle to their query-id's state partition; the state function replays
  * the reference's per-line transition sequentially (events sorted by `seq`
  * within each micro-batch), so all arrival-order semantics — duplicate
  * initials keep the first record, orphans drop, the first memory line of a
  * non-insert query completes AND evicts, later same-id lines are orphans,
  * a post-eviction initial starts a fresh lifecycle — hold exactly.
  *
  * An optional processing-time state timeout (`timeoutMs > 0`) evicts
  * never-completing queries (inserts, error-only, abandoned), which would
  * fix the unbounded `map[string]*chQuery` growth the reference leaks
  * (query.go:230-233 never marks inserts FullInfo; no other eviction
  * exists). On timeout the partial record is emitted with
  * `fullInfo = false` so no data is lost. The shipped exporter runs with it
  * OFF: both `MetricsServing` call sites pass `timeoutMs = 0L`, so merge
  * state keeps one row per never-completing query, as the reference does
  * (19,794 rows after the sf0.1 catch-up drain). Switching eviction on
  * waits for eviction on the log's own clock (ROADMAP item 2).
  *
  * Scale: state is hash-partitioned by id across executors (RocksDB state
  * store in production — checkpoint recovery is spec-verified under
  * `RocksDBStateStoreProvider`, the store that holds at 100x where the
  * HDFS-backed in-memory default falls over), one in-flight record per id;
  * per-batch per-key work is O(lines of that query). Checkpointing gives
  * exactly-once the reference never had. The eviction timeout is
  * wall-clock (`ProcessingTimeTimeout`); `timeoutMs <= 0` disables it.
  */
object StreamingMerge {

  private def insertRecord(e: LogEvent): ChQuery =
    ChQuery(
      id = e.id,
      host = e.host.getOrElse(""),
      port = e.port.getOrElse(0L),
      pid = e.pid.getOrElse(0L),
      query = e.queryText.getOrElse(""),
      startTime = e.ts,
      stmtType = e.stmtType.getOrElse("other"))

  /** One emission of the streaming merge: a completed/flushed record, an
    * error-counter increment (the A2 observe sites, query.go:93,152,190,212,
    * 237,257,270), or a metric OBSERVATION at the reference's exact observe
    * sites — `insert` (A3, query.go:127), `query_error` (A4, query.go:262),
    * `time_obs` (A5, query.go:228 — fires for inserts too), `stats_obs`
    * (A6-A9, query.go:183-186). The observation stream is what makes the
    * metric surface INCREMENTAL: a registry folds these per batch instead of
    * re-aggregating the corpus. */
  final case class MergeOut(
      out: String, // "record" | "counter" | "insert" | "query_error" | "time_obs" | "stats_obs" | "read_line" | "tail_line"
      record: Option[ChQuery],
      counterType: Option[String],
      stmtType: Option[String] = None,
      errorCode: Option[Long] = None,
      elapsedUs: Option[Long] = None,
      rowsRead: Option[Long] = None,
      bytesRead: Option[Long] = None,
      rps: Option[Long] = None,
      speed: Option[Long] = None,
      // multiplicity: "read_line"/"tail_line" arrive PRE-AGGREGATED (one
      // event per source partition per batch, n = lines counted) since the
      // single-scan delivery fold; every other kind stays n = 1
      n: Long = 1L,
      // fleet deployments: which server's log produced this emission
      // (None on the single-file path — label-free, reference-identical)
      server: Option[String] = None)

  /** One micro-batch worth of events for a single query id, replayed in
    * arrival order against the state record. Emits completed records AND
    * counter increments at exactly the reference's observe sites.
    * Package-visible for direct testing via `TestGroupState`. */
  private[graft] def transitionFull(events: Iterator[LogEvent], state: GroupState[ChQuery],
      timeoutMs: Long): Iterator[MergeOut] = {
    val out = scala.collection.mutable.ListBuffer.empty[MergeOut]
    def counter(t: String): Unit = out += MergeOut("counter", None, Some(t))
    var cur: Option[ChQuery] = state.getOption
    events.toSeq.sortBy(_.seq).foreach { e =>
      e.kind match {
        // pre-aggregated per-partition delivery counts (synthetic
        // CountIdPrefix-keyed events from the single-scan fold) — stateless
        // passthrough into the metric stream
        case "read_count" =>
          out += MergeOut("read_line", None, None, n = e.rowsRead.getOrElse(0L))
        case "tail_count" =>
          out += MergeOut("tail_line", None, None, n = e.rowsRead.getOrElse(0L))
        case "initial" =>
          if (cur.isDefined) counter("duplicated_initial_query") // first kept
          else if (e.cvOk) {
            cur = Some(insertRecord(e))
            // A3 observe site (query.go:127): one increment per state insert
            out += MergeOut("insert", None, None, stmtType = Some(cur.get.stmtType))
          } else counter("convert")
        case "stats" | "error" | "memory" if cur.isEmpty =>
          counter("not_found_query") // state miss precedes conversion
        case _ if !e.cvOk =>
          counter("convert")
        case "stats" =>
          cur = cur.map(_.copy(
            rowsRead = e.rowsRead.getOrElse(0L), bytesRead = e.bytesRead.getOrElse(0L),
            rps = e.rps.getOrElse(0L), speed = e.speed.getOrElse(0L)))
          // A6-A9 observe site (query.go:183-186): every live clean stats line
          out += MergeOut("stats_obs", None, None,
            rowsRead = e.rowsRead, bytesRead = e.bytesRead, rps = e.rps, speed = e.speed)
        case "error" =>
          cur = cur.map(_.copy(error = true,
            errorCode = e.errorCode.getOrElse(0L),
            errorMessage = e.errorMessage.getOrElse("")))
          // A4 observe site (query.go:262)
          out += MergeOut("query_error", None, None,
            stmtType = cur.map(_.stmtType), errorCode = e.errorCode)
        case "memory" =>
          val endTs = e.ts
          def micros(t: Timestamp): Long =
            t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
          val elapsedUs = (for (s <- cur.get.startTime; t <- endTs)
            yield micros(t) - micros(s)).getOrElse(0L)
          val updated = cur.get.copy(
            memory = e.memory.getOrElse(0L), endTime = endTs,
            elapsed = elapsedUs / 1000000.0)
          // A5 observe site (query.go:228): fires for inserts too, BEFORE the
          // FullInfo check
          out += MergeOut("time_obs", None, None,
            stmtType = Some(updated.stmtType), elapsedUs = Some(elapsedUs))
          if (updated.stmtType != "insert") {
            // J5: completion + eviction — later lines for this id are orphans
            out += MergeOut("record", Some(updated.copy(fullInfo = true)), None)
            cur = None
          } else cur = Some(updated)
        case _ => ()
      }
    }
    cur match {
      case Some(rec) =>
        state.update(rec)
        if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
      case None => if (state.exists) state.remove()
    }
    out.iterator
  }

  /** The exporter's single-file merge: per-line DELIVERY accounting and
    * the keyed merge in ONE output stream — `MergeOut("read_line", n = …)`
    * per delivered-line count, `MergeOut("tail_line", n = …)` per
    * delivery-failure count (the S3 side channel), and every record,
    * counter and observation of [[transitionFull]]. Every counter the
    * serving layer needs rides one stream, so a `foreachBatch` sink
    * commits delivery counts and merge metrics under the SAME batch —
    * exactly-once together.
    *
    * SINGLE SCAN: the source range is read exactly once per micro-batch.
    * [[graft.operators.LogParser.parseKeepAll]] keeps non-matching and
    * delivery-failed lines as kind-null rows, [[deliveredEvents]] counts
    * them map-side (per partition, BEFORE the shuffle — kind-null rows
    * never shuffle) and appends one synthetic `read_count`/`tail_count`
    * event per partition, which the state function passes through as the
    * pre-aggregated `n`-valued delivery emissions. */
  def mergeWithDelivery(seqLines: DataFrame,
      timeoutMs: Long = 30 * 60 * 1000L): Dataset[MergeOut] =
    keyedMerge(deliveredEvents(seqLines, fleet = false), timeoutMs)((_, outs) => outs)

  /** Id prefix (U+0001 sentinel) of the synthetic per-partition
    * delivery-count events. Even a pathological real query id of the same
    * shape is harmless: it would only share a state key with events that
    * neither read nor write state (the count case in transitionFull is a
    * stateless passthrough), so both lifecycles proceed unaffected. */
  private val CountIdPrefix = "\u0001c:"

  /** Typed events from a `(seq, value)` line frame (plus `src` on the
    * fleet path), with per-partition delivery counts folded in-band:
    * delivery check and [[graft.operators.LogParser.parseKeepAll]], then
    * real events pass through lazily, delivered/failed lines are counted
    * map-side, and one trailing `read_count`/`tail_count` synthetic event
    * is emitted per partition (per server on the fleet path — `fleet =
    * true` namespaces every id `src + FleetSep + id` and keys the count
    * events per (partition, src)). */
  private[graft] def deliveredEvents(lines: DataFrame, fleet: Boolean): Dataset[LogEvent] = {
    import lines.sparkSession.implicits._
    val parsedAll = graft.operators.LogParser.parseKeepAll(
      graft.sources.LogSource.withDelivery(lines))
    val srcCol = if (fleet) col("src") else lit("")
    val idCol =
      if (fleet) concat_ws(FleetSep, col("src"), col("id"))
      else col("id")
    val sel = parsedAll.select(
      struct(
        col("seq"), col("kind"), idCol.as("id"), col("pid"), col("ts"),
        col("host"), col("port"),
        col("query_text").as("queryText"), col("stmt_type").as("stmtType"),
        col("rows_read").as("rowsRead"), col("bytes_read").as("bytesRead"),
        col("rps"), col("speed"), col("memory"),
        col("error_code").as("errorCode"), col("error_message").as("errorMessage"),
        col("cv_ok").as("cvOk")).as("_1"),
      col("tail_ok").as("_2"),
      srcCol.as("_3")).as[(LogEvent, Boolean, String)]
    sel.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]
      val main = it.flatMap { case (ev, ok, src) =>
        val c = counts.getOrElseUpdate(src, Array(0L, 0L))
        if (!ok) { c(1) += 1; None }
        else { c(0) += 1; if (ev.kind == null) None else Some(ev) }
      }
      def countEvent(kind: String, tag: String, src: String, cnt: Long): LogEvent = {
        val marker = CountIdPrefix + tag + ":" + pid
        LogEvent(0L, kind,
          if (fleet) src + FleetSep + marker else marker,
          None, None, None, None, None, None, Some(cnt), None, None, None,
          None, None, None, cvOk = true)
      }
      def trailer: Iterator[LogEvent] = counts.iterator.flatMap { case (src, c) =>
        (if (c(0) > 0) Seq(countEvent("read_count", "r", src, c(0))) else Nil) ++
          (if (c(1) > 0) Seq(countEvent("tail_count", "t", src, c(1))) else Nil)
      }
      main ++ trailer
    }
  }

  /** One state-function call for one key: a timed-out key flushes its
    * stuck record (insert/error-only/abandoned — the leak fix, emitted
    * with `fullInfo = false` so no data is lost); any other key replays
    * its events through [[transitionFull]]. */
  private[graft] def advance(events: Iterator[LogEvent], state: GroupState[ChQuery],
      timeoutMs: Long): Iterator[MergeOut] =
    if (state.hasTimedOut) {
      val rec = state.get
      state.remove()
      Iterator.single(MergeOut("record", Some(rec), None))
    } else transitionFull(events, state, timeoutMs)

  /** The one keyed merge both exporter forms run: events shuffle to their
    * id's state partition and [[advance]] runs per key; `emit` sees the
    * state key with each call's emissions (the fleet form tags them with
    * their server). `timeoutMs <= 0` disables the leak-fix eviction timer:
    * under `Trigger.AvailableNow` an armed processing-time timeout keeps
    * scheduling no-data batches and the drain never ends. */
  private def keyedMerge(events: Dataset[LogEvent], timeoutMs: Long)(
      emit: (String, Iterator[MergeOut]) => Iterator[MergeOut]): Dataset[MergeOut] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs <= 0) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, es: Iterator[LogEvent], state: GroupState[ChQuery]) =>
          emit(key, advance(es, state, timeoutMs))
      }
  }

  /** Server-id separator inside the fleet merge's composite state key:
    * U+0000 cannot appear in a ClickHouse query id. */
  private val FleetSep = "\u0000"

  /** [[mergeWithDelivery]] over a FLEET line frame (`src, seq, value` from
    * [[graft.sources.TailFleetSourceProvider]], one member per ClickHouse
    * server): the same single-scan delivery fold and keyed merge, with
    * state keyed on the composite `(src, id)` — query ids are only unique
    * per server, so two servers reusing the same id stay independent
    * lifecycles — and EVERY emission tagged `server = src`: completed
    * records (id un-namespaced), error counters, metric observations, and
    * the per-partition delivery counts alike. This is what gives the fleet
    * exporter per-server metric series ([[FleetPromRegistry]]) and
    * per-server JDBC label rows off one merge.
    *
    * Scale shape: one cheap single-partition scan per progressing file,
    * then the shuffle into the id-partitioned state is where parallelism
    * happens — state spreads over `spark.sql.shuffle.partitions`
    * regardless of fleet size. The daemons default that to the core count
    * ([[graft.DaemonSession]]); every micro-batch runs and commits one
    * state-store partition per shuffle partition, and a checkpoint keeps
    * the count it was first written with. */
  def fleetMergeWithDelivery(fleetLines: DataFrame,
      timeoutMs: Long = 30 * 60 * 1000L): Dataset[MergeOut] =
    keyedMerge(deliveredEvents(fleetLines, fleet = true), timeoutMs) { (key, outs) =>
      val sep = key.indexOf(FleetSep)
      val server = if (sep >= 0) key.substring(0, sep) else ""
      // un-namespace the record id; the server rides its own field
      outs.map(o => o.copy(server = Some(server),
        record = o.record.map(r =>
          if (sep >= 0) r.copy(id = r.id.substring(sep + 1)) else r)))
    }
}
