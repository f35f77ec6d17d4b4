package graft.streaming

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.PromMetrics
import graft.streaming.StreamingMerge.MergeOut

/** EXACTLY-ONCE JDBC metric sink — the upsert form of the BASELINE
  * "Structured Streaming + ClickHouse sink" shape: a stable table to which
  * each micro-batch ADDS its registry delta.
  *
  * The pipeline is `streaming merge → per-batch metric delta → transactional
  * upsert`: [[deltaRows]] turns one micro-batch of the stateful merge's
  * observation events ([[StreamingMerge.MergeOut]], the reference's exact
  * observe sites) into additive registry rows over the SAME key space as
  * [[MetricsSink.metricsTable]] — so the JDBC table, read at any batch
  * boundary, equals the batch-oracle registry over the lines seen so far
  * (spec-asserted, including across a checkpointed restart).
  *
  * Exactly-once across restarts = replay idempotence: each delta commits in
  * ONE driver-side transaction together with its `(source, batch_id)` ledger
  * row; a replayed batch (foreachBatch re-delivery after a crash between
  * sink commit and checkpoint commit) hits the ledger's primary key and is
  * skipped whole. The merge's `flatMapGroupsWithState` replays a batch from
  * the versioned state store deterministically, so skip-on-replay is safe.
  *
  * 100 TB design: all per-line work (parse, keyed merge, delta aggregation)
  * is distributed; only the AGGREGATED delta — bounded by label cardinality
  * × bucket count (KB at any corpus scale, same argument as the scrape
  * exposition) — crosses to the driver for the transactional write. Values
  * are exact BIGINTs (counts; µs for `clickhouse_query_time_sum`) so
  * additive folding is order-exact; scaling to seconds is a read-side
  * concern. `le` is stored as its rendered string (`""` for non-bucket
  * rows) — a NOT NULL primary-key component that also sidesteps backends
  * that reject non-finite DOUBLEs (Derby, MySQL).
  *
  * BACKEND SCOPE: this writer's exactly-once mechanism needs a
  * TRANSACTIONAL backend with an enforced primary key and standard
  * `UPDATE` — Derby (spec'd), PostgreSQL, MySQL, and kin. It is NOT
  * directly runnable against ClickHouse, which has none of the three
  * (MergeTree inserts never raise duplicate-key, `UPDATE … SET value =
  * value + ?` is not ClickHouse SQL, and there are no rollbacks): the
  * ClickHouse-native mapping of the same design is append-only INSERTs of
  * the tagged delta rows `(metric, labels, le, v, batch_id)` into a
  * SummingMergeTree keyed on `(metric, labels, le)` — merges do the
  * folding this writer does with `UPDATE` — with replay idempotence from
  * ClickHouse's insert-block deduplication (or a `batch_id` dedup read
  * filter). That variant needs a live ClickHouse to be tested against and
  * is out of scope here; the delta computation ([[deltaRows]] /
  * [[contributions]]) is shared by both shapes.
  */
object MetricsJdbcUpsert {

  /** One JDBC destination: `table` plus its `<table>_ledger` twin. */
  final case class Target(url: String, table: String,
      properties: Properties = new Properties) {
    def ledger: String = table + "_ledger"
    def connect(): Connection = DriverManager.getConnection(url, properties)
  }

  private def fmtLe(le: Double): String = MetricsSink.fmtDouble(le)

  private val statsFamilies: Seq[(String, Seq[Double])] = Seq(
    ("clickhouse_select_query_rows_read", PromMetrics.RowsReadBuckets),
    ("clickhouse_select_query_bytes_read", PromMetrics.BytesReadBuckets),
    ("clickhouse_select_query_rows_per_second", PromMetrics.RpsBuckets),
    ("clickhouse_select_query_bytes_per_second", PromMetrics.BpsBuckets))

  /** The observation-independent zero-filled stats bucket grid both sink
    * dialects seed (the same 35-row static grid
    * [[MetricsSink.metricsTable]] unions in). */
  private[graft] def staticGrid: Seq[(String, String, String, Long)] =
    statsFamilies.flatMap { case (m, buckets) =>
      (buckets :+ Double.PositiveInfinity).map(b => (s"${m}_bucket", "", fmtLe(b), 0L))
    }

  /** Create the metric + ledger tables if absent and seed the
    * observation-independent zero-filled stats bucket grid (the same
    * 35-row static grid [[MetricsSink.metricsTable]] unions in, so the
    * grid is present before any stats line arrives). Idempotent. */
  /** Portable relation-existence probe through JDBC metadata, shared by
    * both dialects' DDL guards — catching Derby's X0Y32 SQLState instead
    * would make every OTHER backend's restart throw "already exists".
    * Backends disagree on the TABLE_TYPE spelling (Derby says "TABLE",
    * DuckDB says "BASE TABLE" — found live by the dual-backend spec), so
    * the probe lists ALL types and matches the name alone; table/view
    * name collisions are a caller bug either way (the DDL would clash). */
  private[streaming] def relationExists(conn: Connection, name: String,
      types: Array[String]): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, null, null)
    try {
      var found = false
      while (!found && rs.next()) found = rs.getString("TABLE_NAME").equalsIgnoreCase(name)
      found
    } finally rs.close()
  }

  def ensureTables(t: Target): Unit = {
    val conn = t.connect()
    try {
      conn.setAutoCommit(true)
      def ddl(table: String, sql: String): Unit =
        if (!relationExists(conn, table, Array("TABLE"))) {
          val st = conn.createStatement()
          try st.executeUpdate(sql) finally st.close()
        }
      ddl(t.table,
        s"""CREATE TABLE ${t.table} (
           |  metric VARCHAR(128) NOT NULL,
           |  labels VARCHAR(512) NOT NULL,
           |  le VARCHAR(32) NOT NULL,
           |  value BIGINT NOT NULL,
           |  PRIMARY KEY (metric, labels, le))""".stripMargin)
      ddl(t.ledger,
        s"""CREATE TABLE ${t.ledger} (
           |  source VARCHAR(32) NOT NULL,
           |  batch_id BIGINT NOT NULL,
           |  PRIMARY KEY (source, batch_id))""".stripMargin)
      applyDeltaWith(conn, t, "seed", 0L, staticGrid)
    } finally conn.close()
  }

  /** One micro-batch of merge emissions → additive registry rows
    * `(metric, labels, le, v)` on [[MetricsSink.metricsTable]]'s key space.
    * Distributed flatMap + one grouped sum; zero-valued bucket cells are
    * KEPT (they create the per-label zero cells the batch registry has). */
  def deltaRows(batch: Dataset[MergeOut]): DataFrame = {
    import batch.sparkSession.implicits._
    batch.flatMap(contributions _)
      .toDF("metric", "labels", "le", "v")
      .groupBy("metric", "labels", "le").agg(sum("v").as("v"))
  }

  /** The per-event contribution rows — the additive twin of the fused
    * explode in [[MetricsSink.metricsTable]] (each observe site's cells,
    * histogram observations as one 0/1 row per bucket). Fleet emissions
    * (`server` set) get a leading `server=` label on every row, so N
    * servers keep disjoint key spaces in the same table; the seeded zero
    * stats grid stays server-less (it predates any observation). */
  private[graft] def contributions(o: MergeOut): Seq[(String, String, String, Long)] = {
    val base = contributionsBase(o)
    o.server match {
      case Some(s) => base.map { case (m, labels, le, v) =>
        (m, if (labels.isEmpty) s"server=$s" else s"server=$s,$labels", le, v)
      }
      case None => base
    }
  }

  private def contributionsBase(o: MergeOut): Seq[(String, String, String, Long)] =
    o.out match {
      case "counter" =>
        o.counterType.toSeq.map(t => ("chlogexporter_errors", s"type=$t", "", 1L))
      case "insert" =>
        o.stmtType.toSeq.map(t => ("clickhouse_query_count", s"type=$t", "", 1L))
      case "query_error" =>
        for (t <- o.stmtType.toSeq; c <- o.errorCode.toSeq)
          yield ("clickhouse_query_errors", s"code=$c,type=$t", "", 1L)
      case "time_obs" =>
        for (t <- o.stmtType.toSeq; us <- o.elapsedUs.toSeq; row <- {
          val sec = us.toDouble / 1000000.0
          (PromMetrics.QueryTimeBuckets :+ Double.PositiveInfinity).map(b =>
            ("clickhouse_query_time_bucket", s"type=$t", fmtLe(b),
              if (sec <= b) 1L else 0L)) ++ Seq(
            ("clickhouse_query_time_sum", s"type=$t", "", us),
            ("clickhouse_query_time_count", s"type=$t", "", 1L))
        }) yield row
      case "stats_obs" =>
        val values = Seq(o.rowsRead, o.bytesRead, o.rps, o.speed).map(_.getOrElse(0L))
        statsFamilies.zip(values).flatMap { case ((m, buckets), v) =>
          (buckets :+ Double.PositiveInfinity).map(b =>
            (s"${m}_bucket", "", fmtLe(b), if (v.toDouble <= b) 1L else 0L)) ++ Seq(
            (s"${m}_sum", "", "", v),
            (s"${m}_count", "", "", 1L))
        }
      // delivery events (StreamingMerge.mergeWithDelivery) — in the SAME
      // stream and batch ledger as the merge metrics, so the delivery
      // counts are exactly-once too (the former listener path was
      // at-most-once: a crash between checkpoint commit and the async
      // progress event lost that batch's counts forever). Pre-aggregated:
      // each event carries `n` lines.
      case "read_line" => Seq(("chlogexporter_read_lines", "", "", o.n))
      case "tail_line" => Seq(("chlogexporter_errors", "type=tail_line", "", o.n))
      case _ => Seq.empty // "record" rows feed the record sink, not the registry
    }

  /** Apply one delta in ONE transaction keyed by `(source, batchId)`;
    * returns false (no-op) when the ledger already has the key — the
    * replayed-batch path. UPDATE-then-INSERT per row keeps the SQL inside
    * every JDBC dialect (no MERGE / ON CONFLICT dependence). */
  def applyDelta(t: Target, source: String, batchId: Long,
      rows: Seq[(String, String, String, Long)]): Boolean = {
    val conn = t.connect()
    try applyDeltaWith(conn, t, source, batchId, rows)
    finally conn.close()
  }

  private def applyDeltaWith(conn: Connection, t: Target, source: String,
      batchId: Long, rows: Seq[(String, String, String, Long)]): Boolean = {
    conn.setAutoCommit(false)
    try {
      // LEGACY-token migration: ledger rows written before sources derived
      // from the checkpoint ([[ledgerSource]]) all used the hardcoded
      // "merge" token (the pre-upgrade world was one-query-per-table, so
      // any ("merge", N) row means batch N committed — by THIS pipeline).
      // The first post-upgrade batch claims them under its own token, in
      // the same transaction as its delta: a batch replayed across the
      // upgrade then hits its (migrated) ledger row like any replay, and
      // the keyspaces stay DISJOINT for every other query — a per-batch
      // "merge" probe would instead skip any same-id batch of a DIFFERENT
      // query sharing a legacy table, silently dropping its deltas.
      // (Reprocessing history into an existing cumulative table requires a
      // fresh/truncated table regardless — the values would double.)
      if (source != "merge" && source != "seed") {
        val migrate = conn.prepareStatement(
          s"UPDATE ${t.ledger} SET source = ? WHERE source = 'merge'")
        try { migrate.setString(1, source); migrate.executeUpdate(); () }
        finally migrate.close()
      }
      val ledger = conn.prepareStatement(
        s"INSERT INTO ${t.ledger} (source, batch_id) VALUES (?, ?)")
      try {
        ledger.setString(1, source); ledger.setLong(2, batchId)
        ledger.executeUpdate()
      } catch {
        // duplicate ledger key = replayed batch. SQLState class 23 is the
        // standard integrity-violation class but backends disagree on the
        // subclass (Derby/PostgreSQL raise 23505, MySQL raises 23000 for
        // error 1062), and DuckDB raises a bare SQLException with NO
        // SQLState at all (found live by the dual-backend spec) — so the
        // portable verdict comes from the ledger itself: roll back, then
        // ASK whether (source, batchId) is present. Present = the replay
        // path, anything else rethrows.
        case e: java.sql.SQLException =>
          conn.rollback()
          // the rollback also undid this transaction's legacy-token
          // migration, so a pre-upgrade ('merge', N) row answers the
          // probe too — by the migration's own contract, any such row
          // means batch N committed by this (then-only) pipeline
          val probe = conn.prepareStatement(
            s"SELECT 1 FROM ${t.ledger} " +
              "WHERE batch_id = ? AND source IN (?, 'merge')")
          val seen =
            try {
              probe.setLong(1, batchId); probe.setString(2, source)
              val rs = probe.executeQuery()
              try rs.next() finally rs.close()
            } finally probe.close()
          conn.rollback() // the probe's own read txn (Derby refuses to
                          // close a connection with one still open)
          if (seen) return false else throw e
      } finally ledger.close()
      val upd = conn.prepareStatement(
        s"UPDATE ${t.table} SET value = value + ? WHERE metric = ? AND labels = ? AND le = ?")
      val ins = conn.prepareStatement(
        s"INSERT INTO ${t.table} (metric, labels, le, value) VALUES (?, ?, ?, ?)")
      try rows.foreach { case (metric, labels, le, v) =>
        upd.setLong(1, v); upd.setString(2, metric)
        upd.setString(3, labels); upd.setString(4, le)
        if (upd.executeUpdate() == 0) {
          ins.setString(1, metric); ins.setString(2, labels)
          ins.setString(3, le); ins.setLong(4, v)
          ins.executeUpdate()
        }
      } finally { upd.close(); ins.close() }
      conn.commit()
      true
    } catch { case e: Throwable => conn.rollback(); throw e }
  }

  /** Stable ledger-source token for a pipeline, derived from its checkpoint
    * location: two streaming queries (two exporters, or two checkpoints)
    * writing the same table then own DISJOINT ledger key spaces — with a
    * shared hardcoded source their batch ids would collide and one query's
    * deltas would be silently skipped as "replays". Same checkpoint across
    * restarts → same token, so replay-skip still works. */
  def ledgerSource(checkpointDir: String): String =
    "q" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(7).map(b => f"$b%02x").mkString

  /** One micro-batch: aggregate the delta (distributed), collect the
    * KB-scale result, commit it with the batch's ledger row. Returns
    * [[applyDelta]]'s verdict — false = the ledger already had this
    * `(source, batchId)` (a replayed batch, skipped whole); a resumed
    * registry ([[PromRegistry.seedFrom]]) must skip its fold too, since the
    * snapshot it seeded from already contains that batch. */
  def writeDelta(t: Target, source: String, batch: Dataset[MergeOut],
      batchId: Long): Boolean =
    applyDelta(t, source, batchId, collectDelta(batch))

  /** Aggregate one micro-batch's delta (distributed) and collect the
    * KB-scale result — the batch-to-rows step both dialects share. */
  private[streaming] def collectDelta(
      batch: Dataset[MergeOut]): Seq[(String, String, String, Long)] =
    deltaRows(batch).collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))

  /** The table's current cumulative rows — the registry-resume seed
    * ([[PromRegistry.seedFrom]]). KB-scale by the same label-cardinality
    * argument as the scrape exposition; read once at query start. */
  def snapshot(t: Target): Seq[(String, String, String, Long)] =
    readRows(() => t.connect(), t.table)

  /** Cumulative `(metric, labels, le, value)` rows from any relation —
    * shared by both dialects' resume snapshots (the upsert table itself,
    * the append dialect's fold view). */
  private[streaming] def readRows(connect: () => Connection,
      relation: String): Seq[(String, String, String, Long)] = {
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT metric, labels, le, value FROM $relation")
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long)]
      while (rs.next())
        buf += ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getLong(4)))
      buf.toSeq
    } finally conn.close()
  }
}
