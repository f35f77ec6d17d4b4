package graft.streaming

import java.sql.Connection
import java.util.Properties

/** The APPEND-ONLY metric sink dialect — the executable form of the
  * ClickHouse mapping [[MetricsJdbcUpsert]]'s scaladoc describes: instead
  * of folding each micro-batch's delta into a keyed table with `UPDATE`
  * (which ClickHouse cannot do), every delta row is INSERTed tagged with
  * its `(source, batch_id)`, and the FOLD happens on the read side —
  * here a SQL view (`<table>_folded`), on ClickHouse a SummingMergeTree's
  * background merges over the same `(metric, labels, le)` key.
  *
  * Replay idempotence without a ledger table: a batch's rows are written
  * only if no row tagged `(source, batch_id)` exists yet — the presence
  * check and the inserts share one transaction, so a replayed batch
  * (foreachBatch re-delivery after a crash between sink commit and
  * checkpoint commit) is skipped whole. This mirrors ClickHouse's
  * insert-block deduplication; the defense-in-depth `MAX` inside the fold
  * view additionally collapses any duplicate `(… source, batch_id)` rows
  * (deltas are deterministic on replay, so all copies carry equal
  * values), which is the documented `batch_id` dedup read filter for
  * backends without atomic check-and-insert.
  *
  * Both dialects share the delta computation
  * ([[MetricsJdbcUpsert.deltaRows]] / contributions) — the seam is only
  * HOW a delta lands. The spec proves the folded read equals the upsert
  * dialect's table on the same stream, replay included.
  *
  * 100 TB shape: identical to the upsert dialect — all per-line work is
  * distributed, only the label×bucket-bounded aggregated delta crosses to
  * the driver. The append table grows by one bounded delta per
  * micro-batch; on ClickHouse background merges collapse it, and on a
  * relational backend [[compact]] is the equivalent (the exporter runs it
  * on a cadence via `--jdbc-compact-every`) — the view stays correct
  * either way.
  */
object MetricsJdbcAppend {

  /** One append-dialect destination: the raw delta table and its fold view. */
  final case class Target(url: String, table: String,
      properties: Properties = new Properties) {
    def deltas: String = table + "_deltas"
    def folded: String = table + "_folded"
    def connect(): Connection =
      java.sql.DriverManager.getConnection(url, properties)
  }

  /** Create the append table + fold view if absent and seed the
    * zero-filled stats bucket grid once (tagged `(seed, 0)`, so restarts
    * skip it like any replayed batch). Idempotent. */
  def ensureTables(t: Target): Unit = {
    val conn = t.connect()
    try {
      conn.setAutoCommit(true)
      def exists(name: String, types: Array[String]): Boolean =
        MetricsJdbcUpsert.relationExists(conn, name, types)
      def ddl(sql: String): Unit = {
        val st = conn.createStatement()
        try { st.executeUpdate(sql); () } finally st.close()
      }
      if (!exists(t.deltas, Array("TABLE")))
        ddl(s"""CREATE TABLE ${t.deltas} (
               |  metric VARCHAR(128) NOT NULL,
               |  labels VARCHAR(512) NOT NULL,
               |  le VARCHAR(32) NOT NULL,
               |  value BIGINT NOT NULL,
               |  source VARCHAR(32) NOT NULL,
               |  batch_id BIGINT NOT NULL)""".stripMargin)
      if (!exists(t.folded, Array("VIEW")))
        // inner MAX = the batch_id dedup filter (all copies of a replayed
        // batch's row are equal); outer SUM = the SummingMergeTree fold
        ddl(s"""CREATE VIEW ${t.folded} (metric, labels, le, value) AS
               |SELECT metric, labels, le, SUM(value) FROM (
               |  SELECT metric, labels, le, source, batch_id, MAX(value) AS value
               |  FROM ${t.deltas}
               |  WHERE metric <> '__batch_marker'
               |  GROUP BY metric, labels, le, source, batch_id) d
               |GROUP BY metric, labels, le""".stripMargin)
      applyDelta(t, "seed", 0L, MetricsJdbcUpsert.staticGrid)
      ()
    } finally conn.close()
  }

  /** Append one tagged delta; returns false (no-op) when rows tagged
    * `(source, batchId)` already exist — the replayed-batch path. The
    * presence check and the inserts commit in one transaction. */
  def applyDelta(t: Target, source: String, batchId: Long,
      rows: Seq[(String, String, String, Long)]): Boolean = {
    val conn = t.connect()
    try {
      conn.setAutoCommit(false)
      try {
        // dialect-neutral presence probe: COUNT over the (source, batch_id)
        // sliver — bounded per key, and avoids row-limit syntax the backends
        // disagree on (`FETCH FIRST` is absent in MySQL, `LIMIT` in Derby)
        val probe = conn.prepareStatement(
          s"SELECT COUNT(*) FROM ${t.deltas} WHERE source = ? AND batch_id = ?")
        val seen = try {
          probe.setString(1, source); probe.setLong(2, batchId)
          val rs = probe.executeQuery()
          try { rs.next() && rs.getLong(1) > 0L } finally rs.close()
        } finally probe.close()
        if (seen) { conn.rollback(); return false }
        // an EMPTY batch still needs a presence marker, or its replay
        // would be indistinguishable from a first delivery — tag it with
        // one explicit zero row on a reserved metric the view's consumers
        // never read
        val effective =
          if (rows.nonEmpty) rows else Seq(("__batch_marker", "", "", 0L))
        val ins = conn.prepareStatement(
          s"INSERT INTO ${t.deltas} (metric, labels, le, value, source, batch_id) " +
            "VALUES (?, ?, ?, ?, ?, ?)")
        try effective.foreach { case (metric, labels, le, v) =>
          ins.setString(1, metric); ins.setString(2, labels)
          ins.setString(3, le); ins.setLong(4, v)
          ins.setString(5, source); ins.setLong(6, batchId)
          ins.executeUpdate()
        } finally ins.close()
        conn.commit()
        true
      } catch { case e: Throwable => conn.rollback(); throw e }
    } finally conn.close()
  }

  /** COMPACTION — the relational analog of ClickHouse's background merges
    * the class doc leaves to the backend: fold all of `source`'s delta rows
    * at or below its current max batch id into ONE summed batch (~150 N
    * rows → ~150 + N), leaving the fold view's output bit-identical.
    *
    * The replay-safety wrinkle is WHY this isn't a plain `GROUP BY` rewrite:
    * [[applyDelta]]'s idempotence is the presence of ANY row tagged
    * `(source, batchId)`, so compaction must keep one `__batch_marker` row
    * per compacted batch id (the summed rows themselves carry the max id) —
    * naively summing away the tags would make every old batch's replay
    * "unseen" and re-land it, silently double-counting after a crash.
    * Safe concurrent with a live writer: the fold and the delete share one
    * transaction capped at the max id read first, and a new batch's id is
    * strictly greater. Returns the net row-count reduction. */
  def compact(t: Target, source: String): Int = {
    val conn = t.connect()
    try {
      conn.setAutoCommit(false)
      try {
        val ids = {
          val st = conn.prepareStatement(
            s"SELECT batch_id FROM ${t.deltas} WHERE source = ? GROUP BY batch_id")
          try {
            st.setString(1, source)
            val rs = st.executeQuery()
            val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
            try { while (rs.next()) buf += rs.getLong(1) } finally rs.close()
            buf.toSeq
          } finally st.close()
        }
        if (ids.size <= 1) { conn.rollback(); return 0 } // nothing to fold
        val maxId = ids.max
        // the view's own dedup-then-sum, capped at maxId (concurrent
        // writers only ever append ids > maxId)
        val summed = {
          val st = conn.prepareStatement(
            s"""SELECT metric, labels, le, SUM(value) FROM (
               |  SELECT metric, labels, le, batch_id, MAX(value) AS value
               |  FROM ${t.deltas}
               |  WHERE source = ? AND batch_id <= ? AND metric <> '__batch_marker'
               |  GROUP BY metric, labels, le, batch_id) d
               |GROUP BY metric, labels, le""".stripMargin)
          try {
            st.setString(1, source); st.setLong(2, maxId)
            val rs = st.executeQuery()
            val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long)]
            try {
              while (rs.next())
                buf += ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getLong(4)))
            } finally rs.close()
            buf.toSeq
          } finally st.close()
        }
        val deleted = {
          val st = conn.prepareStatement(
            s"DELETE FROM ${t.deltas} WHERE source = ? AND batch_id <= ?")
          try { st.setString(1, source); st.setLong(2, maxId); st.executeUpdate() }
          finally st.close()
        }
        // summed rows carry maxId; every OTHER compacted id keeps a marker
        // (and maxId too when the sum is empty — all-marker batches must
        // still probe as seen)
        val markers = ids.filter(_ != maxId).map(id =>
          ("__batch_marker", "", "", 0L, id)) ++
          (if (summed.isEmpty) Seq(("__batch_marker", "", "", 0L, maxId)) else Nil)
        // batches with DISJOINT key sets can fold to MORE rows than they
        // held (summed keys + one marker per id > the originals): folding
        // would grow the table, so leave it alone until enough batches
        // share keys for the sum to pay
        if (summed.size + markers.size >= deleted) { conn.rollback(); return 0 }
        val ins = conn.prepareStatement(
          s"INSERT INTO ${t.deltas} (metric, labels, le, value, source, batch_id) " +
            "VALUES (?, ?, ?, ?, ?, ?)")
        try {
          (summed.map { case (m, l, le, v) => (m, l, le, v, maxId) } ++ markers)
            .foreach { case (m, l, le, v, id) =>
              ins.setString(1, m); ins.setString(2, l); ins.setString(3, le)
              ins.setLong(4, v); ins.setString(5, source); ins.setLong(6, id)
              ins.executeUpdate()
            }
        } finally ins.close()
        conn.commit()
        deleted - summed.size - markers.size
      } catch { case e: Throwable => conn.rollback(); throw e }
    } finally conn.close()
  }
}
