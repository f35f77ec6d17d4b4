package graft.streaming

/** The ClickHouse-NATIVE statement mapping of the append metric sink —
  * the SQL strings a ClickHouse deployment actually sends, emitted behind
  * the same seam that feeds the Derby-spec'd [[MetricsJdbcAppend]] dialect
  * (shared delta rows from [[MetricsJdbcUpsert.collectDelta]]; this object
  * only RENDERS statements — no ClickHouse runs in this sandbox, so the
  * mapping is checked at the SQL-string level by a golden spec instead of
  * prose in a scaladoc).
  *
  * Shape (the SummingMergeTree design [[MetricsJdbcUpsert]]'s scaladoc
  * describes):
  *
  *   - ONE table, `ENGINE = SummingMergeTree((value)) ORDER BY (metric,
  *     labels, le)`: every micro-batch INSERTs its additive delta rows
  *     tagged `(source, batch_id)`; background merges collapse equal-key
  *     rows by summing `value` — the fold [[MetricsJdbcAppend]]'s view does
  *     with SQL happens in the storage engine. The tag columns sit outside
  *     the ORDER BY and outside the summed set, so a merged row keeps an
  *     arbitrary representative tag (audit breadcrumb, not a key).
  *   - replay idempotence: a replayed `foreachBatch` re-sends a
  *     byte-identical insert block, and ClickHouse's insert-block
  *     deduplication drops it whole — the ClickHouse-native form of the
  *     Derby dialect's probe-then-insert transaction. The DDL ENABLES this
  *     explicitly (`SETTINGS non_replicated_deduplication_window = 1000`):
  *     on a plain non-replicated MergeTree the window defaults to 0 (dedup
  *     OFF), so the guarantee would otherwise hold only on Replicated*
  *     tables. Determinism of the block is guaranteed upstream: delta
  *     rows replay identically from the versioned state store, and
  *     [[insert]] renders them in a canonical sort.
  *   - reads always re-aggregate (`sum(value) GROUP BY key`): merges are
  *     asynchronous, so the table may hold several partial rows per key at
  *     any moment — the standard SummingMergeTree read discipline, and
  *     exactly the `<table>_folded` view's contract.
  */
object ClickHouseSql {

  /** ClickHouse string-literal escape: backslash first, then quote. */
  private[streaming] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** The metric table DDL. `value` is the only summed column; the
    * `(source, batch_id)` tag survives as an any-representative audit
    * column after merges.
    *
    * The explicit `non_replicated_deduplication_window` SETTING is
    * load-bearing for the replay contract: on a plain (non-replicated)
    * MergeTree the setting defaults to 0 — dedup OFF — so without it the
    * very deployments this DDL creates would double-count every replayed
    * foreachBatch block. Replicated tables get the equivalent window from
    * `replicated_deduplication_window` (default 1000) and ignore this
    * setting. 1000 blocks comfortably covers any realistic replay horizon
    * (a replay re-sends only the LAST uncommitted batch). */
  def createTable(table: String): String =
    s"""CREATE TABLE IF NOT EXISTS $table (
       |  metric LowCardinality(String),
       |  labels String,
       |  le String,
       |  value Int64,
       |  source LowCardinality(String),
       |  batch_id Int64
       |)
       |ENGINE = SummingMergeTree((value))
       |ORDER BY (metric, labels, le)
       |SETTINGS non_replicated_deduplication_window = 1000""".stripMargin

  /** One micro-batch's delta as ONE insert statement (one block — the
    * unit ClickHouse deduplicates on replay). Rows render in canonical
    * (metric, labels, le) order so a replayed batch's block is
    * byte-identical. An empty delta still sends its `__batch_marker` row —
    * the same empty-batch presence contract as
    * [[MetricsJdbcAppend.applyDelta]]. */
  def insert(table: String, source: String, batchId: Long,
      rows: Seq[(String, String, String, Long)]): String = {
    val effective =
      if (rows.nonEmpty) rows.sortBy(r => (r._1, r._2, r._3))
      else Seq(("__batch_marker", "", "", 0L))
    val values = effective.map { case (m, l, le, v) =>
      s"('${esc(m)}', '${esc(l)}', '${esc(le)}', $v, '${esc(source)}', $batchId)"
    }
    s"INSERT INTO $table (metric, labels, le, value, source, batch_id) VALUES\n" +
      values.mkString(",\n")
  }

  /** The read-side fold — the cumulative registry surface
    * ([[MetricsJdbcAppend]]'s `<table>_folded` view, ClickHouse form).
    * Always re-aggregates: merges are async. */
  def foldSelect(table: String): String =
    s"""SELECT metric, labels, le, sum(value) AS value
       |FROM $table
       |WHERE metric <> '__batch_marker'
       |GROUP BY metric, labels, le
       |ORDER BY metric, labels, le""".stripMargin

  /** Bootstrap statements a deployment runs once: the table DDL plus the
    * observation-independent zero-filled stats bucket grid (tagged
    * `(seed, 0)`, the same 35-row grid both JDBC dialects seed). */
  def bootstrap(table: String): Seq[String] = Seq(
    createTable(table),
    insert(table, "seed", 0L, MetricsJdbcUpsert.staticGrid))
}
