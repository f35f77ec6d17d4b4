-- The exporter's data exposition after it has read the whole log, computed
-- from `events` alone (formulas: graft.LogOracle). One row per sample:
-- metric name, canonical label string (keys sorted, `k="v"` joined by ','),
-- and the value as an exact integer (ival) or a double (fval).
-- `chlogexporter_read_lines` covers the query lines only; the caller adds
-- the background lines, which match no pattern and count nowhere else.
WITH @DERIVE@,
ok AS (SELECT * FROM e WHERE NOT orphan),
qt_buckets(le, bound) AS (VALUES ('1', 1.0), ('5', 5.0), ('10', 10.0),
  ('20', 20.0), ('30', 30.0), ('40', 40.0), ('50', 50.0), ('60', 60.0),
  ('120', 120.0), ('180', 180.0), ('300', 300.0), ('1800', 1800.0),
  ('+Inf', 'infinity'::DOUBLE)),
stat_buckets(family, le, bound) AS (
  SELECT 'clickhouse_select_query_rows_read', CAST(b AS VARCHAR), CAST(b AS DOUBLE)
  FROM unnest([1000000, 10000000, 50000000, 100000000, 500000000, 1000000000,
    2000000000, 3000000000, 10000000000]) t(b)
  UNION ALL
  SELECT 'clickhouse_select_query_bytes_read', CAST(b AS VARCHAR), CAST(b AS DOUBLE)
  FROM unnest([5368709120, 10737418240, 53687091200, 107374182400, 536870912000,
    1073741824000]) t(b)
  UNION ALL
  SELECT 'clickhouse_select_query_rows_per_second', CAST(b AS VARCHAR), CAST(b AS DOUBLE)
  FROM unnest([50000, 100000, 500000, 1000000, 2000000, 5000000, 10000000,
    50000000, 100000000, 1000000000]) t(b)
  UNION ALL
  SELECT 'clickhouse_select_query_bytes_per_second', CAST(b AS VARCHAR), CAST(b AS DOUBLE)
  FROM unnest([104857600, 524288000, 1073741824, 5368709120, 21474836480,
    53687091200]) t(b)
  UNION ALL
  SELECT f, '+Inf', 'infinity'::DOUBLE FROM unnest([
    'clickhouse_select_query_rows_read', 'clickhouse_select_query_bytes_read',
    'clickhouse_select_query_rows_per_second',
    'clickhouse_select_query_bytes_per_second']) t(f)),
stat_obs(family, v) AS (
  SELECT 'clickhouse_select_query_rows_read', CAST(rows_read AS HUGEINT) FROM ok
  UNION ALL SELECT 'clickhouse_select_query_bytes_read', CAST(gib AS HUGEINT) * 1073741824 FROM ok
  UNION ALL SELECT 'clickhouse_select_query_rows_per_second', CAST(rps AS HUGEINT) FROM ok
  UNION ALL SELECT 'clickhouse_select_query_bytes_per_second', CAST(mibps AS HUGEINT) * 1048576 FROM ok),
samples(metric, labels, ival, fval) AS (
  SELECT 'chlogexporter_read_lines', '',
    CAST(sum((CASE WHEN orphan THEN 0 WHEN dup THEN 2 ELSE 1 END) + 2
      + (CASE WHEN haserr THEN 1 ELSE 0 END)) AS BIGINT), NULL FROM e
  UNION ALL
  SELECT 'chlogexporter_errors', 'type="duplicated_initial_query"', count(*), NULL
  FROM ok WHERE dup HAVING count(*) > 0
  UNION ALL
  SELECT 'chlogexporter_errors', 'type="not_found_query"',
    CAST(sum(CASE WHEN haserr THEN 3 ELSE 2 END) AS BIGINT), NULL
  FROM e WHERE orphan HAVING count(*) > 0
  UNION ALL
  SELECT 'clickhouse_query_count', 'stmt_type="' || stmt_type || '"', count(*), NULL
  FROM ok GROUP BY stmt_type
  UNION ALL
  SELECT 'clickhouse_query_errors',
    'error_code="' || CAST(error_code AS VARCHAR) || '",stmt_type="' || stmt_type || '"',
    count(*), NULL
  FROM ok WHERE haserr GROUP BY stmt_type, error_code
  UNION ALL
  SELECT 'clickhouse_query_time_bucket', 'le="' || b.le || '",stmt_type="' || t.stmt_type || '"',
    count(o.event_id), NULL
  FROM (SELECT DISTINCT stmt_type FROM ok) t CROSS JOIN qt_buckets b
  LEFT JOIN ok o ON o.stmt_type = t.stmt_type AND o.elapsed_us / 1000000.0 <= b.bound
  GROUP BY t.stmt_type, b.le
  UNION ALL
  SELECT 'clickhouse_query_time_sum', 'stmt_type="' || stmt_type || '"',
    NULL, CAST(sum(elapsed_us) AS DOUBLE) * 1e-6
  FROM ok GROUP BY stmt_type
  UNION ALL
  SELECT 'clickhouse_query_time_count', 'stmt_type="' || stmt_type || '"', count(*), NULL
  FROM ok GROUP BY stmt_type
  UNION ALL
  SELECT b.family || '_bucket', 'le="' || b.le || '"', count(o.v), NULL
  FROM stat_buckets b LEFT JOIN stat_obs o
    ON o.family = b.family AND CAST(o.v AS DOUBLE) <= b.bound
  GROUP BY b.family, b.le
  UNION ALL
  SELECT family || '_sum', '', CAST(sum(v) AS BIGINT), NULL FROM stat_obs GROUP BY family
  UNION ALL
  SELECT family || '_count', '', count(*), NULL FROM stat_obs GROUP BY family)
SELECT metric, labels, ival, fval FROM samples ORDER BY metric, labels
