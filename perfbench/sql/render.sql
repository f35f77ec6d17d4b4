-- The query lines of the synthetic ClickHouse server log, one row per line,
-- in the four formats the exporter parses (initial, stats, error, memory),
-- byte for byte as graft.operators.LogRender writes them. `off` is the
-- line's place inside its query: 0 initial, 1 duplicate initial,
-- 2 stats, 3 error, 4 memory. Orphan events have no initial line.
WITH @DERIVE@,
h AS (
  SELECT *,
    ' [ ' || CAST(pid AS VARCHAR) || ' ] {' || id || '} ' AS mid,
    strftime(ts, '%Y.%m.%d %H:%M:%S.%f') AS dt_start,
    strftime(ts + to_microseconds(elapsed_us), '%Y.%m.%d %H:%M:%S.%f') AS dt_end
  FROM e),
init AS (
  SELECT event_id, dt_start || mid || '<Debug> executeQuery: (from 10.0.0.'
    || CAST(user_id % 256 AS VARCHAR) || ':' || CAST(9000 + event_id % 100 AS VARCHAR)
    || ', user: default) ' || query AS value
  FROM h WHERE NOT orphan)
SELECT event_id, 0 AS off, value FROM init
UNION ALL
SELECT i.event_id, 1, i.value FROM init i JOIN h USING (event_id) WHERE h.dup
UNION ALL
SELECT event_id, 2, dt_start || mid || '<Information> executeQuery: Read '
  || CAST(rows_read AS VARCHAR) || ' rows, ' || CAST(gib AS VARCHAR)
  || ' GiB in 0.500 sec., ' || CAST(rps AS VARCHAR) || ' rows/sec., '
  || CAST(mibps AS VARCHAR) || ' MiB/sec.'
FROM h
UNION ALL
SELECT event_id, 3, dt_start || mid || '<Error> executeQuery: Code: '
  || CAST(error_code AS VARCHAR)
  || ', e.displayText() = DB::Exception: synthetic error ' || CAST(event_id AS VARCHAR)
FROM h WHERE haserr
UNION ALL
SELECT event_id, 4, dt_end || mid
  || '<Debug> MemoryTracker: Peak memory usage (for query): '
  || CAST(memmib AS VARCHAR) || ' MiB.'
FROM h
