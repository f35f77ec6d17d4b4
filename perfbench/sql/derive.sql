-- Per-event values of the synthetic ClickHouse log, computed from the
-- `events` table with integer arithmetic only. These are the formulas of
-- graft.operators.LogRender / graft.LogOracle, restated here so that the
-- benchmark's inputs and expected outputs do not come from the program.
-- Both render.sql and expected.sql start from this CTE.
e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
    (event_id % 97 = 0) AS orphan,
    (event_id % 101 = 0) AS dup,
    (event_id % 10 = 7) AS haserr,
    event_id % 5 AS s,
    (event_id * 7919123) % 1900000000 AS elapsed_us,
    (event_id * 2000003) % 20000000000 AS rows_read,
    (event_id * 13) % 2048 AS gib,
    (event_id * 100003) % 2000000000 AS rps,
    (event_id * 11) % 65536 AS mibps,
    (event_id * 7) % 131072 AS memmib,
    CAST(1 + event_id % 999 AS BIGINT) AS error_code,
    CAST(100 + event_id % 900 AS BIGINT) AS pid,
    'q-' || CAST(event_id AS VARCHAR) AS id,
    CASE event_id % 5
      WHEN 0 THEN 'SELECT count() FROM hits WHERE d > today()'
      WHEN 1 THEN 'INSERT INTO hits VALUES (1, 2, 3)'
      WHEN 2 THEN 'UPDATE hits SET x = 1 WHERE y = 2'
      WHEN 3 THEN 'DELETE FROM hits WHERE x = 1'
      ELSE 'SHOW TABLES FROM default' END AS query,
    CASE event_id % 5
      WHEN 0 THEN 'select' WHEN 1 THEN 'insert' WHEN 2 THEN 'update'
      WHEN 3 THEN 'delete' ELSE 'other' END AS stmt_type
  FROM events)
