#!/usr/bin/env python3
"""Seeded input generator: a synthetic `events` table and the ClickHouse
server log rendered from it.

The log holds the four query line formats the exporter parses (initial,
stats, error, memory; reference query.go:15-18), rendered in DuckDB as
graft.operators.LogRender writes them (sql/render.sql), plus background
lines that match no pattern. Lines of concurrent queries interleave: each
line of event i is placed at i + u, with u drawn from [0, WINDOW) and
sorted within the event, so every query keeps its own line order while up
to WINDOW queries overlap.

Usage: python3 perfbench/gen.py --seed 1 --events 100000 --out DIR
writes DIR/events.parquet, DIR/clickhouse-server.log and DIR/meta.json.
The seed is the only source of randomness.
"""
import argparse
import json
import os

import duckdb
import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))

# Mean gap between query starts, as in the sf0.1 `events` table
# (100k events over 30 days).
MEAN_GAP_S = 26.0
BASE_TS_US = 1704067200 * 1000000  # 2024-01-01 00:00:00 UTC
USERS = 1500
# The traffic mix below is an assumption, not a measurement: the repository
# holds no ClickHouse log sample to derive it from. A server at its default `trace`
# logger level writes many non-query lines per query, so the real
# background share may be far above 10%. README.md ("Traffic mix") gives
# how the catch-up figures move with the share.
WINDOW = 16.0            # queries whose lines may interleave (assumed)
BACKGROUND_SHARE = 0.10  # share of all lines that match no pattern (assumed)

BACKGROUND = [
    "<Trace> ContextAccess (default): Access granted: SELECT(d, x) ON default.hits",
    "<Debug> default.hits (SelectExecutor): Key condition: unknown",
    "<Trace> InterpreterSelectQuery: FetchColumns -> Complete",
    "<Information> TCPHandler: Processed in 0.002 sec.",
    "<Trace> SystemLog (system.query_log): Flushing system log, 12 entries to flush",
    "<Debug> DiskLocal: Reserving 1.00 MiB on disk `default`, having unreserved 98.21 GiB.",
]


def sql(name):
    with open(os.path.join(HERE, "sql", name)) as f:
        text = f.read()
    with open(os.path.join(HERE, "sql", "derive.sql")) as f:
        derive = "\n".join(l for l in f.read().splitlines() if not l.startswith("--"))
    return text.replace("@DERIVE@", derive)


def events_table(seed, n):
    rng = np.random.default_rng(seed)
    first_id = int(rng.integers(0, 1_000_000))
    gaps_us = rng.exponential(MEAN_GAP_S * 1e6, n).astype(np.int64)
    ts = BASE_TS_US + np.cumsum(gaps_us)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
    }), rng


def render(seed, n_events, background_share=BACKGROUND_SHARE):
    """Return (events arrow table, list of log lines in file order, number
    of background lines)."""
    events, rng = events_table(seed, n_events)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("events", events)
    q = con.execute(sql("render.sql")).arrow()
    ids = q.column("event_id").to_numpy()
    offs = q.column("off").to_numpy()
    # per-event sorted place offsets: slot 0 initial (and its duplicate),
    # then stats, error, memory
    u = np.sort(rng.uniform(0.0, WINDOW, (n_events, 4)), axis=1)
    slot = np.array([0, 0, 1, 2, 3])[offs]
    first_id = int(events.column("event_id")[0].as_py())
    key = (ids - first_id) + u[ids - first_id, slot]
    n_bg = int(round(len(ids) * background_share / (1.0 - background_share)))
    bg_key = rng.uniform(0.0, n_events, n_bg)
    bg_tpl = rng.integers(0, len(BACKGROUND), n_bg)
    bg_pid = rng.integers(100, 1000, n_bg)
    ts0 = events.column("ts").to_numpy().astype("datetime64[us]")
    values = q.column("value").to_pylist()
    bg_ts = ts0[np.minimum(bg_key.astype(np.int64), n_events - 1)]
    bg_dt = np.datetime_as_string(bg_ts, unit="us")
    for dt, t, p in zip(bg_dt, bg_tpl, bg_pid):
        # 2024-01-01T00:00:11.172425 -> 2024.01.01 00:00:11.172425
        values.append(f"{dt[:4]}.{dt[5:7]}.{dt[8:10]} {dt[11:]} [ {p} ] {{}} {BACKGROUND[t]}")
    all_key = np.concatenate([key, bg_key])
    # ties (duplicate initial) keep render order: stable sort on the key
    order = np.argsort(all_key, kind="stable")
    return events, [values[i] for i in order], n_bg


def write(seed, n_events, out, log_lines=True, background_share=BACKGROUND_SHARE):
    """Write the inputs for `seed` to `out` (the log only when `log_lines`)
    and return (meta, log lines in file order)."""
    os.makedirs(out, exist_ok=True)
    events, lines, n_bg = render(seed, n_events, background_share)
    con = duckdb.connect()
    con.register("events_arrow", events)
    con.execute(f"COPY events_arrow TO '{os.path.join(out, 'events.parquet')}' (FORMAT parquet)")
    log = os.path.join(out, "clickhouse-server.log")
    if log_lines:
        with open(log, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
    meta = {"seed": seed, "events": n_events, "lines": len(lines),
            "background_lines": n_bg, "bytes": sum(len(l) + 1 for l in lines)}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=100000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    meta, _ = write(a.seed, a.events, a.out)
    print(json.dumps(meta))


if __name__ == "__main__":
    main()
