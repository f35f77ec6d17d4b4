#!/usr/bin/env python3
"""Output checks for the exporter workloads.

The final `/metrics` exposition is compared sample by sample with the
values DuckDB computes from the same `events` table (sql/expected.sql),
and checked for the properties any scrape must have: the line counter
equals the lines written, histogram buckets are cumulative and never
decrease, and each histogram's `_count` equals its `+Inf` bucket.

`python3 perfbench/checks.py --selftest` shows that each check rejects a
result with one value perturbed; the benchmark runs the same self-test in
every run.
"""
import math
import os
import re
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
SAMPLE = re.compile(r'^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\{(.*)\})?\s+(\S+)$')
LABEL = re.compile(r'([a-zA-Z_][a-zA-Z0-9_]*)="((?:[^"\\]|\\.)*)"')
# The exporter's own operational block; the data families are what the
# oracle computes.
SELF_PREFIX = "graft_"


def fmt_le(v):
    f = float(v)
    if math.isinf(f):
        return "+Inf"
    return str(int(f)) if f.is_integer() else repr(f)


def canon_labels(raw):
    pairs = LABEL.findall(raw or "")
    return ",".join(f'{k}="{fmt_le(v) if k == "le" else v}"' for k, v in sorted(pairs))


def number(s):
    try:
        return int(s)
    except ValueError:
        return float(s)


def parse_exposition(text):
    """{(metric, canonical labels): value} for every sample line."""
    out = {}
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        m = SAMPLE.match(line)
        if not m:
            raise ValueError(f"not an exposition line: {line!r}")
        out[(m.group(1), canon_labels(m.group(2)))] = number(m.group(3))
    return out


def load_sql(name):
    with open(os.path.join(HERE, "sql", "derive.sql")) as f:
        derive = "\n".join(l for l in f.read().splitlines() if not l.startswith("--"))
    with open(os.path.join(HERE, "sql", name)) as f:
        return f.read().replace("@DERIVE@", derive)


def expected_samples(events_parquet, background_lines):
    """The oracle: every data sample the exposition must hold."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_parquet}')")
    out = {}
    for metric, labels, ival, fval in con.execute(load_sql("expected.sql")).fetchall():
        if metric == "chlogexporter_read_lines":
            ival += background_lines
        out[(metric, canon_labels(labels))] = int(ival) if ival is not None else float(fval)
    return out


def compare(actual, expected):
    """Problems found comparing the data samples of `actual` with the oracle."""
    data = {k: v for k, v in actual.items() if not k[0].startswith(SELF_PREFIX)}
    problems = []
    for k in sorted(set(expected) - set(data)):
        problems.append(f"missing sample {k}")
    for k in sorted(set(data) - set(expected)):
        problems.append(f"unexpected sample {k} = {data[k]}")
    for k in sorted(set(data) & set(expected)):
        a, e = data[k], expected[k]
        ok = a == e if isinstance(e, int) else math.isclose(a, e, rel_tol=1e-9)
        if not ok:
            problems.append(f"{k}: got {a}, expected {e}")
    return problems


def properties(actual, lines_written):
    """Problems with the properties every exposition must have."""
    problems = []
    read = actual.get(("chlogexporter_read_lines", ""))
    if read != lines_written:
        problems.append(f"chlogexporter_read_lines = {read}, lines written = {lines_written}")
    series = {}
    for (metric, labels), v in actual.items():
        if metric.endswith("_bucket"):
            pairs = dict(LABEL.findall(labels))
            le = float(pairs.pop("le"))
            rest = ",".join(f'{k}="{x}"' for k, x in sorted(pairs.items()))
            series.setdefault((metric[:-len("_bucket")], rest), []).append((le, v))
    for (family, rest), buckets in sorted(series.items()):
        buckets.sort()
        for (le0, v0), (le1, v1) in zip(buckets, buckets[1:]):
            if v1 < v0:
                problems.append(f"{family}{{{rest}}}: bucket le={fmt_le(le1)} = {v1} "
                                f"< le={fmt_le(le0)} = {v0}")
        if not math.isinf(buckets[-1][0]):
            problems.append(f"{family}{{{rest}}}: no +Inf bucket")
            continue
        count = actual.get((family + "_count", rest))
        if count != buckets[-1][1]:
            problems.append(f"{family}{{{rest}}}: _count = {count}, +Inf bucket = {buckets[-1][1]}")
    return problems


def selftest(expected, lines_written):
    """Each check must pass the oracle's own samples and reject them with
    one value perturbed. Returns the problems found (empty when sound)."""
    problems = []
    base = dict(expected)
    if compare(base, expected) or properties(base, lines_written):
        problems.append("checks reject the oracle's own samples")

    def first(pred):
        return next(k for k in sorted(base) if pred(k))

    count_key = first(lambda k: k[0] == "clickhouse_query_count")
    bucket_key = first(lambda k: k[0] == "clickhouse_query_time_bucket" and 'le="5"' in k[1])
    hist_count = first(lambda k: k[0] == "clickhouse_select_query_rows_read_count")
    time_sum = first(lambda k: k[0] == "clickhouse_query_time_sum")
    cases = [
        ("oracle compare", compare, count_key, 1),
        ("oracle compare (double)", compare, time_sum, base[time_sum] * 1e-6),
        ("read_lines equals lines written", properties, ("chlogexporter_read_lines", ""), 1),
        ("buckets never decrease", properties, bucket_key, -10 ** 9),
        ("_count equals +Inf bucket", properties, hist_count, 1),
    ]
    for name, check, key, delta in cases:
        bad = dict(base)
        bad[key] = bad[key] + delta
        found = check(bad, expected) if check is compare else check(bad, lines_written)
        if not found:
            problems.append(f"self-test: '{name}' accepted {key} perturbed by {delta}")
    return problems


def main():
    if sys.argv[1:] != ["--selftest"]:
        sys.exit("usage: checks.py --selftest")
    import tempfile
    import gen
    with tempfile.TemporaryDirectory(dir=".") as d:
        meta, _ = gen.write(7, 2000, d, log_lines=False)
        exp = expected_samples(os.path.join(d, "events.parquet"), meta["background_lines"])
    problems = selftest(exp, meta["lines"])
    for p in problems:
        print(p)
    print("self-test", "FAILED" if problems else "passed", f"({len(exp)} samples)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
