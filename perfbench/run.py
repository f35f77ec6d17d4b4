#!/usr/bin/env python3
"""The exporter benchmark: builds the program from source, runs one
workload against the shipped `graft.Exporter` CLI, checks its output and
prints the metrics.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload exporter_catchup --seed 1 --seconds 20 --trace 0

Workloads (see README.md for the why and the figures):
  exporter_catchup  the exporter drains a pre-written sf0.1-sized log
                    (`--from-start`), polled through /metrics; two more
                    launches that stop at /healthz time the set-up.
  exporter_follow   the exporter follows a log that the benchmark appends
                    to open-loop at a fixed rate, scraped at a fixed cadence.

The exporter runs in its own JVM with only the master, the heap and CLI
flags, as spark-submit would start it, and is observed only through
/metrics, /healthz and /proc/<pid>. `--trace 1` adds a SparkListener to
that JVM, reads Spark's streaming progress reports from its log, and times
single layers in a second JVM afterwards; it prints the per-layer metrics
instead of the end-to-end ones.

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

CATCHUP_EVENTS = 100000      # the sf0.1 `events` table size: ~345k log lines
SETUP_PROBES = 2             # extra launches per catch-up run, for setup_s
FOLLOW_RATE = 500            # lines/s appended open-loop in exporter_follow
FOLLOW_WARM_LINES = 1000     # burst that absorbs the first (cold) data batch
SCRAPE_EVERY_S = 0.1         # scrape cadence of the follow window
POLL_EVERY_S = 0.05          # /metrics poll cadence while catching up
LINES_PER_EVENT = 3.44       # query + background lines per event at the default mix
DRAIN_TIMEOUT_S = 120
HEAP = "2g"
# The JDK 17 module options spark-submit adds for Spark 4
# (org.apache.spark.launcher.JavaModuleOptions); same list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
CLK_TCK = os.sysconf("SC_CLK_TCK")

E2E = {  # name -> unit
    "setup_s": "s",
    "freshness_p50_ms": "ms",
    "freshness_p99_ms": "ms",
    "cpu_cores": "cores",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             os.path.join(HERE, "scala", "build.sbt"), os.path.join(HERE, "scala", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    return env


def sbt(cwd, env, *tasks):
    cmd = [shutil.which("sbt") or "sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    r = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise RuntimeError(f"sbt {' '.join(tasks)} failed in {cwd}")
    return r.stdout


def build(work):
    """Compile the program and the benchmark's own package once per source
    state; return (program classpath, benchmark classes dir)."""
    stamp_file = os.path.join(work, "build.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            b = json.load(f)
        classes = b["classpath"].split(os.pathsep)[0]
        if b["stamp"] == stamp and os.path.isdir(classes) and os.path.isdir(b["probe"]):
            return b["classpath"], b["probe"]
    t0 = time.time()
    env = sbt_env()
    out = sbt(".", env, "compile", "export Runtime/fullClasspath")
    cp = [l for l in out.splitlines() if "scala-2.13" in l and not l.startswith("[")][-1].strip()
    env["PERFBENCH_CLASSPATH"] = cp
    sbt(os.path.join(HERE, "scala"), env, "compile")
    probe = os.path.join(HERE, "scala", "target", "scala-2.13", "classes")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp, "probe": probe}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, probe


# ---------------------------------------------------------------- probes

def cpu_probe_ms():
    """Fixed work (SHA-256 over 32 MiB, three times; the median in ms): a
    reference for the box's speed during the run, not a metric."""
    buf = b"\x5a" * (1 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)
        h.digest()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def proc_cpu_s(pid):
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK  # utime + stime


def proc_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pct(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))]


# ---------------------------------------------------------------- exporter

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Exporter:
    """One `graft.Exporter` JVM, started as spark-submit would start it."""

    def __init__(self, run_dir, classpath, log_path, trace_cp=None):
        self.port = free_port()
        self.base = f"http://127.0.0.1:{self.port}"
        self.stderr_path = os.path.join(run_dir, "exporter.err")
        self.listener_path = os.path.join(run_dir, "listener.jsonl")
        env, jvm = jvm_env_args(os.path.join(run_dir, "tmp"))
        cp = classpath
        if trace_cp:
            cp = classpath + os.pathsep + trace_cp
            jvm.append("-Dspark.extraListeners=perfbench.JobListener")
            env["PERFBENCH_LISTENER_OUT"] = self.listener_path
        args = ["--log", log_path, "--from-start", "--listen", f"127.0.0.1:{self.port}",
                "--checkpoint", os.path.join(run_dir, "checkpoint")]
        self.t_launch = time.monotonic()
        self.stderr = open(self.stderr_path, "w")
        self.proc = subprocess.Popen(
            [java(), *jvm, "-cp", cp, "graft.Exporter", *args],
            stdout=subprocess.DEVNULL, stderr=self.stderr, env=env)
        self.pid = self.proc.pid

    def get(self, path, timeout=10.0):
        with urllib.request.urlopen(self.base + path, timeout=timeout) as r:
            return r.status, r.read().decode()

    def wait_healthy(self, timeout=120.0):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"exporter exited with {self.proc.returncode}")
            try:
                if self.get("/healthz", 1.0)[0] == 200:
                    return time.monotonic()
            except OSError:
                pass
            time.sleep(0.02)
        raise RuntimeError("exporter never became healthy")

    def scrape(self):
        """(sent, received, body, read_lines)."""
        t0 = time.monotonic()
        _, body = self.get("/metrics")
        t1 = time.monotonic()
        read = 0
        for line in body.splitlines():
            if line.startswith("chlogexporter_read_lines "):
                read = int(line.split()[1])
                break
        return t0, t1, body, read

    def kill(self):
        self.proc.kill()
        self.proc.wait()
        self.stderr.close()

    def stop(self):
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.stderr.close()


def jvm_env_args(tmp):
    """Environment and JVM options of a Spark driver JVM: the module options
    and heap spark-submit would pass, the local master, and Spark's local
    dirs and the JVM's temp dir inside the run directory."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_LOCAL_IP="127.0.0.1")
    jvm = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jvm += [f"-Xmx{HEAP}", f"-Dspark.master=local[{cores()}]",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    return env, jvm


def cores():
    """The local master's thread count: every core this process may use.
    PERFBENCH_CORES overrides it for the single-core baseline figure."""
    return int(os.environ.get("PERFBENCH_CORES") or len(os.sched_getaffinity(0)))


def background_share():
    """The generator's background share; PERFBENCH_BACKGROUND_SHARE
    overrides it for the traffic-mix sensitivity figure."""
    return float(os.environ.get("PERFBENCH_BACKGROUND_SHARE") or gen.BACKGROUND_SHARE)


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or "java"


# ---------------------------------------------------------------- workloads

def check_exposition(body, events_parquet, meta):
    exp = checks.expected_samples(events_parquet, meta["background_lines"])
    act = checks.parse_exposition(body)
    problems = checks.compare(act, exp) + checks.properties(act, meta["lines"])
    problems += checks.selftest(exp, meta["lines"])
    return problems


def wait_counted(ex, target, every, t_deadline, scrapes):
    """Poll /metrics until read_lines reaches `target`; returns the
    completion time of the first scrape that counts it."""
    while time.monotonic() < t_deadline:
        t0, t1, body, read = ex.scrape()
        scrapes.append((t0, t1, read))
        if read >= target:
            return t1, body
        if ex.proc.poll() is not None:
            raise RuntimeError(f"exporter exited with {ex.proc.returncode}")
        time.sleep(every)
    raise RuntimeError(f"lines not all counted within {DRAIN_TIMEOUT_S} s")


def setup_probe(run_dir, cp, log_path):
    """One extra launch of the exporter on the same log: the time from
    launch until /healthz answers. The JVM is killed as soon as it does."""
    ex = Exporter(run_dir, cp, log_path)
    try:
        return ex.wait_healthy() - ex.t_launch
    finally:
        ex.kill()


def freshness_ms(scrapes, due, first):
    """For each line: from its due time to the completion of the first
    scrape whose read_lines counts it. `due[i]` is the due time of line
    `first + i` of the file (0-based)."""
    fresh, k = [], 0
    for i, d in enumerate(due):
        while k < len(scrapes) and scrapes[k][2] < first + i + 1:
            k += 1
        fresh.append((scrapes[k][1] - d) * 1000.0)
    return fresh


def exporter_catchup(args, cp, probe, run_dir):
    """One drain: start the exporter on the pre-written log, poll /metrics
    until every line is counted, check the exposition, stop. Around it,
    SETUP_PROBES launches that stop at /healthz, so that setup_s is the
    median of several start-ups."""
    data = os.path.join(run_dir, "data")
    meta, _ = gen.write(args.seed, CATCHUP_EVENTS, data, background_share=background_share())
    log_path = os.path.join(data, "clickhouse-server.log")
    # extra launches before and after the drain, so that a slow spell of
    # the box moves one start-up and not all of them; a traced run reports
    # per-layer metrics only and makes none
    probes = 0 if args.trace else SETUP_PROBES
    setups = [setup_probe(os.path.join(run_dir, f"setup{i}"), cp, log_path)
              for i in range(probes // 2)]
    ex = Exporter(run_dir, cp, log_path, probe if args.trace else None)
    try:
        t_up = ex.wait_healthy()
        setups.append(t_up - ex.t_launch)
        cpu0 = proc_cpu_s(ex.pid)
        scrapes = []
        t_done, body = wait_counted(ex, meta["lines"], POLL_EVERY_S,
                                    t_up + DRAIN_TIMEOUT_S, scrapes)
        cpu1 = proc_cpu_s(ex.pid)
        run = {"scrapes": scrapes, "body": body, "t_measure": t_up,
               "stderr": ex.stderr_path, "listener": ex.listener_path}
        if args.trace:
            wait_progress(ex, meta["lines"])
            run["exporter_cpu_s"] = proc_cpu_s(ex.pid)
            run["peak_rss_mb"] = proc_hwm_mb(ex.pid)
    finally:
        ex.stop()
    setups += [setup_probe(os.path.join(run_dir, f"setup{i}"), cp, log_path)
               for i in range(probes // 2, probes)]
    problems = check_exposition(body, os.path.join(data, "events.parquet"), meta)
    drain_s = t_done - t_up
    # every line is in the file when /healthz answers, so each is due then
    fresh = freshness_ms(scrapes, [t_up] * meta["lines"], 0)
    metrics = {
        "setup_s": statistics.median(setups),
        "freshness_p50_ms": statistics.median(fresh),
        "freshness_p99_ms": pct(fresh, 99),
        "cpu_cores": (cpu1 - cpu0) / drain_s,
    }
    detail = {"lines": meta["lines"], "bytes": meta["bytes"],
              "background_lines": meta["background_lines"],
              "setups_s": setups, "drain_s": drain_s,
              "catchup_lines_per_s": {"value": meta["lines"] / drain_s, "unit": "lines/s"}}
    return metrics, detail, problems, meta["lines"], run, data


def exporter_follow(args, cp, probe, run_dir):
    """Start the exporter on an empty log; append a warm-up burst and wait
    until it is counted (the end of set-up); then append open-loop at
    FOLLOW_RATE for --seconds while scraping every SCRAPE_EVERY_S; then
    keep scraping until every line is counted and check the exposition."""
    data = os.path.join(run_dir, "data")
    n_events = math.ceil((FOLLOW_WARM_LINES + FOLLOW_RATE * args.seconds) / LINES_PER_EVENT)
    meta, lines = gen.write(args.seed, n_events, data, log_lines=False)
    log_path = os.path.join(data, "clickhouse-server.log")
    open(log_path, "w").close()
    warm, window = lines[:FOLLOW_WARM_LINES], lines[FOLLOW_WARM_LINES:]
    ex = Exporter(run_dir, cp, log_path, probe if args.trace else None)
    try:
        t_up = ex.wait_healthy()
        with open(log_path, "a") as f:
            f.write("\n".join(warm) + "\n")
        scrapes = []
        t_ready, _ = wait_counted(ex, len(warm), SCRAPE_EVERY_S,
                                  t_up + DRAIN_TIMEOUT_S, scrapes)
        setup_s = t_ready - ex.t_launch
        scrapes = []
        t0 = time.monotonic()
        due = [t0 + i / FOLLOW_RATE for i in range(len(window))]
        late = []

        def append():
            i = 0
            with open(log_path, "a") as f:
                while i < len(window):
                    now = time.monotonic()
                    j = i
                    while j < len(window) and due[j] <= now:
                        j += 1
                    if j > i:
                        f.write("\n".join(window[i:j]) + "\n")
                        f.flush()
                        late.append(time.monotonic() - due[j - 1])
                        i = j
                    if i < len(window):
                        time.sleep(max(0.0, min(0.005, due[i] - time.monotonic())))

        cpu0 = proc_cpu_s(ex.pid)
        writer = threading.Thread(target=append)
        writer.start()
        t_end = t0 + len(window) / FOLLOW_RATE
        next_scrape = t0
        while time.monotonic() < t_end:
            t_a, t_b, _, read = ex.scrape()
            scrapes.append((t_a, t_b, read))
            next_scrape += SCRAPE_EVERY_S
            time.sleep(max(0.0, next_scrape - time.monotonic()))
        writer.join()
        t_done, body = wait_counted(ex, meta["lines"], SCRAPE_EVERY_S,
                                    t_end + DRAIN_TIMEOUT_S, scrapes)
        cpu1 = proc_cpu_s(ex.pid)
        run = {"scrapes": scrapes, "body": body, "t_measure": t0,
               "stderr": ex.stderr_path, "listener": ex.listener_path}
        if args.trace:
            wait_progress(ex, meta["lines"])
            run["exporter_cpu_s"] = proc_cpu_s(ex.pid)
            run["peak_rss_mb"] = proc_hwm_mb(ex.pid)
    finally:
        ex.stop()
    fresh = freshness_ms(scrapes, due, FOLLOW_WARM_LINES)
    problems = check_exposition(body, os.path.join(data, "events.parquet"), meta)
    metrics = {
        "setup_s": setup_s,
        "freshness_p50_ms": statistics.median(fresh),
        "freshness_p99_ms": pct(fresh, 99),
        # from the first window line until the last is counted: whole
        # batches, since the window opens as the warm-up batch ends
        "cpu_cores": (cpu1 - cpu0) / (t_done - t0),
    }
    detail = {"lines": meta["lines"], "window_lines": len(window),
              "window_s": t_end - t0, "rate": FOLLOW_RATE,
              "drain_after_window_s": t_done - t_end,
              "generator_late_ms_p50": statistics.median(late) * 1000.0,
              "generator_late_ms_max": max(late) * 1000.0,
              "scrapes": len(scrapes)}
    return metrics, detail, problems, len(window), run, data


# ---------------------------------------------------------------- tracing

def progress_reports(stderr_path):
    """Structured Streaming progress reports from the exporter's INFO log."""
    reports, buf = [], None
    with open(stderr_path, errors="replace") as f:
        for line in f:
            if buf is None:
                i = line.find("Streaming query made progress: {")
                if i >= 0:
                    buf = [line[line.index("{", i):]]
            else:
                buf.append(line)
                if line.startswith("}"):
                    try:
                        reports.append(json.loads("".join(buf)))
                    except ValueError:
                        pass
                    buf = None
    return reports


def wait_progress(ex, lines, timeout=60.0):
    """Traced runs only: wait until the progress reports account for every
    line, so the last batch's report is in the log before the stop."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if sum(r.get("numInputRows", 0) for r in progress_reports(ex.stderr_path)) >= lines:
            return
        time.sleep(0.25)


def layer_metrics(cp, probe, run, data_dir, run_dir):
    """The per-layer metrics of a traced run: progress reports and listener
    lines of the measured batches, then the timed layer calls."""
    all_reports = progress_reports(run["stderr"])
    reports = [r for r in all_reports if "addBatch" in r["durationMs"]]
    wall0 = time.time() - (time.monotonic() - run["t_measure"])

    def started(r):
        return datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00")).timestamp()
    # the measured part: batches that started after the window opened
    # (exporter_follow) or every batch (exporter_catchup)
    measured = [r for r in reports if started(r) >= wall0 - 0.5] or reports[-1:]
    ids = {r["batchId"] for r in measured}
    dur = lambda k: [r["durationMs"].get(k, 0) for r in measured]
    state = [r["stateOperators"][0] for r in measured if r.get("stateOperators")]
    last_state = [r["stateOperators"][0] for r in all_reports if r.get("stateOperators")]

    jobs, stages = {}, {}
    if os.path.isfile(run["listener"]):
        with open(run["listener"]) as f:
            for line in f:
                e = json.loads(line)
                if e["batch"] in ids:
                    (jobs if e["kind"] == "job" else stages).setdefault(e["batch"], []).append(e)
    per_batch = lambda f: statistics.median([f(b) for b in ids]) if ids else 0
    map_stages = [s for b in ids for s in stages.get(b, [])
                  if s["shuffle_write"] > 0 and s["shuffle_read"] == 0]
    merge_stages = [s for b in ids for s in stages.get(b, []) if s["shuffle_read"] > 0]
    job_ms = {b: sum(j["end"] - j["start"] for j in jobs.get(b, [])) for b in ids}
    add_ms = {r["batchId"]: r["durationMs"]["addBatch"] for r in measured}

    out = os.path.join(run_dir, "layers.json")
    env, jvm = jvm_env_args(os.path.join(run_dir, "layers-tmp"))
    with open(os.path.join(run_dir, "layers.err"), "w") as err:
        subprocess.run([java(), *jvm, "-Dspark.ui.enabled=false", "-cp", cp + os.pathsep + probe,
                        "perfbench.Layers", os.path.join(data_dir, "clickhouse-server.log"), out],
                       env=env, stdout=subprocess.DEVNULL, stderr=err, check=True, timeout=170)
    with open(out) as f:
        lay = json.load(f)
    rtt = [(b - a) * 1000.0 for a, b, _ in run["scrapes"]]
    med = lambda xs: statistics.median(xs) if xs else 0
    return {
        "TailFileSource.partitions_per_batch": (
            "count", med([s["tasks"] for s in map_stages])),
        "TailFileSource.latest_offset_ms": ("ms", med(dur("latestOffset"))),
        "LogParser.stage_s": ("s", sum(s["ms"] for s in map_stages) / 1000.0),
        "LogParser.lines_per_s": ("lines/s", lay["lines_per_s"]),
        "StreamingMerge.state_partitions": (
            "count", med([s["numShufflePartitions"] for s in state])),
        "StreamingMerge.state_rows": (
            "rows", last_state[-1]["numRowsTotal"] if last_state else 0),
        "StreamingMerge.state_commit_ms": ("ms", med([s["commitTimeMs"] for s in state])),
        "StreamingMerge.stage_s": ("s", sum(s["ms"] for s in merge_stages) / 1000.0),
        "StreamingMerge.shuffle_bytes": ("bytes", sum(s["shuffle_write"] for s in map_stages)),
        "MetricsServing.batches": ("count", len(measured)),
        "MetricsServing.batch_ms_p50": ("ms", med(dur("triggerExecution"))),
        "MetricsServing.batch_ms_max": ("ms", max(dur("triggerExecution"))),
        "MetricsServing.planning_ms": ("ms", med(dur("queryPlanning"))),
        "MetricsServing.wal_commit_ms": ("ms", med(dur("walCommit"))),
        "MetricsServing.commit_offsets_ms": ("ms", med(dur("commitOffsets"))),
        "MetricsServing.jobs_per_batch": ("count", per_batch(lambda b: len(jobs.get(b, [])))),
        "MetricsServing.stages_per_batch": ("count", per_batch(lambda b: len(stages.get(b, [])))),
        "MetricsServing.tasks_per_batch": (
            "count", per_batch(lambda b: sum(s["tasks"] for s in stages.get(b, [])))),
        "MetricsServing.driver_ms": (
            "ms", per_batch(lambda b: add_ms.get(b, 0) - job_ms.get(b, 0))),
        "PromRegistry.observe_per_s": ("1/s", lay["observe_per_s"]),
        "PromRegistry.render_ms": ("ms", lay["render_ms"]),
        "MetricsHttpServer.scrape_p50_ms": ("ms", med(rtt)),
        "MetricsHttpServer.scrape_p99_ms": ("ms", pct(rtt, 99)),
        "MetricsHttpServer.exposition_bytes": ("bytes", len(run["body"].encode())),
        "Exporter.peak_rss_mb": ("MB", run["peak_rss_mb"]),
        "Exporter.cpu_s": ("s", run["exporter_cpu_s"]),
    }


# ---------------------------------------------------------------- main

WORKLOADS = {"exporter_catchup": exporter_catchup, "exporter_follow": exporter_follow}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isfile("src/main/scala/graft/Exporter.scala")):
        log("run from the root of a checkout of the program: build.sbt and src/ are missing")
        sys.exit(2)
    work = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(work, exist_ok=True)
    cp, probe = build(work)
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        probe_before = cpu_probe_ms()
        metrics, detail, problems, attempted, run, data = WORKLOADS[args.workload](
            args, cp, probe, run_dir)
        probe_after = cpu_probe_ms()
        if args.trace:
            out = {k: {"value": v, "unit": u}
                   for k, (u, v) in layer_metrics(cp, probe, run, data, run_dir).items()}
        else:
            out = {k: {"value": v, "unit": E2E[k]} for k, v in metrics.items()}
        detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                       "cpu_probe_ms_before": probe_before, "cpu_probe_ms_after": probe_after,
                       "end_to_end": metrics, "problems": problems[:20]})
        os.makedirs(os.path.join(work, "results"), exist_ok=True)
        with open(os.path.join(work, "results", f"{args.workload}-{args.seed}-"
                               f"{args.trace}-{int(time.time())}.json"), "w") as f:
            json.dump({**detail, "metrics": out}, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": 0,
                      "metrics": out}))


if __name__ == "__main__":
    main()
