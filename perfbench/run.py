#!/usr/bin/env python3
"""graft benchmark: times SparkEntry queries from outside the program.

Run from the root of a checkout:

    python3 perfbench/run.py --workload match --seed 1 --seconds 12 --trace 0

One run is two fresh JVMs on local[N], N = the cores this process may use.
The first only builds the session (a set-up sample). The second builds the
session, runs the workload's warm-up queries, builds its memo families,
then runs the run's queries once each in a seeded order, timing each call
and folding each result into a fingerprint, which is checked against
golden/. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The complete record of the run (every
query, failure causes, spans, counters, session config) is written under
.bench_build/results/. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of build output
import build  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
TMP = os.path.join(OUT, "tmp")
RESULTS = os.path.join(OUT, "results")
DEADLINE_S = 170.0
SETUP_SAMPLES = 2
HEAP = "3g"

# Queries that lay out files once per data dir and reuse them, guarded by
# marker files: a first-ever call pays the layout (q95: 5000 partition
# directories at sf0.1), later calls do not.
IO_STATE = {
    "q95_path_driven_source": "doc_files_*/_SUCCESS",
    "q98_compacted_store": "compacted_*/_DONE",
    "q101_store_append": "appendstore_*/_DONE",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

MIB = float(1 << 20)


class BenchError(Exception):
    pass


def cpus():
    return len(os.sched_getaffinity(0))


def io_dir(data):
    # graft.queries.SourceQueries.ioDir
    return "/tmp/graft_io/" + re.sub(r"[^A-Za-z0-9.]+", "_", data)


def missing_io_state(data, names):
    return [q for q, pat in IO_STATE.items()
            if q in names and not glob.glob(os.path.join(io_dir(data), pat))]


def sample(queries, seconds):
    """The queries a run of a sampled workload measures: a prefix, about
    `seconds` of reference cost long, of a frozen stratified order. The
    order visits the cost ranks along the golden-ratio sequence, so every
    prefix spreads evenly over heavy and light queries. The same seconds
    always give the same sample."""
    ranked = sorted(queries, key=lambda q: (-queries[q], q))
    phi = (5 ** 0.5 - 1) / 2
    out, total = [], 0.0
    for i in sorted(range(len(ranked)), key=lambda i: ((i + 0.5) * phi) % 1.0):
        if out and total + queries[ranked[i]] > seconds:
            break
        out.append(ranked[i])
        total += queries[ranked[i]]
    return out


class Jvm:
    """A harness process. Records when it printed READY; keeps its
    stderr and any other stdout in a log file."""

    def __init__(self, classes, mode, opts, log_path):
        cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-Xmx" + HEAP,
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Djava.io.tmpdir=" + TMP,
                "-Dspark.local.dir=" + os.path.join(TMP, "spark"),
                "-Dspark.sql.warehouse.dir=" + os.path.join(TMP, "warehouse"),
                "-Dderby.system.home=" + os.path.join(TMP, "derby"),
                "-Dderby.stream.error.file=" + os.path.join(TMP, "derby.log"),
                "-cp", build.classpath(ROOT, classes), "graftbench.Harness", mode] +
               [f"{k}={v}" for k, v in opts.items()])
        self.log = open(log_path, "ab")
        self.ready = None
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=TMP, stdout=subprocess.PIPE,
                                     stderr=self.log, stdin=subprocess.DEVNULL)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if self.ready is None and line.strip() == b"READY":
                self.ready = time.monotonic() - self.t0
            else:
                self.log.write(line)

    def wait(self, deadline):
        try:
            code = self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.kill()
            raise BenchError("harness process ran past the run's deadline")
        self.reader.join()
        self.log.close()
        return code

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def run_jvm(classes, mode, opts, log_path, deadline):
    jvm = Jvm(classes, mode, opts, log_path)
    try:
        code = jvm.wait(deadline)
    finally:
        jvm.kill()
    if jvm.ready is None:
        raise BenchError(f"{mode} process never reached READY (exit {code}); see {log_path}")
    return code, jvm.ready


def setup_sample(classes, log_path, deadline):
    """Seconds from spawning a harness JVM to its session being ready.
    The process is killed there: its shutdown is not part of set-up."""
    jvm = Jvm(classes, "setup", {"cpus": cpus()}, log_path)
    try:
        while jvm.ready is None and jvm.proc.poll() is None:
            if time.monotonic() > deadline:
                raise BenchError("set-up process ran past the run's deadline")
            time.sleep(0.01)
    finally:
        jvm.kill()
        jvm.wait(deadline)
    if jvm.ready is None:
        raise BenchError(f"set-up process never reached READY; see {log_path}")
    return jvm.ready


def quantile(values, q):
    vs = sorted(values)
    if len(vs) == 1:
        return vs[0]
    pos = q * (len(vs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)


def timed_latencies(rec):
    return [q["latency_s"] for q in rec["queries"] if q["pass"] == 0 and q["ok"]]


def e2e_metrics(setups, rec):
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (rec["wall_s"], "s"),
        "query_mean_s": (statistics.mean(timed_latencies(rec)), "s"),
        "cpu_s": (rec["cpu_s"], "s"),
    }


def layer_metrics(rec, untraced, n_queries):
    c = rec["layer"]
    g = lambda k: c.get(k, 0.0)
    tasks = max(g("exec.tasks"), 1.0)
    task_cpu_s = g("exec.task_cpu_ns") / 1e9
    return {
        "tables.scan_mb": (g("tables.scan_bytes") / MIB, "MiB"),
        "tables.scan_tasks": (g("tables.scan_tasks"), "count"),
        "tables.scan_s": (g("tables.scan_ms") / 1e3, "s"),
        "plan.build_s": (rec["plan_build_s"], "s"),
        "plan.analysis_s": (g("plan.analysis_ms") / 1e3, "s"),
        "plan.optimize_s": (g("plan.optimize_ms") / 1e3, "s"),
        "plan.physical_s": (g("plan.physical_ms") / 1e3, "s"),
        "plan.actions": (g("plan.actions") / n_queries, "count"),
        "codegen.compiles": (g("codegen.compiles"), "count"),
        "codegen.compile_s": (g("codegen.compile_ns") / 1e9, "s"),
        "jit.compile_s": (g("jit.compile_ms") / 1e3, "s"),
        "exec.jobs": (g("exec.jobs"), "count"),
        "exec.stages": (g("exec.stages"), "count"),
        "exec.tasks": (g("exec.tasks"), "count"),
        "exec.task_run_s": (g("exec.task_run_ms") / 1e3, "s"),
        "exec.task_cpu_s": (task_cpu_s, "s"),
        "exec.task_wait_s": (g("exec.task_wait_ms") / 1e3, "s"),
        "exec.util": (task_cpu_s / (rec["wall_s"] * rec["cpus"]), "fraction"),
        "exec.tiny_task_frac": (g("exec.tiny_tasks") / tasks, "fraction"),
        "shuffle.write_mb": (g("shuffle.write_bytes") / MIB, "MiB"),
        "shuffle.read_mb": (g("shuffle.read_bytes") / MIB, "MiB"),
        "shuffle.fetch_wait_s": (g("shuffle.fetch_wait_ms") / 1e3, "s"),
        "spill.mem_mb": (g("spill.mem_bytes") / MIB, "MiB"),
        "spill.disk_mb": (g("spill.disk_bytes") / MIB, "MiB"),
        "memo.build_s": (rec["memo_build_s"], "s"),
        "memo.frames": (rec["cached_rdds"], "count"),
        "memo.unpersists": (g("memo.unpersists"), "count"),
        "memo.housekeeping_s": (rec["housekeeping_s"], "s"),
        "jvm.peak_rss_mb": (rec["peak_rss_bytes"] / MIB, "MiB"),
        "jvm.live_heap_mb": (rec["live_heap_bytes"] / MIB, "MiB"),
        "memo.peak_cache_mb": (rec["peak_cache_bytes"] / MIB, "MiB"),
        "query.p50_s": (quantile(timed_latencies(rec), 0.5), "s"),
        "query.p90_s": (quantile(timed_latencies(rec), 0.9), "s"),
        "stream.batches": (g("stream.batches"), "count"),
        "stream.batch_s": (g("stream.batch_ms") / 1e3, "s"),
        "jvm.gc_s": (g("jvm.gc_ms") / 1e3, "s"),
        "jvm.heap_peak_mb": (rec["old_gen_peak_bytes"] / MIB, "MiB"),
        "trace.wall_s": (rec["wall_s"], "s"),
        "trace.untraced_wall_s": (untraced["wall_s"], "s"),
        "trace.overhead_frac": (rec["wall_s"] / untraced["wall_s"] - 1.0, "fraction"),
        "trace.blocked_s": (rec["trace_blocked_s"], "s"),
    }


def untraced_walls(workload, data, measured):
    walls = []
    for path in glob.glob(os.path.join(RESULTS, f"{workload}-s*-t0-*.json")):
        with open(path) as f:
            r = json.load(f)
        if r["data"] == data and sorted(r["order"]) == sorted(measured) \
                and not r["failures"]:
            walls.append(r["wall_s"])
    return walls


def load_golden(data):
    path = os.path.join(BENCH, "golden", os.path.basename(data.rstrip("/")) + ".json")
    if not os.path.exists(path):
        raise BenchError(f"no golden fingerprints for {data}: {path}")
    with open(path) as f:
        return json.load(f)


def check(rec, golden):
    """Marks each query record with its fingerprint verdict; returns the
    failures as (query, class, message)."""
    failures = []
    for q in rec["queries"]:
        if "error" in q:
            failures.append((q["query"], q["error"]["class"], q["error"]["message"]))
            q["ok"] = False
        elif golden.get(q["query"]) != q["fingerprint"]:
            failures.append((q["query"], "FingerprintMismatch",
                             f"got {q['fingerprint']}, golden {golden.get(q['query'])}"))
            q["ok"] = False
        else:
            q["ok"] = True
    for w in rec["warm_errors"]:
        failures.append((f"memo group {w['group']}", w["error"]["class"], w["error"]["message"]))
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="reference seconds of queries a sampled workload measures")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="run every query of the workload, not a sample")
    args = ap.parse_args()
    start = time.monotonic()
    deadline = start + (DEADLINE_S if not args.full else 1800.0)

    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {args.workload}; "
                         f"have {', '.join(spec['workloads'])}")
    data = spec["data"]
    if not os.path.isdir(data):
        raise BenchError(f"data directory missing: {data}")
    wl = spec["workloads"][args.workload]
    golden = load_golden(data)

    # killed set-up processes leave their Spark scratch dirs behind
    shutil.rmtree(os.path.join(TMP, "spark"), ignore_errors=True)
    for d in (TMP, RESULTS, os.path.join(TMP, "spark")):
        os.makedirs(d, exist_ok=True)
    classes = build.build(ROOT, OUT)
    n = cpus()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    log = os.path.join(RESULTS, tag + ".log")
    open(log, "wb").close()

    # files the program caches across sessions: lay them out before the
    # first timed run, untimed, and check them before every run
    t = time.monotonic()
    missing = missing_io_state(data, wl["queries"])
    if missing:
        code, _ = run_jvm(classes, "prep", {"cpus": n, "data": data,
                                            "queries": ",".join(missing)}, log, deadline)
        if code != 0 or missing_io_state(data, wl["queries"]):
            raise BenchError(f"could not lay out cached files for {missing}; see {log}")
    prep_s = time.monotonic() - t

    warmup = [] if args.full else wl["warmup"]
    pool = {q: c for q, c in wl["queries"].items() if q not in warmup}
    measured = sample(pool, args.seconds) if wl["sampled"] and not args.full else list(pool)
    names = list(measured)
    random.Random(args.seed).shuffle(names)
    opts = {"cpus": n, "data": data,
            "groups": ",".join(str(g) for g in wl["memo_groups"]),
            "warmup": ",".join(warmup), "queries": ",".join(names)}

    setups = []
    for _ in range(0 if args.trace else SETUP_SAMPLES - 1):
        setups.append(setup_sample(classes, log, deadline))

    def pass_(trace):
        out = os.path.join(RESULTS, f"{tag}-pass{trace}.json")
        code, ready = run_jvm(classes, "pass", dict(opts, trace=trace, out=out), log, deadline)
        if code != 0 or not os.path.exists(out):
            raise BenchError(f"pass process failed (exit {code}); see {log}")
        with open(out) as f:
            rec = json.load(f)
        os.remove(out)
        return rec, ready

    rec, ready = pass_(args.trace)
    setups.append(ready)
    untraced = None
    if args.trace:
        # tracing overhead: against this checkout's untraced runs of the
        # same queries, or, when there are none, one untraced pass now
        walls = untraced_walls(args.workload, data, measured)
        untraced = {"wall_s": statistics.median(walls), "runs": len(walls)} \
            if walls else dict(pass_(0)[0], runs=1)

    failures = check(rec, golden)
    if not timed_latencies(rec):
        raise BenchError("no timed query succeeded")
    if args.trace:
        metrics = layer_metrics(rec, untraced, len(names))
    else:
        metrics = e2e_metrics(setups, rec)
    attempted = len(rec["queries"])
    failed = sum(1 for q in rec["queries"] if not q["ok"])
    correct = not failures

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    rec.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "full": args.full, "data": data, "order": names,
        "setup_samples_s": setups, "prep_s": prep_s, "prepared": missing,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "query_p50_s": quantile(timed_latencies(rec), 0.5),
        "query_p90_s": quantile(timed_latencies(rec), 0.9),
        "failures": [{"query": q, "class": c, "message": m} for q, c, m in failures],
        "metrics": metrics,
        "run_s": time.monotonic() - start,
    })
    if untraced is not None:
        rec["untraced"] = {"wall_s": untraced["wall_s"], "runs": untraced["runs"]}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(RESULTS, f"{tag}-{stamp}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for q, c, m in failures:
        print(f"[perfbench] FAILED {q}: {c}: {m[:300]}", file=sys.stderr)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, build.BuildError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
