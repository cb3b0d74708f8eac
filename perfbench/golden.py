#!/usr/bin/env python3
"""Records or validates the golden fingerprints in perfbench/golden/.

Run from the root of a checkout:

    python3 perfbench/golden.py record
        Runs every query of every workload once, in one session per
        workload, and writes golden/<data dir name>.json.

    python3 perfbench/golden.py validate <verify-out-dir>
        Fingerprints the parquet output that graft.Verify wrote for the
        same data dir (one directory per query) and compares it with the
        golden file. Verify's output is what tools/check_oracle.py
        compares with the DuckDB oracle, so a golden that matches it is
        the fingerprint of an oracle-checked result.
"""
import json
import os
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of build output
import build  # noqa: E402
import run  # noqa: E402


def golden_path(data):
    return os.path.join(run.BENCH, "golden", os.path.basename(data.rstrip("/")) + ".json")


def record(spec, classes):
    data = spec["data"]
    golden = {}
    for name, wl in spec["workloads"].items():
        out = os.path.join(run.RESULTS, f"golden-{name}.json")
        opts = {"cpus": run.cpus(), "data": data,
                "groups": ",".join(str(g) for g in wl["memo_groups"]),
                "queries": ",".join(wl["queries"]), "trace": 0, "out": out}
        code, _ = run.run_jvm(classes, "pass", opts, out + ".log", time.monotonic() + 1800)
        if code != 0:
            raise run.BenchError(f"{name}: pass failed (exit {code})")
        with open(out) as f:
            rec = json.load(f)
        for q in rec["queries"]:
            if "error" in q:
                raise run.BenchError(f"{q['query']} failed: {q['error']}")
            golden[q["query"]] = q["fingerprint"]
        print(f"[golden] {name}: {len(rec['queries'])} queries", file=sys.stderr)
    os.makedirs(os.path.dirname(golden_path(data)), exist_ok=True)
    with open(golden_path(data), "w") as f:
        json.dump(dict(sorted(golden.items())), f, indent=1)
        f.write("\n")


def validate(spec, classes, verify_dir):
    data = spec["data"]
    with open(golden_path(data)) as f:
        golden = json.load(f)
    out = os.path.join(run.RESULTS, "golden-validate.json")
    opts = {"cpus": run.cpus(), "dir": os.path.abspath(verify_dir),
            "queries": ",".join(sorted(golden)), "out": out}
    code, _ = run.run_jvm(classes, "fingerprint-dir", opts, out + ".log",
                          time.monotonic() + 1800)
    if code != 0:
        raise run.BenchError(f"fingerprinting {verify_dir} failed (exit {code})")
    with open(out) as f:
        got = json.load(f)
    bad = [q for q in sorted(golden) if got.get(q) != golden[q]]
    for q in bad:
        print(f"MISMATCH {q}: golden {golden[q]}, verify output {got.get(q)}")
    print(f"{len(golden) - len(bad)} match, {len(bad)} differ")
    return not bad


def main():
    with open(os.path.join(run.BENCH, "workloads.json")) as f:
        spec = json.load(f)
    os.makedirs(run.RESULTS, exist_ok=True)
    os.makedirs(run.TMP, exist_ok=True)
    classes = build.build(run.ROOT, run.OUT)
    if sys.argv[1:2] == ["record"]:
        record(spec, classes)
    elif sys.argv[1:2] == ["validate"] and len(sys.argv) == 3:
        sys.exit(0 if validate(spec, classes, sys.argv[2]) else 1)
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    try:
        main()
    except (run.BenchError, build.BuildError) as e:
        print(f"[golden] {e}", file=sys.stderr)
        sys.exit(2)
