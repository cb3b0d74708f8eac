#!/usr/bin/env python3
"""Folds the run records under .bench_build/results into one report.

Run from the root of a checkout:  python3 perfbench/report.py

For every workload it gives each query's latency median, quartiles and
sample count over all recorded runs, the p50 and p90 of query latency
pooled over those runs, every failure with its cause, and the median of
each metric. The report is printed and written to
.bench_build/report.json.
"""
import glob
import json
import os
import statistics

RESULTS = os.path.join(os.getcwd(), ".bench_build", "results")


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def main():
    runs = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "*-s*-t[01]-*.json"))):
        with open(path) as f:
            r = json.load(f)
        kind = "full" if r.get("full") else f"trace{r['trace']}"
        runs.setdefault((r["workload"], kind), []).append(r)
    report = {}
    for (wl, kind), rs in sorted(runs.items()):
        lat = {}
        for r in rs:
            for q in r["queries"]:
                if q["ok"] and q["pass"] == 0:
                    lat.setdefault(q["query"], []).append(q["latency_s"])
        metrics = {}
        for r in rs:
            for k, m in r["metrics"].items():
                metrics.setdefault(k, (m["unit"], []))[1].append(m["value"])
        pooled = sorted(v for vs in lat.values() for v in vs)
        report[f"{wl}/{kind}"] = {
            "runs": len(rs),
            "seeds": sorted(r["seed"] for r in rs),
            "query_latency_pooled": {
                "p50_s": statistics.median(pooled) if pooled else None,
                "p90_s": statistics.quantiles(pooled, n=10)[8] if len(pooled) > 1 else None,
                "samples": len(pooled)},
            "metrics": {k: {"median": statistics.median(v), "unit": u, "n": len(v)}
                        for k, (u, v) in sorted(metrics.items())},
            "queries": {q: dict(zip(("q1", "median", "q3"), quartiles(v)), n=len(v))
                        for q, v in sorted(lat.items())},
            "failures": [dict(f, seed=r["seed"]) for r in rs for f in r["failures"]],
        }
    os.makedirs(os.path.dirname(RESULTS), exist_ok=True)
    with open(os.path.join(os.path.dirname(RESULTS), "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for key, rep in report.items():
        print(f"== {key}: {rep['runs']} runs, {len(rep['failures'])} failures")
        p = rep["query_latency_pooled"]
        if p["samples"]:
            print(f"  query latency pooled over runs: p50 {p['p50_s']:.4f} s, "
                  f"p90 {p['p90_s']:.4f} s, {p['samples']} samples")
        for k, m in rep["metrics"].items():
            print(f"  {k:24s} {m['median']:12.4f} {m['unit']}")
        for q, s in rep["queries"].items():
            print(f"  {q:34s} median {s['median']:.3f} s  "
                  f"[{s['q1']:.3f}, {s['q3']:.3f}]  n={s['n']}")
        for f_ in rep["failures"]:
            print(f"  FAILED seed {f_['seed']} {f_['query']}: {f_['class']}: {f_['message'][:200]}")


if __name__ == "__main__":
    main()
