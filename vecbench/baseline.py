#!/usr/bin/env python3
"""Measure a baseline: sets of untraced runs per workload, plus one traced run.

    python3 vecbench/baseline.py --runs 10 --sets 2 --out vecbench/baseline-4core.json

Every untraced run uses its own seed (set s, run i: seed 1000*s + i). For each
end-to-end metric the output holds each set's median, quartiles and spread,
where the spread is the distance between the first and third quartile (as
statistics.quantiles(values, n=4) gives them) over the median. It also says
whether each spread is within the metric's bound in BENCHMARK.json, and whether
the second set's median is within the bound of the first. The traced run gives
the per-layer metrics. Run it from the repository root, on an otherwise idle
machine.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]

    out = {"host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                    "system": platform.system(),
                    "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1)},
           "run_seconds": seconds, "sets": [], "traced": {}}
    for s in range(1, a.sets + 1):
        per = {}
        for w in workloads:
            results, walls, failed = [], [], 0
            for i in range(1, a.runs + 1):
                r, wall = run(w, 1000 * s + i, seconds, 0)
                walls.append(wall)
                if r is None or not r["correct"] or r["failed"]:
                    failed += 1
                if r is not None:
                    results.append(r)
                print(f"set {s} {w} run {i}: {wall:.1f} s, "
                      f"{'ok' if r and r['correct'] else 'FAILED'}", file=sys.stderr, flush=True)
            metrics = {m: summary([r["metrics"][m]["value"] for r in results])
                       for m in bounds} if len(results) >= 2 else {}
            per[w] = {"runs": len(walls), "failed_runs": failed,
                      "wall_s": {"median": statistics.median(walls), "max": max(walls),
                                 "total": sum(walls)},
                      "metrics": metrics}
        out["sets"].append(per)

    verdict = {}
    for w in workloads:
        first = out["sets"][0][w]["metrics"]
        v = {}
        for m, bound in bounds.items():
            if m not in first:
                continue
            spreads = [st[w]["metrics"][m]["spread"] for st in out["sets"]]
            better = next(x["better"] for x in spec["end_to_end"] if x["name"] == m)
            drift = None
            if len(out["sets"]) > 1:
                m1, m2 = first[m]["median"], out["sets"][1][w]["metrics"][m]["median"]
                drift = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
            v[m] = {"bound": bound, "spreads": spreads,
                    "spreads_within_bound": all(x <= bound for x in spreads),
                    "spreads_within_third": all(x < bound / 3 for x in spreads),
                    "second_median_worse_by": drift,
                    "medians_agree": drift is None or drift <= bound}
        verdict[w] = v
    out["verdict"] = verdict

    for w in workloads:
        r, wall = run(w, 1, seconds, 1)
        out["traced"][w] = {"seed": 1, "wall_s": wall,
                            "metrics": {k: v["value"] for k, v in (r or {}).get("metrics", {}).items()}}

    for w in workloads:
        print(f"{w}:")
        for m, v in verdict[w].items():
            meds = [st[w]["metrics"][m]["median"] for st in out["sets"]]
            print(f"  {m:26s} medians {' '.join(f'{x:12.4f}' for x in meds)}  "
                  f"spreads {' '.join(f'{x:.3f}' for x in v['spreads'])}  bound {v['bound']:.2f}  "
                  f"{'ok' if v['spreads_within_bound'] and v['medians_agree'] else 'FAIL'}"
                  f"{'' if v['spreads_within_third'] else ' (spread over a third of bound)'}")
    total = sum(st[w]["wall_s"]["total"] for st in out["sets"] for w in workloads)
    print(f"untraced wall time: {total:.0f} s over {a.sets * a.runs * len(workloads)} runs")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
