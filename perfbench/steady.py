#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

  python3 perfbench/steady.py                      # listed workloads, seeds 1..10
  python3 perfbench/steady.py --workloads lake_sql --seeds 5
  python3 perfbench/steady.py --sets 2             # two sets, medians compared

For each workload (by default those BENCHMARK.json lists) it runs
perfbench/run.py once per seed (tracing off) and prints, per end-to-end
metric, the first set's median and quartiles and each set's spread
(q3 - q1) / median, next to the bound BENCHMARK.json fixes. With
--sets 2 it repeats the whole set and reports how far the second median
moved from the first, in the metric's worse direction.

It then makes two traced runs with one seed and checks that the counts
that must be deterministic repeat exactly.

Exit status is 1 when a spread exceeds its bound, a median drifts by
more than its bound, a run fails its output checks, or a deterministic
count differs. It also prints the median wall time of a run per
workload. Raw results go to .bench_build/steady/<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DETERMINISTIC = {
    "lake_sql": ["sched.jobs", "sched.stages", "sched.tasks"],
    "crawl_to_shards": ["cdx.pages", "warc.fetches", "http.retries", "ingest.docs_in",
                        "ingest.exact_dropped", "ingest.near_dropped",
                        "ingest.units_dropped", "ingest.shard_docs"],
    "federated_rw": ["d1.round_trips_per_write", "iceberg.files_read_ratio"],
}


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"  run failed: {workload} seed {seed} trace {trace} (exit {p.returncode})")
        print("  " + p.stderr[-800:].replace("\n", "\n  "))
        return None
    return json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    raw, ok, walls = {}, True, {}
    for w in workloads:
        sets = []
        for k in range(args.sets):
            vals = {m: [] for m in bounds}
            for s in range(1, args.seeds + 1):
                t0 = time.time()
                r = run(w, s, seconds, 0)
                walls.setdefault(w, []).append(time.time() - t0)
                if r is None or not r["correct"]:
                    ok = False
                    if r is not None:
                        print(f"  {w} seed {s}: output checks failed ({r['failed']} of {r['attempted']})")
                    continue
                for m in bounds:
                    vals[m].append(r["metrics"][m]["value"])
                print(f"  {w} set {k + 1} seed {s}: {time.time() - t0:.0f} s wall, " +
                      ", ".join(f"{m}={r['metrics'][m]['value']:.4g}" for m in bounds))
            sets.append(vals)
        raw[w] = sets
        print(f"\n{w}: {args.seeds} seeds x {args.sets} set(s); median, q1, q3 of set 1, "
              f"spread of each set, drift of each later set's median from set 1's")
        for m, spec_m in bounds.items():
            if any(len(v[m]) < 4 for v in sets):
                print(f"  {m:<14} too few runs")
                ok = False
                continue
            med, q1, q3, _ = spread(sets[0][m])
            line = f"  {m:<14} {med:>12.4f} {q1:>12.4f} {q3:>12.4f}  spread"
            flag = ""
            for v in sets:
                sp = spread(v[m])[3]
                line += f" {sp:.3f}"
                if sp > spec_m["bound"]:
                    flag, ok = " OVER BOUND", False
                elif sp > spec_m["bound"] / 3 and not flag:
                    flag = " over bound/3"
            if len(sets) > 1:
                line += "  drift"
            for v in sets[1:]:
                med2 = statistics.median(v[m])
                worse = (med2 - med) / med if spec_m["better"] == "lower" else (med - med2) / med
                line += f" {worse:+.3f}"
                if worse > spec_m["bound"]:
                    flag += " DRIFT"
                    ok = False
            print(line + f"  (bound {spec_m['bound']:.2f}){flag}")
        a = run(w, 1, seconds, 1)
        b = run(w, 1, seconds, 1)
        if a is None or b is None:
            ok = False
            continue
        for m in DETERMINISTIC[w]:
            va, vb = a["metrics"][m]["value"], b["metrics"][m]["value"]
            same = va == vb
            ok = ok and same
            print(f"  deterministic {m:<28} {va:>12.4f} {vb:>12.4f} "
                  f"{'same' if same else 'DIFFERS'}")
        raw[w + ":trace"] = [a, b]
    for w, ws in walls.items():
        print(f"median wall of a {w} run: {statistics.median(ws):.1f} s")
    out = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, time.strftime("%Y%m%d-%H%M%S") + ".json")
    with open(path, "w") as fh:
        json.dump(raw, fh, indent=1)
    print(f"\nraw results: {os.path.relpath(path, ROOT)}; {'STEADY' if ok else 'NOT STEADY'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
