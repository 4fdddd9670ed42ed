#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

  python3 perfbench/run.py --workload crawl_to_shards --seed 1 --seconds 3 --trace 0

Run from the root of a graft checkout. The first run builds the product
and the harness from source with sbt (offline) into .bench_build/; later
runs reuse that build while the sources are unchanged. The inputs are
generated from --seed under .bench_build/runs/ and removed afterwards.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run (spans go to .bench_build/traces/<workload>.spans.jsonl).
The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_sql", "crawl_to_shards", "federated_rw")
BUILD_TIMEOUT_S = 800
RUN_BUDGET_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the stamp of the current sources matches."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true" +
                       " -Dsbt.server.autostart=false").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                                stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(3, f"build failed: {e}")
    if rc != 0 or not os.path.exists(cp_file):
        die(3, f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected/lake_sql.json from this run")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(2, f"no graft sources under {ROOT}/src/main/scala; run from a checkout")
    spec = json.load(open(spec_file))
    cp = build()

    t0 = time.time()
    sys.path.insert(0, HERE)
    import gen
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        props = gen.make(args.workload, args.seed, os.path.join(run_dir, "inputs"))
        result = run_jvm(args, cp, run_dir, t0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(args, spec, props, result)


def run_jvm(args, cp, run_dir, t0):
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if args.record:
        cmd.append("-Dperfbench.record=1")
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", os.path.join(run_dir, "work"), "--inputs", os.path.join(run_dir, "inputs"),
            "--out", out, "--config", os.path.join(HERE, "config.json"),
            "--spans", os.path.join(BUILD, "traces", f"{args.workload}.spans.jsonl"),
            "--t0", repr(t0 * 1000.0)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, RUN_BUDGET_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            tail(log)
            die(4, "workload exceeded its time budget")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    shutil.copy(log, os.path.join(BUILD, "logs", f"{args.workload}.log"))
    if rc != 0 or not os.path.exists(out):
        tail(log)
        die(5, f"workload JVM failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


def tail(log, n=40):
    with open(log, errors="replace") as fh:
        for line in fh.readlines()[-n:]:
            print(line.rstrip(), file=sys.stderr)


def report(args, spec, props, result):
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result.get("metrics", {})
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    print("# inputs " + json.dumps(props, sort_keys=True))
    print("# run " + json.dumps(result.get("props", {}), sort_keys=True))
    for line in result.get("report", []):
        print(f"#   {line['name']:<22} {line['value']:>14.4f} {line['unit']}")
    attempted, failed = result.get("attempted", 0), result.get("failed", 0)
    print(f"#   {'error_rate':<22} {failed / max(1, attempted):>14.4f} ratio "
          f"({failed} of {attempted})")
    for f in result.get("failures", []):
        print(f"# FAILED {f}")
    if args.trace:
        print("# self time by span kind (ms, last traced unit):")
        for k, v in result.get("self_time_ms", {}).items():
            print(f"#   {k:<22} {v:>12.1f}")
        print(f"#   op wall {result.get('op_wall_ms', 0):.1f} ms, uncovered by child spans "
              f"{result.get('uncovered_ms', 0):.1f} ms")
    metrics = {}
    absent = [m["name"] for m in wanted if m["name"] not in got]
    if absent and not args.trace:
        die(6, f"metrics {absent} missing from the run's output")
    if absent:
        # layers this workload does not exercise (e.g. ingest.* on lake_sql)
        print("# not exercised on this workload, reported as 0: " + " ".join(absent))
        got = dict(got, **{n: 0.0 for n in absent})
    for m in wanted:
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        print(f"#   {m['name']:<34} {got[m['name']]:>16.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
