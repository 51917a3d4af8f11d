#!/usr/bin/env python3
"""The repo benchmark: one seeded, single-client, closed-loop workload per call.

    python3 perfbench/run.py --workload daily_tick --seed 1 --seconds 12 --trace 0

Run from the repository root. The first call builds the program and the
harness (build.py); later calls reuse that build while the sources are
unchanged. Each call runs the harness JVM in a fresh directory under
.bench_build/runs/ (deleted afterwards), reduces its raw samples with
stats.py, prints one line per metric and, last, one JSON object holding
the metrics BENCHMARK.json lists: its end_to_end ones, or with --trace 1
its per_layer ones (the spans then go to .bench_build/traces/). Exit
code 0 only when every op and every output check passed.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
from build import BUILD_DIR, build, die, spark_jars  # noqa: E402

WORKLOADS = ("daily_tick", "corpus_retrieval")
EXTRA_WORKLOADS = ("warehouse_rw",)
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classes, jars, args, run_dir):
    out = os.path.join(run_dir, "out.json")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", os.pathsep.join([os.path.abspath(classes), os.path.join(jars, "*")]),
            "perfbench.Harness", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), run_dir, out])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-40:] if " INFO " not in l))
        die("harness JVM %s" % ("timed out" if code is None else "exited with %s" % code))
    with open(out) as fh:
        raw = json.load(fh)
    spans = []
    if args.trace:
        with open(out + ".spans.jsonl") as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
        os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
        shutil.copy(out + ".spans.jsonl", os.path.join(
            BUILD_DIR, "traces", "%s-seed%d.spans.jsonl" % (args.workload, args.seed)))
    return raw, spans


def listed_metrics(trace):
    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        die("cannot read BENCHMARK.json in the working directory: %s" % e)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    listed = listed_metrics(args.trace)
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(os.path.join(BUILD_DIR, "runs"), exist_ok=True)
    run_dir = os.path.abspath(tempfile.mkdtemp(prefix=args.workload + "-", dir=os.path.join(BUILD_DIR, "runs")))
    try:
        raw, spans = run_jvm(classes, jars, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = raw["ops"]
    failed_ops = [o for o in ops if o["error"]]
    failed_checks = [c for c in raw["checks"] if c["error"]]
    attempted = len(ops) + len(raw["checks"])
    failed = len(failed_ops) + len(failed_checks)
    print("workload %s  seed %d  seconds %d  trace %d  closed loop, 1 client, local[%d]"
          % (args.workload, args.seed, args.seconds, args.trace, CORES))
    for o in failed_ops[:10]:
        print("FAILED op %d %s: %s" % (o["id"], o["name"], o["error"]))
    for c in raw["checks"]:
        print("%s check: %s%s" % ("FAILED" if c["error"] else "ok", c["name"],
                                   ": " + c["error"] if c["error"] else ""))
    print("failed_share %.4f ratio  (%d failed of %d attempted: %d ops, %d end-of-run checks)"
          % (stats.ratio(failed, attempted), failed, attempted, len(ops), len(raw["checks"])))
    e2e, notes = stats.end_to_end(raw)
    if args.trace:
        # units come from BENCHMARK.json; warehouse_rw's unlisted store metrics print without one
        metrics = {k: (v, listed.get(k, "")) for k, v in stats.per_layer(raw, spans, CORES).items()}
        metrics["trace.ops_per_s"] = (e2e["ops_per_s"][0], listed["trace.ops_per_s"])
        untraced = last_untraced(args)
        if untraced:
            print("tracing overhead: traced ops_per_s %.4f vs untraced %.4f (seed %d)"
                  % (e2e["ops_per_s"][0], untraced, args.seed))
        if args.workload == "warehouse_rw":
            print("not measured from outside: store.maintain_bytes_rewritten (MaintenanceReport "
                  "carries versions and file counts, not bytes; store.maintain_bytes_written stands in)")
    else:
        metrics = e2e
        save_untraced(args, e2e["ops_per_s"][0])
        for k, v in raw["extras"].items():
            print("%s %s" % (k, fmt(v)))
    for k, (v, unit) in metrics.items():
        if k in listed or v:  # skip layers this workload never calls
            print(("%s %s %s%s" % (k, fmt(v), unit, "  (%s)" % notes[k] if k in notes and not args.trace else "")).rstrip())
    # a listed metric without a value means the run measured nothing for it
    missing = [k for k in listed if k not in metrics or math.isnan(metrics[k][0])]
    for k in missing:
        print("FAILED: no value for listed metric %s" % k)
    failed += len(missing)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted + len(missing), "failed": failed,
                      "metrics": {k: {"value": metrics[k][0], "unit": listed[k]}
                                  for k in listed if k not in missing}}))
    sys.exit(0 if correct else 1)


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def untraced_path(args):
    return os.path.join(BUILD_DIR, "untraced", "%s-seed%d.json" % (args.workload, args.seed))


def save_untraced(args, ops_per_s):
    os.makedirs(os.path.dirname(untraced_path(args)), exist_ok=True)
    with open(untraced_path(args), "w") as fh:
        json.dump({"ops_per_s": ops_per_s}, fh)


def last_untraced(args):
    try:
        with open(untraced_path(args)) as fh:
            return json.load(fh)["ops_per_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    main()
