#!/usr/bin/env python3
"""Per-op Spark job timeline of one traced perfbench run.

    python3 tools/op_timeline.py --workload corpus_retrieval --seed 11 --seconds 8 [--kind write]

It builds the program and the harness with perfbench/build.py and runs
one traced op loop with perfbench/run.py's run_jvm, in a fresh directory
under .bench_build/runs/ of the checkout holding this script (deleted
afterwards; --keep FILE saves the run's raw out.json first). For each
timed op it prints a header (wall time, Spark job count, SQL execution
count), then its jobs in start order: the gap from the previous job's
end (the op start for the first job; negative when jobs overlap), the
job's duration and, per stage, its task count ("skipped" for a stage
whose shuffle output an earlier job already wrote), and last the op's
driver time that no job covered. --kind read|write prints that op kind
only. The output closes with one line per printed kind: its median wall
ms, jobs and SQL executions, so a parent/change comparison of one op
kind reads in one line each.
"""
import argparse
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from build import BUILD_DIR, build, spark_jars  # noqa: E402
from run import run_jvm  # noqa: E402


def timeline(raw, kind=None):
    tr = raw["trace"]
    stages = {s["stage"]: s for s in tr["stages"]}
    jobs, queries = {}, {}
    for j in tr["jobs"]:
        jobs.setdefault(j["tag"], []).append(j)
    for q in tr["queries"]:
        queries[q["tag"]] = queries.get(q["tag"], 0) + 1
    lines, per_kind = [], {}
    for op in raw["ops"]:
        if kind and op["kind"] != kind:
            continue
        tag = "pb-op-%d" % op["id"]
        own = sorted(jobs.get(tag, []), key=lambda j: (j["start_ms"], j["job"]))
        per_kind.setdefault(op["kind"], []).append((op["ms"], len(own), queries.get(tag, 0)))
        lines.append("op %d %s %s: %.0f ms, %d jobs, %d queries"
                     % (op["id"], op["kind"], op["name"], op["ms"], len(own), queries.get(tag, 0)))
        prev = op["start_ms"]
        covered, last_end = 0.0, None
        for j in own:
            gap = j["start_ms"] - prev
            per_stage = ", ".join("s%d:%dt" % (s, stages[s]["tasks"]) if s in stages else "s%d:skipped" % s
                                  for s in j["stages"])
            lines.append("  job %-5d gap %6.0f ms  dur %6.0f ms  %s%s"
                         % (j["job"], gap, j["end_ms"] - j["start_ms"], per_stage,
                            "" if j["ok"] else "  FAILED"))
            lo = j["start_ms"] if last_end is None else max(j["start_ms"], last_end)
            covered += max(j["end_ms"] - lo, 0)
            last_end = j["end_ms"] if last_end is None else max(last_end, j["end_ms"])
            prev = j["end_ms"]
        lines.append("  driver time outside jobs: %.0f ms" % max(op["ms"] - covered, 0.0))
    for k, ops in sorted(per_kind.items()):
        lines.append("%s: median %.0f ms, %g jobs, %g SQL executions (%d ops)"
                     % (k, statistics.median(o[0] for o in ops), statistics.median(o[1] for o in ops),
                        statistics.median(o[2] for o in ops), len(ops)))
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--kind", choices=("read", "write"), help="print this op kind only")
    ap.add_argument("--keep", help="copy the run's out.json here")
    args = ap.parse_args()
    args.trace = 1
    os.chdir(ROOT)
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(os.path.join(BUILD_DIR, "runs"), exist_ok=True)
    run_dir = os.path.abspath(tempfile.mkdtemp(prefix="timeline-", dir=os.path.join(BUILD_DIR, "runs")))
    try:
        raw, _ = run_jvm(classes, jars, args, run_dir)
        if args.keep:
            shutil.copy(os.path.join(run_dir, "out.json"), args.keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("\n".join(timeline(raw, args.kind)))


if __name__ == "__main__":
    main()
