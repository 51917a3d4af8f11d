"""Reductions from the harness's raw samples to the benchmark's metrics.

Everything here is pure Python over plain lists and dicts, so
test_stats.py checks it without Spark.
"""
import math
import statistics

# Percentiles a tail may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def nearest_rank(sorted_values, pct):
    """Value at percentile `pct` by the nearest-rank rule."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1]


def tail(values, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples
    strictly above its value. Returns (value, label, n); when no ladder
    percentile qualifies the tail is the maximum, labelled "max"."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return float("nan"), "none", 0
    best = None
    for p in LADDER:
        v = nearest_rank(s, p)
        if sum(1 for x in s if x > v) >= min_beyond:
            best = (v, "p%g" % p, n)
    return best if best else (s[-1], "max", n)


def median(values):
    return statistics.median(values) if values else float("nan")


def ratio(num, den):
    return num / den if den else float("nan")


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ms(spans):
    """Span id -> self time in ms: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_ms([(max(c["start_ns"], lo), min(c["end_ns"], hi))
                            for c in children.get(s["id"], [])
                            if c["end_ns"] > lo and c["start_ns"] < hi])
        out[s["id"]] = (hi - lo - covered) / 1e6
    return out


def windows_of(op):
    return (op["start_ms"] - 1, op["end_ms"] + 1)


def windows_hit(windows, t):
    return any(lo <= t <= hi for lo, hi in windows)


def end_to_end(raw):
    """The end-to-end metrics of one untraced run."""
    ops = raw["ops"]
    ok = [o for o in ops if not o["error"]]
    reads = [o["ms"] for o in ok if o["kind"] == "read"]
    writes = [o["ms"] for o in ok if o["kind"] == "write"]
    timed_s = sum(o["ms"] for o in ops) / 1e3
    user = sum(o["user_bytes"] for o in ops if o["kind"] == "write")
    read_tail = tail(reads)
    write_tail = tail(writes)
    metrics = {
        "setup_s": (raw["session_s"] + raw["workload_setup_s"], "s"),
        "ops_per_s": (ratio(len(ok), timed_s), "ops/s"),
        "read_p50_ms": (median(reads), "ms"),
        "read_tail_ms": (read_tail[0], "ms"),
        "write_p50_ms": (median(writes), "ms"),
        "write_tail_ms": (write_tail[0], "ms"),
        "write_amp": (ratio(raw["timed_bytes_written"], user), "ratio"),
        "space_amp": (ratio(raw["disk_bytes"], raw["live_csv_bytes"]), "ratio"),
        "heap_live_mb": (raw["heap_live_mb"], "MB"),
    }
    notes = {
        "read_tail_ms": "%s of n=%d" % (read_tail[1], read_tail[2]),
        "write_tail_ms": "%s of n=%d" % (write_tail[1], write_tail[2]),
        "write_amp": "%d bytes written / %d user bytes" % (raw["timed_bytes_written"], user),
        "space_amp": "%d bytes on disk / %d live CSV bytes" % (raw["disk_bytes"], raw["live_csv_bytes"]),
    }
    return metrics, notes


# Layer metric -> span name; the value is the median self time of the span.
SPAN_METRICS = {
    "ingest.extract_ms": "ingest.extract",
    "store.load_raw_ms": "store.load_raw",
    "store.daily_metrics_ms": "store.daily_metrics",
    "ops.indicators_ms": "ops.indicators",
    "report.render_ms": "report.render",
    "quality.checks_ms": "quality.checks",
    "graft.report_window_ms": "graft.report_window",
    "ext.text_build_ms": "ext.text_build",
    "ext.ivf_build_ms": "ext.ivf_build",
    "ext.shingle_build_ms": "ext.shingle_build",
    "ext.fused_ms": "ext.fused",
    "ext.bm25_probe_ms": "ext.bm25_probe",
    "ext.ivf_probe_ms": "ext.ivf_probe",
    "ext.fuse_ms": "ext.fuse",
    "ext.front_door_ms": "ext.front_door",
    "ext.text_refresh_ms": "ext.text_refresh",
    "store.point_read_ms": "store.point_read",
    "store.range_read_ms": "store.range_read",
    "store.append_ms": "store.append",
    "store.update_dv_ms": "store.update_dv",
    "store.delete_dv_ms": "store.delete_dv",
    "store.merge_ms": "store.merge",
    "store.index_refresh_ms": "store.index_refresh",
    "store.maintain_ms": "store.maintain",
}


def per_layer(raw, spans, cores):
    """The per-layer metrics of one traced run. A layer the workload
    never calls reads 0."""
    ops = {o["id"]: o for o in raw["ops"]}
    tr = raw["trace"]
    stages = {s["stage"]: s for s in tr["stages"]}
    per_op = {i: {"jobs": [], "queries": []} for i in ops}
    windows = [windows_of(o) for o in ops.values()]
    unattributed = 0
    for j in tr["jobs"]:
        tag = j["tag"]
        op = int(tag[len("pb-op-"):]) if tag.startswith("pb-op-") else None
        if op in ops and windows_hit([windows_of(ops[op])], j["start_ms"]):
            per_op[op]["jobs"].append(j)
        elif not tag or windows_hit(windows, j["start_ms"]):
            # no tag, or a tag a pool thread inherited from earlier work
            unattributed += 1
    for q in tr["queries"]:
        tag = q["tag"]
        if tag.startswith("pb-op-") and int(tag[len("pb-op-"):]) in per_op:
            per_op[int(tag[len("pb-op-"):])]["queries"].append(q)

    def op_stages(i):
        return [stages[s] for j in per_op[i]["jobs"] for s in j["stages"] if s in stages]

    rows = []
    busy = covered_total = 0.0
    for i, o in ops.items():
        st = op_stages(i)
        cov = union_ms([(j["start_ms"], j["end_ms"]) for j in per_op[i]["jobs"]])
        busy += sum(s["run_ms"] for s in st)
        covered_total += cov
        rows.append({
            "jobs": len(per_op[i]["jobs"]), "queries": len(per_op[i]["queries"]),
            "plan": sum(q["plan_ms"] for q in per_op[i]["queries"]),
            "exec": cov, "gap": max(o["ms"] - cov, 0.0),
            "tasks": sum(s["tasks"] for s in st),
            "input": sum(s["input_bytes"] for s in st),
            "shuffle": sum(s["shuffle_bytes"] for s in st),
        })
    all_stages = [s for i in ops for s in op_stages(i)]
    m = {
        "spark.jobs_per_op": median([r["jobs"] for r in rows]),
        "spark.queries_per_op": median([r["queries"] for r in rows]),
        "spark.plan_ms_per_op": median([r["plan"] for r in rows]),
        "spark.driver_gap_ms_per_op": median([r["gap"] for r in rows]),
        "spark.exec_ms_per_op": median([r["exec"] for r in rows]),
        "spark.tasks_per_op": median([r["tasks"] for r in rows]),
        "spark.task_busy_share": ratio(busy, cores * covered_total),
        "spark.stage_skew": median([s["skew"] for s in all_stages]),
        "spark.input_bytes_per_op": median([r["input"] for r in rows]),
        "spark.shuffle_bytes_per_op": median([r["shuffle"] for r in rows]),
        "spark.spill_bytes": float(sum(s["spill_bytes"] for s in all_stages)),
        "spark.failed_tasks": float(sum(s["failed"] for s in all_stages)),
        "spark.unattributed_jobs": float(unattributed),
        "spark.codegen_compile_ms": raw["codegen_timed_ms"],
        "spark.codegen_setup_ms": raw["codegen_setup_ms"],
        "jvm.gc_ms": float(raw["gc_ms"]),
        "jvm.gc_count": float(raw["gc_count"]),
    }
    selfs = self_times_ms(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    for metric, name in SPAN_METRICS.items():
        m[metric] = median(by_name[name]) if name in by_name else 0.0

    counters = {}
    for c in tr["counters"]:
        counters.setdefault(c["name"], []).append((c["op"], c["value"]))

    def cmed(name):
        vs = [v for _, v in counters.get(name, [])]
        return median(vs) if vs else 0.0

    m["ingest.extract_skip_share"] = (statistics.mean(v for _, v in counters["ingest.extract_skipped"])
                                      if "ingest.extract_skipped" in counters else 0.0)
    m["store.rewrite_useful_share"] = cmed("store.rewrite_useful_share")
    m["store.bytes_written_per_tick"] = cmed("store.bytes_written_per_tick")
    reads = [i for i, o in ops.items() if o["kind"] == "read" and o["name"] == "query_batch"]
    read_input = {i: sum(s["input_bytes"] for s in op_stages(i)) for i in reads}
    disk = dict(counters.get("ext.index_disk_bytes", []))
    m["ext.index_bytes_read_per_batch"] = median(list(read_input.values())) if reads else 0.0
    m["ext.probed_share"] = (median([ratio(read_input[i], disk[i]) for i in reads if disk.get(i)])
                             if disk else 0.0)
    m["ext.dup_caught_share"] = raw["extras"].get("ext.dup_caught_share", 0.0)
    m["ext.recall_at_k"] = raw["extras"].get("recall_at_k", 0.0)

    points = [i for i, o in ops.items() if o["name"] == "point_read"]
    files = {i: sum(q["files_read"] for q in per_op[i]["queries"]) for i in points}
    scanned = {i: sum(q["scan_rows"] for q in per_op[i]["queries"]) for i in points}
    returned = dict(counters.get("store.rows_returned", []))
    snap = dict(counters.get("store.snapshot_files", []))
    m["store.files_read_per_point"] = median(list(files.values())) if points else 0.0
    m["store.file_skip_share"] = (median([1 - ratio(files[i], snap[i]) for i in points if snap.get(i)])
                                  if snap else 0.0)
    m["store.rows_scanned_per_row_returned"] = (
        median([ratio(scanned[i], max(returned.get(i, 0), 1)) for i in points]) if points else 0.0)
    m["store.maintain_bytes_written"] = cmed("store.maintain_bytes_written")
    m["store.live_files_end"] = raw["extras"].get("store.live_files_end", 0.0)
    writes = sum(1 for o in ops.values() if o["kind"] == "write")
    m["store.bytes_written_per_write"] = ratio(raw["timed_bytes_written"], writes) if writes else 0.0
    return m
