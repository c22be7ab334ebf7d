"""Turn one harness record into the benchmark's metrics.

End-to-end metrics come from the op timings of the timed phase. Per-layer
metrics come from the traced run's spans: the benchmark's own spans around
its calls into the engine, and the Spark job, stage, SQL-execution and
Catalyst-phase spans the harness's listeners recorded. Per-layer values
are per timed op unless the README marks them otherwise; a layer that did
no work on a workload reads 0.
"""
import statistics

# Each workload's ops fall in two classes, reported as a_mean_ms / b_mean_ms.
CLASSES = {
    "password_probe": ("hit", "miss"),
    "store_lifecycle": ("ingestion", "retraction"),
    "query_mix": ("probe", "training"),
}
# store_lifecycle's entries (perfbench.Harness.Lifecycle), timed one by one
LIFECYCLE = ("p128_incremental_audio_labels", "p137_retraction_bm25")
SLACK_US = 1000  # Spark event times are whole milliseconds
MB = 1e6


def duration_us(x):
    return x["end_us"] - x["start_us"]


def union_us(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def resolve_parents(spans):
    """Give every span a parent id. Benchmark spans carry theirs; a Spark
    span without a known parent goes under the deepest benchmark span of
    its op that contains its start (within SLACK_US), else the op's root.
    """
    by_id = {s["id"]: s for s in spans}
    bench = [s for s in spans if s["id"].startswith("b")]
    depth = {}

    def depth_of(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else depth_of(p) + 1
        return depth[s["id"]]

    out = {}
    for s in spans:
        if s["parent"] in by_id:
            out[s["id"]] = s["parent"]
            continue
        if s["id"].startswith("b"):
            out[s["id"]] = ""
            continue
        holders = [b for b in bench if b["op"] == s["op"]
                   and b["start_us"] - SLACK_US <= s["start_us"] <= b["end_us"] + SLACK_US]
        out[s["id"]] = max(holders, key=depth_of)["id"] if holders else ""
    return out


def self_times(spans):
    """A span's self time: its duration minus the part its children cover."""
    parents = resolve_parents(spans)
    children = {}
    for s in spans:
        children.setdefault(parents[s["id"]], []).append(s)
    return {s["id"]: duration_us(s) - union_us(
        [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])], s["start_us"], s["end_us"])
        for s in spans}


def quantile(values, q):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(record):
    timed = [o for o in record["ops"] if o["phase"] == "timed"]
    lat = [duration_us(o) / 1e3 for o in timed]
    a, b = CLASSES[record["workload"]]
    return {
        "setup_s": (record["setup_s"], "s"),
        "heap_retained_mb": (record["heap_retained_mb"], "MB"),
        # one client, closed loop: ops per second of op time (the harness's
        # own work between ops is not the system's)
        "ops_per_s": (len(lat) / (sum(lat) / 1e3), "1/s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_p90_ms": (quantile(lat, 0.90), "ms"),
        "a_mean_ms": (statistics.mean(duration_us(o) / 1e3 for o in timed if o["kind"] == a), "ms"),
        "b_mean_ms": (statistics.mean(duration_us(o) / 1e3 for o in timed if o["kind"] == b), "ms"),
    }


def per_layer(record):
    timed = {o["id"]: o for o in record["ops"] if o["phase"] == "timed"}
    n = len(timed)
    spans = [s for s in record["spans"] if s["op"] in timed]
    parents = resolve_parents(spans)
    counters = {int(k): v for k, v in record.get("counters", {}).items() if int(k) in timed}

    def spans_named(name, ops=None):
        return [s for s in spans if s["name"] == name and (ops is None or s["op"] in ops)]

    def total(name, attr=None, ops=None):
        ss = spans_named(name, ops)
        return sum(s["attrs"].get(attr, 0) for s in ss) if attr else sum(duration_us(s) for s in ss)

    def counter(key, ops=None):
        return sum(c.get(key, 0) for op, c in counters.items() if ops is None or op in ops)

    def per(x, k):
        return x / k if k else 0.0

    hits = {i for i, o in timed.items() if o["kind"] == "hit"}
    misses = {i for i, o in timed.items() if o["kind"] == "miss"}
    probes = hits | misses
    roots = {s["op"]: s for s in spans if s["name"] == "op"}
    jobs_by_op, children_by_op = {}, {}
    for s in spans:
        if s["name"] == "scheduler.job":
            jobs_by_op.setdefault(s["op"], []).append((s["start_us"], s["end_us"]))
        if s["op"] in roots and parents[s["id"]] == roots[s["op"]]["id"]:
            children_by_op.setdefault(s["op"], []).append((s["start_us"], s["end_us"]))
    gap_us = covered_us = wall_us = 0
    for op, root in roots.items():
        lo, hi = root["start_us"], root["end_us"]
        gap = (hi - lo) - union_us(jobs_by_op.get(op, []), lo, hi)
        gap_us += gap
        covered_us += min(hi - lo, union_us(children_by_op.get(op, []), lo, hi) + gap)
        wall_us += hi - lo
    run_ms, cpu_ns = total("scheduler.stage", "run_ms"), total("scheduler.stage", "cpu_ns")
    hit_bytes = total("scheduler.stage", "input_bytes", hits)

    m = {
        "wordlist.prune_us": (per(total("wordlist.prune"), len(probes)), "us"),
        "wordlist.scan_build_ms": (per(total("wordlist.scan_build") / 1e3, len(probes)), "ms"),
        "wordlist.exec_ms": (per(total("wordlist.exec") / 1e3, len(probes)), "ms"),
        "wordlist.buckets_per_probe": (per(counter("buckets", probes), len(probes)), "count"),
        "wordlist.hit_read_mb": (per(hit_bytes / MB, len(hits)), "MB"),
        "wordlist.miss_read_mb": (per(total("scheduler.stage", "input_bytes", misses) / MB, len(misses)), "MB"),
        "wordlist.hit_scan_frac": (per(hit_bytes, counter("bucket_bytes", hits)), "ratio"),
        "entry.build_ms": (per(total("entry.build") / 1e3, n), "ms"),
        "entry.action_ms": (per(total("entry.action") / 1e3, n), "ms"),
        "catalyst.analysis_ms": (per(total("catalyst.analysis") / 1e3, n), "ms"),
        "catalyst.optimization_ms": (per(total("catalyst.optimization") / 1e3, n), "ms"),
        "catalyst.planning_ms": (per(total("catalyst.planning") / 1e3, n), "ms"),
        "catalyst.executions_per_op": (per(counter("executions"), n), "count"),
        "scheduler.jobs_per_op": (per(len(spans_named("scheduler.job")), n), "count"),
        "scheduler.stages_per_op": (per(len(spans_named("scheduler.stage")), n), "count"),
        "scheduler.tasks_per_op": (per(total("scheduler.stage", "tasks"), n), "count"),
        "scheduler.driver_gap_ms": (per(gap_us / 1e3, n), "ms"),
        "scheduler.task_wait_ms": (per(total("scheduler.stage", "task_wait_ms"), n), "ms"),
        "task.run_s": (per(run_ms / 1e3, n), "s"),
        "task.cpu_s": (per(cpu_ns / 1e9, n), "s"),
        "task.gc_s": (per(total("scheduler.stage", "gc_ms") / 1e3, n), "s"),
        "task.cpu_frac": (per(cpu_ns / 1e6, run_ms), "ratio"),
        "task.failed": (per(total("scheduler.stage", "failed_tasks"), n), "count"),
        "comm.shuffle_write_mb": (per(total("scheduler.stage", "shuffle_write_bytes") / MB, n), "MB"),
        "comm.shuffle_read_mb": (per(total("scheduler.stage", "shuffle_read_bytes") / MB, n), "MB"),
        "comm.fetch_wait_ms": (per(total("scheduler.stage", "fetch_wait_ms"), n), "ms"),
        "comm.result_mb": (per(total("scheduler.stage", "result_bytes") / MB, n), "MB"),
        "store.read_mb": (per(total("scheduler.stage", "input_bytes") / MB, n), "MB"),
        "store.written_mb": (per(counter("bytes_written") / MB, n), "MB"),
        "store.files_written": (per(counter("files_written"), n), "count"),
        "store.disk_mb": (record.get("disk_peak_mb") or 0.0, "MB"),
        "jvm.gc_s": (record["jvm_gc_s"], "s"),
        "jvm.heap_peak_mb": (record["heap_peak_mb"], "MB"),
        "trace.coverage": (per(covered_us, wall_us), "ratio"),
    }
    for name in LIFECYCLE:
        walls = [duration_us(o) / 1e6 for o in timed.values() if o["name"] == name]
        m[f"entry.{name}_s"] = (statistics.median(walls) if walls else 0.0, "s")
    return m


def self_ms_per_op(record):
    """Self time of each span name, in ms per timed op (traced runs)."""
    timed = {o["id"] for o in record["ops"] if o["phase"] == "timed"}
    spans = [s for s in record["spans"] if s["op"] in timed]
    self_us = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_us[s["id"]] / 1e3 / len(timed)
    return dict(sorted(out.items()))


def summarize(record):
    ops = record["ops"]
    failed = sum(1 for o in ops if o["error"])
    fmt = lambda d: {k: {"value": v, "unit": u} for k, (v, u) in d.items()}  # noqa: E731
    return {
        "workload": record["workload"],
        "seed": record["seed"],
        "trace": record["trace"],
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "failed_frac": failed / len(ops),
        "errors": sorted({f'{o["name"]}: {o["error"]}' for o in ops if o["error"]})[:20],
        "end_to_end": fmt(end_to_end(record)),
        "per_layer": fmt(per_layer(record)) if record["trace"] else {},
        "self_ms": self_ms_per_op(record) if record["trace"] else {},
    }
