"""Metric arithmetic of the benchmark: percentiles, span self time, and the
end-to-end and per-layer figures derived from one harness run."""
import math
import statistics

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0)
SELF_LAYERS = ("run", "query", "stream", "stream.batch", "operators.build",
               "plans.plan", "execute", "spark.job", "spark.stage")

# Unit of every per-layer metric of a traced run; values are per pass of
# the workload (one sweep of its queries, one WordCount, one drain).
LAYER_UNITS = {
    "operators.build_s": "s", "plans.plan_s": "s",
    "plans.single_partition_steps": "count", "plans.native_exprs": "count",
    "plans.exchanges": "count", "plans.scans": "count",
    "spark.driver_gap_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.max_task_skew": "ratio",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.cpu_util": "ratio", "spark.task_wait_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_mb": "MB",
    "shared_build.s": "s", "shared_build.payers": "count",
    "shared_build.share": "ratio",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "sources.output_bytes": "bytes", "sources.output_files": "count",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.wal_ms": "ms", "streaming.state_rows_peak": "count",
    "streaming.state_bytes_peak": "bytes",
    "trace.overhead_s": "s",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
}
MIN_BEYOND = 10


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sequence."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def tail(values):
    """-> (level, value): the highest percentile of TAIL_LEVELS with at
    least MIN_BEYOND samples above its rank, or the median when there are
    too few samples for any of them."""
    n = len(values)
    for p in TAIL_LEVELS:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans):
    """-> {span id: self time}: a span's duration minus the part of it its
    child spans cover (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        cover = [(max(a, c["start_us"]), min(b, c["end_us"]))
                 for c in kids.get(s["id"], [])]
        cover = [(x, y) for x, y in cover if y > x]
        out[s["id"]] = max(0.0, (b - a) - union_length(cover))
    return out


def reparent_stream_jobs(spans):
    """Streaming jobs are tagged with their stream's span; move each under
    the micro-batch span of the same stream whose interval holds its start."""
    batches = {}
    for s in spans:
        if s["name"] == "stream.batch":
            batches.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["name"] == "spark.job" and s["parent"] in batches:
            for b in batches[s["parent"]]:
                if b["start_us"] <= s["start_us"] <= b["end_us"]:
                    s["parent"] = b["id"]
                    break
    return spans


# The gated end-to-end metrics, defined on every workload.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "rss_peak_mb": "MB"}
TIMINGS = ("setup_s", "wall_s", "op_p50_s")


def stolen(a, b):
    """Share of the CPU time wanted between two (busy, stolen) tick
    readings that the hypervisor stole."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def end_to_end(raw, less_stolen=True):
    """The gated figures. Each timing is the median of its samples, each
    less the share of its CPU time the hypervisor stole: the time the
    virtual machine was not running at all is left out."""
    def med(pairs):
        return statistics.median(v * (1.0 - st if less_stolen else 1.0)
                                 for v, st in pairs)
    # a stream's operations are its micro-batches, which share the drain's
    # stolen share
    ops = [(b["trigger_ms"] / 1000.0, raw["passes_stolen"][0])
           for b in raw.get("batches") or [] if b["input_rows"] > 0]
    if not ops:
        ops = [(o["latency_s"], o["stolen"]) for o in raw["ops"] if o["ok"]]
    return {
        "setup_s": med([(raw["setup_s"], raw["setup_stolen"])]),
        "wall_s": med(zip(raw["passes_s"], raw["passes_stolen"])),
        "op_p50_s": med(ops or [(float("nan"), 0.0)]),
        "rss_peak_mb": raw["jvm"]["rss_peak_mb"],
    }


def _tail(prefix, unit, values):
    level, value = tail(values)
    return [] if level == 50.0 else [(f"{prefix}_p{level:g}_{unit}", value, unit)]


def report_row(workload, raw, e2e, input_bytes, error_frac):
    """-> [(name, value, unit)]: the workload's row of the report, the
    gated metrics plus the workload-specific ones that are not gated."""
    row = [(k, v, E2E_UNITS[k]) for k, v in e2e.items()]
    lat = [o["latency_s"] for o in raw["ops"] if o["ok"]]
    if workload == "curation" and lat:
        row += [*_tail("query", "s", lat), ("queries", len(lat), "count")]
    if workload == "wordcount":
        row.append(("mb_per_s", input_bytes / 1048576.0 / e2e["wall_s"], "MB/s"))
    batches = [b for b in raw.get("batches") or [] if b["input_rows"] > 0]
    if batches:
        ms = [b["trigger_ms"] for b in batches]
        row += [("rows_per_s", sum(b["input_rows"] for b in batches) / e2e["wall_s"], "rows/s"),
                *_tail("batch", "ms", ms),
                ("batches", len(ms), "count")]
    row.append(("error_frac", error_frac, "ratio"))
    return row


def per_layer(raw, wall_s):
    """Per-layer figures of a traced run, per pass of the workload."""
    passes = raw["sweeps"]
    ops = raw["ops"]
    per_op = raw.get("spark", {}).get("per_op", {})
    tot = lambda k: sum(v.get(k, 0.0) for v in per_op.values()) / passes
    spans = reparent_stream_jobs(raw["spans"])
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    layer_self = {}
    for sid, t in selfs.items():
        name = by_id[sid]["name"]
        layer_self[name] = layer_self.get(name, 0.0) + t / 1e6 / passes

    jobs_by_op = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs_by_op.setdefault(s["op"], []).append(
                (s["start_us"], s["end_us"]))
    gap = 0.0
    for s in spans:
        if s["name"] in ("query", "stream"):
            a, b = s["start_us"], s["end_us"]
            cov = [(max(a, x), min(b, y)) for x, y in jobs_by_op.get(s["op"], [])]
            gap += (b - a) - union_length([(x, y) for x, y in cov if y > x])
    plans = raw.get("plans", {})
    psum = lambda k: float(sum(p.get(k, 0) for p in plans.values()))
    shared = sum(o["shared_build_s"] for o in ops) / passes
    cpu = tot("executor_cpu_s")
    skews = [v["max_task_skew"] for v in per_op.values() if "max_task_skew" in v]
    batches = raw.get("batches") or []
    med = lambda k: statistics.median([b[k] for b in batches]) if batches else 0.0
    m = {
        "operators.build_s": sum(o["build_s"] - o["shared_build_s"] for o in ops) / passes,
        "plans.plan_s": sum(o["plan_s"] for o in ops) / passes,
        "plans.single_partition_steps": psum("single_partition_steps"),
        "plans.native_exprs": tot("native_exprs"),
        "plans.exchanges": psum("exchanges"),
        "plans.scans": psum("scans"),
        "spark.driver_gap_s": gap / 1e6 / passes,
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.max_task_skew": statistics.median(skews) if skews else 1.0,
        "spark.executor_cpu_s": cpu,
        "spark.executor_run_s": tot("executor_run_s"),
        "spark.cpu_util": cpu / (wall_s * raw["cores"]),
        "spark.task_wait_s": tot("task_wait_s"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": tot("shuffle_fetch_wait_s"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.peak_exec_mem_mb": max([v.get("peak_exec_mem_mb", 0.0)
                                       for v in per_op.values()] or [0.0]),
        "shared_build.s": shared,
        "shared_build.payers": sum(1 for o in ops if o["shared_build_s"] > 0.0005) / passes,
        "shared_build.share": shared / wall_s,
        "sources.input_bytes": tot("input_bytes"),
        "sources.input_rows": tot("input_rows"),
        "sources.output_bytes": tot("output_bytes"),
        "sources.output_files": float(raw.get("output_files", 0)),
        "jvm.gc_s": raw["jvm"]["gc_s"] / passes,
        "jvm.heap_peak_mb": raw["jvm"]["heap_peak_mb"],
        "streaming.batches": float(len(batches)),
        "streaming.input_rows": float(sum(b["input_rows"] for b in batches)),
        "streaming.add_batch_ms": med("add_batch_ms"),
        "streaming.state_commit_ms": med("state_commit_ms"),
        "streaming.wal_ms": med("wal_ms"),
        "streaming.state_rows_peak": float(max([b["state_rows"] for b in batches] or [0])),
        "streaming.state_bytes_peak": float(max([b["state_bytes"] for b in batches] or [0])),
    }
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = layer_self.get(layer, 0.0)
    return m
