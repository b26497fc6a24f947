"""Pure parts of the benchmark: statistics, result checks, span self
time, byte accounting, and the assembly of the end-to-end and per-layer
metrics from the raw records the JVM side writes."""

import math
import statistics

# Percentiles op_tail_s may take, lowest first. The tail is the highest
# one with at least TAIL_BEYOND timed operations above it.
TAIL_GRID = (50, 60, 70, 75, 80, 90, 95, 99)
TAIL_BEYOND = 10

# Each workload's op_tail_s percentile, fixed so that runs agree on it:
# the tail_percentile of the fewest timed operations a run makes.
TAIL = {
    "decode_scan": (70, 34),
    "pushdown_scan": (70, 34),
    "write_roundtrip": (70, 34),
}

FORMATS = ("dta", "sav", "zsav", "sas7bdat")
WRITE_TARGETS = ("dta", "sav", "zsav", "sas7bdat", "xpt", "dta_compress")
PAIR_QUERIES = ("dedup_winnow_pairs", "dedup_clusters", "sim_sparse_cosine",
                "graph_triangles")


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, grid=TAIL_GRID, beyond=TAIL_BEYOND):
    """Highest percentile of `grid` with at least `beyond` of `n` samples
    strictly above it (as `percentile` interpolates), or None when even
    the lowest has fewer."""
    best = None
    for p in grid:
        if n > 0 and n - 1 - math.floor((n - 1) * p / 100.0) >= beyond:
            best = p
    return best


def matches(observed, expected):
    """True when every expected aggregate was observed with the same
    value. The aggregates are sums of integers, so equality is exact."""
    if not expected:
        return False
    for k, want in expected.items():
        got = observed.get(k)
        if got is None or float(got) != float(want):
            return False
        if isinstance(got, int) and isinstance(want, int) and got != want:
            return False
    return True


def check_ops(ops, expected):
    """Marks each operation ok when it raised nothing and its result
    matches the manifest; returns the number that failed."""
    failed = 0
    for op in ops:
        op["ok"] = op.get("error") is None and matches(
            op.get("observed") or {}, expected.get(op["shape"]))
        failed += 0 if op["ok"] else 1
    return failed


def self_times(spans):
    """Self time of each span (same unit as t0/t1): its duration minus
    the part of its interval that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                    for c in children.get(s["id"], []))
        covered, end = 0, None
        start = None
        for a, b in iv:
            if b <= a:
                continue
            if end is None or a > end:
                if end is not None:
                    covered += end - start
                start, end = a, b
            else:
                end = max(end, b)
        if end is not None:
            covered += end - start
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def mb_per_s(ops):
    """Bytes the operations cover over the time they took, in MB/s.

    A read counts the on-disk size of every file it covers, whether or
    not it read every byte, over its wall time, so skipping bytes shows
    as a higher rate. A write counts the bytes it wrote over its write
    time."""
    nbytes = sum(op["bytes"] for op in ops)
    secs = sum(op["write_s"] if op["write_s"] > 0 else op["wall_s"]
               for op in ops)
    return nbytes / 1e6 / secs if secs > 0 else 0.0


def bytes_per_row(ops):
    rows = sum(op["rows"] for op in ops)
    return sum(op["bytes"] for op in ops) / rows if rows else 0.0


def end_to_end(raw):
    """End-to-end metrics of an untraced run: (value, unit) by name."""
    ops = raw["ops"]
    walls = [op["wall_s"] for op in ops]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (percentile(walls, TAIL[raw["workload"]][0]), "s"),
        "mb_per_s": (mb_per_s(ops), "MB/s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        "bytes_per_row": (bytes_per_row(ops), "B"),
    }


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(raw):
    """Per-layer metrics of a traced run, with their units, plus notes on
    any metric the run could not measure."""
    notes = []
    layers = raw["layers"]
    ops = raw["ops"]
    nproc = raw["nproc"]
    out = {}

    for f in FORMATS:
        out["format.header_ms." + f] = (layers.get("format.header_ms." + f, 0.0), "ms")
        out["format.decode_mb_per_s." + f] = (
            layers.get("format.decode_mb_per_s." + f, 0.0), "MB/s")
        out["connector.reader_mb_per_s." + f] = (
            layers.get("connector.reader_mb_per_s." + f, 0.0), "MB/s")
        if layers.get("format.decode_mb_per_s." + f, 0.0) == 0.0:
            notes.append("format/connector .%s: the workload reads no %s file" % (f, f))
    out["format.decode_cpu_s"] = (layers.get("format.decode_cpu_s", 0.0), "s")
    out["format.rows_out_frac"] = (layers.get("format.rows_out_frac", 1.0), "ratio")

    planned = [op["planned"] for op in ops if op.get("planned")]
    by_shape = {}
    for op in ops:
        if op.get("planned"):
            by_shape.setdefault(op["shape"], op["planned"])
    out["connector.scan_plan_ms"] = (_med([p["ms"] for p in planned]), "ms")
    out["connector.file_metadata_ms"] = (layers.get("connector.file_metadata_ms", 0.0), "ms")
    if "connector.file_metadata_ms" not in layers:
        notes.append("connector.file_metadata_ms: the workload reads no directory")
    out["connector.pushed"] = (sum(p["pushed"] for p in by_shape.values()), "count")
    out["connector.partitions"] = (
        sum(p["partitions"] for p in by_shape.values()), "count")

    spans = raw["spans"]
    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur_ms(name):
        return [(s["t1"] - s["t0"]) / 1e6 for s in by_name.get(name, [])]

    plan_ms = _med(dur_ms("plan"))
    out["spark.plan_ms"] = (max(0.0, plan_ms - out["connector.scan_plan_ms"][0]), "ms")
    out["trace.execute_self_ms"] = (
        _med([selfs[s["id"]] / 1e6 for s in by_name.get("execute", [])]), "ms")

    sp = [op["spark"] for op in ops if op.get("spark")]

    def per_op(key, scale=1.0):
        return _med([x[key] * scale for x in sp])

    out["spark.jobs"] = (per_op("jobs"), "count")
    out["spark.stages"] = (per_op("stages"), "count")
    out["spark.tasks"] = (per_op("tasks"), "count")
    out["spark.task_run_s"] = (per_op("task_run_ms", 1e-3), "s")
    out["spark.task_cpu_s"] = (per_op("task_cpu_ns", 1e-9), "s")
    out["spark.gc_s"] = (per_op("gc_ms", 1e-3), "s")
    idle = [1.0 - x["task_run_ms"] / 1e3 / (op["wall_s"] * nproc)
            for op, x in ((op, op["spark"]) for op in ops if op.get("spark"))]
    out["spark.slot_idle_frac"] = (_med(idle), "ratio")
    skew = [max(x["task_run_ms_list"]) / max(1.0, statistics.median(x["task_run_ms_list"]))
            for x in sp if x["task_run_ms_list"]]
    out["spark.task_skew"] = (_med(skew), "ratio")
    out["spark.shuffle_write_mb"] = (per_op("shuffle_write", 1e-6), "MB")
    out["spark.shuffle_read_mb"] = (per_op("shuffle_read", 1e-6), "MB")
    out["spark.spill_mb"] = (per_op("spill", 1e-6), "MB")
    out["spark.peak_exec_mem_mb"] = (
        max([x["peak_mem"] for x in sp] or [0]) / 1e6, "MB")
    out["spark.records_read"] = (per_op("records"), "count")
    if sp and out["spark.records_read"][0] == 0:
        notes.append("spark.records_read: Spark reports no input records "
                     "for these scans")

    writes = {}
    for s in by_name.get("write", []):
        writes.setdefault(s["op"], s)
    jobs_under = {}
    for s in by_name.get("spark.job", []):
        jobs_under[s["parent"]] = jobs_under.get(s["parent"], 0) + 1
    for t in WRITE_TARGETS:
        mine = [op for op in ops if op["shape"] == "write." + t]
        traced = [writes[op["id"]] for op in mine if op["id"] in writes]
        out["writers.write_s." + t] = (_med([op["write_s"] for op in mine]), "s")
        out["writers.jobs." + t] = (_med([jobs_under.get(s["id"], 0) for s in traced]), "count")
        out["writers.driver_s." + t] = (_med([selfs[s["id"]] / 1e9 for s in traced]), "s")
        out["writers.bytes_per_row." + t] = (bytes_per_row(mine), "B")
    if not any(op["shape"].startswith("write.") for op in ops):
        notes.append("writers.*: the workload writes nothing")

    for q in PAIR_QUERIES:
        out["queries.%s.p50_s" % q] = (layers.get("queries.%s.p50_s" % q, 0.0), "s")
        out["queries.%s.rows" % q] = (layers.get("queries.%s.rows" % q, 0.0), "count")

    for h in ("cpu", "io"):
        vals = [layers[k] for k in ("host.%s_sentinel_s.before" % h,
                                    "host.%s_sentinel_s.after" % h) if k in layers]
        out["host.%s_sentinel_s" % h] = (max(vals) if vals else 0.0, "s")

    traced = [op["wall_s"] for op in ops if op["traced"]]
    untraced = [op["wall_s"] for op in ops if not op["traced"]]
    out["trace.overhead_s"] = (
        (_med(traced) - _med(untraced)) if traced and untraced else 0.0, "s")
    return out, notes
