"""Metric arithmetic for the benchmark, kept free of I/O so it can be
tested on its own."""
import math
from collections import defaultdict

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile (0 < q < 1) of `values`, or None when
    fewer than `min_beyond` samples lie beyond it: a tail figure from a
    handful of samples is one sample's noise."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))
    if rank < 1 or len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def fail_frac(attempted, thrown, check_failed):
    """Share of attempted operations that threw or whose checked output
    was wrong; an operation that did both counts once."""
    if attempted <= 0:
        return 1.0
    return len(set(thrown) | set(check_failed)) / attempted


def end_to_end(ops, setup_s):
    """User-visible figures of one timed window. `ops` holds the
    window's completed operations as dicts with t0/t1 (ns), ok and
    items; the window runs from the first start to the last end."""
    done = [o for o in ops if o["ok"]]
    lat_ms = [(o["t1"] - o["t0"]) / 1e6 for o in done]
    span_s = (max(o["t1"] for o in ops) - min(o["t0"] for o in ops)) / 1e9
    return {
        "setup_s": (setup_s, "s"),
        "op_mean_ms": (sum(lat_ms) / len(lat_ms), "ms"),
        "items_per_s": (sum(o["items"] for o in done) / span_s, "1/s"),
    }


def latency_report(ops):
    """The latency percentiles a window supports, by name (ms)."""
    lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops if o["ok"]]
    out = {}
    for name, q in (("p50_ms", 0.5), ("p95_ms", 0.95)):
        v = percentile(lat, q)
        if v is not None:
            out[name] = v
    return out


def self_times(spans):
    """(layer -> total self ms, request id -> {layer: self ms}): a span's
    self time is its wall time minus that of its child spans."""
    child = defaultdict(int)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["t1"] - s["t0"]
    total = defaultdict(float)
    per_req = defaultdict(lambda: defaultdict(float))
    for s in spans:
        ms = (s["t1"] - s["t0"] - child[s["id"]]) / 1e6
        total[s["layer"]] += ms
        per_req[s["req"]][s["layer"]] += ms
    return total, per_req


def busy_wall_ms(jobs):
    """Wall time during which at least one job ran (union of intervals)."""
    ivs = sorted((j["t0_ms"], j["t1_ms"]) for j in jobs if j["t1_ms"] >= j["t0_ms"])
    total, end = 0, None
    for a, b in ivs:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def trace_overhead(traced, base):
    """Traced over untraced latency, minus one, compared kind by kind
    and weighted by the traced count, so that the two sides' different
    request mixes do not read as tracing cost; 0.0 when no kind ran on
    both sides."""
    def mean_by_kind(ops):
        by = defaultdict(list)
        for o in ops:
            if o["ok"]:
                by[o["kind"]].append(o["t1"] - o["t0"])
        return {k: sum(v) / len(v) for k, v in by.items()}
    t, b = mean_by_kind(traced), mean_by_kind(base)
    n = sum(1 for o in traced if o["ok"] and o["kind"] in b)
    if not n:
        return 0.0
    return sum(t[o["kind"]] / b[o["kind"]] for o in traced
               if o["ok"] and o["kind"] in b) / n - 1.0


def per_layer(ops, spans, jobs, window, summary, cpus, base_ops, kinds):
    """Per-operation figures of the traced windows by layer. `ops` are
    the traced windows' operations, `window` their codegen and catalog
    counter totals, `base_ops` the untraced windows' operations (for
    the tracing overhead); `kinds` the request kinds reported one by
    one."""
    done = [o for o in ops if o["ok"]]
    n = max(len(done), 1)
    self_ms, per_req = self_times(spans)
    layer_of = {}
    for j in jobs:
        parts = j["span"].split(":", 2)
        layer_of[j["id"]] = (parts[1] if len(parts) == 3 else "",
                             parts[2] if len(parts) == 3 else "")

    def jsum(key, layer=None):
        return sum(j[key] for j in jobs if layer is None or layer_of[j["id"]][0] == layer)

    result_rows = sum(o["rows"] for o in done)
    task_ms = jsum("run_ms")
    busy = busy_wall_ms(jobs)
    kept_bytes = sum(o["kept_bytes"] for o in done)
    m = {
        "operators.build_ms": (self_ms["operators"] / n, "ms/op"),
        "operators.build_jobs": (sum(1 for j in jobs if layer_of[j["id"]][0] == "operators") / n,
                                 "count/op"),
        "tables.load_ms": (self_ms["tables"] / n, "ms/op"),
        "tables.files_discovered": (window["files_discovered"] / n, "count/op"),
        "tables.file_cache_hits": (window["file_cache_hits"] / n, "count/op"),
        "tables.input_bytes": (jsum("input_bytes") / n, "B/op"),
        "tables.input_records": (jsum("input_records") / n, "count/op"),
        "tables.rows_per_result": (jsum("input_records") / max(result_rows, 1), "ratio"),
        "plan.plan_ms": (self_ms["plan"] / n, "ms/op"),
        "codegen.compiles": (window["compiles"] / n, "count/op"),
        "codegen.compile_ms": (window["compile_ns"] / 1e6 / n, "ms/op"),
        "sched.jobs": (len(jobs) / n, "count/op"),
        "sched.stages": (jsum("stages") / n, "count/op"),
        "sched.tasks": (jsum("tasks") / n, "count/op"),
        "sched.task_failures": (jsum("task_failures") / n, "count/op"),
        "sched.busy_frac": (task_ms / (busy * cpus) if busy else 0.0, "frac"),
        "exec.exec_ms": (self_ms["exec"] / n, "ms/op"),
        "exec.task_run_ms": (task_ms / n, "ms/op"),
        "exec.task_cpu_ms": (jsum("cpu_ns") / 1e6 / n, "ms/op"),
        "exec.gc_ms": (jsum("gc_ms") / n, "ms/op"),
        "shuffle.read_bytes": (jsum("shuffle_read") / n, "B/op"),
        "shuffle.write_bytes": (jsum("shuffle_write") / n, "B/op"),
        "shuffle.spill_bytes": (jsum("spill") / n, "B/op"),
        "ckpt.ckpt_ms": (self_ms["ckpt"] / n, "ms/op"),
        "ckpt.blocks": (jsum("blocks") / n, "count/op"),
        "ckpt.bytes": (jsum("block_bytes") / n, "B/op"),
        "sources.write_ms": (self_ms["sources"] / n, "ms/op"),
        "sources.output_bytes": (jsum("output_bytes") / n, "B/op"),
        "sources.output_records": (jsum("output_records") / n, "count/op"),
        "sources.write_amp": (jsum("output_bytes") / kept_bytes if kept_bytes else 0.0,
                              "ratio"),
        "request.other_ms": (self_ms["request"] / n, "ms/op"),
        "process.peak_rss_mb": (summary["peak_rss_kb"] / 1024.0, "MB"),
    }
    m["trace.overhead_frac"] = (trace_overhead(ops, base_ops), "frac")
    # per request kind: latency, operator build time, jobs and compiles
    for kind in kinds:
        mine = [o for o in done if o["kind"] == kind]
        ids = {o["id"] for o in mine}
        k = max(len(mine), 1)
        jobs_k = sum(1 for j in jobs if layer_of[j["id"]][1] in ids)
        compiles = sum(s["compiles"] for s in spans if s["layer"] == "request" and s["req"] in ids)
        m[f"kind.{kind}.latency_ms"] = (sum((o["t1"] - o["t0"]) / 1e6 for o in mine) / k, "ms/op")
        m[f"kind.{kind}.build_ms"] = (sum(per_req[i]["operators"] for i in ids) / k, "ms/op")
        m[f"kind.{kind}.jobs"] = (jobs_k / k, "count/op")
        m[f"kind.{kind}.compiles"] = (compiles / k, "count/op")
    return m
