"""Reductions from the JVM's raw measurements to the benchmark's metrics.

Pure functions over plain lists and dicts, so they can be unit-tested
without Spark (see tests/test_metrics.py).
"""
import statistics

LAYERS = ("pipeline", "io", "operators", "profile")

# per-layer metric -> (unit, better); sums are reported per iteration
LAYER_FIELDS = (
    ("wall_s", "s/iter", "lower"),
    ("jobs", "count/iter", "lower"),
    ("stages", "count/iter", "lower"),
    ("tasks", "count/iter", "lower"),
    ("single_task_stages", "count/iter", "lower"),
    ("busy_s", "s/iter", "lower"),
    ("cpu_s", "s/iter", "lower"),
    ("wait_s", "s/iter", "lower"),
    ("driver_s", "s/iter", "lower"),
    ("input_mb", "MB/iter", "lower"),
    ("shuffle_read_mb", "MB/iter", "lower"),
    ("shuffle_write_mb", "MB/iter", "lower"),
    ("output_mb", "MB/iter", "lower"),
    ("spill_mb", "MB/iter", "lower"),
    ("gc_s", "s/iter", "lower"),
    ("failed_tasks", "count/iter", "lower"),
)

EXTRA_FIELDS = (
    ("io.scan_amp", "ratio", "lower"),
    ("io.state_files", "count", "lower"),
    ("io.compactions", "count/iter", "lower"),
    ("io.compact_s", "s/iter", "lower"),
    ("pipeline.core_util", "ratio", "higher"),
    ("catalyst.queries", "count/iter", "lower"),
    ("catalyst.plan_s", "s/iter", "lower"),
    ("catalyst.codegen_s", "s/iter", "lower"),
)

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("throughput_rows_per_s", "rows/s", "higher"),
    ("tick_p50_s", "s", "lower"),
    ("tick_tail_s", "s", "lower"),
    ("ok_share", "ratio", "higher"),
    ("peak_heap_mb", "MB", "lower"),
    ("write_amp", "ratio", "lower"),
)

MB = 1024.0 * 1024.0


def per_layer_names():
    """Every per-layer metric name with its unit and direction."""
    out = [(f"{layer}.{f}", u, b) for layer in LAYERS for f, u, b in LAYER_FIELDS]
    return out + list(EXTRA_FIELDS)


def tail(samples):
    """The highest percentile of `samples` that has at least ten samples
    beyond it: with n sorted samples, the (n-10)-th smallest, at
    percentile 100*(n-10)/n. Returns (value, percentile, n). With ten or
    fewer samples no percentile qualifies; the maximum is returned with
    percentile 100 so the caller can say so."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - 10
    if k < 1:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(start, end, intervals):
    """Part of [start, end] that the union of `intervals` covers."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals])


def self_time(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - covered(span["start"], span["end"], kids)


def in_iters(t, iters):
    return any(it["start"] <= t <= it["end"] for it in iters)


def timed_jobs(jobs, iters):
    """Jobs submitted inside a timed iteration."""
    return [j for j in jobs if in_iters(j["start"], iters)]


def end_to_end(raw):
    """End-to-end metrics from one raw run. Returns (metrics, notes)."""
    iters = [it for it in raw["iters"] if it["ok"]]
    durs = [(it["end"] - it["start"]) / 1000.0 for it in iters]
    jobs = timed_jobs(raw["jobs"], iters)
    written = sum(j["output_bytes"] + j["shuffle_write_bytes"] + j["spill_bytes"]
                  for j in jobs) + sum(it["driver_written_bytes"] for it in iters)
    inputs = sum(it["input_bytes"] for it in iters)
    tail_v, tail_p, n = tail(durs)
    attempted, failed = attempts(raw)
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "throughput_rows_per_s": sum(it["units"] for it in iters) / sum(durs),
        "tick_p50_s": statistics.median(durs),
        "tick_tail_s": tail_v,
        "ok_share": 1.0 - failed / attempted,
        "peak_heap_mb": raw["peak_heap_mb"],
        "write_amp": written / inputs,
    }
    notes = {"tick_tail_pct": tail_p, "ticks": n, "failed_share": failed / attempted}
    return m, notes


def attempts(raw):
    """(attempted, failed): timed iterations plus correctness checks."""
    attempted = len(raw["iters"]) + len(raw["checks"])
    failed = (sum(1 for it in raw["iters"] if not it["ok"])
              + sum(1 for c in raw["checks"] if not c["ok"]))
    return attempted, failed


def per_layer(raw):
    """Per-layer metrics of a traced run, per timed iteration."""
    iters = [it for it in raw["iters"] if it["ok"]]
    n = len(iters)
    jobs = timed_jobs(raw["jobs"], iters)
    wall = sum(it["end"] - it["start"] for it in iters) / 1000.0
    out = {}
    for layer in LAYERS:
        js = [j for j in jobs if j["layer"] == layer]
        iv = [(j["start"], j["end"]) for j in js]
        driver = 0.0
        for it in iters:
            mine = [(s, e) for s, e in iv if it["start"] <= s <= it["end"]]
            if mine:
                driver += (it["end"] - it["start"]) - covered(it["start"], it["end"], mine)

        def tot(k, scale=1.0):
            return sum(j[k] for j in js) / scale / n

        out.update({
            f"{layer}.wall_s": union_length(iv) / 1000.0 / n,
            f"{layer}.jobs": len(js) / n,
            f"{layer}.stages": tot("stages"),
            f"{layer}.tasks": tot("tasks"),
            f"{layer}.single_task_stages": tot("single_task_stages"),
            f"{layer}.busy_s": tot("busy_ms", 1000.0),
            f"{layer}.cpu_s": tot("cpu_ns", 1e9),
            f"{layer}.wait_s": tot("wait_ms", 1000.0),
            f"{layer}.driver_s": driver / 1000.0 / n,
            f"{layer}.input_mb": tot("input_bytes", MB),
            f"{layer}.shuffle_read_mb": tot("shuffle_read_bytes", MB),
            f"{layer}.shuffle_write_mb": tot("shuffle_write_bytes", MB),
            f"{layer}.output_mb": tot("output_bytes", MB),
            f"{layer}.spill_mb": tot("spill_bytes", MB),
            f"{layer}.gc_s": tot("gc_ms", 1000.0),
            f"{layer}.failed_tasks": tot("failed_tasks"),
        })
    extra = raw.get("extra", {})
    busy = sum(j["busy_ms"] for j in jobs) / 1000.0
    plans = [ms for t, ms in raw["catalyst"] if in_iters(t, iters)]
    out.update({
        "io.scan_amp": sum(j["input_bytes"] for j in jobs) / sum(it["input_bytes"] for it in iters),
        "io.state_files": extra.get("io.state_files", 0.0),
        "io.compactions": extra.get("io.compactions", 0.0) / n,
        "io.compact_s": extra.get("io.compact_s", 0.0) / n,
        "pipeline.core_util": busy / (wall * raw["cores"]),
        "catalyst.queries": len(plans) / n,
        "catalyst.plan_s": sum(plans) / 1000.0 / n,
        "catalyst.codegen_s": sum(it["codegen_ns"] for it in iters) / 1e9 / n,
    })
    return out


def span_self_times(spans):
    """Self time (ms) summed per span name."""
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + self_time(s, spans)
    return out
