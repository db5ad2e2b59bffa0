"""Turns one engine run's raw record into the benchmark's metrics.

Timings are reported as a median and, following the percentile rule,
the highest of p90/p99/p99.9 that has at least ten samples beyond it;
the sample count is always stated.
"""
import statistics

PERCENTILES = (90.0, 99.0, 99.9)
CORES = 4

END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("heap_peak_mb", "MB"),
)

# per-layer metric -> (unit, how it is read from one op's record)
PER_LAYER = {
    "sources.bytes_read": ("bytes/op", lambda o: o["input_bytes"]),
    "sources.rows_read": ("rows/op", lambda o: o["input_rows"]),
    "plans.build_s": ("s/op", lambda o: o["call_s"].get("plans.build", 0.0)),
    "plans.sink_s": ("s/op", lambda o: o["call_s"].get("plans.sink", 0.0)),
    "operators.build_s": ("s/op", lambda o: o["call_s"].get("operators.build", 0.0)),
    "operators.build_jobs": ("jobs/op", lambda o: o["call_jobs"].get("operators.build", 0)),
    "operators.action_s": ("s/op", lambda o: o["call_s"].get("operators.action", 0.0)),
    "streaming.append_s": ("s/op", lambda o: o["call_s"].get("streaming.append", 0.0)),
    "streaming.append_jobs": ("jobs/op", lambda o: o["call_jobs"].get("streaming.append", 0)),
    "streaming.consume_s": ("s/op", lambda o: o["call_s"].get("streaming.consume", 0.0)),
    "streaming.curation_batch_s": ("s/op", lambda o: o["call_s"].get("streaming.curation", 0.0)),
    "streaming.curation_jobs": ("jobs/op", lambda o: o["call_jobs"].get("streaming.curation", 0)),
    "seams.release_s": ("s/op", lambda o: o["call_s"].get("seams.release", 0.0)),
    "seams.held_mb": ("MB", lambda o: o["held_mb"]),
    "seams.resident_mb": ("MB", lambda o: o["resident_mb"]),
    "spark.jobs": ("jobs/op", lambda o: o["jobs"]),
    "spark.tasks": ("tasks/op", lambda o: o["tasks"]),
    "spark.executor_cpu_s": ("s/op", lambda o: o["executor_cpu_s"]),
    "spark.driver_only_s": ("s/op", lambda o: o["driver_only_s"]),
    "spark.analysis_s": ("s/op", lambda o: o["analysis_s"]),
    "spark.optimization_s": ("s/op", lambda o: o["optimization_s"]),
    "spark.planning_s": ("s/op", lambda o: o["planning_s"]),
    "spark.shuffle_write_bytes": ("bytes/op", lambda o: o["shuffle_write_bytes"]),
    "spark.spill_bytes": ("bytes/op", lambda o: o["spill_bytes"]),
    "spark.output_bytes": ("bytes/op", lambda o: o["output_bytes"]),
    "spark.gc_s": ("s/op", lambda o: o["gc_s"]),
}
LAYERS = ("plans", "operators", "streaming", "seams")
# derived in per_layer(), listed here so the metric set is fixed
DERIVED = {
    "spark.cpu_busy_share": "share",
    **{f"{layer}.self_s": "s/op" for layer in LAYERS},
    "trace.overhead_s": "s/op",
    "trace.overhead_share": "share",
    "trace.spans": "count/op",
    "window.ops": "count",
    "host.steal_share": "share",
}


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def reportable_percentiles(n):
    """Percentiles a sample of n supports: at least ten samples beyond."""
    return [p for p in PERCENTILES if round(n * (100.0 - p) / 100.0, 6) >= 10.0]


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def ok_ops(res, failures):
    return [o for o in res["ops"] if o["ok"] and o["id"] not in failures]


def setup_seconds(res, gen_s):
    """Session start once, plus the median of the repeated set-ups
    (input generation, staging and warm-up)."""
    return res["session_s"] + statistics.median(gen_s) + statistics.median(res["setup_reps_s"])


def throughput(res, failures):
    """Items of the successful ops per second of measured op time: a
    failed op adds time but no items, and a slow op (a compaction, a
    growing log, a GC) weighs in with all of its time."""
    ops = res["ops"]
    total = sum(o["seconds"] for o in ops)
    done = sum(o["items"] for o in ok_ops(res, failures))
    return done / total if total > 0 else 0.0


def latency_p50(res, failures):
    """Median op latency. Where op names repeat (a query mix, each
    query once per pass) it is the median over queries of each query's
    median, so one noisy sample at the boundary between two queries
    does not decide it."""
    by_name = {}
    for o in ok_ops(res, failures):
        by_name.setdefault(o["name"], []).append(o["seconds"])
    return statistics.median(statistics.median(v) for v in by_name.values()) \
        if by_name else 0.0


def end_to_end(res, failures, gen_s):
    return {
        "setup_s": setup_seconds(res, gen_s),
        "throughput_per_s": throughput(res, failures),
        "latency_p50_s": latency_p50(res, failures),
        "heap_peak_mb": res["heap_peak_mb"],
    }


def trace_overhead(ops):
    """Latency of traced ops minus untraced ones, and that as a share
    of the untraced latency. Where op names repeat (a query mix) the
    difference is taken per query; otherwise each traced op is paired
    with the untraced op right after it, so that a trend over the
    window (warm-up, a growing log) cancels."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], ([], []))[0 if o["traced"] else 1].append(o["seconds"])
    pairs = [(statistics.median(t), statistics.median(u))
             for t, u in by_name.values() if t and u]
    if not pairs:
        pairs = [(a["seconds"], b["seconds"]) for a, b in zip(ops, ops[1:])
                 if a["traced"] and not b["traced"]]
    if not pairs:
        return 0.0, 0.0
    diff = statistics.median(t - u for t, u in pairs)
    base = statistics.median(u for _, u in pairs)
    return diff, diff / base if base > 0 else 0.0


def per_layer(res, failures):
    ops = ok_ops(res, failures)
    n = len(ops)
    out = {}
    for name, (unit, read) in PER_LAYER.items():
        out[name] = (sum(read(o) for o in ops) / n if n else 0.0, unit)
    wall = sum(o["seconds"] for o in ops)
    cpu = sum(o["executor_cpu_s"] for o in ops)
    out["spark.cpu_busy_share"] = (cpu / (wall * CORES) if wall > 0 else 0.0, "share")
    traced = [o for o in ops if o["traced"]]
    for layer in LAYERS:
        v = sum(o["self_s"].get(layer, 0.0) for o in traced) / len(traced) if traced else 0.0
        out[f"{layer}.self_s"] = (v, "s/op")
    diff, share = trace_overhead(ops)
    out["trace.overhead_s"] = (diff, "s/op")
    out["trace.overhead_share"] = (share, "share")
    out["trace.spans"] = (sum(o["spans"] for o in traced) / len(traced) if traced else 0.0,
                          "count/op")
    out["window.ops"] = (n, "count")
    out["host.steal_share"] = (res.get("steal_share", 0.0), "share")
    assert set(out) == set(PER_LAYER) | set(DERIVED)
    return out


def summarize(res, failures, gen_s, trace):
    """The benchmark's final line."""
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"] or o["id"] in failures)
    if trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(res, failures).items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in end_to_end(res, failures, gen_s).items()}
    return {"correct": attempted > 0 and failed == 0 and not failures.get("run"),
            "attempted": attempted, "failed": failed, "metrics": metrics}


def describe(res, failures, gen_s):
    """Human-readable summary for stderr: sample count, percentiles the
    sample supports, error rate, set-up parts."""
    ops = ok_ops(res, failures)
    lat = [o["seconds"] for o in ops]
    parts = [f"{res['workload']} seed={res['seed']}: {len(res['ops'])} ops attempted, "
             f"{len(res['ops']) - len(ops)} failed "
             f"(error_rate {(len(res['ops']) - len(ops)) / max(1, len(res['ops'])):.3f})"]
    if lat:
        q1, med, q3 = quartiles(lat)
        parts.append(f"latency over n={len(lat)}: p50 {med:.4f} s (IQR {q1:.4f}-{q3:.4f})"
                     + "".join(f", p{p:g} {percentile(lat, p):.4f} s"
                               for p in reportable_percentiles(len(lat))))
    parts.append(f"host CPU stolen by the hypervisor during the run: "
                 f"{100 * res.get('steal_share', 0.0):.1f} %")
    parts.append(f"set-up: session {res['session_s']:.2f} s, generate "
                 f"{statistics.median(gen_s):.2f} s, stage+warm-up "
                 + "/".join(f"{x:.2f}" for x in res["setup_reps_s"]) + " s")
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    if any(len(v) > 1 for v in by_name.values()):
        parts.append("per-name median latency: " + ", ".join(
            f"{k} {statistics.median(v):.4f} s (n={len(v)})" for k, v in sorted(by_name.items())))
    parts.append(f"old-generation heap peak over the window: {res['heap_peak_mb']:.1f} MB")
    for k, v in failures.items():
        parts.append(f"FAILED {k}: {v}")
    return "\n  ".join(parts)
