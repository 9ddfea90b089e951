"""Reduces one run's raw record into the benchmark's result line."""

import math
import statistics

PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n):
    """The highest reported percentile with at least ten samples beyond it,
    or None when there are fewer than twenty samples."""
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    return s[k]


def latencies(ops):
    """Seconds of the ops that succeeded. A failed op has no latency: it
    counts in `failed`, never in a latency figure."""
    return [o["s"] for o in ops if o["ok"]]


def end_to_end(raw):
    return {
        "setup_s": raw["setup_s"],
        "wall_s": statistics.median(raw["iter_walls"]),
        "cpu_s": statistics.median(raw["iter_cpu"]),
        "jobs_per_iter": statistics.median(raw["iter_jobs"]),
        "stored_bytes_per_input_byte":
            raw["stored_bytes"] / raw["input_bytes"] if raw["input_bytes"] else 0.0,
    }


def per_layer(raw):
    out = dict(raw["layer"])
    out["trace.wall_s"] = statistics.median(raw["iter_walls"])
    lat = latencies([o for o in raw["ops"] if o["name"].startswith("q")])
    p = tail_percentile(len(lat))
    out["queries.p50_s"] = statistics.median(lat) if lat else 0.0
    out["queries.tail_pct"] = p or 0.0
    out["queries.tail_s"] = percentile(lat, p) if p else 0.0
    return out


def result_line(raw, spec, traced):
    """The final line; raises KeyError when a declared metric is missing."""
    declared = spec["per_layer"] if traced else spec["end_to_end"]
    values = per_layer(raw) if traced else end_to_end(raw)
    metrics = {}
    for m in declared:
        v = values[m["name"]]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(raw["failed"])
    correct = failed == 0 and not raw["mismatches"] and all(
        isinstance(x["value"], (int, float)) and math.isfinite(x["value"])
        for x in metrics.values())
    if not traced:
        correct = correct and all(x["value"] > 0 for x in metrics.values())
    return {"correct": correct, "attempted": int(raw["attempted"]),
            "failed": failed, "metrics": metrics}
