"""Arithmetic that turns a raw benchmark record into metrics.

Kept free of I/O so the tests in test_stats.py can pin it down:
percentiles carry their sample count, span self time subtracts the part of
a span its children cover, and every ratio is returned with its base.
"""

import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile of `values` at `q` in [0, 100].

    Returns (value, n): the smallest sample with at least q% of the samples
    at or below it, and the number of samples it was taken from.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs)


def weighted_percentile(pairs, q):
    """Nearest-rank percentile over (value, weight) pairs.

    A pair stands for `weight` samples of `value` (a batch of rows that all
    saw one delay). Returns (value, total weight).
    """
    items = sorted((v, w) for v, w in pairs if w > 0)
    total = sum(w for _, w in items)
    if total == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * total))
    seen = 0
    for v, w in items:
        seen += w
        if seen >= rank:
            return v, total
    return items[-1][0], total


def median(values):
    xs = list(values)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def ratio(num, den):
    """num / den with its base: {"value", "num", "den"} (value 0 when den is 0)."""
    return {"value": (num / den) if den else 0.0, "num": num, "den": den}


def covered(intervals, lo, hi):
    """Length of [lo, hi) covered by the union of `intervals`."""
    total = 0
    end = lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover. Returns {span id: self time in ns}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        out[s["id"]] = dur - covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
    return out


def self_time_by_run(spans):
    """{run id: {span name: summed self time in seconds}}."""
    st = self_times(spans)
    out = {}
    for s in spans:
        per = out.setdefault(s["run"], {})
        per[s["name"]] = per.get(s["name"], 0.0) + st[s["id"]] / 1e9
    return out


# ---------------------------------------------------------------- summaries

# per-layer metrics taken from the self time of the spans of one name
SPAN_METRICS = {
    "changelog.dump_s": "changelog.dump",
    "changelog.parse_s": "changelog.parse",
    "encode.cf_json_s": "encode.cf_json",
    "encode.avro_s": "encode.avro",
    "pipes.kafka.produce_s": "pipes.kafka.produce",
    "pipes.filesink.manifest_s": "pipes.filesink.manifest",
    "snapshot.scan_s": "snapshot.scan",
    "analytics.band_keys_s": "analytics.band_keys",
    "analytics.verify_s": "analytics.verify",
    "analytics.clusters_s": "analytics.clusters",
}

# per-layer metrics that are a counter of the pass, as recorded
COUNTER_METRICS = [
    "sources.binlog.rows", "sources.binlog.wire_requests", "sources.kafka.wire_requests",
    "encode.bytes_out", "pipes.kafka.acks", "pipes.filesink.bytes", "filters.pushed",
    "analytics.candidate_pairs", "analytics.verified_pairs",
    "stream.batches", "stream.latest_offset_ms", "stream.query_planning_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "spark.driver_plan_ms", "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
]

# per-layer metrics that are a percentile of pooled samples: (samples, q)
SAMPLE_METRICS = {
    "stream.rows_per_batch_p50": ("stream.rows_per_batch", 50),
    "stream.trigger_ms_p50": ("stream.trigger_ms", 50),
    "stream.trigger_ms_p99": ("stream.trigger_ms", 99),
    "sources.lag_rows_p99": ("sources.lag_rows", 99),
    "gen.late_p99_ms": ("gen.late_ms", 99),
    "spark.task_skew": ("spark.task_skew", 50),
}

# per-layer ratios pooled over traced passes: (numerator, denominator)
RATIO_METRICS = {
    "sources.binlog.read_amplification": ("sources.binlog.decoded_rows", "sources.binlog.emitted_rows"),
    "changelog.expand_ratio": ("changelog.expanded_rows", "changelog.source_rows"),
    "analytics.verify_yield": ("analytics.verified_pairs", "analytics.candidate_pairs"),
}


def _rate(p):
    return p["rows"] / p["timed_s"]


def end_to_end(measured):
    """End-to-end metrics over the measured untraced passes.

    Each pass gives one value per metric; a metric is the median over
    passes, except live_heap_peak_mb, which is the peak. Latency
    percentiles are taken per pass over its rows and carry the row count.
    """
    p50s, p99s = [], []
    rows_weighted = 0
    for p in measured:
        v50, n = weighted_percentile(p["latencies"], 50)
        v99, _ = weighted_percentile(p["latencies"], 99)
        p50s.append(v50)
        p99s.append(v99)
        rows_weighted += n
    n = len(measured)
    return {
        "setup_s": (median(p["setup_s"] for p in measured), n),
        "rows_per_s": (median(_rate(p) for p in measured), n),
        "fresh_p50_ms": (median(p50s), rows_weighted),
        "fresh_p99_ms": (median(p99s), rows_weighted),
        "cpu_ms_per_krow": (median(p["cpu_s"] * 1e6 / p["rows"] for p in measured), n),
        "live_heap_peak_mb": (max(p["heap_mb"] for p in measured), n),
    }


def per_layer(traced, untraced, spans):
    """Per-layer metrics over the traced passes; values a workload does
    not exercise read 0. Returns {name: (value, sample count)} plus the
    ratio bases under "bases".
    """
    out = {}
    bases = {}
    runs = self_time_by_run(spans)
    traced_runs = [runs.get(p["run"], {}) for p in traced]
    for metric, name in SPAN_METRICS.items():
        vals = [r.get(name, 0.0) for r in traced_runs]
        out[metric] = (median(vals) if vals else 0.0, len(vals))
    # FileSink.write's span holds the manifest pass its own re-run times
    writes = [r.get("pipes.filesink.write", 0.0) - r.get("pipes.filesink.manifest", 0.0) for r in traced_runs]
    out["pipes.filesink.write_s"] = (median(writes) if writes else 0.0, len(writes))
    for name in COUNTER_METRICS:
        vals = [p["counters"].get(name, 0.0) for p in traced]
        out[name] = (median(vals) if vals else 0.0, len(vals))
    for metric, (sample, q) in SAMPLE_METRICS.items():
        pooled = [v for p in traced for v in p["samples"].get(sample, [])]
        out[metric] = percentile(pooled, q) if pooled else (0.0, 0)
    for metric, (num, den) in RATIO_METRICS.items():
        r = ratio(sum(p["counters"].get(num, 0.0) for p in traced),
                  sum(p["counters"].get(den, 0.0) for p in traced))
        out[metric] = (r["value"], len(traced))
        bases[metric] = r
    plain = median(_rate(p) for p in untraced) if untraced else 0.0
    with_trace = median(_rate(p) for p in traced) if traced else 0.0
    out["trace.untraced_rows_per_s"] = (plain, len(untraced))
    out["trace.traced_rows_per_s"] = (with_trace, len(traced))
    out["trace.overhead_pct"] = (100.0 * (plain - with_trace) / plain if plain else 0.0, len(untraced) + len(traced))
    return out, bases


def summarize(raw):
    """Raw record -> (end-to-end metrics, per-layer metrics, ratio bases,
    attempted rows, failed rows, errors)."""
    passes = raw["passes"]
    errors = [p["error"] for p in passes if p.get("error")]
    attempted = sum(p["rows"] for p in passes) or 1
    failed = sum(p["failed"] for p in passes) + len(errors)
    ok = [p for p in passes if not p.get("error") and not p["warmup"] and p["failed"] == 0 and p["latencies"]]
    for p in ok:
        p["run"] = "%s-%s-%s" % (raw["workload"], raw["seed"], p["index"])
    untraced = [p for p in ok if not p["traced"]]
    traced = [p for p in ok if p["traced"]]
    e2e = end_to_end(untraced) if untraced else {}
    layers, bases = per_layer(traced, untraced, raw["spans"]) if traced else ({}, {})
    return e2e, layers, bases, attempted, failed, errors
