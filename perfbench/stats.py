"""Statistics over one run's raw records: medians, the tail rule, interval
unions and per-span layer metrics."""

import math
import statistics

# Per-span kinds every span reports, in output order.
KINDS = ("wall_s", "planning_s", "pin_s", "cpu_s", "gc_s", "shuffle_mb",
         "spill_mb", "driver_idle_s", "tasks")

# Every span the benchmark opens around a call into a library layer.
SPANS = ("text.gates", "dedup.exact", "dedup.near", "pipeline.decontaminate",
         "pipeline.release", "streaming.crawl_batch", "analytics.dashboard",
         "similarity.knn", "similarity.ivf_build", "ingest.host_graph",
         "analytics.pagerank", "analytics.hits", "analytics.lpa")

ROUND_SPANS = ("analytics.pagerank", "analytics.hits", "analytics.lpa")
KEEP_SPANS = {"text.gates": ("gated", "raw"), "dedup.exact": ("exact", "gated"),
              "dedup.near": ("near", "exact"),
              "pipeline.decontaminate": ("clean", "capped")}


def per_layer_names():
    names = ["%s.%s" % (s, k) for s in SPANS for k in KINDS]
    names += ["streaming.crawl_batch.trigger_overhead_s",
              "streaming.crawl_batch.sink_files",
              "similarity.knn.recall_at_k"]
    names += ["%s.s_per_round" % s for s in ROUND_SPANS]
    names += ["%s.keep_ratio" % s for s in KEEP_SPANS]
    return names


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    Percentiles are nearest-rank. Returns (value, percentile, n), or
    (None, None, n) when there are too few samples for any percentile.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(100, -1, -1):
        v = xs[max(0, math.ceil(p / 100.0 * n) - 1)] if n else None
        if n and sum(1 for x in xs if x > v) >= beyond:
            return v, p, n
    return None, None, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [a, b] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> its wall seconds minus the walls of its direct children."""
    own = {s["id"]: s["wall_ns"] / 1e9 for s in spans}
    out = dict(own)
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= own[s["id"]]
    return out


def _innermost(spans, t_ms):
    """Id of the innermost span whose [start, end] holds t_ms, else None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best["id"] if best else None


def span_instances(trace):
    """Per span instance id: every kind, from the trace's raw records."""
    spans = trace["spans"]
    out = {s["id"]: {"name": s["name"], "phase": s["phase"],
                     "wall_s": s["wall_ns"] / 1e9, "planning_s": 0.0, "pin_s": 0.0,
                     "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                     "tasks": 0, "_stages": [], "_span": s} for s in spans}
    for j in trace["jobs"]:
        if j["pin"] and j["span"] in out and j["end_ms"] >= j["start_ms"]:
            out[j["span"]]["pin_s"] += (j["end_ms"] - j["start_ms"]) / 1e3
    for st in trace["stages"]:
        r = out.get(st["span"])
        if r is None:
            continue
        r["cpu_s"] += st["cpu_ns"] / 1e9
        r["gc_s"] += st["gc_ms"] / 1e3
        r["shuffle_mb"] += st["shuffle_bytes"] / 1e6
        r["spill_mb"] += st["spill_bytes"] / 1e6
        r["tasks"] += st["tasks"]
        if st["submit_ms"] >= 0 and st["complete_ms"] >= st["submit_ms"]:
            r["_stages"].append((st["submit_ms"], st["complete_ms"]))
    for start_ms, dur_ms in trace["planning"]:
        sid = _innermost(spans, start_ms)
        if sid is not None:
            out[sid]["planning_s"] += dur_ms / 1e3
    for r in out.values():
        s = r["_span"]
        busy = union_length(r.pop("_stages"), s["start_ms"], s["end_ms"]) / 1e3
        r["driver_idle_s"] = max(0.0, r["wall_s"] - busy)
    return out


def trigger_overheads(trace, phases):
    """Per crawl-batch span in `phases`: wall minus the addBatch time of the
    streaming progress events that started inside it."""
    out = []
    for s in trace["spans"]:
        if s["name"] != "streaming.crawl_batch" or s["phase"] not in phases:
            continue
        add = sum(a for ts, a, _ in trace["progress"]
                  if s["start_ms"] <= ts <= s["end_ms"])
        out.append(s["wall_ns"] / 1e9 - add / 1e3)
    return out


def per_layer(trace, ops, check, rounds=None):
    """Every per-layer metric: the median over span instances of the traced
    loop operations (for spans that only run in set-up, over their set-up
    runs). A span the workload never opens reports 0."""
    inst = span_instances(trace)
    by_name = {}
    for r in inst.values():
        by_name.setdefault(r["name"], []).append(r)
    metrics = {}
    for name in SPANS:
        rs = by_name.get(name, [])
        chosen = [r for r in rs if r["phase"] == "traced"] or \
            [r for r in rs if r["phase"] == "setup"]
        for k in KINDS:
            metrics["%s.%s" % (name, k)] = median([r[k] for r in chosen])
        if name in ROUND_SPANS and rounds:
            metrics["%s.s_per_round" % name] = median(
                [r["wall_s"] / rounds for r in chosen])
    trig = trigger_overheads(trace, ("traced",)) or trigger_overheads(trace, ("setup",))
    metrics["streaming.crawl_batch.trigger_overhead_s"] = median(trig)
    files = [o["info"]["sink_files_written"] for o in ops
             if "sink_files_written" in o.get("info", {})]
    metrics["streaming.crawl_batch.sink_files"] = median(files)
    metrics["similarity.knn.recall_at_k"] = check.get("recall_at_k", 0.0)
    counts = check.get("counts", {})
    for name, (num, den) in KEEP_SPANS.items():
        metrics["%s.keep_ratio" % name] = (counts[num] / counts[den]
                                           if counts.get(den) else 0.0)
    for name in per_layer_names():
        metrics.setdefault(name, 0.0)
    return metrics


def coverage(trace, setup_s, loop_s):
    """(span self time in the loop + set-up) / (loop + set-up) wall, and the
    loop-only share."""
    spans = [s for s in trace["spans"] if s["phase"] in ("loop", "traced")]
    covered = sum(self_times(spans).values())
    return ((covered + setup_s) / (loop_s + setup_s) if loop_s + setup_s else 0.0,
            covered / loop_s if loop_s else 0.0)
