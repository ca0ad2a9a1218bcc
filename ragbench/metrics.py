"""Arithmetic behind the benchmark report: percentiles, the tail percentile,
ratios, and span self times with Spark jobs as child spans."""

import math
import statistics

TAIL_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """Highest whole percentile, from the median up, with at least
    TAIL_BEYOND of n samples above its nearest rank; None when n is too
    small for any."""
    for q in range(99, 49, -1):
        if n - math.ceil(q / 100.0 * n) >= TAIL_BEYOND:
            return q
    return None


def tail(values, min_ops):
    """(label, value) of the tail for a run that made at least min_ops ops.
    The percentile follows from min_ops, not from how many ops a run got
    to, so every run of a workload reports the same percentile; with too
    few samples for any percentile the tail is the maximum."""
    q = tail_percentile(min_ops)
    if q is None:
        return "max", max(values)
    return f"p{q}", percentile(values, q)


def ratio(num, den):
    """num / den, or 0.0 when nothing was attempted."""
    return num / den if den else 0.0


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Span id -> the span's duration minus the time its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(kids.get(s["id"], [])) for s in spans}


def job_spans(spans, jobs):
    """Spark jobs as child spans of the benchmark span that submitted them,
    named after the engine layer of the file that issued them."""
    out, next_id = [], max((s["id"] for s in spans), default=0) + 1
    for j in jobs:
        if j["span"] == 0:
            continue
        out.append({"id": next_id, "parent": j["span"], "req": -1,
                    "name": "job:" + layer_of_site(j["site"]),
                    "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        next_id += 1
    return out


# engine source file -> layer name used in the report
SITE_LAYERS = {
    "Ivf.scala": "vector.ivf", "Bm25.scala": "text.bm25",
    "Fingerprint.scala": "io.savedindex", "SavedIndex.scala": "io.savedindex",
    "PrefixSum.scala": "rel.prefixsum", "RagPipeline.scala": "pipeline",
    "Dedup.scala": "dedup", "Clusters.scala": "dedup.components",
    "TextAnalysis.scala": "textan", "ChunkStats.scala": "stats",
    "ResultCache.scala": "io.resultcache", "Rel.scala": "rel",
}


def layer_of_site(site):
    """'collect at Ivf.scala:283' -> 'vector.ivf'. Jobs called from the
    benchmark's own files, or submitted by adaptive execution from a pool
    thread, belong to the span that was open: 'span'."""
    f = site.rsplit(" at ", 1)[-1].split(":")[0]
    return SITE_LAYERS.get(f, "span")


def span_ms(spans, name):
    """Durations in ms of the spans called `name`."""
    return [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name]


def job_ms_under(spans, jobs, parent_name, layer):
    """Per parent span called parent_name: ms of Spark jobs issued from
    `layer`'s files while it was open."""
    out = []
    for p in (s for s in spans if s["name"] == parent_name):
        ivs = [(j["start_ms"], j["end_ms"]) for j in jobs
               if j["span"] == p["id"] and layer_of_site(j["site"]) == layer]
        out.append(covered(ivs))
    return out


def median_or_zero(values):
    return statistics.median(values) if values else 0.0
