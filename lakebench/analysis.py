"""Metric computation for lakebench, from the raw record a run writes.

Pure functions only: percentiles, interval unions, span self time, driver
gap, job-to-span attribution and the end-to-end and per-layer metric sets.
"""

import statistics

LAYERS = ("catalog", "query", "eav", "artifact", "curate", "lineage",
          "zarr", "h5", "ext", "streaming")

LAYER_COUNTERS = ("calls", "busy_ms", "jobs", "tasks", "task_ms",
                  "driver_gap_ms", "sched_wait_ms", "shuffle_bytes", "failed")

# (metric, layer, span name) for the per-call p50 latencies
SPAN_P50 = (
    ("catalog.flush_p50_ms", "catalog", "flush"),
    ("query.get_p50_ms", "query", "get"),
    ("query.filter_p50_ms", "query", "filter"),
    ("query.fk_p50_ms", "query", "fk"),
    ("query.m2m_p50_ms", "query", "m2m"),
    ("query.search_p50_ms", "query", "search"),
    ("query.to_dataframe_p50_ms", "query", "to_dataframe"),
    ("eav.feature_filter_p50_ms", "eav", "feature_filter"),
    ("eav.add_values_p50_ms", "eav", "add_values"),
    ("artifact.from_dataframes_p50_ms", "artifact", "from_dataframes"),
    ("artifact.register_batch_p50_ms", "artifact", "register_batch"),
    ("artifact.open_p50_ms", "artifact", "open"),
    ("curate.validate_p50_ms", "curate", "validate"),
    ("lineage.track_p50_ms", "lineage", "track"),
    ("lineage.finish_p50_ms", "lineage", "finish"),
    ("lineage.traverse_p50_ms", "lineage", "traverse"),
    ("zarr.append_p50_ms", "zarr", "append"),
    ("ext.simhash_p50_ms", "ext", "simhash"),
    ("ext.simhash128_p50_ms", "ext", "simhash128"),
    ("ext.minhash_p50_ms", "ext", "minhash"),
    ("ext.cc_p50_ms", "ext", "cc"),
    ("streaming.microbatch_p50_ms", "streaming", "microbatch"),
)

# per-layer metrics that are ratios of counters rather than span times
RATIOS = (
    "catalog.bytes_written_per_user_byte",
    "catalog.snapshot_versions",
    "query.jobs_per_op",
    "query.rows_read_per_row_returned",
    "artifact.dedup_hit_ratio",
    "artifact.rows_read_per_row_matched",
    "curate.rows_validated_per_s",
    "zarr.scan_mb_per_s",
    "h5.scan_mb_per_s",
    "ext.candidates_per_kept_pair",
)


def per_layer_names():
    names = [f"{layer}.{c}" for layer in LAYERS for c in LAYER_COUNTERS]
    names += [m for m, _, _ in SPAN_P50]
    names += list(RATIOS)
    return names


def unit_of(metric):
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("mb_per_s"):
        return "MB/s"
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith((".calls", ".jobs", ".tasks", ".failed", "snapshot_versions")):
        return "count"
    return "ratio"


# ------------------------------------------------------------- percentiles

def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=(99.9, 99.0, 90.0)):
    """Highest candidate percentile with at least ten of `n` samples beyond
    it, or None when even the lowest candidate has fewer."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


# ---------------------------------------------------------------- intervals

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
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


def covered(span, intervals):
    """Length of `span` = (start, end) covered by the union of intervals."""
    s0, e0 = span
    return union_length((max(s, s0), min(e, e0)) for s, e in intervals)


def self_time(span, children):
    """Span duration minus the part its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def driver_gap(span, children, jobs):
    """Self time not covered by the span's own Spark jobs."""
    return (span[1] - span[0]) - covered(span, list(children) + list(jobs))


# ------------------------------------------------------------- attribution

def attribute_jobs(spans, jobs):
    """Map job id -> span id. A job carries the span that was current on the
    submitting thread; a job without one goes to the innermost span open at
    its submission time (the streaming micro-batch thread)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        if j["span"] in by_id:
            out[j["id"]] = j["span"]
            continue
        best = None
        for s in spans:
            if s["t0"] - 1.0 <= j["t0"] <= s["t1"] + 1.0:
                if best is None or s["t0"] >= best["t0"]:
                    best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


# ------------------------------------------------------------------ metrics

def end_to_end(raw):
    """Every end-to-end metric of one untraced run, plus informational ones
    that only apply to some workloads (None where they do not)."""
    ops = raw["ops"]
    lat = [o["ms"] for o in ops]
    ok = sum(1 for o in ops if o["ok"])
    setup = (raw["jvm_s"] + raw["session_s"] + statistics.median(raw["setup_reps_s"])
             + raw["warmup_s"])
    m = {
        "setup_s": setup,
        "ops_per_s": ok / raw["wall_s"],
        "op_p50_ms": quantile(lat, 0.5),
        "peak_rss_mb": raw["vmhwm_kb"] / 1024.0,
    }
    tail = tail_percentile(len(lat))
    extra = {"op_p90_ms": quantile(lat, 0.9) if tail is not None else None,
             "failed_op_frac": failed_ops(raw) / len(ops)}
    c = raw["counters"]
    wall = raw["wall_s"]
    if "artifacts_registered" in c:
        extra["registered_artifacts_per_s"] = c["artifacts_registered"] / wall
    if c.get("user_bytes"):
        extra["stored_bytes_per_user_byte"] = c["stored_bytes"] / c["user_bytes"]
    if "docs" in c:
        extra["dedup_docs_per_s"] = c["docs"] / wall
    return m, extra


def failed_ops(raw):
    bad = {o["i"] for o in raw["ops"] if not o["ok"]}
    extra = 0
    for f in raw["deferred_failures"]:
        if f["i"] >= 0:
            bad.add(f["i"])
        else:
            extra += 1
    return min(len(raw["ops"]), len(bad) + extra)


def per_layer(raw):
    spans = raw["spans"]
    jobs = raw["jobs"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    owner = attribute_jobs(spans, jobs)
    jobs_of = {}
    for j in jobs:
        if j["id"] in owner and j["t1"] >= 0:
            jobs_of.setdefault(owner[j["id"]], []).append(j)

    out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in LAYER_COUNTERS}
    for s in spans:
        layer = s["layer"]
        if layer not in LAYERS:
            continue
        iv = (s["t0"], s["t1"])
        kids = [(k["t0"], k["t1"]) for k in children.get(s["id"], [])]
        own = jobs_of.get(s["id"], [])
        out[f"{layer}.calls"] += 1
        out[f"{layer}.busy_ms"] += self_time(iv, kids)
        out[f"{layer}.driver_gap_ms"] += driver_gap(iv, kids, [(j["t0"], j["t1"]) for j in own])
        out[f"{layer}.failed"] += 1 if s["failed"] else 0
        for j in own:
            out[f"{layer}.jobs"] += 1
            out[f"{layer}.tasks"] += j["tasks"]
            out[f"{layer}.task_ms"] += j["task_ms"]
            out[f"{layer}.sched_wait_ms"] += j["sched_wait_ms"]
            out[f"{layer}.shuffle_bytes"] += j["shuffle_bytes"]
            out[f"{layer}.failed"] += j["failed_tasks"]

    for metric, layer, name in SPAN_P50:
        d = [s["t1"] - s["t0"] for s in spans if s["layer"] == layer and s["name"] == name]
        out[metric] = quantile(d, 0.5) if d else 0.0

    c = raw["counters"]

    def ratio(num, den):
        return num / den if den else 0.0

    def span_sum(pred, key):
        return sum(j[key] for s in spans if pred(s) for j in jobs_of.get(s["id"], []))

    def span_secs(pred):
        return sum(s["t1"] - s["t0"] for s in spans if pred(s)) / 1000.0

    query_ops = {s["op"] for s in spans if s["layer"] == "query"}
    query_units = sum(o["units"] for o in raw["ops"] if o["i"] in query_ops)
    is_query = lambda s: s["layer"] == "query"
    out["catalog.bytes_written_per_user_byte"] = ratio(c.get("catalog_bytes", 0), c.get("user_bytes", 0))
    out["catalog.snapshot_versions"] = float(c.get("snapshot_versions", 0))
    out["query.jobs_per_op"] = ratio(out["query.jobs"], len(query_ops))
    out["query.rows_read_per_row_returned"] = ratio(span_sum(is_query, "records_read"), query_units)
    out["artifact.dedup_hit_ratio"] = ratio(c.get("dedup_hits", 0), c.get("artifacts_registered", 0))
    is_open = lambda s: s["layer"] == "artifact" and s["name"] == "open"
    out["artifact.rows_read_per_row_matched"] = ratio(span_sum(is_open, "records_read"),
                                                      c.get("parquet_rows_matched", 0))
    is_validate = lambda s: s["layer"] == "curate" and s["name"] == "validate"
    out["curate.rows_validated_per_s"] = ratio(c.get("rows_validated", 0), span_secs(is_validate))
    is_zscan = lambda s: s["layer"] == "zarr" and s["name"] == "scan"
    out["zarr.scan_mb_per_s"] = ratio(c.get("zarr_bytes_scanned", 0) / 1e6, span_secs(is_zscan))
    is_hscan = lambda s: s["layer"] == "h5" and s["name"] == "scan"
    out["h5.scan_mb_per_s"] = ratio(c.get("h5_bytes_scanned", 0) / 1e6, span_secs(is_hscan))
    out["ext.candidates_per_kept_pair"] = ratio(c.get("candidate_pairs", 0), c.get("kept_pairs", 0))
    return out


def overhead(traced, untraced):
    """Traced minus untraced end-to-end metrics, as a share of untraced."""
    return {k: (traced[k] - untraced[k]) / untraced[k]
            for k in traced if k in untraced and untraced[k]}
