"""Metric arithmetic over the harness's result file.

Pure functions over spans, jobs and samples; `run.py` calls them and the
tests in `test_metrics.py` pin them. Times in the result file are epoch
microseconds (spans) and epoch milliseconds (Spark jobs).
"""
import statistics

LAYERS = ["ingest", "schemasync", "state", "streaming", "maintain", "reports"]
LAYER_QUANTITIES = [
    ("calls", "count", "lower"),
    ("busy_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("failed", "count", "lower"),
]
STATE_CALLS = ["upsert", "overwrite", "diff", "readVersion", "history", "compact", "vacuumBefore"]
STATE_CALL_QUANTITIES = [
    ("busy_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("bytes_written", "bytes", "lower"),
]
REPORTS = ["revenuePerProduct", "lowStock", "ordersPerMonth", "revenuePerCategory",
           "inventoryStatus", "mostSoldPerCategory"]
EXTRA_LAYER_METRICS = [
    ("ingest.read.rows_in", "rows", "higher"),
    ("ingest.read.rows_null_ts", "rows", "lower"),
    ("ingest.retried.retries", "count", "lower"),
    ("schemasync.sync.changes", "count", "lower"),
    ("state.upsert.rows_in", "rows", "higher"),
    ("state.versions_live", "count", "lower"),
    ("state.files_live", "count", "lower"),
    ("state.meta_jobs", "count", "lower"),
    ("streaming.drain.files", "files", "higher"),
    ("streaming.drain.rows", "rows", "higher"),
    ("streaming.drain.micro_batches", "count", "lower"),
    ("streaming.drain.wait_s", "s", "lower"),
    ("streaming.drain.useful_ratio", "ratio", "higher"),
    ("maintain.fold.steps", "count", "lower"),
    ("maintain.fold.changed_keys", "keys", "higher"),
    ("maintain.fold.touched_ratio", "ratio", "lower"),
] + [(f"reports.{q}.busy_s", "s", "lower") for q in REPORTS] + [
    ("gen.files", "files", "higher"),
    ("gen.bytes", "bytes", "higher"),
    ("gen.late_max_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
]


def per_layer_catalogue():
    """Every per-layer metric as (name, unit, better)."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.{q}", u, b) for q, u, b in LAYER_QUANTITIES]
    for call in STATE_CALLS:
        out += [(f"state.{call}.{q}", u, b) for q, u, b in STATE_CALL_QUANTITIES]
    return out + EXTRA_LAYER_METRICS


# ---- order statistics --------------------------------------------------

def median(xs):
    return statistics.median(xs)


def tail(xs, above=10):
    """The sample at the highest percentile that has at least `above`
    samples above it, never below the median.

    Returns (value, percentile, n). With n sorted samples the value at
    1-based rank n - above has exactly `above` samples above it; when that
    rank falls below the median (n < 2 * above) the median rank is used,
    and with fewer than `above + 1` samples the maximum is the honest
    answer, reported at percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= above:
        return s[-1], 100.0, n
    rank = max(n - above, (n + 1) // 2)
    return s[rank - 1], 100.0 * rank / n, n


# ---- interval arithmetic -----------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the union of its children's intervals
    (children may overlap one another, e.g. under `Par.both`)."""
    s, e = span["start_us"], span["end_us"]
    kids = clip([(c["start_us"], c["end_us"]) for c in children], s, e)
    return (e - s) - union_length(kids)


def driver_gap(span, job_intervals):
    """A span's duration minus the union of the intervals of the jobs it
    ran (clipped to the span)."""
    s, e = span["start_us"], span["end_us"]
    return (e - s) - union_length(clip(job_intervals, s, e))


def attribute_jobs(spans, jobs, slack_us=1000):
    """Map job id -> the innermost span whose interval contains the job's
    start. Spark stamps job starts in whole milliseconds, so a start may
    read up to `slack_us` before the span that submitted it; innermost
    means the latest-starting containing span. Only spans the harness's
    main thread opened are candidates: it makes one layer call at a time,
    while spans on other threads (the stream generator's) overlap them."""
    by_start = sorted((sp for sp in spans if sp["main"]), key=lambda sp: sp["start_us"])
    out = {}
    for j in jobs:
        t = j["start_ms"] * 1000
        best = None
        for sp in by_start:
            if sp["start_us"] - slack_us > t:
                break
            if t <= sp["end_us"] and (best is None or sp["start_us"] >= best["start_us"]):
                best = sp
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def job_interval_us(j):
    end = j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]
    return (j["start_ms"] * 1000, end * 1000)


def layer_rollup(spans, jobs, attribution):
    """Per-layer and per-state-call quantities from spans and jobs."""
    by_id = {sp["id"]: sp for sp in spans}
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    jobs_by_span = {}
    for j in jobs:
        sid = attribution.get(j["id"])
        if sid is not None:
            jobs_by_span.setdefault(sid, []).append(j)

    def descendants(sp):
        out, stack = [], [sp["id"]]
        while stack:
            for c in children.get(stack.pop(), []):
                out.append(c)
                stack.append(c["id"])
        return out

    def jobs_under(sp):
        js = list(jobs_by_span.get(sp["id"], []))
        for d in descendants(sp):
            js += jobs_by_span.get(d["id"], [])
        return js

    def outermost(group, layer):
        """Spans of the group with no ancestor in the same layer."""
        res = []
        for sp in group:
            p = by_id.get(sp["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None:
                res.append(sp)
        return res

    out = {}
    for layer in LAYERS:
        group = [sp for sp in spans if sp["layer"] == layer]
        own_jobs = [j for sp in group for j in jobs_by_span.get(sp["id"], [])]
        out[f"{layer}.calls"] = len(group)
        out[f"{layer}.busy_s"] = union_length([(sp["start_us"], sp["end_us"]) for sp in group]) / 1e6
        out[f"{layer}.self_s"] = sum(self_time(sp, children.get(sp["id"], [])) for sp in group) / 1e6
        out[f"{layer}.jobs"] = len(own_jobs)
        out[f"{layer}.stages"] = sum(j["stages"] for j in own_jobs)
        out[f"{layer}.tasks"] = sum(j["tasks"] for j in own_jobs)
        out[f"{layer}.shuffle_read_bytes"] = sum(j["shuffle_read_bytes"] for j in own_jobs)
        out[f"{layer}.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in own_jobs)
        out[f"{layer}.driver_gap_s"] = sum(
            driver_gap(sp, [job_interval_us(j) for j in jobs_under(sp)])
            for sp in outermost(group, layer)) / 1e6
        out[f"{layer}.failed"] = sum(1 for sp in group if not sp["ok"])
    for call in STATE_CALLS:
        group = [sp for sp in spans if sp["layer"] == "state" and sp["call"] == call]
        out[f"state.{call}.busy_s"] = union_length([(sp["start_us"], sp["end_us"]) for sp in group]) / 1e6
        out[f"state.{call}.jobs"] = sum(len(jobs_under(sp)) for sp in group)
        out[f"state.{call}.driver_gap_s"] = sum(
            driver_gap(sp, [job_interval_us(j) for j in jobs_under(sp)]) for sp in group) / 1e6
    return out


def in_windows(t_us, windows):
    return any(a <= t_us <= b for a, b in windows)
