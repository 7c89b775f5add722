"""Percentiles, span self times, and the end-to-end and per-layer metrics
computed from one run's records."""
import json
import math
import statistics
import sys

# the catalog ops any workload runs (run.WORKLOADS), for the per-op metrics
CATALOG_KEYS = ["chunk_knn", "stream_rollup", "store_lifecycle", "q1_pricing"]
MIN_BEYOND = 10


def pct(values, q):
    """The q-th percentile (0..100) by linear interpolation; NaN when empty."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n):
    """The highest of p50/p90/p99/p99.9 that leaves at least ten samples
    beyond it, or None when even p50 does not."""
    best = None
    for tenths in (500, 900, 990, 999):  # integer arithmetic: no rounding at 99.9
        if n * (1000 - tenths) >= MIN_BEYOND * 1000:
            best = tenths / 10 if tenths % 10 else tenths // 10
    return best


def describe(name, values, reported, log=sys.stderr):
    """Log the sample count and the percentile it supports, with a warning
    when `reported` (the highest percentile taken of it) is above that."""
    q = supported_percentile(len(values))
    warn = "" if q is not None and q >= reported else \
        f" -- WARNING: p{reported} is reported but too few samples support it"
    print(f"[perfbench] {name}: n={len(values)} supports p{q if q else '-'}{warn}", file=log)


def median(values, default=0.0):
    return statistics.median(values) if values else default


def self_times(spans):
    """Seconds of self time per layer (the span name's first dot segment): a
    span's duration minus the part of it that its child spans cover."""
    by_parent = {}
    for s in spans:
        if s["parent"]:
            by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = sorted((k["start_us"], k["end_us"]) for k in by_parent.get(s["name"], [])
                      if k["start_us"] >= s["start_us"] and k["end_us"] <= s["end_us"]
                      and k is not s)
        covered, cur = 0, None
        for a, b in kids:
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def in_window(t, ws, we):
    return ws <= t < we


def end_to_end(rec):
    """The end-to-end metrics of one run; `rec` holds the run's records."""
    h, ws, we = rec["harness"], rec["ws"], rec["we"]
    fresh = rec["freshness_s"]
    dash = [r for r in rec["dashboard"] if in_window(r["sent"], ws, we)]
    lat = [(r["recv"] - r["sent"]) * 1000.0 for r in dash
           if r["q"].startswith("metrics") and r["status"] == 200]
    describe("freshness", fresh, 90)
    describe("metrics latency", lat, 50)
    # delivered rate: rows of the batches that completed in the window, over
    # the time between the first and the last completion (not the window
    # length, which would count a batch in or out on a boundary). Under the
    # open-loop feed this is the offered rate until ingest falls behind;
    # stage.rows_per_s is the stage's capacity.
    done = [(p["recv_ms"] / 1000.0, p["rows"]) for p in h["progress"]
            if ws <= p["recv_ms"] / 1000.0 < we]
    delivered = (sum(r for _, r in done[1:]) / (done[-1][0] - done[0][0])
                 if len(done) > 1 else 0.0)
    ops = {o["name"]: o["wall_s"] for o in h.get("ops", [])}
    m = {
        "setup_s": rec["setup_s"],
        "freshness_p50_s": pct(fresh, 50),
        "freshness_p90_s": pct(fresh, 90),
        "visible_lines_per_s": delivered,
        "metrics_p50_ms": pct(lat, 50),
        "store_bytes_per_line": h["store_bytes"] / max(1, h["points"]),
        "rss_peak_mb": h["rss_peak_kb"] / 1024.0,
    }
    m["catalog_s"] = sum(ops.values())
    return m


def per_layer(rec):
    """The per-layer metrics of a traced run. Per-call timings are medians:
    no layer makes the hundred calls in a window that a p90 needs (the counts
    go to stderr). The listener's 100 ms samples and the feed's 10 ms ticks
    are enough for a p90."""
    h, ws, we, secs = rec["harness"], rec["ws"], rec["we"], rec["seconds"]
    wms, wme = ws * 1000.0, we * 1000.0
    cycles = [c for c in h["cycles"] if wms <= c[0] < wme]
    call = [c[1] - c[0] for c in cycles]
    rows = [c[2] for c in cycles]
    prog = [p for p in h["progress"] if wms <= p["start_ms"] < wme]
    trig = [p["durations"].get("triggerExecution", 0) for p in prog]
    addb = [p["durations"].get("addBatch", 0) for p in prog]
    # slice i (in staging order) is micro-batch i: one file per trigger
    staged_end = [c[1] for c in h["cycles"]]
    waits = [p["start_ms"] - staged_end[i] for i, p in enumerate(h["progress"])
             if i < len(staged_end) and wms <= p["start_ms"] < wme]
    samples = [s for s in h["samples"] if wms <= s[0] < wme]
    sent = rec["carbon_sent"]

    def sent_by(t):
        n = 0
        for ts, c in sent:
            if ts > t:
                break
            n = c
        return n

    lag = [sent_by(s[0] / 1000.0) - (s[1] + s[2]) for s in samples]
    backlog = [s[3] - s[4] for s in samples]
    replay = h.get("replay", [])
    maint = [m[1] - m[0] for m in h["maintains"]]
    dash = [r for r in rec["dashboard"] if in_window(r["sent"], ws, we)]
    svc = [(r["recv"] - r["sent"]) * 1000.0 for r in dash
           if r["q"].startswith("metrics") and r["status"] == 200]
    bm, bp = h.get("backend_metrics_ms", []), h.get("backend_paths_ms", [])
    jobs = h.get("jobs", {})
    for name, xs in (("stage calls", call), ("stream batches", trig),
                     ("rollup/store replays", replay), ("maintain calls", maint),
                     ("backend metrics calls", bm), ("backend paths calls", bp)):
        describe(name, xs, 50)
    m = {
        "listener.accepted_lines": h["received_ok"],
        "listener.rejected_lines": h["received_fail"],
        "listener.accept_lag_lines_p90": pct(lag, 90),
        "stage.call_ms_p50": pct(call, 50),
        "stage.rows_per_cycle_p50": pct(rows, 50),
        "stage.rows_per_s": sum(rows) / max(1e-9, sum(call) / 1000.0),
        "stage.busy_share": sum(call) / (secs * 1000.0),
        "stream.batches": len(prog),
        "stream.trigger_ms_p50": pct(trig, 50),
        "stream.add_batch_ms_p50": pct(addb, 50),
        "stream.overhead_ms_p50": pct([t - a for t, a in zip(trig, addb)], 50),
        "stream.wait_ms_p50": pct(waits, 50),
        "stream.backlog_files_max": max(backlog) if backlog else 0,
        "rollup.compute_ms_p50": pct([r[0] for r in replay], 50),
        "rollup.state_rows_per_line": median([r[2] for r in replay], math.nan),
        "store.append_ms_p50": pct([r[1] for r in replay], 50),
        "store.dirs_per_cycle": median([r[3] for r in replay], math.nan),
        "store.compact_ms_p50": pct(maint, 50),
        "store.files_per_dir_max": h["store_files_per_dir_max"],
        "store.files_end": h["store_files"],
        "store.bytes_end": h["store_bytes"],
        "store.read_ms_p50": pct(h.get("store_read_ms", []), 50),
        "serve.backend_metrics_ms_p50": pct(bm, 50),
        "serve.backend_paths_ms_p50": pct(bp, 50),
        "serve.http_overhead_ms_p50": pct(svc, 50) - pct(bm, 50),
        "serve.jobs_per_request": h.get("serve_jobs", math.nan),
        "serve.mismatch_during_maintain": rec["mismatch_during_maintain"],
        "load.carbon_late_ms_p90": pct(rec["carbon_late_ms"], 90),
        "load.http_requests_per_s": len(dash) / secs,
    }
    ops = {o["name"]: o["wall_s"] for o in h.get("ops", [])}
    for k in CATALOG_KEYS:
        j = jobs.get("op:" + k, {})
        m[f"op.{k}.wall_s"] = ops.get(k, 0.0)
        m[f"op.{k}.jobs"] = j.get("jobs", 0.0)
        m[f"op.{k}.executor_cpu_s"] = j.get("cpu_s", 0.0)
        m[f"op.{k}.shuffle_bytes"] = j.get("shuffle_bytes", 0.0)
    self_t = self_times(rec["spans"])
    for layer in ("stage", "store", "rollup", "serve", "catalog", "http"):
        m[f"self.{layer}_s"] = self_t.get(layer, 0.0)
    return m


def trace_overhead(traced, untraced):
    """Each end-to-end metric of a traced run minus its median over
    `untraced`, the untraced runs of the same workload and sources; None
    when there are none."""
    if not untraced:
        return None
    return {k: v - statistics.median(u[k] for u in untraced)
            for k, v in traced.items() if all(k in u for u in untraced)}


UNITS = {"store.bytes_end": "B", "load.http_requests_per_s": "1/s", "rollup.state_rows_per_line": "rows/line",
         "stage.busy_share": "ratio", "stage.rows_per_s": "rows/s"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B")):
        if name.endswith(suffix) or f"{suffix}_p" in name:
            return unit
    return "count"


def render(correct, attempted, failed, metrics, units):
    """The result line. A per-layer figure with no samples reads 0."""
    def num(v):
        return 0.0 if isinstance(v, float) and math.isnan(v) else v
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": num(v), "unit": units.get(k) or unit_of(k)}
                                   for k, v in metrics.items()}})
