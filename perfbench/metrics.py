"""Metric arithmetic for the benchmark: percentiles, interval unions,
span self time, and the reduction of one run's records (result.json
written by graft.perfbench.Main) to end-to-end and per-layer metrics.
"""
import statistics

# the spans whose counters the traced run reports, in report order
SPANS = [
    "pipeline.clone", "pipeline.clone_layout", "pipeline.render_ddl",
    "pipeline.sync", "io.jdbc_write", "io.jdbc_read",
    "query.plan", "query.exec",
    "llm.pairs", "trainprep.cc", "trainprep.keepers", "similarity.ann_pairs",
    "store.bootstrap", "store.append", "store.pairs", "store.compact",
]
COUNTERS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("task_busy_s", "s"), ("driver_gap_s", "s"),
            ("shuffle_write_mb", "MB"), ("output_mb", "MB")]
EXTRAS = [("query.exec.input_mb", "MB"), ("pipeline.sync.delta_ratio", "ratio"),
          ("bench.pass_self_s", "s"), ("unattributed_jobs", "count"),
          ("trace_overhead_ratio", "ratio")]
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("live_heap_mb", "MB"),
              ("bytes_stored_ratio", "ratio")]
# the workload-specific figures printed on the detail line
DETAIL_UNITS = {
    "setup_s": "s", "run_s": "s", "ops_failed_ratio": "ratio",
    "live_heap_mb": "MB", "clone_mb_s": "MB/s", "sync_p50_s": "s",
    "jdbc_rows_s": "rows/s", "bytes_stored_ratio": "ratio",
    "query_p50_s": "s", "query_p90_s": "s", "queries_s": "1/s",
    "dedup_docs_s": "docs/s", "media_items_s": "items/s",
}
TEXT_OPS = {"llm.pairs", "trainprep.keepers", "similarity.ann_pairs"}
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def per_layer_names():
    return [(f"{s}.{c}", u) for s in SPANS for c, u in COUNTERS] + EXTRAS


def _rank(p, n):
    """Nearest rank of percentile p among n samples: ceil(p/100 * n)."""
    return max(1, int(-(-p * n // 100)))


def tail_percentile(values):
    """(p, value) for the highest of PERCENTILES with at least ten samples
    above it, by the nearest-rank rule; None when even p50 has fewer."""
    xs = sorted(values)
    best = None
    for p in PERCENTILES:
        if len(xs) - _rank(p, len(xs)) >= 10:
            best = (p, xs[_rank(p, len(xs)) - 1])
    return best


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [a, b) intervals, clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _sum_counter(counters, name, passes=None):
    return sum(v for p, k, v in counters
               if k == name and (passes is None or p in passes))


def reduce_run(res, query_verdicts=None):
    """End-to-end figures, detail figures and per-layer figures of one run,
    plus (attempted, failed, correct)."""
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    measured = {p["pass"] for p in untraced}
    dur = lambda r: r["t1"] - r["t0"]

    ops = [o for o in res["ops"] if o["pass"] in measured]
    bad_query = {q for q, v in (query_verdicts or {}).items() if v is not None}
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    wrong_passes = {c["pass"] for c in failed_checks}
    failed = sum(1 for o in ops if not o["ok"] or o["pass"] in wrong_passes
                 or o["label"] in bad_query)
    attempted = len(ops)
    correct = failed == 0 and not failed_checks and not bad_query

    setup = res["setup"]
    setup_s = setup["session_s"] + _median(setup["gen_s"]) + setup["warm_s"]
    pass_s = [dur(p) for p in untraced]
    measured_s = sum(pass_s)
    c = res["counters"]
    op_s = lambda name: [dur(o) for o in ops if o["name"] == name]
    stored = _sum_counter(c, "stored_bytes", measured)
    source = _sum_counter(c, "source_bytes", measured)
    e2e = {
        "setup_s": setup_s,
        "run_s": _median(pass_s),
        "live_heap_mb": max(res["heap_mb"]) if res["heap_mb"] else 0.0,
        "bytes_stored_ratio": stored / source if source else 0.0,
    }

    detail = dict(e2e)
    detail["ops_failed_ratio"] = failed / attempted if attempted else 0.0
    if op_s("pipeline.clone"):
        clone_t = sum(op_s("pipeline.clone") + op_s("pipeline.clone_layout"))
        detail["clone_mb_s"] = _sum_counter(c, "clone_mb", measured) / clone_t
        detail["sync_p50_s"] = _median(op_s("pipeline.sync"))
        detail["jdbc_rows_s"] = (_sum_counter(c, "jdbc_rows", measured)
                                 / sum(op_s("io.jdbc_write")))
    if op_s("query"):
        q = op_s("query")
        detail["query_p50_s"] = _median(q)
        tail = tail_percentile(q)
        if tail and tail[0] >= 90.0:  # p90 needs >= 10 samples above it
            detail["query_p90_s"] = sorted(q)[_rank(90.0, len(q)) - 1]
        detail["queries_s"] = len(q) / measured_s
        detail["query_samples"] = len(q)
    # the text and media halves of a dedup_media pass, each over its own ops
    text_t = sum(dur(o) for o in ops if o["name"] in TEXT_OPS
                 or (o["name"] == "trainprep.cc" and o["label"] == "text"))
    media_t = sum(dur(o) for o in ops if o["name"].startswith("store.")
                  or (o["name"] == "trainprep.cc" and o["label"] == "media"))
    if text_t:
        detail["dedup_docs_s"] = _sum_counter(c, "docs", measured) / text_t
    if media_t:
        detail["media_items_s"] = _sum_counter(c, "media_items", measured) / media_t
    detail["passes"] = len(untraced)

    layer = per_layer(res, traced, pass_s) if traced else None
    return e2e, detail, layer, attempted, failed, correct


def per_layer(res, traced, untraced_pass_s):
    """Per-call means of each span's counters over the traced passes."""
    traced_ids = {p["pass"] for p in traced}
    spans = [s for s in res["spans"] if s["pass"] in traced_ids]
    by_group = {f"pb-{s['id']}": s for s in spans}
    tasks_of = {}
    for t in res["tasks"]:
        tasks_of.setdefault(t["group"], []).append(t)
    jobs_of = {}
    unattributed = 0
    for j in res["jobs"]:
        if j["group"] in by_group:
            jobs_of.setdefault(j["group"], []).append(j)
        elif j["group"] != "pb-oracle":
            unattributed += 1

    out = {}
    for name in SPANS:
        inst = [s for s in spans if s["name"] == name]
        acc = {k: 0.0 for k, _ in COUNTERS}
        input_mb = 0.0
        for s in inst:
            g = f"pb-{s['id']}"
            ts = tasks_of.get(g, [])
            acc["wall_s"] += s["t1"] - s["t0"]
            acc["jobs"] += len(jobs_of.get(g, []))
            acc["tasks"] += len(ts)
            acc["task_busy_s"] += sum(t["run_s"] for t in ts)
            acc["driver_gap_s"] += (s["t1"] - s["t0"]) - union_length(
                [(t["t0"], t["t1"]) for t in ts], s["t0"], s["t1"])
            acc["shuffle_write_mb"] += sum(t["shuffle_write"] for t in ts) / 1e6
            acc["output_mb"] += sum(t["output"] for t in ts) / 1e6
            input_mb += sum(t["input"] for t in ts) / 1e6
        n = len(inst) or 1
        for k, _ in COUNTERS:
            out[f"{name}.{k}"] = acc[k] / n
        if name == "query.exec":
            out["query.exec.input_mb"] = input_mb / n

    c = res["counters"]
    src_rows = _sum_counter(c, "sync_source_rows", traced_ids)
    out["pipeline.sync.delta_ratio"] = (
        _sum_counter(c, "sync_delta_rows", traced_ids) / src_rows if src_rows else 0.0)
    selfs = []
    for p in (s for s in spans if s["name"] == "pass"):
        kids = [(k["t0"], k["t1"]) for k in spans if k["parent"] == p["id"]]
        selfs.append(self_time((p["t0"], p["t1"]), kids))
    out["bench.pass_self_s"] = _median(selfs)
    out["unattributed_jobs"] = float(unattributed)
    traced_s = [p["t1"] - p["t0"] for p in traced]
    out["trace_overhead_ratio"] = (_median(traced_s) / _median(untraced_pass_s)
                                   if untraced_pass_s else 0.0)
    return out
