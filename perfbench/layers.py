"""Per-layer metrics and the span tree of a traced run.

Spans come from three places, all recorded outside the program: the
benchmark's own spans (workload → phase → query call → verb/serve),
micro-batch spans rebuilt from streaming progress, and Spark job spans
from the listener. A job joins its micro-batch through the job's
`streaming.sql.batchId` property; otherwise it joins the innermost
benchmark span whose interval holds its start (lifecycle verbs submit
jobs from several threads, so thread identity is no guide).
"""

import stats

# The batch_queries sets (passed to the JVM). Lifecycle: at-rest verbs,
# write-heavy with many jobs each, one from the dedup family and one from
# the time-series family. Reads: the paper's batch restatements (request
# transform, response batching, retry, log-and-delete, polling scans),
# the two compiled-kernel reads and a line-item aggregate.
LIFECYCLE = ("d29_clusters_atrest", "ts12_sax_forget")
READS = ("t2_explode", "t3_validate", "t3_rejects", "t5_retry_backoff", "t9_log_project",
         "g2b_salted_buckets", "g3_dedup", "g4b_item_packets", "r4_response_retry",
         "k2_retry_apply", "s5_max_id", "d2_minhash_lsh", "d17_winnowing",
         "a1_lineitem_agg")
KERNELS = ("d2_minhash_lsh", "d17_winnowing")
# (name, unit, better) of every per-layer metric, grouped by layer.
VERB_METRICS = (("verb_s", "s", "lower"), ("serve_s", "s", "lower"),
                ("jobs", "count", "lower"), ("stages", "count", "lower"),
                ("gap_s", "s", "lower"), ("task_s", "s", "lower"),
                ("shuffle_mb", "MB", "lower"), ("written_mb", "MB", "lower"),
                ("files_written", "count", "lower"))
PER_LAYER = (
    # streaming.RequestPipeline (transform + foreachBatch sink)
    ("RequestPipeline.batches", "count", "lower"),
    ("RequestPipeline.rows_per_batch_p50", "rows", "higher"),
    ("RequestPipeline.add_batch_ms_p50", "ms", "lower"),
    ("RequestPipeline.plan_ms_p50", "ms", "lower"),
    ("RequestPipeline.commit_ms_p50", "ms", "lower"),
    ("RequestPipeline.task_busy_frac", "ratio", "lower"),
    ("RequestPipeline.bytes_written", "B", "lower"),
    ("RequestPipeline.files_written", "count", "lower"),
    ("RequestPipeline.backlog_end_rows", "rows", "lower"),
    ("RequestPipeline.drain_rows_per_s_1core", "rows/s", "higher"),
    ("gen.late_ms_max", "ms", "lower"),
    # streaming.MicroBatcher behind ResponsePipeline
    ("MicroBatcher.packets_count", "count", "higher"),
    ("MicroBatcher.packets_timeout", "count", "lower"),
    ("MicroBatcher.packets_force", "count", "lower"),
    ("MicroBatcher.timer_lag_ms_p99", "ms", "lower"),
    ("MicroBatcher.empty_batch_frac", "ratio", "lower"),
    ("MicroBatcher.state_rows_max", "rows", "lower"),
    ("MicroBatcher.state_bytes_max", "B", "lower"),
    ("MicroBatcher.update_ms_p50", "ms", "lower"),
    ("MicroBatcher.state_commit_ms_p50", "ms", "lower"),
    ("MicroBatcher.shuffle_bytes", "B", "lower"),
    ("ResponsePipeline.add_batch_ms_p50", "ms", "lower"),
) + tuple(
    # operators.AtRest + family verbs, write and serve paths
    (f"{q}.{m}", u, b) for q in LIFECYCLE for m, u, b in VERB_METRICS
) + tuple(
    # operators, serve path of the reads
    (f"{q}.s", "s", "lower") for q in READS
) + (
    ("reads.jobs", "count", "lower"),
    ("reads.gap_s", "s", "lower"),
) + tuple(
    # functions (compiled kernels)
    (f"{q}.task_s", "s", "lower") for q in KERNELS
) + (
    # sources.Tables (parquet scan)
    ("reads.bytes_read", "B", "lower"),
    ("lifecycle.bytes_read", "B", "lower"),
    # GraftExtensions + plans (analysis + optimization + planning)
    ("reads.plan_ms", "ms", "lower"),
    ("lifecycle.plan_ms", "ms", "lower"),
)


def drain_seconds(drain, windows):
    """Seconds from when the backlog could first be read (its add, or the
    start of the batch that read it, whichever is later) to the end of
    that batch."""
    w = stats.covering_batch(windows, drain["offset"])
    if w is None:
        raise RuntimeError("the backlog was never read")
    return (w[3] - max(drain["add_ms"], w[2])) / 1000.0


def query_calls(raw):
    """{query: [timed call ms, ...]} from the benchmark's call spans."""
    out = {}
    for s in raw["spans"]:
        if "half" in s:
            out.setdefault(s["query"], []).append(s["end_ms"] - s["start_ms"])
    return out


def _span(raw, name):
    return next(s for s in raw["spans"] if s["name"] == name)


def _stage_owner(raw):
    """{stage id: job id}: each completed stage belongs to one job that
    lists it, preferring the job whose interval holds the stage start."""
    owner = {}
    for st in raw["stages"]:
        cands = [j for j in raw["jobs"] if st["stage"] in j["stages"]]
        inside = [j for j in cands
                  if j["start_ms"] <= st["start_ms"] <= (j["end_ms"] or float("inf"))]
        pick = (inside or cands or [None])[0]
        if pick is not None:
            owner.setdefault(st["stage"], pick["job"])
    return owner


def _job_totals(raw):
    """{job id: summed stage metrics of the stages it ran}."""
    owner = _stage_owner(raw)
    tot = {}
    for st in raw["stages"]:
        j = owner.get(st["stage"])
        if j is None:
            continue
        t = tot.setdefault(j, {"task_ms": 0, "bytes_read": 0, "bytes_written": 0,
                               "shuffle_write_bytes": 0, "stages": 0})
        for k in ("task_ms", "bytes_read", "bytes_written", "shuffle_write_bytes"):
            t[k] += st[k]
        t["stages"] += 1
    return tot


def _sum(totals, jobs, key):
    return sum(totals.get(j["job"], {}).get(key, 0) for j in jobs)


def _within(items, span):
    return [x for x in items if span["start_ms"] <= x["start_ms"] <= span["end_ms"]]


def _progress_in(progress, span):
    return [p for p in progress if span["start_ms"] <= p["ts_ms"] <= span["end_ms"]]


def _p50(values):
    return stats.median(values) or 0


def request_layers(raw):
    windows = stats.batch_windows(raw["progress"])
    open_loop, drain = _span(raw, "open_loop"), _span(raw, "drain")
    measured = [p for p in raw["progress"] if p["end_offset"] > p["start_offset"] and
                open_loop["start_ms"] <= p["ts_ms"] <= drain["end_ms"]]
    ol = [p for p in _progress_in(raw["progress"], open_loop)
          if p["end_offset"] > p["start_offset"]]
    rows = []
    for p in ol:
        rows.append(sum(t["rows"] for t in raw["ticks"]
                        if p["start_offset"] < t["offset"] <= p["end_offset"]))
    last_sent = max(t["sent_ms"] for t in raw["ticks"])
    backlog = 0
    for t in raw["ticks"]:
        w = stats.covering_batch(windows, t["offset"])
        if w is None or w[3] > last_sent:
            backlog += t["rows"]
    totals = _job_totals(raw)
    ids = {str(p["batch_id"]) for p in measured}
    jobs = [j for j in raw["jobs"] if j["batch_id"] in ids]
    ol_ids = {str(p["batch_id"]) for p in ol}
    ol_jobs = [j for j in jobs if j["batch_id"] in ol_ids]
    wall = open_loop["end_ms"] - open_loop["start_ms"]
    one = raw.get("drain_1core")
    one_rate = 0
    if one:
        one_rate = one["rows"] / drain_seconds(one, stats.batch_windows(one["progress"]))
    return {
        "RequestPipeline.batches": len(measured),
        "RequestPipeline.rows_per_batch_p50": _p50(rows),
        "RequestPipeline.add_batch_ms_p50": _p50([p["duration_ms"].get("addBatch", 0) for p in ol]),
        "RequestPipeline.plan_ms_p50": _p50([p["duration_ms"].get("queryPlanning", 0) for p in ol]),
        "RequestPipeline.commit_ms_p50": _p50([p["duration_ms"].get("walCommit", 0) +
                                               p["duration_ms"].get("commitOffsets", 0) for p in ol]),
        "RequestPipeline.task_busy_frac": _sum(totals, ol_jobs, "task_ms") / (wall * raw["cores"]),
        "RequestPipeline.bytes_written": _sum(totals, jobs, "bytes_written"),
        "RequestPipeline.files_written": sum(q["files_written"] for q in raw["qes"]),
        "RequestPipeline.backlog_end_rows": backlog,
        "RequestPipeline.drain_rows_per_s_1core": one_rate,
        "gen.late_ms_max": max(t["sent_ms"] - t["due_ms"] for t in raw["ticks"]),
    }


def response_layers(raw):
    open_loop = _span(raw, "open_loop")
    ol = _progress_in(raw["progress"], open_loop)
    pk = raw["packets"]
    lags = [p["seen_ms"] - p["first_due_ms"] - raw["timeout_ms"]
            for p in pk if p["reason"] == "timeout" and p["open_loop"]]
    totals = _job_totals(raw)
    jobs = [j for j in raw["jobs"] if j["batch_id"] is not None]
    late = max(t["sent_ms"] - t["due_ms"] for t in raw["ticks"])
    return {
        "MicroBatcher.packets_count": sum(p["reason"] == "count" for p in pk),
        "MicroBatcher.packets_timeout": sum(p["reason"] == "timeout" for p in pk),
        "MicroBatcher.packets_force": sum(p["reason"] == "force" for p in pk),
        "MicroBatcher.timer_lag_ms_p99": stats.percentile(lags, 99) if lags else 0,
        "MicroBatcher.empty_batch_frac":
            sum(p["input_rows"] == 0 for p in ol) / len(ol) if ol else 0,
        "MicroBatcher.state_rows_max": max((p["state_rows"] for p in raw["progress"]), default=0),
        "MicroBatcher.state_bytes_max": max((p["state_bytes"] for p in raw["progress"]), default=0),
        "MicroBatcher.update_ms_p50": _p50([p["state_update_ms"] for p in ol]),
        "MicroBatcher.state_commit_ms_p50": _p50([p["state_commit_ms"] for p in ol]),
        "MicroBatcher.shuffle_bytes": _sum(totals, jobs, "shuffle_write_bytes"),
        "ResponsePipeline.add_batch_ms_p50": _p50([p["duration_ms"].get("addBatch", 0) for p in ol]),
        "gen.late_ms_max": late,
    }


def batch_layers(raw):
    totals = _job_totals(raw)
    calls = [s for s in raw["spans"] if "half" in s]
    children = {}
    for s in raw["spans"]:
        children.setdefault(s["parent"], []).append(s)
    passes = max(1, raw["passes"])
    out = {}

    def jobs_of(span):
        return _within(raw["jobs"], span)

    def gap_s(span):
        iv = [(j["start_ms"], j["end_ms"] or span["end_ms"]) for j in jobs_of(span)]
        return stats.gap(span["start_ms"], span["end_ms"], iv) / 1000.0

    half = {"reads": {"jobs": 0, "gap_s": 0.0, "bytes_read": 0, "plan_ms": 0},
            "lifecycle": {"jobs": 0, "gap_s": 0.0, "bytes_read": 0, "plan_ms": 0}}
    per_query = {}
    for c in calls:
        q, js = c["query"], jobs_of(c)
        h = half[c["half"]]
        h["jobs"] += len(js)
        h["gap_s"] += gap_s(c)
        h["bytes_read"] += _sum(totals, js, "bytes_read")
        h["plan_ms"] += sum(x["plan_ms"] for x in _within(raw["qes"], c))
        per_query.setdefault(q, []).append(c)
    for q in LIFECYCLE:
        for c in per_query.get(q, [])[:1]:
            kids = {k["name"]: k for k in children.get(c["id"], [])}
            js = jobs_of(c)
            dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1000.0 if s else 0
            out.update({
                f"{q}.verb_s": dur(kids.get("verb")),
                f"{q}.serve_s": dur(kids.get("serve")),
                f"{q}.jobs": len(js),
                f"{q}.stages": _sum(totals, js, "stages"),
                f"{q}.gap_s": gap_s(c),
                f"{q}.task_s": _sum(totals, js, "task_ms") / 1000.0,
                f"{q}.shuffle_mb": _sum(totals, js, "shuffle_write_bytes") / 1048576.0,
                f"{q}.written_mb": _sum(totals, js, "bytes_written") / 1048576.0,
                f"{q}.files_written": sum(x["files_written"] for x in _within(raw["qes"], c)),
            })
    for q in READS:
        cs = per_query.get(q, [])
        if cs:
            out[f"{q}.s"] = stats.median([(c["end_ms"] - c["start_ms"]) / 1000.0 for c in cs])
    for q in KERNELS:
        cs = per_query.get(q, [])
        out[f"{q}.task_s"] = sum(_sum(totals, jobs_of(c), "task_ms") for c in cs) / 1000.0 / max(1, len(cs))
    out.update({
        "reads.jobs": half["reads"]["jobs"] / passes,
        "reads.gap_s": half["reads"]["gap_s"] / passes,
        "reads.bytes_read": half["reads"]["bytes_read"] / passes,
        "reads.plan_ms": half["reads"]["plan_ms"] / passes,
        "lifecycle.bytes_read": half["lifecycle"]["bytes_read"],
        "lifecycle.plan_ms": half["lifecycle"]["plan_ms"],
    })
    return out


def span_tree(raw):
    """The benchmark spans plus micro-batch and job spans, each with its
    self time (duration minus what its children cover)."""
    spans = [dict(s, kind="benchmark") for s in raw["spans"]]
    next_id = max((s["id"] for s in spans), default=-1) + 1
    leaves = list(spans)

    def innermost(t):
        best = None
        for s in leaves:
            if s["start_ms"] <= t <= s["end_ms"] and (
                    best is None or s["start_ms"] >= best["start_ms"]):
                best = s
        return best

    by_batch = {}
    for p in raw.get("progress", []):
        end = p["ts_ms"] + p["duration_ms"].get("triggerExecution", 0)
        parent = innermost(p["ts_ms"])
        s = {"id": next_id, "parent": parent["id"] if parent else -1,
             "name": f"micro_batch {p['batch_id']}", "kind": "micro_batch",
             "start_ms": p["ts_ms"], "end_ms": end, "input_rows": p["input_rows"],
             "duration_ms": p["duration_ms"]}
        next_id += 1
        by_batch[str(p["batch_id"])] = s
    spans += by_batch.values()
    for j in raw["jobs"]:
        parent = by_batch.get(j["batch_id"]) if j["batch_id"] is not None else None
        parent = parent or innermost(j["start_ms"])
        spans.append({"id": next_id, "parent": parent["id"] if parent else -1,
                      "name": f"job {j['job']}", "kind": "job", "start_ms": j["start_ms"],
                      "end_ms": j["end_ms"] or j["start_ms"]})
        next_id += 1
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["self_ms"] = stats.self_time(s, children.get(s["id"], []))
        s.setdefault("trace_id", raw["workload"])
    return spans


def self_time_by_layer(spans):
    """Self seconds summed per span name (benchmark spans) or kind."""
    out = {}
    for s in spans:
        key = s["name"] if s["kind"] == "benchmark" else s["kind"]
        if s["kind"] == "benchmark" and "half" in s:
            key = "call." + s["half"]
        out[key] = out.get(key, 0.0) + s["self_ms"] / 1000.0
    return out


def measured_only(raw):
    """`raw` with listener records limited to the measured session: from
    the start of the last setup (the one kept) to the end of the run,
    leaving out output checks and the single-core baseline."""
    setups = [s for s in raw["spans"] if s["name"].startswith("setup_")]
    lo = max(s["start_ms"] for s in setups)
    skip = [(s["start_ms"], s["end_ms"]) for s in raw["spans"]
            if s["name"] in ("check", "drain_1core")]

    def keep(x):
        t = x["start_ms"]
        return t >= lo and not any(a <= t <= b for a, b in skip)
    return dict(raw, jobs=[j for j in raw["jobs"] if keep(j)],
                stages=[x for x in raw["stages"] if keep(x)],
                qes=[q for q in raw["qes"] if keep(q)])


def per_layer(raw):
    """(per-layer metrics, trace record) for a traced run."""
    raw = measured_only(raw)
    w = raw["workload"]
    if w == "request_ingest":
        metrics = request_layers(raw)
    elif w == "response_batching":
        metrics = response_layers(raw)
    else:
        metrics = batch_layers(raw)
    spans = span_tree(raw)
    trace = {"workload": w, "seed": raw["seed"], "per_layer": metrics,
             "self_time_s": self_time_by_layer(spans), "spans": spans,
             "counts": {"jobs": len(raw["jobs"]), "stages": len(raw["stages"]),
                        "query_executions": len(raw["qes"]),
                        "micro_batches": len(raw.get("progress", []))}}
    return metrics, trace
