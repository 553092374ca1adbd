"""Metrics from a harness run record.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run, whose spans, jobs and tasks are attributed here:

- a job belongs to the span named by its job group when that span was
  open at the job's submission time, else to the innermost span open at
  that time (jobs started from pooled threads carry a stale group);
- a stage belongs to the first job that lists it, a task to its stage;
- a span's self time is its duration minus the part of it that its child
  spans cover; its idle time is the part of its self time during which
  none of its tasks ran, i.e. the time its work waited on the driver.

Layer metrics are per traced operation (sums divided by the number of
traced operations); ratios are ratios of sums. `trace.accounted_ratio`
is the layers' summed self time over the traced operations' time; the
rest is `trace.harness_s`, the glue between layer calls, plus the
operation's untraced set-up (e.g. clearing its output directory).
"""
LAYERS = ("tables", "ingest", "html", "sentiment", "analytics",
          "representatives", "risk", "serving", "artifacts", "dedup",
          "streams", "similarity")
LAYER_METRICS = (("self_s", "s"), ("task_s", "s"), ("idle_s", "s"),
                 ("jobs", "count"), ("tasks", "count"),
                 ("shuffle_bytes", "B"), ("rows_out", "rows"))
EXTRA_METRICS = (
    ("ingest.fetch_failed", "count"), ("ingest.fetch_retries", "count"),
    ("html.blocks_kept_ratio", "ratio"),
    ("artifacts.bytes_written", "B"), ("artifacts.files_written", "count"),
    ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
    ("dedup.verify_yield", "ratio"),
    ("streams.bytes_written", "B"), ("streams.snapshot_bytes", "B"),
    ("similarity.rows_examined_per_result", "ratio"),
    ("similarity.delta_rows", "rows"), ("similarity.compact_s", "s"),
    ("iter.leftover_rdds", "count"),
    ("spark.gc_s", "s"), ("spark.spill_bytes", "B"),
    ("spark.peak_exec_mem_mb", "MB"),
    ("trace.overhead_ratio", "ratio"), ("trace.harness_s", "s"),
    ("trace.accounted_ratio", "ratio"),
)
PER_LAYER = tuple((f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS) + EXTRA_METRICS

# The end-to-end metrics BENCHMARK.json gates with a bound. A run also
# prints, ungated, op_p90_s and write_p50_s (too few samples per run),
# queries_per_s (vector_search's docs_per_s) and error_rate (0 when all
# is well).
END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("docs_per_s", "docs/s"),
              ("write_amp", "ratio"), ("stored_bytes_ratio", "ratio"),
              ("peak_rss_mb", "MB"))


# -------------------------------------------------------------- intervals

def union(iv):
    """Merged, sorted list of (lo, hi) intervals."""
    out = []
    for lo, hi in sorted(i for i in iv if i[1] > i[0]):
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def length(iv):
    return sum(hi - lo for lo, hi in iv)


def subtract(a, b):
    """Intervals of `a` not covered by `b` (both merged)."""
    out, b = [], union(b)
    for lo, hi in union(a):
        cur = lo
        for blo, bhi in b:
            if bhi <= cur or blo >= hi:
                continue
            if blo > cur:
                out.append((cur, blo))
            cur = max(cur, bhi)
        if cur < hi:
            out.append((cur, hi))
    return out


def span_self(spans):
    """{span id: self intervals}, in seconds: each span's interval minus
    what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: subtract([(s["start_us"] / 1e6, s["end_us"] / 1e6)],
                              [(k["start_us"] / 1e6, k["end_us"] / 1e6)
                               for k in kids.get(s["id"], [])])
            for s in spans}


def attribute_jobs(spans, jobs, slack_us=1000):
    """{job id: span id} by job group, falling back to submission time."""
    by_id = {s["id"]: s for s in spans}

    def contains(s, t, slack):
        return s["start_us"] - slack <= t <= s["end_us"] + slack

    out = {}
    for j in jobs:
        t = j["t_ms"] * 1000
        g = j.get("group") or ""
        sid = int(g[5:]) if g.startswith("span-") and g[5:].isdigit() else None
        if sid in by_id and contains(by_id[sid], t, slack_us):
            out[j["job"]] = sid
            continue
        for slack in (0, slack_us):
            open_ = [s for s in spans if contains(s, t, slack)]
            if open_:
                out[j["job"]] = max(open_, key=lambda s: s["start_us"])["id"]
                break
    return out


# ------------------------------------------------------------- statistics

def percentile(xs, q):
    """Linear interpolation between closest ranks (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _div(a, b):
    return a / b if b else 0.0


# ---------------------------------------------------------------- summary

def _failed_ops(run, verdicts):
    bad = {}
    for o in run["ops"]:
        if o["error"]:
            bad[(o["id"], o["traced"])] = o["error"]
    for v in verdicts:
        if not v["ok"] and v["op"] is not None:
            for o in run["ops"]:
                if o["id"] == v["op"]:
                    bad.setdefault((o["id"], o["traced"]), v["detail"])
    return bad


def summarize(workload, run, verdicts, traced):
    bad = _failed_ops(run, verdicts)
    ops = [dict(o, failed=(o["id"], o["traced"]) in bad) for o in run["ops"]]
    # the vector_search compaction runs between operations: one more
    # attempt, failed if it threw
    compactions = int(run.get("compact_s") is not None or bool(run.get("compact_error")))
    run_level = [f"compaction: {run['compact_error']}"] if run.get("compact_error") else []
    attempted = len(ops) + compactions
    failed = len(bad) + len(run_level)
    errors = (list(bad.values()) + run_level)[:5]
    samples = {}
    if traced:
        metrics = _layer_metrics(workload, run, ops, samples)
    else:
        metrics = _end_to_end(workload, run, ops, samples)
    gated = {k for k, _ in (PER_LAYER if traced else END_TO_END)}
    result = {
        "correct": failed == 0 and any(v["ok"] for v in verdicts),
        "attempted": max(attempted, 1), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, v, u in metrics if k in gated},
    }
    plain = [o for o in ops if not o["traced"]]
    report = {
        "error_rate": _div(failed, max(attempted, 1)), "errors": errors,
        "reported": {k: {"value": v, "unit": u} for k, v, u in metrics if k not in gated},
        "samples": samples,
        "checks": {"run": len(verdicts), "failed": len([v for v in verdicts if not v["ok"]])},
        "isolation": {
            "leftover_rdds_per_op": _div(sum(o["parts"].get("leftover_rdds", 0) for o in plain),
                                         len(plain)),
            "conf_changed": sorted({k for o in plain for k in o.get("conf_changed", [])}),
        },
    }
    return result, report


def _end_to_end(workload, run, ops, samples):
    ok = [o for o in ops if not o["failed"] and not o["traced"]]
    prim = [o for o in ok if o["primary"]]
    secs = [o["seconds"] for o in prim]
    if workload == "review_job":
        writes = [o["parts"]["ingest_write"] for o in prim]
    elif workload == "corpus_dedup":
        writes = secs
    else:
        writes = [o["seconds"] for o in ok if o["kind"] == "append"]
    written_in = sum(o["input_bytes"] for o in ops if not o["traced"])
    s = run["setup"]
    for k, n in (("op_p50_s", len(secs)), ("op_p90_s", len(secs)),
                 ("docs_per_s", len(secs)), ("write_p50_s", len(writes)),
                 ("queries_per_s", len(secs))):
        samples[k] = n
    return [
        ("setup_s", s["session_s"] + s["workload_s"] + s["warmup_s"], "s"),
        ("op_p50_s", percentile(secs, 0.5), "s"),
        ("op_p90_s", percentile(secs, 0.9), "s"),
        ("docs_per_s", _div(sum(o["docs"] for o in prim), sum(secs)), "docs/s"),
        ("write_p50_s", percentile(writes, 0.5), "s"),
        ("write_amp", _div(run["output_bytes"], written_in), "ratio"),
        ("stored_bytes_ratio", _div(run["stored_bytes"], run["total_input_bytes"]), "ratio"),
        ("peak_rss_mb", run["peak_rss_mb"], "MB"),
    ] + ([("queries_per_s", _div(len(secs), sum(secs)), "q/s")]
         if workload == "vector_search" else [])


def _layer_metrics(workload, run, ops, samples):
    td = run["trace_data"]
    spans = [s for s in td["spans"] if s["end_us"] >= 0]
    traced_ok = {o["id"] for o in ops if o["traced"] and not o["failed"]}
    n = len(traced_ok)
    in_op = [s for s in spans if s["op"] in traced_ok]
    selfs = span_self(spans)
    job_span = attribute_jobs(spans, td["jobs"])
    stage_span = {}
    for j in sorted(td["jobs"], key=lambda j: j["job"]):
        for st in j["stages"]:
            if j["job"] in job_span:
                stage_span.setdefault(st, job_span[j["job"]])
    tasks_of = {}
    for t in td["tasks"]:
        sid = stage_span.get(t["stage"])
        if sid is not None:
            tasks_of.setdefault(sid, []).append(t)
    jobs_of = {}
    for j, sid in job_span.items():
        jobs_of[sid] = jobs_of.get(sid, 0) + 1

    acc = {f"{l}.{m}": 0.0 for l in LAYERS for m, _ in LAYER_METRICS}
    op_spill, op_peak = {}, {}
    for s in in_op:
        ts = tasks_of.get(s["id"], [])
        for t in ts:
            op_spill[s["op"]] = op_spill.get(s["op"], 0) + t["spill"]
            op_peak[s["op"]] = max(op_peak.get(s["op"], 0), t["peak_mem"])
        if s["name"] not in LAYERS:
            continue
        busy = [(t["launch_ms"] / 1e3, t["finish_ms"] / 1e3) for t in ts]
        p = s["name"] + "."
        acc[p + "self_s"] += length(selfs[s["id"]])
        acc[p + "task_s"] += sum(t["run_ms"] for t in ts) / 1e3
        acc[p + "idle_s"] += length(subtract(selfs[s["id"]], busy))
        acc[p + "jobs"] += jobs_of.get(s["id"], 0)
        acc[p + "tasks"] += len(ts)
        acc[p + "shuffle_bytes"] += sum(t["shuffle_write"] for t in ts)
        acc[p + "rows_out"] += s["rows"] + sum(t["out_records"] for t in ts)
    out = [(k, _div(acc[k], n), u) for k, u in PER_LAYER if k in acc]

    counters = {}
    for c in td["counters"]:
        if c["op"] in traced_ok or c["op"] == -1:
            counters[c["name"]] = counters.get(c["name"], 0.0) + c["value"]

    def per_op(name):
        return _div(counters.get(name, 0.0), n)

    def span_tasks(layer, key, ops_filter=None):
        return sum(t[key] for s in in_op if s["name"] == layer
                   and (ops_filter is None or s["op"] in ops_filter)
                   for t in tasks_of.get(s["id"], []))

    query_ops = {c["op"] for c in td["counters"] if c["name"] == "similarity.results"}
    plain = [o for o in ops if not o["traced"] and not o["failed"] and o["primary"]]
    traced = [o for o in ops if o["traced"] and not o["failed"] and o["primary"]]
    t_med = percentile([o["seconds"] for o in traced], 0.5)
    p_med = percentile([o["seconds"] for o in plain], 0.5)
    op_self = sum(length(selfs[s["id"]]) for s in in_op if s["name"] == "op")
    layer_self = sum(acc[f"{l}.self_s"] for l in LAYERS)
    traced_secs = sum(o["seconds"] for o in ops if o["traced"] and not o["failed"])
    out += [
        ("ingest.fetch_failed", per_op("ingest.fetch_failed"), "count"),
        ("ingest.fetch_retries", per_op("ingest.fetch_retries"), "count"),
        ("html.blocks_kept_ratio", _div(counters.get("html.kept", 0), counters.get("html.blocks", 0)), "ratio"),
        ("artifacts.bytes_written", per_op("artifacts.bytes_written"), "B"),
        ("artifacts.files_written", per_op("artifacts.files_written"), "count"),
        ("dedup.candidate_pairs", per_op("dedup.candidate_pairs"), "count"),
        ("dedup.verified_pairs", per_op("dedup.verified_pairs"), "count"),
        ("dedup.verify_yield", _div(counters.get("dedup.verified_pairs", 0),
                                    counters.get("dedup.candidate_pairs", 0)), "ratio"),
        ("streams.bytes_written", _div(span_tasks("streams", "out_bytes"), n), "B"),
        ("streams.snapshot_bytes", per_op("streams.snapshot_bytes"), "B"),
        ("similarity.rows_examined_per_result",
         _div(span_tasks("similarity", "in_records", query_ops),
              counters.get("similarity.results", 0)), "ratio"),
        ("similarity.delta_rows", counters.get("similarity.delta_rows", 0.0), "rows"),
        ("similarity.compact_s", counters.get("similarity.compact_s", 0.0), "s"),
        ("iter.leftover_rdds", _div(sum(o["parts"].get("leftover_rdds", 0) for o in ops
                                        if not o["traced"]), len([o for o in ops if not o["traced"]])), "count"),
        ("spark.gc_s", _div(sum(o["parts"].get("gc_s", 0) for o in ops
                                if o["traced"] and not o["failed"]), n), "s"),
        ("spark.spill_bytes", _div(sum(op_spill.values()), n), "B"),
        ("spark.peak_exec_mem_mb", _div(sum(op_peak.values()), n) / 2**20, "MB"),
        ("trace.overhead_ratio", _div(t_med or 0, p_med or 0), "ratio"),
        ("trace.harness_s", _div(op_self, n), "s"),
        ("trace.accounted_ratio", _div(layer_self, traced_secs), "ratio"),
    ]
    samples["traced_ops"] = n
    samples["trace.overhead_ratio"] = min(len(traced), len(plain))
    return out
