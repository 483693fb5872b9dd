"""Turn one run record (and, for traced runs, its spans and stream progress)
into the metrics named in BENCHMARK.json.

Pure functions only, so the self-test can drive them with hand-made records.
"""
import datetime
import json
import math

# Engine packages whose queries batch_hot runs, by dashboard family.
GROUPS = {
    "analytics": "bi", "cdc": "bi", "quality": "bi", "lakehouse": "bi",
    "text": "curation", "dedup": "curation", "similarity": "curation",
    "multimodal": "curation",
}
STREAM_QUERIES = ("funnel", "sessions", "dlq")


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list,
    the same definition as numpy's default and Python's
    statistics.quantiles(method="inclusive")."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def beyond(n, q):
    """How many of n samples lie beyond the q-th percentile."""
    return int(math.floor(n * (100 - q) / 100.0))


def _secs(ns):
    return ns / 1e9


def latency_s(op):
    """Open-loop ops run from their due time, closed-loop ops from start."""
    begin = op["due_ns"] if op["due_ns"] > 0 else op["start_ns"]
    return _secs(op["end_ns"] - begin)


def primary_kind(workload):
    return {"batch_hot": "query", "cdc_lambda": "read", "speed_stream": "file"}[workload]


def counts_summary(record):
    ops = record["ops"]
    checks = record["checks"]
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    attempted = len(ops) + len(checks)
    correct = bool(checks) and all(c["ok"] for c in checks) and failed == 0
    return correct, attempted, failed


def primary_latencies(record):
    """Latency samples behind latency_p50_s. batch_hot's queries differ in
    cost by 4x, so each query contributes one value, the median of its runs
    in the window; the median then does not depend on how far into a second
    pass the window reached."""
    wl = record["workload"]
    ok = [o for o in record["ops"] if o["kind"] == primary_kind(wl) and o["ok"]]
    if wl != "batch_hot":
        return [latency_s(o) for o in ok]
    per_query = {}
    for o in ok:
        per_query.setdefault(o["name"], []).append(latency_s(o))
    return [median(v) for v in per_query.values()]


def end_to_end(record):
    """Every end-to-end metric, for any workload."""
    wl = record["workload"]
    ops = record["ops"]
    prim = primary_latencies(record)
    window_s = _secs(record["window_end_ns"] - record["window_start_ns"])
    if wl == "batch_hot":
        throughput = sum(1 for o in ops if o["kind"] == "query" and o["ok"]) / window_s
    elif wl == "cdc_lambda":
        changes = sum(o["attrs"]["changes"] for o in ops if o["kind"] == "cycle" and o["ok"])
        throughput = changes / window_s
    else:
        files = [o for o in ops if o["kind"] == "file" and o["ok"]]
        span = _secs(max(o["end_ns"] for o in files) - min(o["due_ns"] for o in files))
        throughput = sum(o["attrs"]["valid_events"] for o in files) / span
    return {
        "setup_s": record["session_s"] + median(record["setup_s"]),
        "peak_rss_mb": record["peak_rss_mb"],
        "latency_p50_s": median(prim),
        "throughput_per_s": throughput,
    }


def _dur(span):
    return _secs(span["end_ns"] - span["start_ns"])


def _med(xs):
    return median(xs) if xs else 0.0


def _batch_layers(record, spans, cores):
    out = {}
    queries = [s for s in spans if s["name"] == "query"]
    if not queries:
        return out
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    runs, module = {}, {}
    for s in queries:
        q = s["attrs"]["query"]
        module[q] = s["attrs"]["module"]
        part = {c["name"]: _dur(c) for c in kids.get(s["id"], [])}
        c = s["counts"]
        runs.setdefault(q, []).append({
            "s": _dur(s), "build_s": part.get("build", 0.0), "exec_s": part.get("exec", 0.0),
            "task_s": c["task_s"], "shuffle_mb": c["shuffle_mb"], "spill_mb": c["spill_mb"],
            "jobs": c["jobs"], "tasks": c["tasks"], "gc_s": s["gc_s"]})
    # One full pass: each query's median over the window, summed. So the
    # queries that happen to land in a partial last pass do not tilt a sum.
    per = {q: {k: median([r[k] for r in rs]) for k in rs[0]} for q, rs in runs.items()}

    def total(key, keep=lambda q: True):
        return sum(v[key] for q, v in per.items() if keep(q))
    for mod in GROUPS:
        for key in ("s", "task_s", "shuffle_mb"):
            out[f"batch.{mod}.{key}"] = total(key, lambda q: module[q] == mod)
    for q, v in per.items():
        out[f"q.{q}.s"] = v["s"]
    for key in ("build_s", "exec_s", "jobs", "tasks", "gc_s", "spill_mb"):
        out[f"batch.{key}"] = total(key)
    window_s = _secs(record["window_end_ns"] - record["window_start_ns"])
    out["batch.cores_busy"] = sum(s["counts"]["task_s"] for s in queries) / (window_s * cores)
    out["batch_total_s"] = total("s")
    for g in ("bi", "curation"):
        out[f"{g}_query_s"] = total("s", lambda q: GROUPS[module[q]] == g)
    out["query_p50_s"] = median([v["s"] for v in per.values()])
    return out


def _lambda_layers(record, spans):
    out = {}
    cycles = [s for s in spans
              if s["name"] == "cycle" and s["start_ns"] >= record["window_start_ns"]]
    if cycles:
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def child(name):
            return [c for s in cycles for c in kids.get(s["id"], []) if c["name"] == name]
        changes = sum(s["attrs"]["changes"] for s in cycles)
        bronze, merge, refresh, serve = (child(n) for n in ("bronze", "merge", "refresh", "serve"))
        out["lambda.bronze_s"] = _med([_dur(s) for s in bronze])
        out["lambda.bronze_eps"] = changes / max(sum(_dur(s) for s in bronze), 1e-9)
        out["lambda.merge_s"] = _med([_dur(s) for s in merge])
        out["lambda.merge.task_s"] = _med([s["counts"]["task_s"] for s in merge])
        out["lambda.merge.rows_written_per_change"] = \
            sum(s["counts"]["rows_written"] for s in merge) / changes
        out["lambda.bytes_written_per_input_byte"] = \
            sum(s["counts"]["bytes_written"] for s in cycles) / \
            max(sum(s["counts"]["bytes_written"] for s in bronze), 1)
        out["lambda.refresh_s"] = _med([_dur(s) for s in refresh])
        out["lambda.refresh.task_s"] = _med([s["counts"]["task_s"] for s in refresh])
        out["lambda.refresh.rows_read_per_change"] = \
            sum(s["counts"]["rows_read"] for s in refresh) / changes
        out["lambda.serve_s"] = _med([_dur(s) for s in serve])
        out["lambda.gc_s"] = _med([s["gc_s"] for s in cycles])
    for kind in ("dash", "lookup"):
        reads = [s for s in spans if s["name"] == f"read.{kind}"]
        out[f"read.{kind}_s"] = _med([_dur(s) for s in reads])
    reads = [s for s in spans if s["name"].startswith("read.")]
    out["read.queue_s"] = _med([(s["counts"]["first_task_ms"] - s["start_ms"]) / 1e3
                                for s in reads if s["counts"]["first_task_ms"] > 0])
    ops = record["ops"]
    cyc = [o for o in ops if o["kind"] == "cycle" and o["ok"]]
    rd = [o for o in ops if o["kind"] == "read"]
    if cyc:
        out["cdc_cycle_p50_s"] = median([latency_s(o) for o in cyc])
        out["cdc_apply_eps"] = end_to_end(record)["throughput_per_s"]
    if rd:
        out["read.gen_late_s"] = percentile([_secs(o["start_ns"] - o["due_ns"]) for o in rd], 90)
        ok = [latency_s(o) for o in rd if o["ok"]]
        out["read_p50_s"] = median(ok)
        out["read_p90_s"] = percentile(ok, 90)
    return out


def _iso_ms(ts):
    t = datetime.datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return t.timestamp() * 1e3


def _stream_layers(record, spans, progress):
    out = {}
    ops = [o for o in record["ops"] if o["kind"] == "file"]
    if not ops:
        return out
    lo, hi = record["window_start_ms"], record["window_end_ms"]
    wall_s = (hi - lo) / 1e3
    for q in STREAM_QUERIES:
        ps = [p for p in progress if p.get("name") == q and lo <= _iso_ms(p["timestamp"]) <= hi]
        data = [p for p in ps if p.get("numInputRows", 0) > 0]
        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in ps) / 1e3
        busy_data = sum(p["durationMs"].get("triggerExecution", 0) for p in data) / 1e3

        def dur(key):
            return _med([p["durationMs"].get(key, 0) for p in data])
        state = [p.get("stateOperators", []) for p in data]
        out[f"stream.{q}.busy_share"] = busy / wall_s
        out[f"stream.{q}.batches"] = len(data)
        out[f"stream.{q}.rows_per_busy_s"] = \
            sum(p["numInputRows"] for p in data) / busy_data if busy_data else 0.0
        out[f"stream.{q}.plan_ms"] = dur("queryPlanning")
        out[f"stream.{q}.add_batch_ms"] = dur("addBatch")
        out[f"stream.{q}.commit_ms"] = dur("commitOffsets")
        out[f"stream.{q}.state_rows"] = \
            sum(o.get("numRowsTotal", 0) for o in state[-1]) if state else 0
        out[f"stream.{q}.state_commit_ms"] = \
            _med([sum(o.get("commitTimeMs", 0) for o in s) for s in state])
    mv = [s for s in spans if s["name"] == "mv_update"
          and record["window_start_ns"] <= s["start_ns"] <= record["window_end_ns"]]
    out["stream.mv_update_ms"] = _med([_dur(s) * 1e3 for s in mv])
    out["stream.producer_late_s"] = percentile(
        [_secs(o["start_ns"] - o["due_ns"]) for o in ops], 90)
    ok = [latency_s(o) for o in ops if o["ok"]]
    if ok:
        out["stream_e2e_p50_s"] = median(ok)
        out["stream_e2e_p90_s"] = percentile(ok, 90)
        out["stream_eps"] = end_to_end(record)["throughput_per_s"]
    return out


def per_layer(record, spans, progress, names):
    """Every per-layer metric in `names`; a layer the workload does not
    exercise reads 0."""
    _, attempted, failed = counts_summary(record)
    found = {"error_rate": failed / attempted, "trace.spans": len(spans)}
    found.update(_batch_layers(record, spans, record["cores"]))
    found.update(_lambda_layers(record, spans))
    found.update(_stream_layers(record, spans, progress))
    prim = primary_latencies(record)
    found["trace.latency_p50_s"] = median(prim) if prim else 0.0
    return {n: found.get(n, 0.0) for n in names}


def result_line(correct, attempted, failed, values, units):
    """The final stdout line: exactly correct/attempted/failed/metrics."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    })


def parse_result_line(text, names):
    """Parse and validate the last line of a run's stdout against the
    metric names it must carry; returns the parsed object."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError(f"{k} is not a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted < 1")
    if set(obj["metrics"]) != set(names):
        raise ValueError(f"metric names differ: {sorted(set(obj['metrics']) ^ set(names))}")
    for n, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {n}: {m}")
    return obj
