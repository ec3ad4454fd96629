"""Pure metric logic of the benchmark: percentiles, stream-latency
attribution, per-layer aggregation of a traced record. No I/O here, so the
self-tests (test_bench.py) cover all of it."""
import json
import math
import statistics
from datetime import datetime

# percentiles tried, highest first, for the tail figure
TAIL_PERCENTILES = (99, 90, 75)
MIN_BEYOND = 10


def quantile(xs, p):
    """p-th percentile (0-100) with linear interpolation between ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def allows(n, p):
    """True when n samples leave at least ten beyond the p-th percentile."""
    return n * (100 - p) / 100.0 >= MIN_BEYOND


def tail(xs):
    """The highest percentile of TAIL_PERCENTILES that has at least ten
    samples beyond it, as (percentile, value); (50, median) when none has."""
    for p in TAIL_PERCENTILES:
        if allows(len(xs), p):
            return p, quantile(xs, p)
    return 50, quantile(xs, 50)


def geomean(xs):
    """Geometric mean: the aggregate of a set of different queries that
    weighs each query alike (as TPC-H's power test does)."""
    if not xs:
        raise ValueError("no samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def slower_half(xs):
    """The samples above the median (the slowest one for a single sample)."""
    s = sorted(xs)
    return s[len(s) - max(1, len(s) // 2):]


def progress_epoch_ms(p):
    """Start of a trigger, in epoch ms, from a StreamingQueryProgress."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp() * 1000.0


def triggers(progress):
    """Distinct triggers that read input, ordered by batch id, as dicts with
    batch, start_ms, end_ms, rows, and the engine's duration breakdown."""
    seen = {}
    for p in progress:
        if p.get("numInputRows", 0) <= 0:
            continue
        d = p.get("durationMs", {})
        start = progress_epoch_ms(p)
        seen[p["batchId"]] = {
            "batch": p["batchId"], "start_ms": start,
            "end_ms": start + d.get("triggerExecution", 0), "rows": p["numInputRows"],
            "durations": d, "state": p.get("stateOperators", []),
        }
    return [seen[b] for b in sorted(seen)]


def attribute(n_files, lines_per_file, trigs):
    """For each arrival file i (in arrival order), the index of the first
    trigger whose cumulative input rows cover it, or None.

    The file source takes every file present at a trigger and files arrive
    in order, so file i is consumed once the cumulative row count reaches
    (i + 1) * lines_per_file.
    """
    out, cum, t = [], 0, 0
    for i in range(n_files):
        need = (i + 1) * lines_per_file
        while t < len(trigs) and cum + trigs[t]["rows"] < need:
            cum += trigs[t]["rows"]
            t += 1
        out.append(t if t < len(trigs) else None)
    return out


def file_latencies(due_ms, lines_per_file, trigs):
    """Per file: end of its covering trigger minus its scheduled arrival, in
    seconds (None when no trigger covered it)."""
    idx = attribute(len(due_ms), lines_per_file, trigs)
    return [None if k is None else (trigs[k]["end_ms"] - due_ms[i]) / 1000.0
            for i, k in enumerate(idx)]


def backlog(due_ms, lines_per_file, trigs, end_ms):
    """Files not consumed by a trigger that ended by end_ms."""
    idx = attribute(len(due_ms), lines_per_file, trigs)
    return sum(1 for k in idx if k is None or trigs[k]["end_ms"] > end_ms)


def capacity(due_ms, lines_per_file, trigs, warmup_files):
    """Lines per second of trigger execution over the triggers that consumed
    the measured (post-warm-up) arrivals: the rate the topology would
    sustain running triggers back to back."""
    idx = attribute(len(due_ms), lines_per_file, trigs)
    first = idx[warmup_files]
    used = [t for t in trigs[first:] if t["durations"].get("triggerExecution", 0) > 0]
    busy_s = sum(t["durations"]["triggerExecution"] for t in used) / 1000.0
    return sum(t["rows"] for t in used) / busy_s


def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def parse_progress(raw):
    return [json.loads(p) if isinstance(p, str) else p for p in raw]


def _union_s(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per layer, the summed self time of its spans: each span's duration
    minus the part of it that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = _union_s([(max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
                          for c in kids.get(s["id"], []) if c["end_s"] > c["start_s"]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end_s"] - s["start_s"]) - cover
    return out


def layer_metrics(rec):
    """The per-layer metrics of one traced harness record.

    Counts and times are per operation of the measured window (a query for
    surface_sf01, a job for corpus_10x, a trigger for crane_stream) so runs
    of different lengths compare; set-up figures are medians over the run's
    set-ups.
    """
    tr = rec["trace_record"]
    cores = tr["cores"]
    spans = tr["spans"]
    measure = {s["id"] for s in spans if s["phase"] == "measure"}
    jobs = [j for j in tr["jobs"] if j["span"] in measure or
            (j["span"] == 0 and j["stream_run"] and j["batch"] >= 0)]
    job_ids = {j["job"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in job_ids]
    ops = [o for o in rec.get("ops", []) if o["ok"]]
    ol = rec.get("open_loop", {})
    cl = rec.get("closed_loop", {})
    # trigger records as the StreamingQueryListener delivered them
    heard = parse_progress(tr["progress"])
    wc_trigs = triggers([p for p in heard if p["runId"] == ol.get("run_id")])
    in_trigs = triggers([p for p in heard if p["runId"] == cl.get("run_id")])
    all_trigs = wc_trigs + in_trigs
    # streaming.* describe the open-loop triggers that consumed measured
    # arrivals; the ingest triggers are the sources.* figures
    if wc_trigs:
        first = attribute(len(ol["due_ms"]), ol["lines_per_file"], wc_trigs)[ol["warmup_files"]]
        wc_trigs = wc_trigs[first:]
    if rec["workload"] == "corpus_10x":
        n_ops = len(rec["job_s"])
    elif rec["workload"] == "crane_stream":
        n_ops = len(all_trigs)
    else:
        n_ops = len(ops)
    n_ops = max(1, n_ops)

    def per_op(x):
        return x / n_ops

    build_spans = {s["id"] for s in spans if s["id"] in measure and s["name"] == "build"}
    task_s = sum(s["run_ms"] for s in stages) / 1000.0
    exec_wall = _union_s([(j["start_s"], j["end_s"]) for j in jobs if j["end_s"] >= j["start_s"]])
    mb = 1024.0 * 1024.0
    setups = rec.get("setups", [])
    m = {
        "core.session_s": med([s["session_s"] for s in setups]),
        "core.layout_s": med([s["layout_s"] for s in setups]),
        "core.warm_s": rec["warm_s"],
        "operators.build_s": per_op(sum(o["build_s"] for o in ops)),
        "operators.build_jobs": per_op(sum(1 for j in jobs if j["span"] in build_spans)),
        "plans.plan_s": per_op(sum(o["plan_s"] for o in ops)),
        "exec.exec_s": per_op(exec_wall),
        "exec.jobs": per_op(len(jobs)),
        "exec.stages": per_op(len(stages)),
        "exec.tasks": per_op(sum(s["tasks"] for s in stages)),
        "exec.task_s": per_op(task_s),
        "exec.idle_core_s": per_op(max(0.0, exec_wall * cores - task_s)),
        "exec.cpu_s": per_op(sum(s["cpu_ns"] for s in stages) / 1e9),
        "exec.gc_s": per_op(sum(s["gc_ms"] for s in stages) / 1000.0),
        "exec.shuffle_read_mb": per_op(sum(s["shuffle_read"] for s in stages) / mb),
        "exec.shuffle_write_mb": per_op(sum(s["shuffle_write"] for s in stages) / mb),
        "exec.spill_mb": per_op(sum(s["spill"] for s in stages) / mb),
        "exec.peak_task_mem_mb": max([s["peak_mem"] for s in stages], default=0) / mb,
        "exec.input_mb": per_op(sum(s["input"] for s in stages) / mb),
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
    }
    dur = lambda t, k: t["durations"].get(k, 0)
    trig_ms = [dur(t, "triggerExecution") for t in wc_trigs]
    state = [op for t in wc_trigs for op in t["state"]]
    m.update({
        "streaming.planning_ms": med([dur(t, "queryPlanning") for t in wc_trigs]),
        "streaming.get_batch_ms": med([dur(t, "getBatch") for t in wc_trigs]),
        "streaming.wal_commit_ms": med([dur(t, "walCommit") for t in wc_trigs]),
        "streaming.trigger_p50_ms": quantile(trig_ms, 50) if trig_ms else 0.0,
        "streaming.trigger_p90_ms": quantile(trig_ms, 90) if trig_ms else 0.0,
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_mem_mb": max([s["memoryUsedBytes"] for s in state], default=0) / mb,
        "streaming.state_commit_ms": med([s.get("commitTimeMs", 0) for s in state]),
        "streaming.triggers": len(wc_trigs),
        "streaming.rows_per_trigger": (sum(t["rows"] for t in wc_trigs) / len(wc_trigs)
                                       if wc_trigs else 0.0),
        "sources.ingest_docs_per_s": cl["docs"] / cl["drain_s"] if cl else 0.0,
        "sources.versions_written": len(cl.get("versions", [])),
        "sources.add_batch_ms": med([dur(t, "addBatch") for t in in_trigs]),
        "sources.mb_written_per_input_mb": (cl["store_bytes"] / cl["input_bytes"]
                                            if cl.get("input_bytes") else 0.0),
    })
    return m, self_times([s for s in spans if s["phase"] == "measure"])
