#!/usr/bin/env python3
"""The repository's benchmark: workloads on local[4], one process and one
client each, every output checked against an independent answer.

    python3 perfbench/run.py --workload surface_sf01 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/harness, sbt) into `.bench_build/`; inputs are made from
the seed (perfbench/gen.py) and cached there by seed. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics; the last stdout line
is one JSON object {correct, attempted, failed, metrics}. `--all` runs every
workload untraced and then traced, prints every metric by name with its unit
and the tracing overhead (traced minus untraced). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("surface_sf01", "crane_stream")   # the ones BENCHMARK.json lists
EXTRA_WORKLOADS = ("corpus_10x",)               # runnable by hand, see README.md
BOUND_CORES = 4            # the core count the bounds were set on
SETUPS = 3                 # set-ups per run; setup_s is their median
OPEN_LOOP_RATE = 10.0      # arrival files per second (500 lines each)
OPEN_LOOP_TRIGGER_MS = 1000  # word-count micro-batch interval
OPEN_LOOP_WARMUP_S = 3     # first arrivals that warm the topology, not measured
INGEST_FILES = 2           # closed-loop ingest batches (one per trigger)
CORPUS_BASE_SF = 0.01      # corpus_10x replicates this base ten times
CORPUS_COPIES = 10
JVM_TIMEOUT_S = 170
JVM_FLAGS = [
    # a fixed heap, so the resident set tracks the program, not heap resizing
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

# end-to-end metrics: name -> unit (directions and bounds: BENCHMARK.json)
END_TO_END = {
    "setup_s": "s", "latency_s": "s", "latency_tail_s": "s",
    "throughput_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "core.session_s": "s", "core.layout_s": "s", "core.warm_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count", "plans.plan_s": "s",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.idle_core_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.peak_task_mem_mb": "MB", "exec.input_mb": "MB", "exec.failed_tasks": "count",
    "streaming.planning_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.trigger_p50_ms": "ms",
    "streaming.trigger_p90_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB", "streaming.state_commit_ms": "ms",
    "streaming.triggers": "count", "streaming.rows_per_trigger": "count",
    "sources.ingest_docs_per_s": "1/s", "sources.versions_written": "count",
    "sources.add_batch_ms": "ms",
    "sources.mb_written_per_input_mb": "ratio",
}


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def source_files(root):
    for base in ("src/main", "project", "perfbench/harness/src", "perfbench/harness/project"):
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)
    yield os.path.join(root, "build.sbt")
    yield os.path.join(root, "perfbench/harness/build.sbt")


def build(root, cache):
    """Compile program and harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(cache, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["fingerprint"] == h.hexdigest():
            return b["classpath"]
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench/harness"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": h.hexdigest(), "classpath": cp}, fh)
    return cp


def run_jvm(cp, args, run_dir, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["TMPDIR"] = tmp
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "perfbench.Harness"] + args
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"perfbench: harness exceeded {timeout} s")
    if p.returncode != 0:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")
    return out


def surface_names(cp, cache):
    f = os.path.join(cache, "surface_names.txt")
    if not os.path.exists(f):
        with open(f + ".tmp", "w") as fh:
            fh.write(run_jvm(cp, ["--list"], os.path.join(cache, "list")))
        os.replace(f + ".tmp", f)
    with open(f) as fh:
        return [x.strip() for x in fh if x.strip()]


# ---- inputs --------------------------------------------------------------

def ensure(path, make):
    """Make `path` with make(tmp_path) unless it exists; atomic publish."""
    if not os.path.exists(path):
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
    return path


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def warmup_files():
    return math.ceil(OPEN_LOOP_WARMUP_S * OPEN_LOOP_RATE)


def inputs(workload, seed, seconds, cache, names):
    """Generate (or reuse) the seed's inputs; each workload gets only the
    tables it reads, so set-up lays out nothing it does not use."""
    d = os.path.join(cache, "inputs", f"{workload}-s{seed}")
    os.makedirs(d, exist_ok=True)

    def tables(name, sf, only=gen.TABLES):
        return ensure(os.path.join(d, name), lambda p: gen.tables(p, sf, seed, only))

    if workload == "surface_sf01":
        tables("sf0.1", 0.1, TPCH_TABLES)
        with open(os.path.join(d, "order.txt"), "w") as fh:
            fh.write("\n".join(gen.query_order(names, seed)) + "\n")
    elif workload == "corpus_10x":
        tables("base", CORPUS_BASE_SF)
        tables("sf0.001", 0.001)
    else:
        sf = tables("sf0.1", 0.1, ("documents",))
        n_files = warmup_files() + math.ceil(seconds * OPEN_LOOP_RATE)
        feed = ensure(os.path.join(d, f"feed-{n_files}"),
                      lambda p: gen.arrival_feed(p, oracle.doc_texts(sf), n_files, seed))
        link = os.path.join(d, "feed")
        if os.path.islink(link):
            os.remove(link)
        os.symlink(os.path.basename(feed), link)
    return d


# ---- metrics -------------------------------------------------------------

def host_facts():
    mem = ""
    try:
        with open("/proc/meminfo") as fh:
            mem = next((x.split(":")[1].strip() for x in fh if x.startswith("MemTotal")), "")
    except OSError:
        pass
    n = os.cpu_count()
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    return {"nproc": n, "mem_total": mem, "bound_cores": BOUND_CORES,
            "core_count_differs": n != BOUND_CORES}


def end_to_end(rec, ndocs):
    """End-to-end metrics of one untraced (or traced) harness record, with
    the workload-specific names of the note beside the generic ones."""
    w = rec["workload"]
    setups = [s["session_s"] + s["layout_s"] for s in rec["setups"]]
    out = {"setup_s": M.med(setups), "peak_rss_mb": rec["peak_rss_mb"]}
    extra = {}
    if w == "surface_sf01":
        lat = [o["latency_s"] for o in rec["ops"] if o["ok"]]
        # one sample per query of the round, each a different query: the
        # median is one query's single execution, the geometric means weigh
        # every query alike
        p, t = M.tail(lat)
        out.update(latency_s=M.geomean(lat), latency_tail_s=M.geomean(M.slower_half(lat)),
                   throughput_per_s=len(lat) / rec["measure_s"])
        extra = {"query_p50_s": M.quantile(lat, 50), f"query_p{p}_s": t,
                 "surface_qps": out["throughput_per_s"], "samples": len(lat),
                 "warm_pass_s": rec["warm_s"]}
    elif w == "corpus_10x":
        jobs = rec["job_s"]
        steps = {}
        for o in rec["ops"]:
            steps.setdefault(o["name"], []).append(o["latency_s"])
        out.update(latency_s=M.med(jobs), latency_tail_s=max(jobs),
                   throughput_per_s=ndocs / M.med(jobs))
        extra = {"job_s": out["latency_s"], "jobs": len(jobs),
                 "step_s": {k: M.med(v) for k, v in steps.items()}}
    else:
        ol, cl = rec["open_loop"], rec["closed_loop"]
        trigs = M.triggers(M.parse_progress(ol["progress"]))
        lat = [x for x in M.file_latencies(ol["due_ms"], ol["lines_per_file"], trigs)
               [ol["warmup_files"]:] if x is not None]
        p, t = M.tail(lat)
        out.update(latency_s=M.quantile(lat, 50), latency_tail_s=t,
                   throughput_per_s=M.capacity(ol["due_ms"], ol["lines_per_file"], trigs,
                                               ol["warmup_files"]))
        late = [(w_ - d) / 1000.0 for w_, d in zip(ol["wrote_ms"], ol["due_ms"])]
        extra = {"stream_p50_s": out["latency_s"], f"stream_p{p}_s": t,
                 "samples": len(lat),
                 "stream_backlog_files": M.backlog(ol["due_ms"], ol["lines_per_file"], trigs,
                                                   ol["end_ms"]),
                 "generator_late_max_s": max(late) if late else 0.0,
                 "ingest_docs_per_s": cl["docs"] / cl["drain_s"]}
    return out, extra


def count_ops(rec):
    """(attempted, failed): queries, or triggers and files for the stream."""
    if rec["workload"] == "crane_stream":
        ol, cl = rec["open_loop"], rec["closed_loop"]
        trigs = M.triggers(M.parse_progress(ol["progress"]))
        covered = sum(1 for k in M.attribute(len(ol["due_ms"]), ol["lines_per_file"], trigs)
                      if k is not None)
        attempted = ol["files"] + cl["files"]
        failed = (ol["files"] - covered) + (cl["files"] - len(cl["versions"]))
        if ol.get("exception"):
            failed = max(failed, 1)
        return attempted, failed
    ops = rec["ops"]
    return len(ops), sum(1 for o in ops if not o["ok"])


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="every workload, untraced then traced")
    a = ap.parse_args()
    root = os.getcwd()
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/harness/build.sbt"):
        if not os.path.isfile(os.path.join(root, f)):
            log(f"{f} not found: run from the root of a full checkout")
            return 2
    if not a.all and not a.workload:
        ap.error("--workload or --all")
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    cp = build(root, cache)
    names = surface_names(cp, cache)
    if a.all:
        return run_all(cp, cache, names, a)
    res = run_one(cp, cache, names, a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(res["line"]))
    return 0


def run_one(cp, cache, names, workload, seed, seconds, trace):
    t0 = time.time()
    d = inputs(workload, seed, seconds, cache, names)
    run_dir = os.path.join(cache, "runs", f"{workload}-s{seed}-t{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen_s = time.time() - t0
    args = ["--workload", workload, "--inputs", d, "--out", run_dir, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--seed", str(seed), "--cores", str(BOUND_CORES),
            "--setups", str(SETUPS), "--order", os.path.join(d, "order.txt"),
            "--rate", str(OPEN_LOOP_RATE), "--warmup-files", str(warmup_files()),
            "--trigger-ms", str(OPEN_LOOP_TRIGGER_MS),
            "--ingest-files", str(INGEST_FILES),
            "--copies", str(CORPUS_COPIES)]
    t1 = time.time()
    run_jvm(cp, args, run_dir)
    jvm_s = time.time() - t1
    with open(os.path.join(run_dir, "harness.json")) as fh:
        rec = json.load(fh)
    t2 = time.time()
    check = oracle.check(workload, rec, d, run_dir)
    verify_s = time.time() - t2
    attempted, failed = count_ops(rec)
    ndocs = oracle.count_docs(d) if workload == "corpus_10x" else 0
    e2e, extra = end_to_end(rec, ndocs)
    extra.update({k: check[k] for k in ("mutated_recall", "ingest_pairs") if k in check})
    host = dict(host_facts(), master=rec.get("master"), spark_version=rec.get("spark_version"),
                jvm_flags=rec.get("jvm_flags"))
    if host["core_count_differs"]:
        log(f"WARNING: {host['nproc']} cores, bounds were set on {BOUND_CORES}")
    summary = {"workload": workload, "seed": seed, "trace": trace, "host": host,
               "end_to_end": e2e, "detail": extra, "check": check,
               "attempted": attempted, "failed": failed,
               "wall_s": {"inputs": gen_s, "jvm": jvm_s, "verify": verify_s}}
    if trace:
        layers, self_s = M.layer_metrics(rec)
        summary["per_layer"] = layers
        summary["self_s"] = self_s
        # tracing overhead against the untraced run of the same workload and seed
        plain = os.path.join(cache, "runs", f"{workload}-s{seed}-t0", "result.json")
        if os.path.exists(plain):
            with open(plain) as fh:
                base = json.load(fh)["end_to_end"]
            summary["trace_overhead"] = {k: e2e[k] - base[k] for k in END_TO_END if k in base}
        metrics = {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for k in ("tmp", "results"):
        shutil.rmtree(os.path.join(run_dir, k), ignore_errors=True)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    hist = os.path.join(cache, "results")
    os.makedirs(hist, exist_ok=True)
    with open(os.path.join(hist, f"{workload}-s{seed}-t{int(trace)}-{int(time.time())}.json"),
              "w") as fh:
        json.dump(summary, fh)
    log(json.dumps({"workload": workload, "seed": seed, "detail": extra,
                    "wrong_outputs": check["wrong_outputs"],
                    "trace_overhead": summary.get("trace_overhead"),
                    "host": {k: host[k] for k in ("nproc", "mem_total", "master", "spark_version",
                                                  "core_count_differs")},
                    "wall_s": summary["wall_s"]}))
    line = {"correct": check["wrong_outputs"] == 0 and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return {"line": line, "summary": summary}


def run_all(cp, cache, names, a):
    rows = []
    for w in WORKLOADS:
        plain = run_one(cp, cache, names, w, a.seed, a.seconds, False)["summary"]
        traced = run_one(cp, cache, names, w, a.seed, a.seconds, True)["summary"]
        print(f"\n== {w} (seed {a.seed}, {a.seconds:g} s, {plain['host']['nproc']} cores, "
              f"master {plain['host']['master']})")
        print(f"  {'metric':34s} {'value':>12s}  unit   traced-untraced")
        for k, u in END_TO_END.items():
            print(f"  {k:34s} {plain['end_to_end'][k]:12.4f}  {u:5s}  "
                  f"{traced['trace_overhead'][k]:+.4f}")
        for k, v in plain["detail"].items():
            if isinstance(v, (int, float)):
                print(f"  {k:34s} {v:12.4f}")
        print(f"  {'wrong_outputs':34s} {plain['check']['wrong_outputs']:12d}  count")
        print(f"  {'failed_ratio':34s} {plain['failed'] / max(1, plain['attempted']):12.4f}  ratio")
        for k, v in traced["per_layer"].items():
            print(f"  {k:34s} {v:12.4f}  {PER_LAYER_UNITS[k]}")
        rows.append(plain["check"]["wrong_outputs"] == 0 and plain["failed"] == 0)
    return 0 if all(rows) else 1


if __name__ == "__main__":
    sys.exit(main())
