#!/usr/bin/env python3
"""graft benchmark: streaming dedup (live + backfill) and batch near-dup/core.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py                       # every workload, a table
  python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

With --workload, the last line of stdout is one JSON object with keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The exit code is non-zero
when any output is wrong. See perfbench/README.md for what each workload and
metric means.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("stream_live", "stream_backfill", "batch_neardup", "batch_core")
# The workloads BENCHMARK.json lists. stream_backfill stays runnable (and in
# the all-workloads table) but is left out of the gated set: the gated runs,
# 4 + 22 per workload, must finish within 3420 s, and a steady run of a
# workload takes 29-36 s, so four would leave little margin (see README.md).
BENCHMARKED = ("stream_live", "batch_neardup", "batch_core")

# name -> (unit, better, bound). Time bounds sit at the 0.25 ceiling: on a
# shared 4-vCPU host the run-to-run spread of a run's median reaches 10-20%.
# peak_rss_mb spreads up to 6% on batch_core, whose input is fixed: the old
# generation's peak moves with when the collector ran.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_s": ("s", "lower", 0.25),
    "drain_rows_per_s": ("rows/s", "higher", 0.25),
    "latency_ms_p50": ("ms", "lower", 0.25),
    "latency_ms_p90": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.2),
}

MODULES = ("Relational", "Windowed", "Similarity", "TextAnalysis", "Dedup", "Graph")
MODULE_METRICS = (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
                  ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                  ("task_cpu_s", "s"), ("driver_gap_s", "s"), ("planning_ms", "ms"),
                  ("self_s", "s"))
PER_LAYER = {f"{m}.{n}": u for m in MODULES for n, u in MODULE_METRICS}
PER_LAYER.update({
    "Dedup.collision_rows": "count", "Dedup.candidate_rows": "count",
    "Dedup.confirmed_pairs": "count", "Dedup.confirm_ratio": "fraction",
    "Streams.planning_ms": "ms", "Streams.commit_ms": "ms", "Streams.rocksdb_commit_ms": "ms",
    "Streams.add_batch_ms": "ms", "Streams.task_cpu_s": "s", "Streams.shuffle_bytes": "bytes",
    "Streams.batches": "count", "Streams.batch_ms_p50": "ms",
    "Streams.state_rows_updated": "count", "Streams.state_rows_removed": "count",
    "Streams.dropped_by_watermark": "count", "Streams.output_rows": "count",
    "Streams.state_rows_peak": "count", "Streams.state_mem_mb_peak": "MB",
    "Streams.self_s": "s",
    "ReplaySource.latest_offset_ms": "ms", "ReplaySource.get_batch_ms": "ms",
    "ReplaySource.rows_per_batch": "count", "ReplaySource.lag_segments_max": "count",
    "ReplaySource.self_s": "s",
    "gen.late_ms_max": "ms", "gen.self_s": "s",
    "trace.overhead_pct": "%",
    "single_thread.pass_s": "s",
})

CPUS = max(1, min(4, os.cpu_count() or 1))
HEAP_MB = 3072        # the JVM's heap: fixed and pre-touched
JVM_TIMEOUT_S = 150   # a run must end within 180 s, its checks included
DELAY = "10 minutes"  # watermark delay; gen.events keeps lateness inside it
LIVE_RATE = 10.0      # segments per second, open loop
LIVE_ROWS = 200       # events per live segment
BACKFILL_SEGMENTS, BACKFILL_ROWS, BACKFILL_MAX_FILES = 64, 2000, 16
WARM_SEGMENTS = 10
# A live run is valid only if the query kept up with the generator and the
# generator kept to its schedule: at no commit were more than 3 s of input
# appended but not committed, and no append ran more than 1 s late.
LAG_BOUND_SEGMENTS = int(3 * LIVE_RATE)
LATE_BOUND_MS = 1000.0

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def repo_setting(root, path, pattern, what):
    """A value the repo's own build or bench states, so the benchmark uses
    the same one."""
    try:
        with open(os.path.join(root, path)) as f:
            return re.search(pattern, f.read()).group(1)
    except (OSError, AttributeError):
        raise BenchError(f"cannot read {what} from {path}")


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    jars = (os.path.join(home, "jars") if home else
            repo_setting(root, "build.sbt", r'unmanagedBase := file\("([^"]+)"\)', "the Spark jars"))
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars in {jars} (set SPARK_HOME)")
    return jars


def core_tables(root):
    """SPARK_GRAFT_SF_DIR, else the fixture directory graft.Bench defaults to."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or repo_setting(
        root, "src/main/scala/graft/Bench.scala",
        r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', "the bench fixture directory")


def build(root):
    """Compile graft's main sources and the benchmark's Scala sources into
    .bench_build/classes, unless a build of the same sources is there."""
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BenchError(f"no graft sources under {root}: run from a graft checkout")
    jars = spark_jars(root)
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "scala", "*.scala")))
    resources = os.path.join(root, "src", "main", "resources")
    res_files = sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                       if os.path.isfile(p))
    digest = check.file_digest(files + res_files) + ":" + ",".join(sorted(os.listdir(jars)))
    digest = hashlib.sha256(digest.encode()).hexdigest()
    out = os.path.join(root, ".bench_build", "classes")
    stamp = os.path.join(root, ".bench_build", "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return f"{out}:{jars}/*"
    log("building graft and the benchmark's JVM side (scalac)")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", f"{jars}/*"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])
    for p in res_files:
        dest = os.path.join(out, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(p, dest)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return f"{out}:{jars}/*"


# ------------------------------------------------------------------ inputs

def make_inputs(root, workload, seed, seconds, trace, input_dir):
    """Generate the run's inputs; returns what the checks need."""
    if workload in ("stream_live", "stream_backfill"):
        # Live: one segment set per live phase (four in a traced run).
        # Backfill: one log, drained again by every drain.
        live = workload == "stream_live"
        n, rows = ((math.ceil(LIVE_RATE * seconds), LIVE_ROWS) if live
                   else (BACKFILL_SEGMENTS, BACKFILL_ROWS))
        owners = []
        for i in range(4 if live and trace else 1):
            segs, owner = gen.events(seed, f"{workload}-{i}", n, rows)
            gen.write_segments(segs, os.path.join(input_dir, f"segments-{i}"))
            owners.append((owner, sum(len(s) for s in segs)))
        warm, _ = gen.events(seed, "warm", WARM_SEGMENTS, rows)
        gen.write_segments(warm, os.path.join(input_dir, "warm"))
        return {"owners": owners}
    if workload == "batch_neardup":
        rows = gen.documents(seed)
        gen.write_documents(rows, os.path.join(input_dir, "documents.parquet"))
        return {"docs": [(r[0], r[1]) for r in rows], "sf": input_dir,
                "input_rows": len(rows)}
    if workload == "batch_core":
        # Fixed inputs: graft.Bench's read-only fixtures (the seed is ignored).
        sf = core_tables(root)
        if not os.path.isdir(sf):
            raise BenchError(f"batch_core needs the bench fixtures at {sf}")
        import pyarrow.parquet as pq
        n = sum(pq.ParquetFile(p).metadata.num_rows
                for p in glob.glob(os.path.join(sf, "*.parquet")))
        return {"sf": sf, "input_rows": n}
    raise BenchError(f"unknown workload {workload}")


# --------------------------------------------------------------------- run

def run_jvm(root, classpath, work, args):
    # A fixed, pre-touched heap: the resident set above it moves with
    # off-heap memory (RocksDB, buffers, code) instead of with when the
    # collector ran; the heap's own use is read from its pools. Fixed
    # generation sizes keep the eden pool's peak (its size) constant.
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+AlwaysPreTouch",
            "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] + ADD_OPENS
           + ["-cp", classpath, "graft.perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spawn_ms = time.time() * 1000.0
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM timed out after {JVM_TIMEOUT_S} s (log: {work}/jvm.log)")
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        raise BenchError(f"JVM wrote no result (exit {proc.returncode}, log: {work}/jvm.log)")
    with open(path) as f:
        return json.load(f), spawn_ms


def run_workload(root, workload, seed, seconds, trace):
    """One run of one workload; returns (tally, e2e metrics, layer metrics)."""
    classpath = build(root)
    work = os.path.join(root, ".bench_build", "runs", f"{workload}-{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    t_gen = time.time()
    inputs = make_inputs(root, workload, seed, seconds, trace, input_dir)
    gen_s = time.time() - t_gen
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "work": work, "input": input_dir, "sf": inputs.get("sf", input_dir),
            "cpus": CPUS, "delay": DELAY, "rate": LIVE_RATE, "max_files": BACKFILL_MAX_FILES}
    res, spawn_ms = run_jvm(root, classpath, work, args)
    timed = res.get("passes") or res.get("runs")
    if not timed:
        raise BenchError(f"the JVM timed nothing: {res['errors']}")
    # Input generation, then JVM spawn to the first timed operation.
    setup_s = gen_s + (timed[0]["start_ms"] - spawn_ms) / 1000.0
    tally = stats.Tally()
    for e in res["errors"]:
        tally.fail_extra(e)
    if workload.startswith("batch"):
        e2e, layers = batch_metrics(res, inputs)
        check_batch(res, inputs, work, root, seed, tally, layers)
    else:
        check_stream(res, inputs, tally)
        e2e, layers = stream_metrics(res, inputs)
    e2e["setup_s"] = setup_s
    # The resident set above the pre-touched heap, plus the heap used.
    e2e["peak_rss_mb"] = res["vm_hwm_mb"] - HEAP_MB + res["heap_peak_mb"]
    if trace:
        spans = res["spans"] + stream_spans(res)
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
        n_traced = max(1, sum(1 for r in res.get("passes", res.get("runs", []))
                              if r["traced"]))
        for layer, sec in stats.layer_self_seconds(spans).items():
            if f"{layer}.self_s" in PER_LAYER:
                layers[f"{layer}.self_s"] = sec / n_traced
    for d in ("input", "out", "check", "log", "warmlog", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in glob.glob(os.path.join(work, "drain-*")) + glob.glob(os.path.join(work, "live*")):
        shutil.rmtree(d, ignore_errors=True)
    return tally, e2e, layers


# ----------------------------------------------------------------- metrics

def batch_metrics(res, inputs):
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    # Latency operation = one pass (the workload's queries submitted
    # together): the 5-10 keys of a pass are too few, and too unlike, for
    # per-key percentiles that repeat from run to run.
    lat = [p["wall_s"] * 1000.0 for p in untraced]
    pass_s = stats.median(lat) / 1000.0
    e2e = latency_metrics(lat)
    e2e.update(pass_s=pass_s, drain_rows_per_s=inputs["input_rows"] / pass_s)
    layers = {}
    if traced:
        per_pass = []
        for p in traced:
            m = {}
            for k in p["keys"]:
                if "exec" not in k:
                    continue
                mod = k["module"]
                for ph in ("build", "exec"):
                    for f in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "task_cpu_s",
                              "planning_ms"):
                        m[f"{mod}.{f}"] = m.get(f"{mod}.{f}", 0) + k[ph][f]
                    m[f"{mod}.{ph}_s"] = m.get(f"{mod}.{ph}_s", 0) + k[f"{ph}_s"]
                gap = (k["build_s"] + k["exec_s"]
                       - k["build"]["job_covered_s"] - k["exec"]["job_covered_s"])
                m[f"{mod}.driver_gap_s"] = m.get(f"{mod}.driver_gap_s", 0) + gap
            per_pass.append(m)
        for name in set().union(*per_pass):
            layers[name] = stats.median([m.get(name, 0) for m in per_pass])
        if res.get("candidate_rows"):
            layers["Dedup.candidate_rows"] = stats.median(res["candidate_rows"])
        if res.get("collision_rows"):
            layers["Dedup.collision_rows"] = res["collision_rows"]
        layers["trace.overhead_pct"] = 100.0 * (
            stats.median([p["wall_s"] for p in traced]) / pass_s - 1.0)
    if res.get("single_thread"):
        layers["single_thread.pass_s"] = res["single_thread"]["wall_s"]
    return e2e, layers


def latency_metrics(samples):
    """latency_ms_p50 and _p90, with the p50 and p90 percentile records
    (sample count, samples beyond) under the private keys _p50 and _p90."""
    p50, p90 = stats.percentile(samples, 0.5), stats.percentile(samples, 0.9)
    return {"latency_ms_p50": p50["value"], "latency_ms_p90": p90["value"],
            "_p50": p50, "_p90": p90}


def check_live_valid(runs, e2e):
    """A stream_live run is invalid, and yields no result, when its
    latency percentiles have fewer than stats.MIN_TAIL samples beyond them
    (segments that never committed shrink the count), or when the query
    fell behind the generator or the generator behind its schedule."""
    for q in ("_p50", "_p90"):
        if not e2e[q]["ok"]:
            raise BenchError(f"latency {q[1:]} has {e2e[q]['tail']} samples beyond it "
                             f"(of {e2e[q]['n']}); at least {stats.MIN_TAIL} are needed")
    for r in runs:
        if r["lag_segments_max"] > LAG_BOUND_SEGMENTS:
            raise BenchError(f"live run {r['index']}: {r['lag_segments_max']} segments "
                             f"appended but not committed (bound {LAG_BOUND_SEGMENTS}): "
                             f"the rate was not sustained")
        if max(r["late_ms"]) > LATE_BOUND_MS:
            raise BenchError(f"live run {r['index']}: the generator ran "
                             f"{max(r['late_ms']):.0f} ms late (bound {LATE_BOUND_MS:.0f} ms)")


def batches(run):
    return [p for p in run["progress"] if p["end_files"] > p["start_files"]]


def segment_commits(run):
    """Commit time (ms) of the batch holding each segment index."""
    out = {}
    for p in batches(run):
        for i in range(p["start_files"], p["end_files"]):
            out[i] = p["end_ms"]
    return out


def stream_metrics(res, inputs):
    runs = res["runs"]
    untraced = [r for r in runs if not r["traced"]]
    traced = [r for r in runs if r["traced"]]
    rows = inputs["owners"][0][1]

    def run_e2e(r):
        commits = segment_commits(r)
        if "due_ms" in r:  # live: from when the generator was due to append
            lat = [commits[i] - d for i, d in enumerate(r["due_ms"]) if i in commits]
            start = r["due_ms"][0]
        else:              # backfill: the whole log is there at query start
            lat = [c - r["start_ms"] for c in commits.values()]
            start = r["start_ms"]
        wall = (max(commits.values()) - start) / 1000.0 if commits else float("nan")
        return wall, lat

    walls, lats = zip(*[run_e2e(r) for r in untraced])
    lat = [x for xs in lats for x in xs]
    pass_s = stats.median(list(walls))
    e2e = latency_metrics(lat)
    e2e.update(pass_s=pass_s, drain_rows_per_s=rows / pass_s)
    if "due_ms" in runs[0]:
        check_live_valid(runs, e2e)
    layers = {}
    if traced:
        per_run = [stream_layers(r) for r in traced]
        for name in set().union(*per_run):
            layers[name] = stats.median([m.get(name, 0) for m in per_run])
        # Overhead on the workload's own end-to-end figure: latency p50
        # for live (its pass is fixed by the schedule), pass_s otherwise.
        live = "due_ms" in runs[0]
        side = lambda rs: (stats.median([stats.percentile(run_e2e(r)[1], 0.5)["value"] for r in rs])  # noqa
                           if live else stats.median([run_e2e(r)[0] for r in rs]))
        layers["trace.overhead_pct"] = 100.0 * (side(traced) / side(untraced) - 1.0)
    if res.get("single_thread"):
        layers["single_thread.pass_s"] = run_e2e(res["single_thread"])[0]
    return e2e, layers


def stream_layers(run):
    bs = run["progress"]
    dur = lambda p, k: p["duration_ms"].get(k, 0)  # noqa: E731
    st = [p["state"] or {} for p in bs]
    rocks = [sum(v for k, v in (s.get("custom") or {}).items()
                 if k.startswith("rocksdbCommit") and "Latency" in k) for s in st]
    m = {
        "Streams.planning_ms": stats.median([dur(p, "queryPlanning") for p in bs]),
        "Streams.commit_ms": stats.median([dur(p, "walCommit") + dur(p, "commitOffsets")
                                           for p in bs]),
        "Streams.rocksdb_commit_ms": stats.median(rocks),
        "Streams.add_batch_ms": sum(dur(p, "addBatch") for p in bs),
        "Streams.batches": len(bs),
        "Streams.batch_ms_p50": stats.median([dur(p, "triggerExecution") for p in bs]),
        "Streams.state_rows_updated": sum(s.get("rows_updated", 0) for s in st),
        "Streams.state_rows_removed": sum(s.get("rows_removed", 0) for s in st),
        "Streams.dropped_by_watermark": sum(s.get("dropped_by_watermark", 0) for s in st),
        "Streams.state_rows_peak": max(s.get("rows_total", 0) for s in st),
        "Streams.state_mem_mb_peak": max(s.get("mem_bytes", 0) for s in st) / 2 ** 20,
        "ReplaySource.latest_offset_ms": stats.median([dur(p, "latestOffset") for p in bs]),
        "ReplaySource.get_batch_ms": stats.median([dur(p, "getBatch") for p in bs]),
        "ReplaySource.rows_per_batch": stats.median([p["input_rows"] for p in bs]),
    }
    if "output_rows" in run:  # counted in the sink by check_stream
        m["Streams.output_rows"] = run["output_rows"]
    if run.get("layer"):
        m["Streams.task_cpu_s"] = run["layer"]["task_cpu_s"]
        m["Streams.shuffle_bytes"] = run["layer"]["shuffle_bytes"]
    if "due_ms" in run:
        m["ReplaySource.lag_segments_max"] = run["lag_segments_max"]
        m["gen.late_ms_max"] = max(run["late_ms"])
    return m


# Micro-batch phases in execution order, with the layer each belongs to.
PHASES = (("latestOffset", "ReplaySource"), ("walCommit", "Streams"),
          ("getBatch", "ReplaySource"), ("queryPlanning", "Streams"),
          ("addBatch", "Streams"), ("commitOffsets", "Streams"))


def stream_spans(res):
    """Batch spans and their phase children, rebuilt from progress events
    and hung under the traced run's span."""
    spans, next_id = [], 1_000_000
    roots = {s["name"]: s["id"] for s in res["spans"] if s["parent"] == 0}
    for r in res.get("runs", []):
        if not r["traced"]:
            continue
        parent = roots.get(("live " if "due_ms" in r else "drain ") + str(r["index"]), 0)
        for p in r["progress"]:
            bid, next_id = next_id, next_id + 1
            spans.append({"id": bid, "parent": parent, "name": f"batch {p['batch_id']}",
                          "layer": "Streams", "start_ms": p["start_ms"],
                          "end_ms": p["end_ms"], "run": "stream"})
            t = p["start_ms"]
            for name, layer in PHASES:
                d = p["duration_ms"].get(name, 0)
                spans.append({"id": next_id, "parent": bid, "name": name, "layer": layer,
                              "start_ms": t, "end_ms": t + d, "run": "stream"})
                next_id += 1
                t += d
    return spans


# ------------------------------------------------------------------ checks

def check_batch(res, inputs, work, root, seed, tally, layers):
    """One operation per timed key execution, plus one per checked output."""
    for p in res["passes"]:
        for k in p["keys"]:
            tally.record(k.get("error") is None, f"{k['key']}: {k.get('error')}")
    con = check.connect(inputs["sf"], os.path.join(work, "tmp"))
    keys = [k["key"] for k in res["keys"]]
    if "docs" in inputs:
        expected = neardup_expected_relations(con, inputs, res["oracle_sql"], seed, tally)
    else:
        digest = check.file_digest(glob.glob(os.path.join(inputs["sf"], "*.parquet")))
        cache = os.path.join(root, ".bench_build", "cache", "oracle")
        expected = {k: check.oracle_expected(con, res["oracle_sql"][k], digest, cache)
                    for k in keys}
    for k in keys:
        actual = check.spark_rel(os.path.join(work, "out", k))
        err = res["check"].get(k) or check.compare(
            con, actual and check.materialize(con, f"out_{k}", f"SELECT * FROM {actual}"),
            expected[k])
        tally.record(err is None, f"{k}: {err}")
        if k == "q_neardup_lsh" and err is None:
            n = con.execute(f"SELECT count(*) FROM {expected[k]}").fetchone()[0]
            layers["Dedup.confirmed_pairs"] = n
            if layers.get("Dedup.collision_rows"):
                layers["Dedup.confirm_ratio"] = n / layers["Dedup.collision_rows"]


def neardup_expected_relations(con, inputs, oracle_sql, seed, tally):
    """Transcript-oracle relations for the near-dup keys, after checking
    the transcript against DuckDB on oracleSql over a seeded sub-corpus."""
    sub = check.subsample(inputs["docs"], seed)
    ids = ",".join(str(i) for i, _ in sub)
    con.execute("CREATE SCHEMA IF NOT EXISTS sample")
    con.execute(f"CREATE OR REPLACE TABLE sample.documents AS SELECT * FROM documents "
                f"WHERE doc_id IN ({ids})")
    sub_expected = check.neardup_expected(sub)
    full_expected = check.neardup_expected(inputs["docs"])
    out, duck = {}, {}
    for k, cols in check.NEARDUP_COLUMNS.items():
        sql = oracle_sql[k]
        con.execute("SET search_path = 'sample,main'")
        types = check.describe(con, sql)
        if sql not in duck:
            duck[sql] = check.materialize(con, f"duck_{len(duck)}", sql)
        mine = check.register_rows(con, f"sub_{k}", cols, types, sub_expected[k])
        err = check.compare(con, mine, duck[sql])
        con.execute("SET search_path = 'main'")
        tally.record(err is None, f"{k}: transcript oracle disagrees with DuckDB on the "
                                  f"sub-corpus: {err}")
        out[k] = check.register_rows(con, f"exp_{k}", cols, types, full_expected[k])
    return out


def check_stream(res, inputs, tally):
    """One operation per segment per run: its events reached the sink
    exactly once. A failed query or a watermark drop is one more failure."""
    import pyarrow.parquet as pq
    for r in res["runs"] + ([res["single_thread"]] if res.get("single_thread") else []):
        owner, _ = inputs["owners"][r["index"] if "due_ms" in r else 0]
        t = pq.read_table(r["sink_counts"]).to_pydict()
        counts = dict(zip(t["event_id"], t["n"]))
        r["output_rows"] = sum(t["n"])
        bad, unknown = stats.segment_failures(owner, counts)
        for i in range(len(owner)):
            tally.record(i not in bad, f"run {r['index']} segment {i} not exactly once")
        if unknown:
            tally.fail_extra(f"run {r['index']}: {len(unknown)} event_ids never sent")
        dropped = sum((p["state"] or {}).get("dropped_by_watermark", 0) for p in r["progress"])
        if dropped:
            tally.fail_extra(f"run {r['index']}: {dropped} rows dropped by watermark")
        if r.get("error"):
            tally.fail_extra(f"run {r['index']}: {r['error']}")


# -------------------------------------------------------------------- main

def result_line(tally, metrics):
    return json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                       "failed": tally.failed, "metrics": metrics})


def workload_mode(root, a):
    tally, e2e, layers = run_workload(root, a.workload, a.seed, a.seconds, a.trace)
    for reason in tally.reasons[:20]:
        log(f"FAILED {reason}")
    if a.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, (u, _, _) in END_TO_END.items()}
        if any(v["value"] is None or v["value"] != v["value"] for v in metrics.values()):
            raise BenchError(f"a metric is missing: {metrics}")
    print(latency_samples(e2e), flush=True)
    print(result_line(tally, metrics), flush=True)
    return 0 if tally.failed == 0 else 1


def latency_samples(e2e):
    return (f"latency samples: {e2e['_p50']['n']}, {e2e['_p50']['tail']} beyond p50, "
            f"{e2e['_p90']['tail']} beyond p90")


def all_mode(root, a):
    """Every workload in its own JVM; one table of the end-to-end metrics."""
    rows, failed = [], 0
    for w in WORKLOADS:
        tally, e2e, _ = run_workload(root, w, a.seed, a.seconds, False)
        for reason in tally.reasons[:20]:
            log(f"FAILED {w}: {reason}")
        failed += tally.failed
        rows.append((w, tally, e2e))
    print(f"seed {a.seed}, {a.seconds:g} s per run, local[{CPUS}]")
    names = list(END_TO_END) + ["error_rate"]
    print(f"{'workload':<16}" + "".join(f"{n:>20}" for n in names))
    print(f"{'':<16}" + "".join(f"{END_TO_END.get(n, ('fraction',))[0]:>20}" for n in names))
    for w, tally, e2e in rows:
        vals = [e2e[n] for n in END_TO_END] + [tally.error_rate]
        print(f"{w:<16}" + "".join(f"{v:>20.4f}" for v in vals))
    for w, tally, e2e in rows:
        print(f"{w}: {tally.attempted} operations, {tally.failed} failed; "
              + latency_samples(e2e))
    return 0 if failed == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        return workload_mode(root, a) if a.workload else all_mode(root, a)
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
