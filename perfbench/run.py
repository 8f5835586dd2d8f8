#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The run builds the program and the harness from source (sbt, output under
.bench_build/), takes the workload's input from perfbench/fixtures (scaled
up once by graft.tools.ScaleUp for llm_x4), orders every client's passes
from the seed, runs the harness JVM (graftbench.Harness), checks every
subset query against the DuckDB oracle, and prints one line per metric
followed by a final JSON line {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 attaches Spark listeners
and reports the per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

CORES = 4
HEAP = "2g"
PASS_ORDERS = 64
JVM_TIMEOUT_S = 150


def spark_home():
    """The Spark installation the program runs on: $SPARK_HOME, else the
    first spark-submit on PATH that sits in a distribution with a jars/ dir."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
        if os.path.isfile(exe) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


SPARK_HOME = spark_home()

FIXTURES = os.path.join(HERE, "fixtures")

# Each workload runs a fixed query subset of its pool (name -> module) that
# holds at least one query of every module in the pool; --seed orders every
# pass of every client. Input: a fixture directory under perfbench/fixtures
# (byte copies of the repository's sf0.001 and sf0.01 test fixtures), scaled
# by graft.tools.ScaleUp when `scale` > 1. Every client runs at least
# `passes` whole passes (default 1).
WORKLOADS = {
    "olap_concurrent": dict(
        modules=["Relational", "Joins", "Events", "Stats", "Geo", "AsOf"],
        queries={
            "q01_pricing_summary": "Relational", "q55_rollup": "Relational",
            "q18_star_join_revenue": "Joins", "q22_window_tumbling": "Events",
            "q105_hll_distinct": "Stats", "q107_grid_join": "Geo",
            "q60_asof_join": "AsOf"},
        # two passes give each client 14 samples a run
        clients=4, fixture="sf0.01", scale=1, fresh=False, passes=2),
    "llm_x4": dict(
        modules=["Text", "Dedup", "Similarity", "Multimodal", "Pipeline"],
        queries={
            "q65_simhash_neardup": "Text", "q37_minhash_neardup": "Dedup",
            "q31_knn_brute": "Similarity", "q144_vad_segments": "Multimodal",
            "q83_pii_redact": "Pipeline"},
        # ScaleUp runs once per checkout; five passes give the single
        # client 25 samples a run
        clients=1, fixture="sf0.001", scale=4, fresh=False, passes=5),
    "batch_cold": dict(
        modules=["Graph", "Storage", "StreamingJobs", "ml.Pipelines"],
        queries={
            "q202_modularity": "Graph", "q108_merge_agg": "Storage",
            "q39_stream_tumbling": "StreamingJobs", "q43_ml_kmeans": "ml.Pipelines"},
        clients=1, fixture="sf0.001", scale=1, fresh=True, passes=2),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


# ---------------------------------------------------------------- schedule

def pass_order(seed, subset, client, pass_no):
    return random.Random(f"graftbench:{seed}:order:{client}:{pass_no}").sample(subset, len(subset))


def schedule(seed, workload):
    w = WORKLOADS[workload]
    subset = sorted(w["queries"])
    orders = {(c, p): pass_order(seed, subset, c, p)
              for c in range(w["clients"]) for p in range(PASS_ORDERS)}
    return subset, orders


# ---------------------------------------------------------------- build

def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "__pycache__"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    harness = os.path.join(root, "perfbench", "harness")
    classes = os.path.join(out, "harness", "scala-2.13", "classes")
    digest = tree_digest([os.path.join(root, "src", "main"), harness])
    stamp = os.path.join(out, "harness.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building program + harness (sbt compile)")
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(out, "build.log"), "w") as lf:
        # no sbt server and a private temp dir: the build writes nothing to /tmp
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", f"-J-Djava.io.tmpdir={tmp}",
                              "-J-XX:-UsePerfData", "compile"],
                             cwd=harness, env=dict(os.environ, SPARK_HOME=SPARK_HOME),
                             stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {out}/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def java_cmd(classes, tmp, main, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # pinned heap: fixed size, touched at start, so the RSS peak moves
        # only with memory outside the Java heap
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{SPARK_HOME}/jars/*", main] + list(args))


def run_jvm(cmd, env, logfile, timeout):
    with open(logfile, "w") as lf:
        proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -9


# ---------------------------------------------------------------- inputs

def inputs(out, classes, workload):
    """The workload's input directory: its fixture, or the fixture scaled up
    by graft.tools.ScaleUp (made once, cached under .bench_build/data)."""
    w = WORKLOADS[workload]
    base = os.path.join(FIXTURES, w["fixture"])
    if not os.path.isfile(os.path.join(base, "lineitem.parquet")):
        fail(f"fixture {base} is missing", 2)
    if w["scale"] == 1:
        return base
    scaled = os.path.join(out, "data", f"{w['fixture']}-x{w['scale']}")
    if not os.path.exists(os.path.join(scaled, "_DONE")):
        shutil.rmtree(scaled, ignore_errors=True)
        work = os.path.join(out, "scaleup")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        os.makedirs(os.path.join(work, "local"))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
                   SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        rc = run_jvm(java_cmd(classes, os.path.join(work, "tmp"), "graft.tools.ScaleUp",
                              base, scaled, str(w["scale"])),
                     env, os.path.join(out, "scaleup.log"), 170)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            fail(f"ScaleUp failed (rc={rc}); see {out}/scaleup.log")
        open(os.path.join(scaled, "_DONE"), "w").close()
    return scaled


# ---------------------------------------------------------------- run

def write_plan(path, plan):
    with open(path, "w") as f:
        for k, v in plan.items():
            f.write(f"{k}={v}\n")


def harness_run(out, classes, workload, seed, seconds, trace, data, subset, orders):
    w = WORKLOADS[workload]
    run_dir = os.path.join(out, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "local")}
    for d in dirs.values():
        os.makedirs(d)
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": CORES, "clients": w["clients"],
            "fresh_paths": int(w["fresh"]), "data": data, "run_dir": run_dir,
            "tmp_dir": dirs["tmp"], "warehouse_dir": dirs["warehouse"],
            "local_dir": dirs["local"], "passes": PASS_ORDERS,
            "min_passes": w.get("passes", 1),
            "queries": ",".join(subset)}
    for (c, p), o in orders.items():
        plan[f"order.{c}.{p}"] = ",".join(o)
    plan_path = os.path.join(run_dir, "plan.properties")
    write_plan(plan_path, plan)
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
    env.pop("SPARK_GRAFT_ONLY", None)
    spawn_ms = time.time() * 1000.0
    rc = run_jvm(java_cmd(classes, dirs["tmp"], "graftbench.Harness", plan_path),
                 env, os.path.join(out, "harness.log"), JVM_TIMEOUT_S)
    if rc != 0:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"harness failed (rc={rc}); see {out}/harness.log")
    with open(os.path.join(run_dir, "records.json")) as f:
        rec = json.load(f)
    return rec, spawn_ms, run_dir


def source_id(root):
    """The checkout's git commit, or None outside a git work tree."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None or SPARK_HOME is None:
        fail("sbt, java and a Spark installation ($SPARK_HOME) are required", 2)
    out = os.path.join(root, ".bench_build")
    classes = build(root, out)

    workload, seed, trace = args.workload, args.seed, args.trace
    w = WORKLOADS[workload]
    subset, orders = schedule(seed, workload)
    data = inputs(out, classes, workload)
    load_before = load1()
    rec, spawn_ms, run_dir = harness_run(out, classes, workload, seed, args.seconds,
                                         trace, data, subset, orders)
    load_after = load1()
    check_start = time.time()

    import oracle
    verdicts, result_rows = oracle.check(data, os.path.join(run_dir, "dumps"), subset,
                                         rec["oracles"], rec["dump_errors"],
                                         os.path.join(run_dir, "duckdb"))
    shutil.rmtree(run_dir, ignore_errors=True)

    errors = [e for e in rec["execs"] if e["error"] is not None]
    bad = {q: v for q, v in verdicts.items() if v is not None}
    attempted = len(rec["execs"]) + len(verdicts)
    failed = len(errors) + len(bad)

    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    if trace:
        values = metrics.per_layer(rec, CORES, result_rows)
        spans, _ = metrics.spans(rec)
        with open(os.path.join(out, "results", f"spans-{workload}-{seed}.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        tail_p = None
    else:
        tail_p = metrics.workload_percentile(w["clients"] * w.get("passes", 1) * len(subset))
        values = metrics.end_to_end(rec, spawn_ms, tail_p)

    stamp = {"workload": workload, "seed": seed, "trace": trace, "commit": source_id(root),
             "source_sha256": tree_digest([os.path.join(root, "src", "main")])[:16],
             "nproc": os.cpu_count(), "cores": CORES, "heap": HEAP,
             "heap_max_mb": round(rec["heap_max_mb"], 1),
             "load1_before": load_before, "load1_after": load_after,
             "subset": subset, "clients": w["clients"],
             "schedule_sha256": hashlib.sha256(json.dumps(
                 [subset, sorted((f"{c}.{p}", o) for (c, p), o in orders.items())])
                 .encode()).hexdigest()[:16],
             "phases_s": {k: round(v / 1000.0, 3) for k, v in (
                 ("session", rec["session_ms"] - spawn_ms),
                 ("smoke", rec["ready_ms"] - rec["session_ms"]),
                 ("warmup", rec["timed_start_ms"] - rec["ready_ms"]),
                 ("timed", rec["timed_end_ms"] - rec["timed_start_ms"]),
                 ("dumps", rec["dumps_ms"]),
                 ("oracle", (time.time() - check_start) * 1000.0))},
             "warmup_s": {e["query"]: round((e["end"] - e["start"]) / 1000.0, 2)
                          for e in rec["warmup"]},
             "median_s": {q: round(statistics.median(
                 (e["end"] - e["start"]) / 1000.0 for e in rec["execs"] if e["query"] == q), 2)
                 for q in subset if any(e["query"] == q for e in rec["execs"])},
             "pass_rates": {c: [round(r, 3) for r in rs]
                            for c, rs in metrics.pass_rates(rec["execs"]).items()},
             "executions": len(rec["execs"]), "fail_ratio": failed / attempted,
             "failures": {**{e["query"]: e["error"] for e in errors}, **bad}}
    with open(os.path.join(out, "results", f"{workload}-{seed}-trace{trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "metrics": values, "tail_percentile": tail_p}, f, indent=1)

    for k, v in stamp.items():
        print(f"# {k}: {v}")
    for name, (value, unit, n) in values.items():
        note = f"  (p{tail_p})" if name == "latency_p90_s" else ""
        print(f"{name:28s} {value:14.6f} {unit:10s} n={n}{note}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in values.items()},
    }))


if __name__ == "__main__":
    main()
