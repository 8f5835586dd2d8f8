"""Metric arithmetic for the benchmark: percentiles, span self time and the
end-to-end and per-layer metrics computed from a harness records file.

All times in a records file are epoch milliseconds (floats).
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

MODULES = ["Relational", "Joins", "Events", "Stats", "Geo", "AsOf", "Text",
           "Dedup", "Similarity", "Multimodal", "Pipeline", "Graph", "Storage",
           "StreamingJobs", "ml.Pipelines"]

END_TO_END = [
    ("setup_s", "s"), ("qps", "queries/s"), ("latency_p50_s", "s"),
    ("latency_p90_s", "s"), ("peak_rss_mb", "MB"), ("scratch_peak_mb", "MB"),
]

PER_LAYER = [
    ("catalyst.plan_s", "s"), ("catalyst.executions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_s", "s"),
    ("scheduler.job_self_s", "s"), ("scheduler.job_wait_s", "s"),
    ("scheduler.core_util", "ratio"), ("scheduler.task_cpu_s", "s"),
    ("scheduler.gc_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("sources.input_mb", "MB"), ("sources.input_rows", "count"),
    ("sources.rows_per_result", "ratio"),
    ("Scratch.write_mb", "MB"), ("Scratch.dirs", "count"),
    ("Scratch.miss_ratio", "ratio"),
    ("StreamingJobs.batches", "count"), ("StreamingJobs.batch_s", "s"),
] + [(f"{m}.{k}", "s") for m in MODULES for k in ("build_s", "exec_s")] + [
    ("trace.qps", "queries/s"),
]

MB = 1024.0 * 1024.0


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def quantile(xs, p):
    """Nearest-rank p-quantile (0 < p <= 1) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tail_percentile(n, cap=90):
    """Highest whole percentile <= cap that has at least ten samples beyond
    it in a sample of n, or None when even the median has fewer."""
    for p in range(cap, 49, -1):
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p
    return None


def workload_percentile(n_min):
    """The tail percentile a workload reports as latency_p90_s: the rule
    above applied to the fewest samples any run of it has (one pass of every
    client), so the percentile is fixed per workload and holds in every run.
    A workload with fewer than 20 samples a run reports its maximum (100)."""
    return tail_percentile(n_min) or 100


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def pass_rates(execs):
    """client -> [queries completed in the pass / the pass's wall time], in
    pass order."""
    passes = {}
    for e in execs:
        passes.setdefault((e["client"], e["pass"]), []).append(e)
    rates = {}
    for (client, _), es in sorted(passes.items()):
        wall_s = (max(e["end"] for e in es) - min(e["start"] for e in es)) / 1000.0
        done = sum(1 for e in es if e["error"] is None)
        rates.setdefault(client, []).append(done / wall_s)
    return rates


def qps(rec):
    """Throughput: queries completed without error / wall time of the timed
    passes (first timed start to last client's end). Pass rates still climb
    through the timed passes as the JVM warms (pass_rates), so a total over
    all passes is steadier than any single pass."""
    done = sum(1 for e in rec["execs"] if e["error"] is None)
    return done / ((rec["timed_end_ms"] - rec["timed_start_ms"]) / 1000.0)


def end_to_end(rec, spawn_ms, tail_p):
    """End-to-end metrics of an untraced run: name -> (value, unit, n).
    latency_p90_s is the tail_p-th percentile (see workload_percentile)."""
    lat = [(e["end"] - e["start"]) / 1000.0 for e in rec["execs"] if e["error"] is None]
    t0 = rec["timed_start_ms"]
    scratch = [b for _, b in rec["scratch"]]
    n = len(lat)
    return {
        "setup_s": ((t0 - spawn_ms) / 1000.0, "s", 1),
        "qps": (qps(rec), "queries/s", n),
        "latency_p50_s": (quantile(lat, 0.5), "s", n),
        "latency_p90_s": (quantile(lat, tail_p / 100.0), "s", n),
        "peak_rss_mb": (rec["vm_hwm_kb"] / 1024.0, "MB", 1),
        "scratch_peak_mb": (max(scratch) / MB, "MB", len(scratch)),
    }


def _attribute(t, execs, session=None, sessions=None):
    """The timed execution whose interval holds time t: on the given
    session's client when the session is a client session, otherwise the
    only execution running at t (ambiguous -> None)."""
    if session is not None and sessions and session in sessions:
        client = sessions.index(session)
        hits = [e for e in execs if e["client"] == client and e["start"] <= t <= e["end"]]
    else:
        hits = [e for e in execs if e["start"] <= t <= e["end"]]
    return hits[0]["id"] if len(hits) == 1 else None


def spans(rec):
    """Span tree of the traced run: query -> build/exec -> job -> stage, each
    with its self time (ms). Returns (span list, per-exec aggregates)."""
    tr = rec["trace"]
    timed = rec["execs"]
    execs = {e["id"]: e for e in timed}
    ends = {j["job"]: j["end"] for j in tr["job_ends"]}
    jobs = []
    for j in tr["jobs"]:
        ex = j["exec"]
        if ex is None:
            ex = _attribute(j["submit"], timed)
        jobs.append(dict(j, exec=ex, end=ends.get(j["job"], j["submit"])))
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["submit"]):
        for s in j["stages"]:
            stage_job.setdefault(s, j["job"])
    stages = [dict(s, job=stage_job.get(s["stage"])) for s in tr["stages"]]
    sql_exec = {int(k): v for k, v in tr["sql_exec"].items()}
    plans = []
    for p in tr["plans"]:
        ex = sql_exec.get(p["sql"])
        if ex is None:
            ex = _attribute(p["start"], timed, p["session"], rec["sessions"])
        plans.append(dict(p, exec=ex))
    batches = []
    for b in tr["batches"]:
        ex = b["exec"] if b["exec"] is not None else _attribute(b["start"], timed)
        batches.append(dict(b, exec=ex))

    out, agg = [], {}
    for i, e in execs.items():
        a = agg[i] = {"query": e["query"], "module": e["module"],
                      "build": e["built"] - e["start"], "exec": e["end"] - e["built"],
                      "jobs": 0, "stages": 0, "tasks": 0, "job_wait": 0.0,
                      "job_self": 0.0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
                      "shuffle_write_b": 0.0, "shuffle_read_b": 0.0,
                      "fetch_wait_ms": 0.0, "spill_b": 0.0, "input_b": 0.0,
                      "input_rows": 0.0, "output_b": 0.0, "plan_ms": 0.0,
                      "plans": 0, "batches": 0, "batch_ms": 0.0}
        my_jobs = [j for j in jobs if j["exec"] == i]
        job_iv = [(j["submit"], j["end"]) for j in my_jobs]
        a["driver"] = self_time(e["start"], e["end"], job_iv)
        out.append({"span": f"q{i}", "parent": None, "kind": "query",
                    "name": e["query"], "start": e["start"], "end": e["end"],
                    "self_ms": self_time(e["start"], e["end"],
                                         [(e["start"], e["built"]), (e["built"], e["end"])])})
        for kind, lo, hi in (("build", e["start"], e["built"]), ("exec", e["built"], e["end"])):
            out.append({"span": f"q{i}.{kind}", "parent": f"q{i}", "kind": kind,
                        "name": f"{e['module']}.{kind}", "start": lo, "end": hi,
                        "self_ms": self_time(lo, hi, [iv for iv in job_iv if lo <= iv[0] < hi])})
        for j in my_jobs:
            my_stages = [s for s in stages if s["job"] == j["job"]]
            st_iv = [(s["submit"], s["end"]) for s in my_stages]
            launches = [s["first_launch"] for s in my_stages if s["first_launch"] > 0]
            wait = (min(launches) - j["submit"]) if launches else 0.0
            jself = self_time(j["submit"], j["end"], st_iv)
            a["jobs"] += 1
            a["job_wait"] += max(0.0, wait)
            a["job_self"] += jself
            parent = f"q{i}.build" if j["submit"] < e["built"] else f"q{i}.exec"
            out.append({"span": f"j{j['job']}", "parent": parent, "kind": "job",
                        "name": f"job {j['job']}", "start": j["submit"], "end": j["end"],
                        "self_ms": jself})
            for s in my_stages:
                a["stages"] += 1
                a["tasks"] += s["tasks"]
                for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_write_b", "shuffle_read_b",
                          "fetch_wait_ms", "spill_b", "input_b", "input_rows", "output_b"):
                    a[k] += s[k]
                out.append({"span": f"s{s['stage']}.{s['attempt']}", "parent": f"j{j['job']}",
                            "kind": "stage", "name": f"stage {s['stage']}",
                            "start": s["submit"], "end": s["end"],
                            "self_ms": s["end"] - s["submit"], "tasks": s["tasks"]})
        for p in plans:
            if p["exec"] == i:
                a["plans"] += 1
                a["plan_ms"] += p["plan_ms"]
        for b in batches:
            if b["exec"] == i:
                a["batches"] += 1
                a["batch_ms"] += b["batch_ms"]
    return out, agg


def per_layer(rec, cores, result_rows):
    """Per-layer metrics of a traced run: name -> (value, unit, n).
    `result_rows` maps query name -> rows in its correctness dump."""
    _, agg = spans(rec)
    n = max(1, len(agg))

    def mean(key, scale=1.0):
        return sum(a[key] for a in agg.values()) * scale / n

    wall_s = (rec["timed_end_ms"] - rec["timed_start_ms"]) / 1000.0
    rows_ratio = [a["input_rows"] / max(1, result_rows.get(a["query"], 1))
                  for a in agg.values()]
    passes = len(rec["execs"]) / max(1, len({e["query"] for e in rec["warmup"]}))
    dirs_per_pass = rec["timed_dirs"] / max(1e-9, passes)
    m = {
        "catalyst.plan_s": mean("plan_ms", 1e-3),
        "catalyst.executions": mean("plans"),
        "scheduler.jobs": mean("jobs"),
        "scheduler.stages": mean("stages"),
        "scheduler.tasks": mean("tasks"),
        "scheduler.driver_s": mean("driver", 1e-3),
        "scheduler.job_self_s": mean("job_self", 1e-3),
        "scheduler.job_wait_s": mean("job_wait", 1e-3),
        "scheduler.core_util": sum(a["run_ms"] for a in agg.values()) / 1000.0
        / max(1e-9, wall_s * cores),
        "scheduler.task_cpu_s": mean("cpu_ns", 1e-9),
        "scheduler.gc_s": rec["gc_ms"] / 1000.0 / n,
        "shuffle.write_mb": mean("shuffle_write_b", 1 / MB),
        "shuffle.read_mb": mean("shuffle_read_b", 1 / MB),
        "shuffle.fetch_wait_s": mean("fetch_wait_ms", 1e-3),
        "shuffle.spill_mb": mean("spill_b", 1 / MB),
        "sources.input_mb": mean("input_b", 1 / MB),
        "sources.input_rows": mean("input_rows"),
        "sources.rows_per_result": sum(rows_ratio) / n,
        "Scratch.write_mb": mean("output_b", 1 / MB),
        "Scratch.dirs": dirs_per_pass,
        "Scratch.miss_ratio": dirs_per_pass / rec["warm_dirs"] if rec["warm_dirs"] else 0.0,
        "StreamingJobs.batches": mean("batches"),
        "StreamingJobs.batch_s": mean("batch_ms", 1e-3),
    }
    for mod in MODULES:
        mine = [a for a in agg.values() if a["module"] == mod]
        for k in ("build", "exec"):
            m[f"{mod}.{k}_s"] = (sum(a[k] for a in mine) / 1000.0 / len(mine)) if mine else 0.0
    m["trace.qps"] = qps(rec)
    units = dict(PER_LAYER)
    return {k: (v, units[k], n) for k, v in m.items()}
