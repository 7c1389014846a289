"""The benchmark's arithmetic: percentiles, interval unions, span self
time, and the end-to-end and per-layer metrics of one run.

Input is the raw record file the JVM harness writes (see
perfbench/scala/Harness.scala). Times in spans and jobs are milliseconds
from one origin; execution records carry seconds.
"""
import statistics

MODULES = ["relational", "text", "dedup", "similarity", "grid", "streaming",
           "multimodal"]
VPIC_STEPS = ["load", "scan", "smooth", "gradient", "fluxfn", "slice",
              "find_structures"]


def percentile(values, q):
    """The q-th percentile (0 < q < 100) of `values` and the sample count.

    Linear interpolation between closest ranks (the 'inclusive' method of
    statistics.quantiles), so a single sample is its own percentile.
    Returns (None, 0) for no samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    if n == 1:
        return xs[0], 1
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], optionally
    clipped to [lo, hi]. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def quartile_spread(values):
    """(median, q1, q3) with statistics.quantiles(n=4) quartiles."""
    if len(values) < 2:
        v = values[0] if values else None
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


# ---- end-to-end metrics (untraced run) ----

def end_to_end(raw, failed_queries):
    """End-to-end metrics of one run as {name: (value, unit, n)}.

    `failed_queries` are queries whose output check failed: every
    execution of such a query counts as failed.
    """
    execs = raw["execs"]
    cold = [e for e in execs if e["pass"] == 0]
    warm = [e for e in execs if e["pass"] > 0]

    def good(e):
        return e["ok"] and e["query"] not in failed_queries

    warm_ok = [e["latency_s"] for e in warm if good(e)]
    warm_busy = sum(e["latency_s"] + e["flush_s"] for e in warm)
    failed = sum(1 for e in execs if not good(e))
    p50, n = percentile(warm_ok, 50)
    p90, _ = percentile(warm_ok, 90)
    setup = raw["setup_s"]
    return {
        "setup_s": (statistics.median(setup), "s", len(setup)),
        "cold_pass_s": (sum(e["latency_s"] + e["flush_s"] for e in cold),
                        "s", len(cold)),
        "throughput_qps": (len(warm_ok) / warm_busy if warm_busy else 0.0,
                           "1/s", len(warm)),
        "latency_p50_s": (p50, "s", n),
        "latency_p90_s": (p90, "s", n),
        "fail_ratio": (failed / len(execs) if execs else 1.0, "ratio",
                       len(execs)),
        "heap_live_peak_mb": (max(e["heap_mb"] for e in execs), "MB",
                              len(execs)),
    }, len(execs), failed


# ---- per-layer metrics (traced run) ----

PHASE_KINDS = ("build", "plan", "exec", "flush", "step")


def attribute_jobs(raw):
    """Parent each listener job by time: the query whose span was open at
    the job's start, and within it the innermost open phase span.
    Returns {job id: (query span, phase span or None)}."""
    spans = raw["spans"]
    queries = [s for s in spans if s["kind"] == "query"]
    phases = {}
    for s in spans:
        if s["kind"] in PHASE_KINDS:
            phases.setdefault(s["parent"], []).append(s)
    out = {}
    for j in raw["jobs"]:
        t = j["start"]
        q = next((q for q in queries if q["start"] <= t <= q["end"]), None)
        if q is None:
            continue
        ph = next((p for p in phases.get(q["id"], [])
                   if p["start"] <= t <= p["end"]), None)
        out[j["id"]] = (q, ph)
    return out


def _phase_of(ph):
    if ph is None:
        return None
    return "build" if ph["kind"] == "step" and ph["name"] == "load" \
        else ph["kind"]


def per_pass_layers(raw):
    """Per-layer sums for each measured warm pass: {pass: {metric: value}}."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    attributed = attribute_jobs(raw)
    jobs_by_query = {}
    for j in raw["jobs"]:
        if j["id"] in attributed:
            q, ph = attributed[j["id"]]
            jobs_by_query.setdefault(q["id"], []).append((j, _phase_of(ph)))
    scratch = {p["pass"]: p["scratch_mb"] for p in raw["passes"]}

    out = {}
    for e in raw["execs"]:
        p = e["pass"]
        if p == 0:
            continue
        m = out.setdefault(p, _zero_layers())
        q = by_id[e["span"]]
        timed = [c for c in children.get(q["id"], []) if c["kind"] != "flush"]
        t0 = min(c["start"] for c in timed) if timed else q["start"]
        t1 = max(c["end"] for c in timed) if timed else q["start"]
        jobs = jobs_by_query.get(q["id"], [])
        busy = union_length([(j["start"], j["end"]) for j, _ in jobs], t0, t1)
        build_s = e.get("build_s", e.get("load_s", 0.0))
        # a vpic iteration: every step after load, less its nested planning
        exec_s = e.get("exec_s", sum(e.get(f"{s}_s", 0.0) for s in VPIC_STEPS
                                     if s != "load") - e.get("plan_s", 0.0))
        m["build.s"] += build_s
        m["plan.s"] += e.get("plan_s", 0.0)
        m["exec.s"] += exec_s
        m["exec.job_busy_s"] += busy / 1000.0
        m["exec.driver_idle_s"] += (t1 - t0 - busy) / 1000.0
        m["build.jobs"] += sum(1 for _, ph in jobs if ph == "build")
        for j, _ in jobs:
            m["exec.jobs"] += 1
            m["exec.stages"] += j["stages_run"]
            m["exec.stages_skipped"] += j["stages"] - j["stages_run"]
            m["exec.tasks"] += j["tasks"]
            m["exec.tasks_failed"] += j["tasks_failed"]
            m["exec.task_run_s"] += j["run_ms"] / 1000.0
            m["exec.task_cpu_s"] += j["cpu_ns"] / 1e9
            m["exec.shuffle_fetch_wait_s"] += j["fetch_wait_ms"] / 1000.0
            m["exec.shuffle_read_mb"] += j["shuffle_read"] / 1048576.0
            m["exec.shuffle_write_mb"] += j["shuffle_write"] / 1048576.0
            m["exec.spill_mb"] += j["spill"] / 1048576.0
            m["exec.input_mb"] += j["input"] / 1048576.0
            m["exec.output_mb"] += j["output"] / 1048576.0
            m["exec.peak_exec_mem_mb"] = max(m["exec.peak_exec_mem_mb"],
                                             j["peak_mem"] / 1048576.0)
            m["gc.task_s"] += j["gc_ms"] / 1000.0
        m["gc.jvm_s"] += e["gc_jvm_ms"] / 1000.0
        m["cache.flush_s"] += e["flush_s"]
        m["cache.retained_mb"] += e["retained_mb"]
        m["scratch.mb"] = scratch.get(p, 0.0)
        mod = e["module"]
        if mod in MODULES:
            m[f"{mod}.s"] += e["latency_s"]
            m[f"{mod}.build_s"] += build_s
            m[f"{mod}.jobs"] += len(jobs)
            m[f"{mod}.gc_jvm_s"] += e["gc_jvm_ms"] / 1000.0
        for s in VPIC_STEPS:
            m[f"vpic.{s}_s"] += e.get(f"{s}_s", 0.0)
    for m in out.values():
        total_stages = m["exec.stages"] + m["exec.stages_skipped"]
        m["exec.stage_reuse_ratio"] = (m["exec.stages_skipped"] / total_stages
                                       if total_stages else 0.0)
        m["exec.cpu_share"] = (m["exec.task_cpu_s"] / m["exec.task_run_s"]
                               if m["exec.task_run_s"] else 0.0)
        m["build.eager_job_share"] = (m["build.jobs"] / m["exec.jobs"]
                                      if m["exec.jobs"] else 0.0)
    return out


LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "build.eager_job_share": "ratio",
    "plan.s": "s", "exec.s": "s", "exec.job_busy_s": "s",
    "exec.driver_idle_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.stage_reuse_ratio": "ratio",
    "exec.tasks": "count", "exec.tasks_failed": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.cpu_share": "ratio",
    "exec.shuffle_fetch_wait_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.output_mb": "MB",
    "exec.peak_exec_mem_mb": "MB", "gc.task_s": "s", "gc.jvm_s": "s",
    "cache.flush_s": "s", "cache.retained_mb": "MB", "scratch.mb": "MB",
}
for _m in MODULES:
    LAYER_UNITS.update({f"{_m}.s": "s", f"{_m}.build_s": "s",
                        f"{_m}.jobs": "count", f"{_m}.gc_jvm_s": "s"})
for _s in VPIC_STEPS:
    LAYER_UNITS[f"vpic.{_s}_s"] = "s"


def _zero_layers():
    return {k: 0.0 for k in LAYER_UNITS}


def per_layer(raw):
    """Per-layer metrics: each warm pass summed, median over warm passes.
    Returns {name: (value, unit, n passes)}."""
    passes = per_pass_layers(raw)
    n = len(passes)
    return {k: (statistics.median(p[k] for p in passes.values()) if n else 0.0,
                unit, n) for k, unit in LAYER_UNITS.items()}


def span_self_times(raw):
    """Total duration and self time per span kind, listener jobs included
    as children of the phase open when they started."""
    spans = raw["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    attributed = attribute_jobs(raw)
    job_children = {}
    for j in raw["jobs"]:
        if j["id"] in attributed:
            q, ph = attributed[j["id"]]
            job_children.setdefault((ph or q)["id"], []).append(j)
    out = {}
    for s in spans:
        if s["end"] is None or s["end"] < 0:
            continue
        kids = children.get(s["id"], []) + job_children.get(s["id"], [])
        row = out.setdefault(s["kind"], {"count": 0, "total_s": 0.0,
                                         "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += (s["end"] - s["start"]) / 1000.0
        row["self_s"] += self_time(s, kids) / 1000.0
    jobs = [j for j in raw["jobs"] if j["id"] in attributed]
    if jobs:
        out["job"] = {"count": len(jobs),
                      "total_s": sum(j["end"] - j["start"] for j in jobs) / 1000.0,
                      "self_s": sum(j["end"] - j["start"] for j in jobs) / 1000.0}
    return out
