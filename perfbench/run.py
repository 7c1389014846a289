#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the JVM harness from source (cached under .bench_build,
or $CARGO_TARGET_DIR), generates the input tables once, runs the workload
as one closed-loop client, checks every output, and prints a report whose
last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 the run records spans and Spark listener aggregates and the
metrics are its per-layer metrics. Every run also writes a full report
(environment header, every metric with its sample count, per-query
timings and check results) under <build dir>/reports/, which
perfbench/compare.py reads.

Workloads and what their seeds control are defined in
perfbench/workloads.json.
"""
import argparse
import datetime as dt
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402

SETUP_REPS = 3
# Room left after the passes for the output check and the report.
CHECK_MARGIN_S = 25


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    pass


def _load(path):
    with open(path) as f:
        return json.load(f)


def _git():
    def git(*args):
        r = subprocess.run(["git", "-C", ROOT, *args], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    sha = git("rev-parse", "HEAD")
    dirty = git("status", "--porcelain", "--untracked-files=no")
    return sha, (None if sha is None else bool(dirty))


def _java(classpath, jvm_opts, args, log_path, timeout):
    """Run the harness JVM in its own process group; kill the group and
    wait for it on timeout or interruption."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(["java", *jvm_opts, "-cp", classpath,
                                 "graftbench.Harness", *args],
                                stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        with open(log_path) as f:
            tail = [ln for ln in f.read().splitlines()
                    if " INFO " not in ln and " WARN " not in ln][-30:]
        raise Failure(f"harness exited with {rc}:\n" + "\n".join(tail))


def _registry(build_dir, classpath, jvm_opts, source_hash):
    path = os.path.join(build_dir, f"registry-{source_hash[:16]}.json")
    if not os.path.isfile(path):
        _java(classpath, jvm_opts, ["registry", "--out", path + ".tmp"],
              os.path.join(build_dir, "registry.log"), 300)
        os.replace(path + ".tmp", path)
    return _load(path)


def _harness_args(spec, name):
    wl = spec["workloads"][name]
    if wl["kind"] == "vpic":
        g = wl["grid"]
        return ["--vpic-nz", str(g["nz"]),
                "--vpic-nx", str(g["nx"]), "--vpic-nt", str(g["nt"])]
    if "queries" in wl:
        return ["--include", ",".join(wl["queries"])]
    excluded = [q for other in wl["all_except"]
                for q in spec["workloads"][other]["queries"]]
    return ["--exclude", ",".join(excluded)]


def _overhead(reports_dir, workload, seed, traced_e2e):
    """Traced end-to-end figures against the latest untraced run of the
    same workload and seed."""
    d = os.path.join(reports_dir, workload)
    cands = sorted(f for f in os.listdir(d) if f.endswith(f"-s{seed}-t0.json")) \
        if os.path.isdir(d) else []
    if not cands:
        return None
    base = _load(os.path.join(d, cands[-1]))["metrics"]
    out = {}
    for k, (v, _, _) in traced_e2e.items():
        b = base.get(k, {}).get("value")
        if v is not None and b:
            out[k] = {"untraced": b, "traced": v, "change": v / b - 1}
    return {"against": cands[-1], "metrics": out}


def run(args):
    t_start = time.monotonic()
    spec = _load(os.path.join(HERE, "workloads.json"))
    if args.workload not in spec["workloads"]:
        raise Failure(f"unknown workload {args.workload!r}; defined: "
                      f"{', '.join(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)

    try:
        classpath, source_hash, built = build.ensure(ROOT, build_dir, log)
        boot_opts = build.jvm_options(ROOT, os.path.join(build_dir, "tmp"))
    except build.BuildError as e:
        raise Failure(str(e))
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    registry = _registry(build_dir, classpath, boot_opts, source_hash)
    scale = spec["data"]["scale"]
    data_dir = datagen.ensure(build_dir, scale)
    data_id = os.path.basename(data_dir)
    oracle_cache = os.path.join(build_dir, "oracle", data_id)
    # a run's time budget starts after the build, which only the first
    # run in a checkout pays
    budget = wl["timeout_s"] - (0 if built else time.monotonic() - t_start)

    run_dir = os.path.join(build_dir, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    jvm_opts = build.jvm_options(ROOT, os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    t_jvm = time.monotonic()
    _java(classpath, jvm_opts,
          ["run", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--deadline", str(max(1.0, budget - CHECK_MARGIN_S - 20)),
           "--cpus", str(cpus), "--data", data_dir, "--rundir", run_dir,
           "--setup-reps", str(SETUP_REPS),
           "--out", raw_path]
          + _harness_args(spec, args.workload),
          os.path.join(run_dir, "harness.log"),
          max(10.0, budget - CHECK_MARGIN_S))
    jvm_s = time.monotonic() - t_jvm
    raw = _load(raw_path)

    # output checks, outside every timing window
    outputs = {e["query"]: e["output"] for e in raw["execs"]
               if e["pass"] == 0 and e["ok"] and e.get("output")}
    if wl["kind"] == "vpic":
        bad = {}
    else:
        con = checks.connect(data_dir)
        bad = checks.check_outputs(con, oracle_cache, registry, outputs)
    errors = {}
    for e in raw["execs"]:
        if not e["ok"]:
            errors.setdefault(e["query"], e["error"])
    errors.update(bad)

    e2e, attempted, failed = metrics.end_to_end(raw, set(bad))
    report = {
        "env": _env(raw, args, data_dir, source_hash, cpus),
        "workload": args.workload, "seed": args.seed, "traced": args.trace,
        "metrics": {k: {"value": v, "unit": u, "n": n}
                    for k, (v, u, n) in e2e.items()},
        "attempted": attempted, "failed": failed,
        "checks": {"checked": len(outputs) + sum(e["checked"] for e in raw["execs"]),
                   "failures": errors},
        "queries": _per_query(raw),
        "vpic": raw.get("vpic"),
        "setup_runs_s": raw["setup_s"],
        "pass_ends_ms": [p["end"] for p in raw["passes"]],
        "jvm_wall_s": jvm_s,
    }
    if args.trace:
        report["layers"] = {k: {"value": v, "unit": u, "n": n}
                            for k, (v, u, n) in metrics.per_layer(raw).items()}
        report["self_time"] = metrics.span_self_times(raw)
        report["trace"] = {"spans": raw["spans"], "jobs": raw["jobs"]}
    reports_dir = os.path.join(build_dir, "reports")
    if args.trace:
        report["tracing_overhead"] = _overhead(reports_dir, args.workload,
                                               args.seed, e2e)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    report_path = args.report or os.path.join(
        reports_dir, args.workload, f"{stamp}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(report_path)), exist_ok=True)
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    _print_report(report, report_path)
    section = "per_layer" if args.trace else "end_to_end"
    values = {**report["metrics"], **report.get("layers", {})}
    out = {}
    for m in bench[section]:
        if m["name"] not in values:
            raise Failure(f"BENCHMARK.json metric {m['name']} is not measured")
        out[m["name"]] = {"value": values[m["name"]]["value"],
                          "unit": values[m["name"]]["unit"]}
    return {"correct": not errors, "attempted": attempted, "failed": failed,
            "metrics": out}


def _env(raw, args, data_dir, source_hash, cpus):
    sha, dirty = _git()
    jvm = raw["env"]
    return {
        "git_sha": sha, "git_dirty": dirty, "source_sha256": source_hash,
        "nproc": cpus, "executor_threads": jvm["executor_threads"],
        "master": jvm["master"], "max_heap_mb": jvm["max_heap_mb"],
        "jvm_flags": jvm["jvm_args"], "spark": jvm["spark"],
        "scala": jvm["scala"], "jdk": jvm["jdk"],
        "data_dir": os.path.relpath(data_dir, ROOT),
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "traced": bool(args.trace),
        "load_avg": os.getloadavg(),
        "started_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
    }


def _per_query(raw):
    out = {}
    for e in raw["execs"]:
        q = out.setdefault(e["query"], {"module": e["module"], "cold_s": None,
                                        "warm_s": [], "heap_mb": []})
        q["heap_mb"].append(e["heap_mb"])
        if e["pass"] == 0:
            q["cold_s"] = e["latency_s"]
        else:
            q["warm_s"].append(e["latency_s"])
    return out


def _print_report(r, path):
    p = print
    p("# env " + json.dumps(r["env"], sort_keys=True))
    p(f"# workload {r['workload']} seed {r['seed']} traced {r['traced']}")
    for k, m in r["metrics"].items():
        v = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        p(f"# e2e {k:<18} {v:>12} {m['unit']:<5} n={m['n']}")
    for k, m in r.get("layers", {}).items():
        p(f"# layer {k:<28} {m['value']:>12.6g} {m['unit']:<5} n={m['n']}")
    for kind, s in sorted(r.get("self_time", {}).items()):
        p(f"# span {kind:<8} count={s['count']:<6} total={s['total_s']:.4f}s "
          f"self={s['self_s']:.4f}s")
    if r["traced"]:
        o = r.get("tracing_overhead")
        if o is None:
            p("# tracing overhead: no untraced run of this workload and seed "
              "in the reports directory yet; run with --trace 0 to get one")
        else:
            for k, x in o["metrics"].items():
                p(f"# tracing overhead {k}: untraced {x['untraced']:.6g}, "
                  f"traced {x['traced']:.6g} ({x['change']:+.1%}) "
                  f"vs {o['against']}")
    c = r["checks"]
    p(f"# check: {c['checked']} outputs checked, {len(c['failures'])} failed")
    for q, err in sorted(c["failures"].items()):
        p(f"# FAILED {q}: {err}")
    p(f"# report {path}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="warm measuring time: whole passes, at least one")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="path of the full report JSON")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except Failure as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
