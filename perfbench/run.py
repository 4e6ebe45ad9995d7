#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                           [--smoke] [--plant wrong-row|throw]

Run from the repository root. Builds the engine and the harness from source
(once per source state), generates the workload inputs from the seed, runs
one closed-loop client for `--seconds`, checks every result outside the
timed region and prints one JSON line as the last line of stdout. Exits 1
when any op failed or returned a wrong result, 2 on a usage or build error.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import build  # noqa: E402
import workloads  # noqa: E402

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, one set-up")
    ap.add_argument("--plant", choices=("wrong-row", "throw"), default=None)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft not found")
    work = os.path.join(HERE, ".work")
    try:
        classpath = build.ensure(root, os.path.join(HERE, ".build"))
    except build.BuildError as e:
        fail(f"build failed: {e}")

    wl = workloads.WORKLOADS[args.workload]
    size = wl["smoke"] if args.smoke else wl["full"]
    run_dir = os.path.join(work, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    t0 = time.monotonic()
    inputs = wl["generate"](np.random.default_rng(args.seed), data, size, args.plant)
    phases = {"generate_s": time.monotonic() - t0}

    cores = len(os.sched_getaffinity(0))
    heap = "2g" if args.smoke else "4g"
    # -UsePerfData: the JVM would otherwise write its counters under /tmp
    cmd = ["java", f"-Xmx{heap}", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           *JVM_OPENS, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--data", data, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--reps", str(size["reps"]), "--cores", str(cores)]
    if args.plant == "wrong-row":
        cmd += ["--plant", "wrong-row"]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=args.seconds + 150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the harness did not finish in time; see " + log.name)
    if code != 0:
        fail(f"the harness exited with {code}; see {log.name}")

    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f]
    phases["jvm_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    failures = wl["check"](inputs, ops, out)
    phases["check_s"] = time.monotonic() - t0
    result = summarize(args, inputs, run, ops, failures, out, cores, heap)
    result["artifact"]["phases_s"] = dict(phases, **{k: run[k] for k in (
        "session_s", "warmup_s", "loop_s", "after_loop_s")}, setup_reps_total_s=sum(run["setup_reps_s"]))
    for line in result.pop("failed_ops"):
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(result["artifact"], f, indent=1)
    shutil.rmtree(data, ignore_errors=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


def summarize(args, inputs, run, ops, failures, out, cores, heap):
    # warm-up ops (negative ids) are checked but are not timing samples
    ok = [o for o in ops if o["id"] >= 0 and o["id"] not in failures]
    walls = sorted(o["wall_s"] for o in ok)
    p50 = statistics.median(walls) if walls else float("nan")
    p90 = float(np.percentile(walls, 90)) if walls else float("nan")
    if args.trace == 0:
        metrics = {
            "setup_s": (run["session_s"] + statistics.median(run["setup_reps_s"]), "s"),
            "latency_p50_s": (p50, "s"),
            "ops_per_s": (len(ok) / run["loop_s"], "1/s"),
        }
    else:
        metrics = layer_metrics(ok, run, inputs, out)
    # no successful op leaves no sample: report null, never NaN
    metrics = {k: {"value": None if v != v else v, "unit": u} for k, (v, u) in metrics.items()}
    error_rate = len(failures) / max(1, len(ops))
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "master": run["master"], "shuffle_partitions": run["shuffle_partitions"],
        "cores_nproc": cores, "max_heap": heap, "max_heap_bytes": run["max_heap_bytes"],
        "session_time_zone": run["session_time_zone"],
        "load_before": run["load_before"], "load_after": run["load_after"],
        "sizes": inputs["sizes"],
        "input_bytes_per_heap": inputs["sizes"].get("input_bytes", 0) / run["max_heap_bytes"],
        "session_s": run["session_s"], "setup_reps_s": run["setup_reps_s"],
        "warmup_ops": run["warmup_ops"], "ops": len(ops), "samples": len(walls),
        "mem_peak_mb": max(run["live_heap_bytes"]) / 2**20 if args.trace else None,
        "live_heap_bytes": run["live_heap_bytes"],
        "latency_p90_s": p90, "samples_beyond_p90": sum(1 for w in walls if w > p90),
        "error_rate": error_rate,
        "failed": {str(k): v for k, v in failures.items()},
        "per_key_median_s": per_key(ok),
        "metrics": metrics,
    }
    return {
        "correct": not failures, "attempted": len(ops), "failed": len(failures),
        "metrics": metrics,
        "failed_ops": [f"op {k}: {v}" for k, v in sorted(failures.items())],
        "artifact": artifact,
    }


def per_key(ops):
    by = {}
    for o in ops:
        by.setdefault(o["key"][:160], []).append(o["wall_s"])
    return {k: statistics.median(v) for k, v in by.items()}


# span name -> per-layer metric (mean ms per op)
SPAN_METRICS = {
    "parser.parse": "parser.parse_ms", "engine.bind": "engine.bind_ms",
    "engine.index_get": "engine.index_get_ms", "engine.execute": "engine.execute_ms",
    "engine.collect": "engine.collect_ms", "engine.release": "engine.release_ms",
    "queries.construct": "queries.construct_ms", "queries.action": "queries.action_ms",
}
# runtime counters summed per op by the harness -> (metric, unit)
SPARK_SUMS = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.planning_ms": "ms", "spark.aqe_replans": "count",
              "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms",
              "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
              "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes"}


def layer_metrics(ok, run, inputs, out):
    """Traced run: per-op means of every span and runtime counter, the
    derived ratios, and the set-up layers."""
    n = max(1, len(ok))
    ids = {o["id"] for o in ok}
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    per_op, child_ns, setup_index = {}, {}, []
    roots = {s["id"]: s for s in spans if s["name"] == "op" and s["op"] in ids}
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        if s["name"] == "setup.index":
            setup_index.append(d / 1e6)
        if s["op"] not in ids:
            continue
        if s["name"] in SPAN_METRICS:
            per_op[SPAN_METRICS[s["name"]]] = per_op.get(SPAN_METRICS[s["name"]], 0.0) + d / 1e6
        if s["parent"] in roots:
            child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + d
    m = {name: (per_op.get(name, 0.0) / n, "ms") for name in SPAN_METRICS.values()}
    layer = [o.get("layer", {}) for o in ok]
    for k, unit in SPARK_SUMS.items():
        m[k] = (sum(x.get(k, 0.0) for x in layer) / n, unit)
    tasks = sum(x.get("spark.tasks", 0.0) for x in layer)
    m["spark.empty_task_frac"] = (sum(x.get("spark.empty_tasks", 0.0) for x in layer)
                                  / max(1.0, tasks), "ratio")
    # op wall not covered by any running task
    m["spark.driver_gap_ms"] = (sum(max(0.0, o["wall_s"] * 1e3 - x.get("spark.busy_ms", 0.0))
                                    for o, x in zip(ok, layer)) / n, "ms")
    cp = [o for o in ok if "rows" in o]
    cells = sum(o["cells"] for o in cp)
    cp_wall = sum(o["wall_s"] for o in cp)
    m["engine.cells_per_s"] = (cells / cp_wall if cp_wall else 0.0, "1/s")
    m["engine.cells_per_result"] = (cells / max(1, sum(len(o["rows"]) for o in cp)), "ratio")
    m["engine.index_hit_ratio"] = (sum(o["index_hit"] for o in cp) / max(1, len(cp)), "ratio")
    col_bytes = inputs["sizes"].get("column_bytes", 0)
    m["engine.index_disk_ratio"] = (run["index_bytes"] / col_bytes if col_bytes else 0.0,
                                    "ratio")
    reps = len(run["setup_reps_s"])
    m["setup.index_build_ms"] = (statistics.median(setup_index) if setup_index else 0.0, "ms")
    m["setup.output_bytes"] = (run["setup_layer"].get("spark.output_bytes", 0.0) / reps,
                               "bytes")
    m["trace.ops_per_s"] = (len(ok) / run["loop_s"], "1/s")
    cover = [child_ns.get(rid, 0) / max(1, r["end_ns"] - r["start_ns"])
             for rid, r in roots.items()]
    m["trace.span_coverage"] = (statistics.mean(cover) if cover else 0.0, "ratio")
    return m


if __name__ == "__main__":
    main()
