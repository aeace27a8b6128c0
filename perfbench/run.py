#!/usr/bin/env python3
"""Benchmark entry point.

Run one workload:
  python3 perfbench/run.py --workload <iterative|store_churn> \
      --seed <n> --seconds <s> --trace <0|1> [--results <dir>]

It builds the engine and harness from source (perfbench/build.py), runs the
workload in a fresh JVM, checks every output, writes all metrics (units,
sample counts, seed) and the traced run's spans to perfbench/results/, and
prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones.

Compare two sets of runs (directories of result files):
  python3 perfbench/run.py compare <dir A> <dir B>

Regenerate perfbench/expected.json from per-query result dumps of
`graft.Verify` at sf0.01 that `tools/check.py` passes against DuckDB:
  python3 perfbench/run.py expect <verify output dir>
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run writes only inside the checkout: no bytecode caches next to sources
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import compare  # noqa: E402

WORKLOADS = ("iterative", "store_churn")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(args, deadline):
    """Runs the harness in a fresh JVM, with its scratch space inside the
    build directory; returns the harness's raw JSON result."""
    classes = build.ensure_built()
    tmp = os.path.join(build.build_dir(), "tmp", f"{args['mode']}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        return launch(classes, tmp, args, deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def launch(classes, tmp, args, deadline):
    out = os.path.join(tmp, "raw.json")
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory.
    # -XX:TieredStopAtLevel=1: C1 only, for steady short runs (README.md).
    cmd = ["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-Xmx3g",
           "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graftbench.PerfBench"]
    cmd += [f"{k}={v}" for k, v in args.items()] + [f"out={out}"]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    log = os.path.join(tmp, "jvm.log")
    with open(log, "a") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                cwd=ROOT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"harness timed out ({args['mode']})")
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {code} ({args['mode']}):\n{tail}")
    with open(out) as f:
        return json.load(f)


# ---- metrics -----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


# store calls that are maintenance or metadata, not client requests
NOT_REQUESTS = {"history", "optimize", "vacuum"}


def pass_s(p):
    """A pass's engine time: the sum of its operations' latencies, which
    leaves out the benchmark's own output checks between them."""
    return sum(op.get("s", 0) for op in p["ops"])


def end_to_end(raw):
    passes = raw["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    lat = [op["s"] for p in warm for op in p["ops"]
           if not op.get("failed") and op["name"] not in NOT_REQUESTS]
    return {
        "setup_s": (raw["setup_s"], "s", 1),
        "cold_s": (pass_s(passes[0]), "s", 1),
        "warm_s": (median([pass_s(p) for p in warm]), "s", len(warm)),
        "query_p50_s": (median(lat), "s", len(lat)),
    }


def per_layer(raw):
    passes = raw["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    ncores = raw["cores"]

    def per_pass(f):
        return median([f(p) for p in traced])

    def total(key):
        return lambda p: sum(op.get(key, 0) for op in p["ops"])

    n = len(traced)
    m = {
        "build.s": (per_pass(total("build_s")), "s", n),
        "build.jobs": (per_pass(total("build_jobs")), "count", n),
        "build.share": (per_pass(lambda p: total("build_s")(p) / pass_s(p)), "ratio", n),
        "plan.s": (per_pass(total("plan_s")), "s", n),
        "plan.analysis_s": (per_pass(total("analysis_s")), "s", n),
        "plan.optimization_s": (per_pass(total("optimization_s")), "s", n),
        "plan.planning_s": (per_pass(total("planning_s")), "s", n),
        "sched.jobs": (per_pass(total("jobs")), "count", n),
        "sched.stages": (per_pass(total("stages")), "count", n),
        "sched.tasks": (per_pass(total("tasks")), "count", n),
        "sched.tasks_per_job": (per_pass(
            lambda p: total("tasks")(p) / max(1, total("jobs")(p))), "ratio", n),
        "sched.job_wall_s": (per_pass(total("job_wall_s")), "s", n),
        "sched.driver_gap_s": (per_pass(total("driver_gap_s")), "s", n),
        "task.run_s": (per_pass(total("run_s")), "s", n),
        "task.cpu_s": (per_pass(total("cpu_s")), "s", n),
        "task.gc_s": (per_pass(total("gc_s")), "s", n),
        "task.core_util": (per_pass(
            lambda p: total("run_s")(p) / (pass_s(p) * ncores)), "ratio", n),
    }
    for k in ("scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "result_bytes"):
        m["io." + k] = (per_pass(total(k)), "bytes", n)
    ops = [op for p in traced for op in p["ops"] if "persisted_rdds" in op]
    m["cache.persisted_rdds"] = (statistics.fmean([op["persisted_rdds"] for op in ops])
                                 if ops else 0.0, "count", len(ops))
    m["cache.stored_bytes"] = (statistics.fmean([op["stored_bytes"] for op in ops])
                               if ops else 0.0, "bytes", len(ops))
    m["trace.overhead_s"] = (median([pass_s(p) for p in traced]) -
                             median([pass_s(p) for p in untraced]), "s", n)
    m["jvm.heap_live_mb"] = (raw["heap_live_mb"], "MB", 1)
    m.update(store_layer(traced))
    return m


# store calls whose summed time, as a share of the pass, is reported
STORE_SHARES = {"store.commit_share": ("upsert", "delete_mor"),
                "store.read_share": ("read",),
                "store.read_version_share": ("read_version",),
                "store.history_share": ("history",),
                "store.maint_share": ("optimize", "vacuum")}


def store_layer(traced):
    """Store metrics. Times are shares of the pass, not per-call
    latencies, so that a workload that makes no store call reads 0 as a
    ratio (the per-call latencies are in the result file's passes)."""
    m = {}
    for name, calls in STORE_SHARES.items():
        m[name] = (median([sum(op.get("s", 0) for op in p["ops"] if op["name"] in calls)
                           / pass_s(p) for p in traced]), "ratio", len(traced))
    commits = [op for p in traced for op in p["ops"]
               if op["name"] in ("upsert", "delete_mor") and not op.get("failed")]
    m["store.jobs_per_commit"] = (statistics.fmean([op["jobs"] for op in commits])
                                  if commits else 0.0, "count", len(commits))
    for key, name, unit in (("manifest_bytes", "store.manifest_bytes_per_commit", "bytes"),
                            ("head_files", "store.head_files", "count"),
                            ("space_amp", "store.space_amp", "ratio")):
        m[name] = (median([op[key] for op in commits]), unit, len(commits))
    rewritten = sum(op["rewrite_bytes"] for op in commits)
    changed = sum(op["changed_bytes"] for op in commits)
    m["store.rewrite_bytes_per_changed_byte"] = (
        rewritten / changed if changed else 0.0, "ratio", len(commits))
    return m


# ---- driver --------------------------------------------------------------

def run(args):
    for path in (DATA, EXPECTED):
        if not os.path.exists(path):
            raise RuntimeError(f"missing benchmark input {path}")
    # build first: the 180 s a run may take do not count the build
    build.ensure_built()
    raw = run_jvm({"mode": "run", "workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace, "data": DATA,
                   "expected": EXPECTED}, time.time() + 170)
    metrics = per_layer(raw) if args.trace else end_to_end(raw)
    failed = raw["failed"] + raw["wrong"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": raw["cores"],
        "attempted": raw["attempted"], "failed": failed,
        "fail_frac": failed / max(1, raw["attempted"]),
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (v, u, n) in metrics.items()},
        "setup_parts_s": raw["setup_parts_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
        "passes": [{"pass": p["pass"], "cold": p["cold"], "traced": p["traced"],
                    "wall_s": p["wall_s"],
                    "ops": [[op["name"], op.get("s")] for op in p["ops"]]}
                   for p in raw["passes"]],
        "errors": raw["errors"],
        "caches_not_reset": raw["caches_not_reset"],
        "spans": raw["spans"],
    }
    results = args.results or os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f)
    for e in raw["errors"][:20]:
        print(f"[perfbench] {e}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": raw["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


def expect(verify_dir):
    res = run_jvm({"mode": "expect", "data": DATA,
                   "verify": os.path.abspath(verify_dir)}, time.time() + 600)
    with open(EXPECTED, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        sys.exit(compare.main(sys.argv[2:]))
    if len(sys.argv) == 3 and sys.argv[1] == "expect":
        return expect(sys.argv[2])
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", help="directory for the result file")
    args = ap.parse_args()
    try:
        run(args)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
