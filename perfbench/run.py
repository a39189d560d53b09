#!/usr/bin/env python3
"""Fixed-work benchmark of the graft engine over catalog workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One run builds the engine and this harness from source when they changed
(sbt, into .bench_build/), then starts a fresh JVM that runs the
workload's queries through graft.Engine and graft.SparkEntry: one priming
pass, then a fixed number of timed passes, each in an order permuted by
the seed. The work is fixed; --seconds is accepted for the caller's
interface and does not box it. Results are checked against the priming
digests in every pass and against DuckDB once per run. The last line of
stdout is one JSON object with the metrics: end-to-end ones with
--trace 0, per-layer ones (from a second, traced JVM) with --trace 1.

    python3 perfbench/run.py --selftest     # harness and metric self-tests
"""
import argparse
import glob
import hashlib
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
PASSES = 3           # timed passes after the priming pass
QUERY_LIMIT_S = 60   # a query slower than this counts as failed (timeout)
RUN_LIMIT_S = 170    # a run, build excluded, ends within this
JVM_OPTS = ["-Xmx4g"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def defined_units(kind):
    """Metric name -> unit, for "end_to_end" or "per_layer", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def check_checkout():
    """Fail fast, printing no result, when this is not a full checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala; run from a checkout root")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} not found on PATH")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    die(f"fixture {name} does not match its checksum")


def build():
    """Compile engine and harness when their sources changed; return the classes dir."""
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for p in files:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    stamp_path = os.path.join(BUILD, "source.sha256")
    classes = os.path.join(BUILD, "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == h.hexdigest():
                return classes, False
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=850).returncode
    if rc != 0:
        die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return classes, True


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return min(n, 4)


def start_harness(classes, run_dir, args, out):
    """Start the harness JVM in `run_dir`, writing its output to `out`.

    The engine runs on its own defaults: no GRAFT_* knob reaches it, and
    Spark's scratch space stays in the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    return subprocess.Popen([java, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                             "perfbench.Harness", *args],
                            cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)


def run_jvm(classes, orders, trace, dump, tag, deadline):
    """Run the harness in a fresh JVM; return its result dict."""
    run_dir = os.path.join(WORK, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan_path, out_path = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump({"data": DATA, "orders": orders, "cores": cores(), "trace": trace,
                   "dump": dump, "query_limit_s": QUERY_LIMIT_S}, f)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = start_harness(classes, run_dir, ["--plan", plan_path, "--out", out_path], logf)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{tag} JVM did not finish in time, see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(out_path):
        die(f"{tag} JVM failed (exit {rc}), see {run_dir}/jvm.log")
    with open(out_path) as f:
        return json.load(f)


def failed_executions(result, oracle_fail):
    """(pass, query) pairs that failed: threw, timed out, lost the priming
    digest, or (every execution of it) disagreed with DuckDB."""
    failed = {(f["pass"], f["query"]) for f in result["failures"]}
    for q in oracle_fail:
        failed |= {(p, q) for p in range(result["passes"] + 1)}
    return failed


def metric_block(values, units):
    """The result's metrics object: exactly the named metrics, each with its unit."""
    if set(values) != set(units):
        raise ValueError(f"metrics differ from the definition: missing "
                         f"{sorted(set(units) - set(values))}, unnamed "
                         f"{sorted(set(values) - set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(result, failed, attempted):
    return {
        "setup_s": result["setup_s"],
        "wall_s": statistics.median(result["pass_wall_s"]),
        "query_geomean_s": metrics.query_geomean(result["times"]),
        "retained_heap_mb": result["retained_heap_mb"],
        "success_frac": 1.0 - len(failed) / attempted,
    }


def per_layer(traced, untraced):
    layers = dict(traced["layers"])
    traced_wall = sum(traced["pass_wall_s"])
    layers["executor.core_util"] = metrics.core_util(
        layers["executor.run_s"], traced_wall / traced["passes"], traced["cores"])
    layers["trace.overhead_frac"] = traced_wall / sum(untraced["pass_wall_s"]) - 1.0
    for key in ("jobs", "stages", "tasks"):
        vals = [p[key] for p in traced["per_pass"]]
        log(f"scheduler.{key} per timed pass: {vals} (min {min(vals)}, max {max(vals)})")
    for name, w in sorted(traced["work_by_span"].items()):
        log(f"work in span {name}: jobs={w['jobs']} tasks={w['tasks']} "
            f"run_s={w['run_s']:.3f} cpu_s={w['cpu_s']:.3f}")
    for name, s in sorted(metrics.self_time_by_name(traced["spans"]).items()):
        log(f"self time of span {name}: {s:.3f} s")
    return layers


def run(args):
    started = time.monotonic()
    check_checkout()
    workloads = load_workloads()
    if args.workload not in workloads:
        die(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    queries = workloads[args.workload]["queries"]
    classes, built = build()
    deadline = (time.monotonic() if built else started) + RUN_LIMIT_S
    orders = metrics.seeded_orders(queries, args.seed, PASSES)
    log(f"workload={args.workload} seed={args.seed} cores={cores()} "
        f"passes=1 priming + {PASSES} timed")
    for i, order in enumerate(orders):
        log(f"order {'priming' if i == 0 else f'pass {i}'}: {' '.join(order)}")

    dump = os.path.join(WORK, "dump")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    untraced = run_jvm(classes, orders, False, dump, "untraced", deadline)
    verdicts, duck_s = oracle.check(dump, DATA, os.path.join(WORK, "oracle_cache.json"))
    oracle_fail = {q: why for q, why in verdicts.items() if why}
    for q in queries:
        state = "no oracle SQL" if q not in verdicts else (oracle_fail.get(q) or "ok")
        log(f"oracle {q}: {state}")
    log(f"oracle check: {len(verdicts) - len(oracle_fail)}/{len(verdicts)} match DuckDB "
        f"({duck_s:.2f} s in DuckDB)")
    for f in untraced["failures"]:
        log(f"FAILED pass {f['pass']} {f['query']} ({f['kind']}): {f['message']}")

    attempted = len(queries) * (PASSES + 1)
    failed = failed_executions(untraced, oracle_fail)
    if args.trace:
        traced = run_jvm(classes, orders, True, None, "traced", deadline)
        failed_traced = failed_executions(traced, oracle_fail)
        attempted *= 2
        failed = {("untraced",) + k for k in failed} | {("traced",) + k for k in failed_traced}
        out = metric_block(per_layer(traced, untraced), defined_units("per_layer"))
    else:
        out = metric_block(end_to_end(untraced, failed, attempted),
                           defined_units("end_to_end"))
    n = len(untraced["times"])
    log(f"query_geomean_s over {n} queries x {untraced['passes']} timed passes "
        f"= {n * untraced['passes']} samples")
    for q, ts in sorted(untraced["times"].items()):
        log(f"time {q}: median {statistics.median(ts):.3f} s of {['%.3f' % t for t in ts]}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": out}))


def selftest():
    """Unit tests of the metric arithmetic and output contract, then the
    JVM-side attribution test and the seeded-order check."""
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    if not unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful():
        sys.exit(1)
    check_checkout()
    classes, _ = build()
    if start_harness(classes, os.path.join(WORK, "selftest"), ["--selftest"], None).wait():
        sys.exit(1)
    # two seeds: different orders, identical result digests
    queries = load_workloads()["relational"]["queries"][:4]
    digests = []
    for seed in (1, 2):
        orders = metrics.seeded_orders(queries, seed, 1)
        digests.append((orders, run_jvm(classes, orders, False, None, f"selftest-seed{seed}",
                                        time.monotonic() + RUN_LIMIT_S)["digests"]))
    (o1, d1), (o2, d2) = digests
    ok = o1 != o2 and d1 == d2 and set(d1) == set(queries)
    print(f"[selftest] {'ok  ' if ok else 'FAIL'} seeds 1 and 2 give different orders "
          f"and identical digests: {d1}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10,
                    help="accepted for the caller's interface; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif not args.workload:
        ap.error("--workload is required")
    else:
        run(args)


if __name__ == "__main__":
    main()
