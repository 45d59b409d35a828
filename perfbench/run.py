#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: two closed-loop workloads, one client.

Usage (from the repository root):
  python3 perfbench/run.py --workload <registry-queries|coding-session>
                           --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.sbt; skipped
when the sources are unchanged), generates the input tables, runs the
workload (its op order and session content drawn from the seed) against
`local[nproc]` for S seconds after an untimed warm pass, checks every
answer, and prints one JSON object as the last line of stdout. With
--trace 0 it holds the end-to-end metrics; with --trace 1 the per-layer
ones, and the spans go to perfbench/out/. See perfbench/README.md.
Exits non-zero on a wrong answer or a failed op.
"""
import sys

sys.dont_write_bytecode = True  # the checkout stays as git left it

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("registry-queries", "coding-session")
# Engine switches meant for experiments; a run with any of them set would
# measure a different engine than the one committed.
DEV_SWITCHES = ("SPARK_GRAFT_ITER_AQE", "SPARK_GRAFT_ITER_WIDTH", "SPARK_GRAFT_ITER_DEBUG",
                "SPARK_GRAFT_TRI_SPLIT_EDGES", "SPARK_GRAFT_CKPT_NO_REPLICA",
                "SPARK_GRAFT_SERIALIZER", "SPARK_GRAFT_MASTER")
SCALE_FACTOR = 0.001
# The tables are the same for every run, as the engine's own test data is;
# --seed drives what a workload does with them (query order, session
# content). A per-seed data set would change how many loop rounds the
# iterative plans run, and with it the work, from one seed to the next.
DATA_SEED = 42
JVM_HEAP = "3g"
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 850.0
UNITS = {"setup_s": "s", "throughput_ops_s": "1/s", "latency_p50_s": "s", "geomean_query_s": "s"}
LAYER_UNITS = {
    "driver.self_s": "s", "spark.job_wall_s": "s", "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_busy_share": "ratio", "spark.task_cpu_s": "s", "spark.stage_wait_s": "s",
    "spark.failed_tasks": "count", "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB", "catalyst.plan_s": "s", "catalyst.actions_per_op": "count",
    "jvm.gc_pause_s": "s", "jvm.heap_peak_mb": "MiB", "trace.overhead_ratio": "ratio",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class Refused(Exception):
    """The benchmark cannot run here; nothing was measured."""


def refuse_dev_switches(env):
    found = [k for k in DEV_SWITCHES if k in env]
    if found:
        raise Refused(f"engine dev switches set: {', '.join(found)}; unset them to benchmark")


def source_files():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise Refused(f"engine sources not found under {engine}")
    files = glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_child(cmd, cwd, env, log_path, deadline):
    """Run `cmd` in its own process group with output to `log_path`; the whole
    group is killed, and waited for, if it outlives `deadline` or this
    process is interrupted. Returns the exit code, or "timeout"."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def build(stamp):
    """Compile engine + harness with sbt unless this source hash is built."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if shutil.which("sbt") is None:
        raise Refused("sbt not found on PATH")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, os.environ,
                   log, time.monotonic() + BUILD_TIMEOUT_S)
    if rc != 0:
        raise Refused(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, run_dir, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise Refused("SPARK_HOME is not set")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    for d in ("tmp", "artifacts", "out"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = [java, "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
           f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["perfbench.Harness"] + [str(a) for a in args]
    env = dict(os.environ, SPARK_GRAFT_ARTIFACTS=os.path.join(run_dir, "artifacts"))
    log_path = os.path.join(run_dir, "jvm.log")
    rc = run_child(cmd, run_dir, env, log_path, deadline)
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")


def check_answers(workload, results, data_dir, run_dir):
    """{op index: error or None}; query answers are digested against DuckDB."""
    import digest  # loads tools/check.py, which source_files() has found
    errors = {o["i"]: o["error"] for o in results["ops"]}
    if workload == "coding-session":
        return errors
    oracle = results["workload"]["oracle"]
    missing = [q for q, sql in oracle.items() if sql is None]
    if missing:
        raise RuntimeError(f"no oracle SQL for {missing}")
    want = digest.oracle_digests(data_dir, oracle, os.path.join(run_dir, "tmp"))
    for o in results["ops"]:
        if errors[o["i"]] is None:
            got = digest.digest(digest.read_output(o["out"]))
            if got != want[o["kind"]]:
                errors[o["i"]] = f"digest {got} != oracle {want[o['kind']]}"
    return errors


def report(workload, seed, results, errors, trace, meta, cores):
    """Print the metrics, the last line being the result object; returns the
    exit code, non-zero when any op failed or gave a wrong answer."""
    timed = [o for o in results["ops"] if not o["warm"]]
    for o in results["ops"]:
        if errors[o["i"]]:
            print(f"FAILED op {o['i']} {o['kind']}: {errors[o['i']]}", file=sys.stderr)
    bad = {i for i, e in errors.items() if e is not None}
    attempted = len(timed)
    failed = sum(1 for o in timed if o["i"] in bad)
    warm_failed = any(o["i"] in bad for o in results["ops"] if o["warm"])
    info = metrics.details(results, workload)
    info["failed_ratio"] = failed / attempted
    if trace is not None:
        values, specific = metrics.per_layer(results, trace, cores)
        if specific["spark.unattributed_jobs"]:
            print(f"FAILED: {specific['spark.unattributed_jobs']} Spark jobs not attributed to an op",
                  file=sys.stderr)
        units = LAYER_UNITS
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump({"meta": meta, "per_layer": values, "per_layer_specific": specific,
                       "end_to_end_details": info, "spans": trace["spans"],
                       "actions": trace["actions"], "batches": trace["batches"],
                       "ops": results["ops"]}, fh)
        print(f"# spans and per-layer metrics: {os.path.relpath(path, ROOT)}")
        shown = dict(values, **specific)
        sound = not specific["spark.unattributed_jobs"]
    else:
        values = metrics.end_to_end(results, {o["i"] for o in timed} - bad)
        units = UNITS
        shown = dict(values, **info)
        sound = True
    print("# " + " ".join(f"{k}={v}" for k, v in meta.items()))
    for k, v in shown.items():
        print(f"{k:32s} {json.dumps(v)} {units.get(k, '')}")
    correct = failed == 0 and not warm_failed and sound
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0 if correct else 1


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its children and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    try:
        refuse_dev_switches(os.environ)
        stamp = source_hash()
        classes = build(stamp)
    except Refused as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = max(deadline, time.monotonic() + DEADLINE_S)  # a fresh build is not run time
    cores = len(os.sched_getaffinity(0))
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        t0 = time.monotonic()
        data_dir = os.path.join(run_dir, "data")
        datagen.write(data_dir, SCALE_FACTOR, DATA_SEED)
        t1 = time.monotonic()
        run_jvm(classes, [a.workload, a.seed, a.seconds, a.trace, data_dir, run_dir, cores],
                run_dir, deadline)
        t2 = time.monotonic()
        with open(os.path.join(run_dir, "results.json")) as fh:
            results = json.load(fh)
        trace = None
        if a.trace:
            with open(os.path.join(run_dir, "trace.json")) as fh:
                trace = json.load(fh)
        errors = check_answers(a.workload, results, data_dir, run_dir)
        meta = dict(results["meta"], commit=git_commit(), source_hash=stamp,
                    scale_factor=SCALE_FACTOR,
                    wall_s={"datagen": t1 - t0, "jvm": t2 - t1, "check": time.monotonic() - t2})
        return report(a.workload, a.seed, results, errors, trace, meta, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
