#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload geo_ingest --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
starts one bare JVM on the compiled classes and the Spark jars with
`local[nproc]`, and prints the JVM's result as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

Everything the run writes (warehouse, checkpoints, sink output, Spark
local dirs, generated inputs) lives in a fresh directory under
`.bench_run/` that is deleted when the run ends, whatever the outcome.
The JVM's own stdout and Spark's logs go to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T_START = time.time()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("geo_ingest", "snap_upsert", "operator_mix")
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm_command(classes, run_dir, main, args, t0_ms):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p)]
    return ["java", *opens,
            # the engine's own heap (build.sbt, tools/graft_java.sh) and the
            # JVM's default thread stack
            "-Xmx8g",
            # the one departure from the engine's launch: compile hot code
            # after a tenth of the usual invocations, so driver paths that
            # run a few times per operation are compiled within the warm-up
            # instead of getting faster through the timed part
            "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={BENCH_DIR}/log4j2.properties",
            f"-Dperfbench.t0={t0_ms}",
            "-cp", os.pathsep.join([classes, jars]), main, *args]


def run_jvm(cmd, run_dir):
    env = dict(os.environ)
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        # no waiting here: the interrupted proc.wait() holds Popen's lock,
        # so the wait happens in the finally below, once this unwinds it
        os.killpg(proc.pid, signal.SIGTERM)
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait()
    finally:
        terminate(proc)


def terminate(proc):
    """Stop the JVM's whole process group and wait until it has ended."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=20)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def with_units(raw, trace):
    """The JVM's {name: number} as {name: {value, unit}}, for exactly the
    metrics BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(raw) != set(want):
        raise SystemExit(f"run: metrics {sorted(set(raw) ^ set(want))} do not match BENCHMARK.json")
    return {k: {"value": raw[k], "unit": want[k]} for k in sorted(raw)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # local[n] threads; the benchmark's figures use every core (the default)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    classes, build_s = build.build()
    # setup_s counts from this process's start; a build the checkout had
    # to make first is not set-up of the measured run
    t0_ms = int((T_START + build_s) * 1000)
    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(ROOT, ".bench_run"))
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        result = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
                "--work", run_dir, "--result", result]
        rc = run_jvm(jvm_command(classes, run_dir, "graft.perfbench.Main", args, t0_ms), run_dir)
        if rc != 0 or not os.path.exists(result):
            print(f"run: JVM exited with code {rc} and no result", file=sys.stderr)
            return 1
        with open(result) as f:
            out = json.load(f)
        out["metrics"] = with_units(out["metrics"], a.trace)
        if a.workload == "operator_mix":
            ok = oracle.check(os.path.join(run_dir, "data"), os.path.join(run_dir, "verify"))
            out["correct"] = bool(out["correct"] and ok)
        sys.stdout.flush()
        print(json.dumps(out), flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
