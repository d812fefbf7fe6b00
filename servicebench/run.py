"""Service benchmark entry point.

    python3 servicebench/run.py --workload <etl_load|service_dag|curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (``servicebench/harness/Makefile``) on first use, generates the
inputs from the seed, drives the engine through its public service API in
one JVM, checks every output against DuckDB and the ledger properties,
and prints one JSON object as the last line of standard output: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero without a result when the build, the run or
a check cannot be completed.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout but run output

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

BUILD_DIR = ".bench_build/servicebench"
RUN_ROOT = ".bench_run"

# Ticks before the timed window: the first one is the cold run that
# first_workflow_s reports; see README.md for the warm-up curves.
WARMUP = 1

# A warm tick's wall time on the reference box (4 vCPUs). The timed
# window is the whole number of ticks that takes about --seconds there, so
# every run times the same ticks at the same point of the warm-up curve,
# however fast the box is at the moment. At --seconds 20 that is one
# etl_load workflow and three service_dag ticks (7 workflows: one whole
# round of its three-minute schedule).
TICK_S = {"etl_load": 14.0, "service_dag": 6.5, "curation": 14.0}

# Share of CPU time the hypervisor may steal from the VM during the
# timed window before the run warns that its times are inflated.
STEAL_WARN = 0.05

# Threads: the load is one closed loop, and the JVM runs fewer busy
# threads than the box has vCPUs, so a run measures the program rather
# than the scheduler. Spark gets half the vCPUs (local[n]); the JIT keeps
# both tiers (C1 + C2) with two compiler threads, and G1 two parallel and
# one concurrent GC thread. On the 4-vCPU reference box this halved the
# run-to-run spread of every time metric against local[4] with the JVM's
# default thread counts (README "Threads").
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]


def spark_cores():
    return max(1, (os.cpu_count() or 1) // 2)


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[servicebench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def build(root):
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found: run from the root of a checkout")
    if not os.path.isdir(spark_jars()):
        fail(f"Spark jars not found at {spark_jars()}")
    out = os.path.join(root, BUILD_DIR)
    r = subprocess.run(["make", "-s", "-C", os.path.join(HERE, "harness"), f"ROOT={root}",
                        f"OUT={out}", f"SPARK_JARS={spark_jars()}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    return os.path.join(out, "classes")


def fs_type(path):
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, typ = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                    best, typ = mnt, parts[2]
    except OSError:
        pass
    return typ


def machine_context(run_dir):
    """Load, cpus, boot id and scratch filesystem, read before the run."""
    def read(p):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            return None
    load = read("/proc/loadavg")
    ctx = {"load1": float(load.split()[0]) if load else None,
           "cpus": os.cpu_count(), "boot_id": read("/proc/sys/kernel/random/boot_id"),
           "scratch_fs": fs_type(run_dir), "spark_cores": spark_cores()}
    if ctx["scratch_fs"] != "tmpfs":
        log(f"warning: scratch {run_dir} is on {ctx['scratch_fs']}, not tmpfs; "
            "disk noise can widen the spread")
    return ctx


def timed_ticks(workload, seconds):
    return max(1, round(seconds / TICK_S[workload]))


def run_harness(classes, run_dir, workload, timed, trace, batches):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = JVM_THREADS + ["-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd = (["java"] + ADD_OPENS + flags +
           ["-cp", f"{classes}:{spark_jars()}/*", "servicebench.ServiceBench",
            f"run={run_dir}", f"workload={workload}", f"timed={timed}",
            f"warmup={WARMUP}", f"trace={trace}", f"batches={batches}"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(spark_cores()))
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
    if r.returncode != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            tail = f.read()[-4000:]
        log(tail)
        fail(f"harness exited with {r.returncode}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), flags


def prepare_run_dir(root, name):
    base = os.path.join(root, RUN_ROOT)
    # one run's scratch at a time: a run's directory stays until the next
    # run starts
    if os.path.isdir(base):
        for d in os.listdir(base):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    run_dir = os.path.join(base, name)
    os.makedirs(run_dir)
    return run_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build(root)
    run_dir = prepare_run_dir(root, f"{a.workload}-s{a.seed}-t{a.trace}")
    t = time.time()
    gen.generate(run_dir, a.workload, a.seed)
    log(f"inputs generated in {time.time() - t:.1f}s")
    with open(os.path.join(run_dir, "inputs.json")) as f:
        inputs = json.load(f)
    ctx = machine_context(run_dir)
    t = time.time()
    result, ctx["java_flags"] = run_harness(classes, run_dir, a.workload,
                                            timed_ticks(a.workload, a.seconds), a.trace,
                                            inputs["batches"])
    log(f"harness ran in {time.time() - t:.1f}s")

    steal = [t["steal_share"] for t in result["ticks"] if t["timed"] and t["steal_share"] >= 0]
    ctx["steal_share"] = sum(steal) / len(steal) if steal else None
    log(f"context: {json.dumps(ctx)}")
    if ctx["steal_share"] is not None and ctx["steal_share"] > STEAL_WARN:
        log(f"warning: the hypervisor stole {ctx['steal_share']:.1%} of the CPU during the timed "
            "window; wall times are inflated, re-run when the host is quieter")

    t = time.time()
    report = checks.run_all(run_dir, a.workload, result)
    log(f"checks ran in {time.time() - t:.1f}s")
    for name, ok, detail in report.results:
        log(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    correct = all(ok for _, ok, _ in report.results)

    if a.trace:
        metrics, spans = layers.per_layer(result, report)
        with open(os.path.join(root, RUN_ROOT, f"spans-{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump({"context": ctx, "spans": spans}, f)
    else:
        metrics = layers.end_to_end(result, report)
    with open(os.path.join(root, RUN_ROOT, f"context-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(ctx, f)
    print(json.dumps({"correct": correct, "attempted": report.attempted,
                      "failed": report.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
