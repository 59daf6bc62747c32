#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into the checkout's sbt target directories)
and caches the classpath under `.bench_build/perfbench`; later runs reuse
it while the sources are unchanged. Each run then

  1. generates the run's inputs from `--seed` (`gen.py`) and a fixed tiny
     warm-up input;
  2. runs the harness (`perfbench.Harness`) in one JVM on local[nproc - 1];
  3. checks every written result against the DuckDB oracle and the stream
     ingest against its properties (`check.py`);
  4. prints one JSON line: `correct`, `attempted`, `failed` and the
     end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).

The run record (host telemetry, per-pass times, failed operation names)
and, for traced runs, the per-operation spans stay in
`.bench_build/perfbench/run/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

WORKLOADS = ("reference_etl", "llm_heavy", "ingest_serve")
DATA_SCALE = 0.5
WARM_SEED = 20260101
WARM_SCALE = 0.1
JVM_TIMEOUT_S = 170  # keeps a whole run under three minutes

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources next to the benchmark; "
                 "run from the root of a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                           f"-Dsbt.repository.config={repos}")
    log("building engine and harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("perfbench: build failed")
    cp = [ln for ln in r.stdout.splitlines() if ln.startswith("/")][-1].strip()
    log(f"build done in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(seed):
    """Generated inputs, cached per seed and per version of `gen.py`."""
    import gen
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(WORK, "data", version, f"seed-{seed}")
    warm = os.path.join(WORK, "data", version, "warm")
    for d, s, scale in ((data, seed, DATA_SCALE), (warm, WARM_SEED, WARM_SCALE)):
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            gen.generate(d, s, scale)
            open(os.path.join(d, "_DONE"), "w").close()
    return data, warm


def jvm_heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def run_harness(cp, workload, data, warm, run_dir, seconds, trace):
    heap = jvm_heap()
    # A fixed-size heap under the throughput collector: no concurrent GC
    # threads and no heap resizing, whose timing varies from JVM to JVM.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", workload, data, warm, run_dir,
            str(seconds), str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CATALOG_CSV=os.path.join(data, "daftar_saham.csv"))
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch files inside the run directory
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: harness timed out")
        finally:  # on every way out, the JVM is gone before this returns
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "record.json")):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(run_dir, "record.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops its JVM (see run_harness).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    os.makedirs(WORK, exist_ok=True)
    # Runs in one checkout share the build and run directories: one at a time.
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp = build()
    data, warm = inputs(a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = run_harness(cp, a.workload, data, warm, run_dir, a.seconds, a.trace)

    import check
    mismatched = check.check_run(record, data, record["cores"])
    if record["timed_artifact_builds"]:  # measured passes must probe, never build
        mismatched.append(f"{record['timed_artifact_builds']} stored-artifact builds "
                          "inside the measured passes")
    failed = record["failed"] + len(mismatched)
    for m in mismatched:
        log(f"check failed: {m}")
    log(f"host {json.dumps(record['host'])}; passes {record['passes']}; "
        f"timed artifact builds {record['timed_artifact_builds']}")
    if record["failed_ops"]:
        log(f"failed operations: {record['failed_ops']}")
    units = check.UNITS
    metrics = record["layers"] if a.trace else record["e2e"]
    print(json.dumps({
        "correct": not mismatched,
        "attempted": record["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
