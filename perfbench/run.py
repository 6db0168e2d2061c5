#!/usr/bin/env python3
"""covsonarspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest|screen --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into `target/` and
`perfbench/target/`, and caches the resulting classpath under
`.bench_build/perfbench/`, keyed by a hash of every source file. Each run
then starts one JVM (local[<cores>] for ingest, local[<cores>/2] for screen)
that generates the seeded inputs, sets up, measures for S seconds and checks
every output. With --trace 1 it also records spans and Spark job/task counts
per layer call, and runs the calibration sentinels in their own JVM before
and after the workload.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). A per-layer metric a workload does not
exercise reads 0. Everything else goes to stderr; the full artifact (sizes,
settings, failures, calibration) and the spans go to .bench_build/perfbench/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build" / "perfbench"
RUN_BUDGET_S = 170
HEAP = "2g"
BUILD_BUDGET_S = 700
WORKLOADS = ("ingest", "screen")

# Spark 4 on JDK 17 needs these outside spark-submit (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


CHILD = None


def stop_child(signum, _frame):
    """A terminated run takes its child process group down with it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    sys.exit(128 + signum)


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group and
    waits for it. Returns (returncode, stdout) or (None, stdout) on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                             start_new_session=True, text=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
        return CHILD.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(CHILD.pid, signal.SIGKILL)
        out, _ = CHILD.communicate()
        return None, out
    finally:
        CHILD = None


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def build(stamp):
    """Classpath of the benchmark plus the program, built once per source stamp."""
    cp_file = OUT / f"classpath-{stamp}.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip()
    log("building program and benchmark with sbt")
    t0 = time.time()
    rc, out = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       BUILD_BUDGET_S, cwd=HERE, env=sbt_env())
    sys.stderr.write(out[-4000:])
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        log(f"build failed (exit {rc})")
        sys.exit(3)
    cp = lines[-1].strip()
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def graft_keys():
    """Every spark.graft.* key the program reads, so the artifact can list its
    effective value."""
    keys = set()
    for f in (ROOT / "src" / "main").rglob("*.scala"):
        keys.update(re.findall(r'"(spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_])"', f.read_text()))
    return sorted(keys)


def java(cp, heap, main, args, timeout):
    # A fixed, pre-touched heap makes the resident set outside the heap the
    # peak resident set minus the heap, which memory_mb adds to the live heap. The GCLocker retry budget is the one the program's own build
    # gives its forked JVMs: with the default of 2, task threads inside
    # native Parquet/compression code can make an allocating thread throw a
    # spurious OutOfMemoryError with most of the heap free.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UnlockDiagnosticVMOptions",
           "-XX:GCLockerRetryAllocationCount=64", f"-Djava.io.tmpdir={OUT / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return run_proc(cmd + ["-cp", cp, main] + args, timeout)


def calibrate(cp, deadline):
    rc, out = java(cp, "1400m", "perfbench.Calib", [], max(10, deadline - time.time()))
    if rc != 0:
        log(f"calibration failed (exit {rc})")
        return None
    return json.loads(out.strip().splitlines()[-1])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    for need in ("build.sbt", "src/main/scala/graft/covsonar", "BENCHMARK.json"):
        if not (ROOT / need).exists():
            log(f"{need} not found under {ROOT}: run from the repository root")
            sys.exit(2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    started = time.time()
    stamp = source_stamp()
    cp = build(stamp)
    deadline = time.time() + RUN_BUDGET_S
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)

    traced = a.trace == "1"
    log(f"ready in {time.time() - started:.1f} s")
    calib = [calibrate(cp, deadline)] if traced else []
    log(f"calibrated at {time.time() - started:.1f} s")
    work = OUT / f"work-{a.workload}-{os.getpid()}"
    result_file = OUT / f"result-{os.getpid()}.json"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rc, out = java(cp, HEAP, "perfbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", a.trace, "--work", str(work), "--out", str(result_file),
                        "--graft-keys", ",".join(graft_keys())],
                       max(10, deadline - time.time() - (15 if traced else 0)))
        sys.stderr.write(out)
        log(f"workload JVM done at {time.time() - started:.1f} s")
        if rc != 0 or not result_file.is_file():
            log("workload JVM timed out" if rc is None else f"workload JVM failed (exit {rc})")
            sys.exit(4)
        res = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        result_file.unlink(missing_ok=True)
    if traced:
        calib.append(calibrate(cp, deadline))

    measured = res["metrics"] if not traced else dict(res["layers"])
    correct = res["correct"]
    if traced:
        ok = [c for c in calib if c]
        for key, name in (("cpu_s", "box.calib_cpu_s"), ("mem_s", "box.calib_mem_s")):
            if ok:
                measured[name] = {"value": sum(c[key] for c in ok) / len(ok), "unit": "s"}
    metrics = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        got = measured.get(m["name"])
        if got is None and not traced:
            log(f"end-to-end metric {m['name']} missing")
            correct = False
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}

    artifact = res["artifact"]
    artifact.update({"git_commit": git_commit(), "source_stamp": stamp, "calibration": calib,
                     "run_wall_s": time.time() - started})
    (OUT / f"artifact-{a.workload}-s{a.seed}-t{a.trace}.json").write_text(json.dumps(artifact, indent=1))
    for f in artifact.get("failures", []):
        log(f"failure: {f}")
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
