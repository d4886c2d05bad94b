#!/usr/bin/env python3
"""Benchmark entry point: builds the engine with the harness, runs one
workload and prints its result.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with
the harness (sbt, offline) into .bench_build/; later runs reuse that
build while the sources are unchanged. Each run works in a fresh
.bench_work/run directory; traced runs keep their span files in
.bench_work/traces/. The last line of stdout is the JSON result; any
failure exits non-zero without printing one.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")  # build.sbt puts sbt's target here too
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(cmd, timeout, cwd=ROOT, env=None, capture=False):
    """Runs cmd in its own process group; kills the group on timeout or
    interrupt and always waits for it. Returns (code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out or ""
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def source_stamp():
    """Digest of every source and build file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            if "/target/" in p or "/project/project/" in p:
                continue
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building engine and harness (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    BUILD_TIMEOUT_S, cwd=BENCH, env=env, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        raise SystemExit(f"[perfbench] build failed (exit {code})")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    # a terminated run still stops and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    ensure_build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap and young generation, so every run's resident-index
    # loads meet the same collector sizing (with adaptive sizing, load
    # times split between runs into two groups ~0.15 s apart)
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", run_dir]
    code, out = run(cmd, RUN_TIMEOUT_S, capture=True)
    lines = out.splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not (isinstance(result, dict)
            and set(result) == {"correct", "attempted", "failed", "metrics"}):
        sys.stderr.write(out)
        raise SystemExit(f"[perfbench] run failed (exit {code})")

    traces = os.path.join(run_dir, "trace")
    if os.path.isdir(traces):
        keep = os.path.join(WORK, "traces")
        os.makedirs(keep, exist_ok=True)
        for f in os.listdir(traces):
            shutil.move(os.path.join(traces, f), os.path.join(keep, f))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
