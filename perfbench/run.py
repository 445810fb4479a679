#!/usr/bin/env python3
"""Serving benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json): ``serve_read`` and ``serve_write``, both
against an in-process RestServer with one closed-loop client thread per
core. ``--trace 1`` adds an in-process traced window and reports the
per-layer metrics instead of the end-to-end ones.

The first run builds the engine and the harness with sbt (the build file
is perfbench/build.sbt) into ``.bench_build/``; later runs reuse the
classpath while the sources are unchanged. Every run gets a private data
directory, ``java.io.tmpdir`` and Spark local dir under ``.bench_build/``
and deletes them afterwards. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``python3 perfbench/run.py --selftest`` runs the harness's own tests.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    """Offline sbt: resolve only from the local caches."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*commands, timeout):
    return subprocess.run(["sbt", "--batch", *commands], cwd=HERE, env=sbt_env(),
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=timeout)


def build():
    """Compile once per source state; returns (runtime classpath, built now)."""
    stamp = sources_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), False
    os.makedirs(BUILD, exist_ok=True)
    out = sbt("export Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp, True


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Graft.scala")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    if a.selftest:
        out = sbt("test", timeout=BUILD_TIMEOUT_S)
        print(out.stdout[-3000:])
        sys.exit(out.returncode)
    if a.workload not in ("serve_read", "serve_write"):
        fail("--workload must be serve_read or serve_write")

    t_start = time.time()
    cp, built = build()
    # the first run in a checkout may build; every other run ends in time
    budget = RUN_TIMEOUT_S if built else RUN_TIMEOUT_S - (time.time() - t_start)
    run_dir = os.path.join(BUILD, "runs", uuid.uuid4().hex)
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d)
    spans = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}",
            f"-Dperfbench.data={dirs['data']}", f"-Dperfbench.local={dirs['local']}",
            f"-Dperfbench.spans={spans}", f"-Dperfbench.commit={commit()}",
            "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(budget, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            else:
                sys.stdout.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark process failed (exit {proc.returncode})")
    # every metric on an informational line; the last line keeps exactly
    # the ones BENCHMARK.json lists for this mode
    result = json.loads(result)
    print("ALL_METRICS " + json.dumps(result["metrics"]))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(f"metrics not measured: {missing}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
