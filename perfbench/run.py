#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload relay_drain --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.build, keyed on a hash of every source file.
Each run then starts one JVM (graft.perfbench.Main) that sets up, measures
and checks the workload; see perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175      # every run must end within 180 s
BUILD_LIMIT_S = 850    # the first run of a checkout may build for up to 900 s


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root, bench):
    h = hashlib.sha256()
    files = [root / "build.sbt", bench / "build.sbt", bench / "project" / "build.properties"]
    for base in (root / "src" / "main", bench / "scala"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, bench):
    """Compile engine + benchmark once per source state; return the classpath."""
    out = bench / ".build"
    stamp, cp_file = out / "stamp", out / "classpath"
    digest = source_hash(root, bench)
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=bench, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    out.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    root = Path.cwd()
    bench = root / "perfbench"
    if not (root / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file() \
            or not (root / "build.sbt").is_file():
        fail("engine sources not found: run from the root of a full checkout")
    config = json.loads((bench / "workloads.json").read_text())
    if a.workload not in config["workloads"]:
        fail(f"unknown workload {a.workload}")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    classpath = build(root, bench)

    runs = bench / ".work"
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = runs / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    params = [f"{k}={v}" for k, v in config["workloads"][a.workload].items()]
    cmd = (["java", f"-Xmx{config['heap']}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work), "--cpus", str(config["cpus"])]
           + params)
    log = runs / f"{name}.log"
    # Spark's scratch space stays inside the checkout even where the
    # environment points SPARK_LOCAL_DIRS elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run timed out; log in {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}; log in {log}")
    result = json.loads(lines[-1])
    if a.trace:
        # a layer the workload leaves idle reports 0
        idle = config["idle_layers"][a.workload]
        for m in spec["per_layer"]:
            if m["name"] in idle or m["name"].startswith(tuple(f"{layer}." for layer in idle)):
                result["metrics"].setdefault(m["name"], {"value": 0, "unit": m["unit"]})
    missing = [m for m in want if m not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    result["metrics"] = {m: result["metrics"][m] for m in want}
    print(json.dumps(result))
    if not result["correct"]:
        print(f"[perfbench] correctness gate failed: {result['failed']} of "
              f"{result['attempted']} wrong", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
