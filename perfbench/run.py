#!/usr/bin/env python3
"""Search-engine lifecycle benchmark: one run of one workload.

    python3 perfbench/run.py --workload {serve,churn} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (offline); later runs reuse the
build while no source is newer than it. Each run is one JVM on
local[4]; its last stdout line is the JSON result (`--trace 0`: the
end-to-end metrics; `--trace 1`: the per-layer metrics, with the spans
written to .bench_build/traces/). Scratch files (generated corpus,
stores, Spark temp dirs) live under .bench_build/run-<pid>/ and are
removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
CLASSPATH = os.path.join(BENCH, "target", "runtime.classpath")
# the engine's --add-opens options (Spark on JDK 17 outside
# spark-submit), taken from the root build's javaOptions by the build
ADD_OPENS = os.path.join(BENCH, "target", "runtime.add-opens")
SCRATCH = ".bench_build"
WORKLOADS = ("serve", "churn")
RUN_TIMEOUT_S = 170

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in ("src/main", "build.sbt", "project/build.properties",
                os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    if (os.path.exists(CLASSPATH) and os.path.exists(ADD_OPENS)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        return
    tmp = os.path.abspath(os.path.join(SCRATCH, "sbt-tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # never resolve over the network: everything comes from the local cache
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false",
                                f"-Djava.io.tmpdir={tmp}"]).strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not (os.path.exists(CLASSPATH) and os.path.exists(ADD_OPENS)):
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # the engine is built from the checkout's own sources
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the repository root (engine sources not found)")
    build()
    work = os.path.abspath(os.path.join(SCRATCH, f"run-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(ADD_OPENS) as f:
        opens = f.read().split()
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", o]
    cmd += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work, os.path.abspath(os.path.join(SCRATCH, "traces"))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except ValueError:
        result = None
    if result is None:
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode}, no result line)")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
