#!/usr/bin/env python3
"""graft benchmark: builds the harness with the library, runs one workload.

    python3 perfbench/run.py --workload serve|fold --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the library sources
under src/main/scala together with the harness in perfbench/src (an sbt
project of its own, perfbench/build.sbt) and caches the classpath; later
runs reuse it until a source file changes. Each run works in a fresh
directory under .perfbench/ that is removed at exit; the span trace of a
traced run is kept in .perfbench/traces/.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (BENCHMARK.json "end_to_end"), with --trace 1 the
per-layer ones ("per_layer").
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(STATE, "build.stamp")
DEADLINE_S = 170
BUILD_DEADLINE_S = 850
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def stamp():
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Build unless the cached classpath matches the sources; returns
    the sources' stamp."""
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return want
    log("building (sbt writeClasspath)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # no boot lock and no perf-data file: the build writes only here
    opts = ["-Dsbt.offline=true", "-Dsbt.boot.lock=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (exit {proc.returncode})")
    os.makedirs(STATE, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return want


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "fold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "api", "Api.scala")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala is missing)")
    built = build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(STATE, "traces", f"{a.workload}-{a.seed}.jsonl")
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--trace-out", trace_out, "--build", built[:16]])
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {a.workload} run exceeded {DEADLINE_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"perfbench: {a.workload} run failed (exit {proc.returncode})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
