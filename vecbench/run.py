#!/usr/bin/env python3
"""Run one vecbench workload and print its result line.

    python3 vecbench/run.py --workload churn_ivf --seed 1 --seconds 10 --trace 0
    python3 vecbench/run.py --list-metrics

Run from the repository root. The first run builds the engine and the
benchmark with sbt (the engine project at the root is a dependency of the
benchmark's own build, vecbench/build.sbt) and records the runtime
classpath; later runs start the JVM directly. The build is redone when any
engine or benchmark source changes.

The last line of stdout is the JSON result: correct, attempted, failed and
metrics. Everything else goes to stderr. The result is checked against the
metric catalogue in BENCHMARK.json before it is printed; a run that fails,
times out or reports other metrics exits non-zero and prints no result.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

# The JVM is stopped after this many seconds, counted from the start of the
# run; a run that also builds gets longer.
RUN_LIMIT_S = 175
BUILT_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 600

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"vecbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every input of the build: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, stdout):
    """Run `cmd` in its own process group; kill the group on timeout or
    interruption and wait for it. Returns the exit code (None: timed out)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"timed out after {limit_s} s: {' '.join(cmd[:3])} ...")
        return None
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def build():
    """Compile the engine and the benchmark unless the stamp matches.
    Returns "ready", "built", or None when the build failed."""
    digest = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return "ready"
    if shutil.which("sbt") is None:
        log("sbt is not on PATH")
        return None
    log("building engine and benchmark (sbt writeClasspath)")
    t0 = time.time()
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       HERE, BUILD_LIMIT_S, sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {code})")
        return None
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return "built"


def catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def java_cmd(args, tmp):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    os.makedirs(tmp, exist_ok=True)
    return [java, *opens, "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.vecbench.Main", *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list-metrics", action="store_true",
                    help="print every metric by name, unit and direction, and what it should move")
    a = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "api", "GraftDb.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(engine)):
        log("the engine's sources are not beside the benchmark; run from a full checkout")
        return 2
    start = time.time()
    state = build()
    if state is None:
        return 1
    if a.list_metrics:
        code = run_bounded(java_cmd(["--list-metrics"], os.path.join(TARGET, "tmp")),
                           ROOT, RUN_LIMIT_S, sys.stdout)
        return 0 if code == 0 else 1

    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    e2e, per_layer = catalogue()
    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    out_path = os.path.join(work, "stdout.txt")
    limit = (BUILT_RUN_LIMIT_S if state == "built" else RUN_LIMIT_S) - (time.time() - start)
    try:
        with open(out_path, "w") as out:
            code = run_bounded(java_cmd(["--workload", a.workload, "--seed", str(a.seed),
                                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                                         "--work-dir", work,
                                         "--trace-dir", os.path.join(TARGET, "traces")],
                                        os.path.join(work, "tmp")),
                               ROOT, limit, out)
        with open(out_path) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        log(f"benchmark process failed (exit {code})")
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    want = per_layer if a.trace else e2e
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        log(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, "
            f"unit mismatch {sorted(k for k in set(got) & set(want) if got[k] != want[k])}")
        return 1
    bad = [k for k, v in result["metrics"].items() if not isinstance(v["value"], (int, float))]
    if bad:
        log(f"metrics without a value: {bad}")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM (run_bounded's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
