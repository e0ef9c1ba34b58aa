#!/usr/bin/env python3
"""Build and run the rollup engine's benchmark (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py --workload cascade --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, else the build's `unmanagedBase`) into .bench_build/perfbench.
Each run then starts one JVM, which works only under .bench_build/perfbench;
its scratch directory is deleted when it exits. The last line of standard
output is the result as one JSON object.
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

START = time.monotonic()
ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
QUERY_DATA = os.path.join(BENCH_DIR, "data", "sf0.001")
QUERY_EXPECTED = os.path.join(BENCH_DIR, "expected", "queries_sf0.001.tsv")
# the JVM prints the metrics this file declares, with their units
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Per-run wall limits: a run that builds may take longer.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("cannot find Spark's jars: set SPARK_HOME")
    return m.group(1)


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    engine = [s for s in found if not s.startswith(BENCH_DIR)]
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    return sorted(found)


def build(jars):
    """Compiles engine + benchmark once per source state; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, False
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    os.makedirs(out)
    compiler = os.pathsep.join(os.path.join(jars, j) for j in os.listdir(jars)
                               if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j))
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(["-classpath", os.path.join(jars, "*"), "-d", out] + srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    # source file -> module (the package directory under src/main/scala/graft),
    # which the trace uses to attribute each stage by its call site
    with open(os.path.join(out, "modules.tsv"), "w", encoding="utf-8") as f:
        for s in srcs:
            rel = os.path.relpath(s, ROOT).split(os.sep)
            module = "perfbench" if rel[0] == "perfbench" else (rel[4] if len(rel) > 5 else "graft")
            f.write(f"{rel[-1]}\t{module}\n")
    open(os.path.join(out, ".complete"), "w").close()
    return out, True


def run_jvm(classes, jars, args, limit_s):
    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java(), "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.PerfBench",
            "--work", work] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True, env=dict(os.environ, SPARK_LOCAL_DIRS=work))
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit_s - (time.monotonic() - START)))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit_s} s", 3)
    finally:
        # also on a timeout or a termination signal: stop the JVM and its
        # children, wait for them, then remove the scratch directory
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(work):
        fail(f"could not remove {work}")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result")
    return result


def main():
    # a termination signal unwinds through run_jvm's clean-up like an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["cascade", "queries"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="check the harness itself")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")

    jars = spark_jars()
    classes, built = build(jars)
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S
    traces = os.path.join(BUILD_DIR, "traces")
    os.makedirs(traces, exist_ok=True)
    common = ["--data", QUERY_DATA, "--expected", QUERY_EXPECTED, "--spec", SPEC,
              "--modules", os.path.join(classes, "modules.tsv")]

    if a.selftest:
        shm = set(os.listdir("/dev/shm")) if os.path.isdir("/dev/shm") else set()
        r = run_jvm(classes, jars, common + ["--workload", "selftest", "--trace", "1",
                                             "--trace-out", os.path.join(traces, "selftest.jsonl")], limit)
        leftover = (set(os.listdir("/dev/shm")) if os.path.isdir("/dev/shm") else set()) - shm
        ok = r["failed"] == 0 and not leftover and not any(
            d.startswith("work-") for d in os.listdir(BUILD_DIR))
        print(f"perfbench: selftest {r['attempted'] - r['failed']}/{r['attempted']} assertions held, "
              f"scratch removed, nothing new in /dev/shm: {not leftover}", file=sys.stderr)
        print(json.dumps({"selftest": "ok" if ok else "failed"}))
        sys.exit(0 if ok else 1)

    trace_out = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
    r = run_jvm(classes, jars, common + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--trace-out", trace_out], limit)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: keys {sorted(r)}")
    if a.trace:
        print(f"perfbench: trace written to {os.path.relpath(trace_out, ROOT)}", file=sys.stderr)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
