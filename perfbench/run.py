#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine, or the self-test.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the harness from source (sbt, in perfbench/) when
the sources changed since the last build, then runs the harness JVM. The
last line of stdout is the run's JSON summary; a full record of each run
goes to a new timestamped file under perfbench/results/.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ["serve", "catalog"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the engine's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile engine + harness unless the last build saw these sources."""
    stamp = os.path.join(BUILD_DIR, "perfbench.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    t0 = time.time()
    # sbt's global base (plugins, compiler bridge) lives in the build dir
    # so the build writes nothing outside this tree
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.global.base={BUILD_DIR}/sbt-global",
         "-Dsbt.server.autostart=false", "compile"], cwd=HERE,
        stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        die(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            die("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"no Spark jars under {jars}")
    return jars


def commit_id():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + source_digest()[:16]


def run_jvm(workload, seed, seconds, trace, extra=()):
    """Run the harness once; returns the parsed summary (None on failure)."""
    work = os.path.join(BUILD_DIR, "work", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap and young generation keep peak RSS comparable across
    # runs; no hsperfdata file, which the JVM would write outside the tree
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_jars()}/*", "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--results", RESULTS, "--commit", commit_id(),
            *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {workload} run exceeded {RUN_TIMEOUT_S}s",
              file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: harness exit {proc.returncode}", file=sys.stderr)
        return None
    try:
        summary = json.loads(lines[-1])
    except ValueError:
        print(f"perfbench: no summary line: {lines[-1]!r}", file=sys.stderr)
        return None
    if set(summary) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: malformed summary {summary}", file=sys.stderr)
        return None
    return summary


def self_test():
    """Tiny-scale run of every workload: every declared metric is emitted,
    answers are correct, and a planted wrong reference is caught."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            s = run_jvm(w, 7, 3, trace, ["--tiny"])
            if s is None:
                problems.append(f"{w} trace={trace}: run failed")
                continue
            got = set(s["metrics"])
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics differ from "
                                f"BENCHMARK.json: missing {sorted(want[trace] - got)}, "
                                f"extra {sorted(got - want[trace])}")
            if not s["correct"] or s["failed"]:
                problems.append(f"{w} trace={trace}: {s['failed']} failed")
        s = run_jvm(w, 7, 3, 0, ["--tiny", "--corrupt-reference"])
        if s is None or s["correct"] or s["failed"] == 0:
            problems.append(f"{w}: a wrong reference answer went unnoticed")
        print(f"perfbench self-test: {w} done", file=sys.stderr)
    for p in problems:
        print(f"FAIL {p}")
    print("self-test " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}")
    ensure_built()
    if args.self_test:
        sys.exit(self_test())
    if None in (args.workload, args.seed, args.seconds, args.trace):
        die("--workload, --seed, --seconds and --trace are required")
    summary = run_jvm(args.workload, args.seed, args.seconds, args.trace)
    if summary is None:
        sys.exit(1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
