#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload resolve_dense --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the harness from
source on first use (sbt, offline), then runs the workload in one JVM
and prints, as the last line of standard output, one JSON object with
the keys correct, attempted, failed and metrics. All state lives under
.bench_work/ in the checkout; the run's own directory is removed when
it ends. See perfbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
WORKLOADS = ("resolve_dense", "match_coined", "absorb_stream")
RUN_LIMIT_S = 175      # a run must end within 180 s ...
BUILD_LIMIT_S = 840    # ... except the first, which builds (900 s)
HEAP = "3g"
# C1 only, with room for all of its code. With C2 on, compiling Spark's
# own code took 14-17 s of compiler-thread CPU in every 6-8 s
# repetition, long after warm-up: the repetitions raced the JIT for the
# VM's cores, and how far the JIT had got varied from run to run. C1
# alone settles within the warm-up, provided the code cache holds what
# it compiles: at C1's default 48 MB the cache filled and the JIT kept
# recompiling what it had flushed (11-14 s of compiles a repetition).
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "src" / "main", HERE / "src" / "main",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in inputs:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group past `limit` s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(deadline):
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    WORK.mkdir(exist_ok=True)
    with open(WORK / "build.log", "w") as log:
        code, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            max(1, deadline - time.monotonic()),
                            cwd=HERE, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (exit {code}); see {WORK / 'build.log'}")
    STAMP.write_text(stamp)


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + source_stamp()[:16]


def stop_on_signal(signum, _frame):
    # unwinds through run_group, which kills the JVM's process group
    raise SystemExit(128 + signum)


def main():
    for s in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(s, stop_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"program sources not found under {ROOT / 'src'}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution")

    built = CLASSES.is_dir() and STAMP.is_file()
    build(t0 + BUILD_LIMIT_S)
    limit = (BUILD_LIMIT_S if not built else RUN_LIMIT_S) - (time.monotonic() - t0)

    WORK.mkdir(exist_ok=True)
    run_dir = WORK / f"run-{os.getpid()}-{time.time_ns()}"
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    # no hsperfdata file in the system temp dir: the run writes only
    # inside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JIT
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", os.pathsep.join([str(CLASSES), str(ROOT / "src" / "main" / "resources"),
                                    str(Path(spark_home) / "jars" / "*")]),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", str(run_dir), "--expected", str(HERE / "expected_digests.json"),
            "--commit", commit()]
    if a.trace:
        cmd += ["--trace-out", str(WORK / f"trace-{tag}.jsonl")]
    (run_dir / "tmp").mkdir(parents=True)
    try:
        with open(WORK / f"log-{tag}.txt", "w") as log:
            code, out = run_group(cmd, max(1, limit), cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=log, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        fail(f"run exceeded its time limit; see {WORK / f'log-{tag}.txt'}", 3)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark JVM exited {code}; see {WORK / f'log-{tag}.txt'}", 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
