#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload olap_store --seed 1 --seconds 10 --trace 0

Builds the engine's sources together with the benchmark (sbt, offline) the
first time and whenever a source changes, then runs one JVM for the
workload. The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. Per-run records (end-to-end metrics,
and with `--trace 1` the per-layer summary and the spans) are written to
`perfbench/out/`. Input data is the sf0.1 parquet set, by default in
~/testdata/sf0.1; PERFBENCH_DATA names another directory.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
OUT = HERE / "out"
WORKLOADS = ("olap_store", "htap_mixed", "pipeline_batch")
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return proc.returncode, out


def build(stamp):
    """Compile with sbt when the sources changed; returns the classpath."""
    TARGET.mkdir(parents=True, exist_ok=True)
    with open(TARGET / "perfbench.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time
        return build_locked(stamp)


def build_locked(stamp):
    stamp_file, cp_file = TARGET / "perfbench.stamp", TARGET / "perfbench.classpath"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    OUT.mkdir(parents=True, exist_ok=True)
    print("perfbench: building (sbt)", file=sys.stderr)
    with open(OUT / "build.log", "w") as log:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in (out or "").splitlines() if "classes" in l and not l.startswith("[")]
    if code != 0 or not lines:
        (OUT / "build.out").write_text(out or "")
        fail(f"build failed (exit {code}); see {OUT / 'build.log'}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    data = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata" / "sf0.1"))
    if not (data / "lineitem.parquet").exists():
        fail(f"input data not found in {data}")
    stamp = source_stamp()
    cp = build(stamp)

    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the parallel collector compacts the whole heap on every full GC, so
    # heap_mb (heap in use after full GCs) repeats closely from run to run
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--data", str(data), "--out", str(OUT),
            "--refs", str(OUT / "refs" / stamp[:16])]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(OUT / f"{a.workload}-seed{a.seed}-jvm.log", "w") as log:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if lines:
            print(lines[-1])
        fail(f"run failed (exit {code}); see {OUT / (a.workload + '-seed' + str(a.seed) + '-jvm.log')}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
