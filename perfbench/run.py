#!/usr/bin/env python3
"""Run one geocube benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from the checkout's sources
(sbt, cached under .bench_build/ by a hash of the sources), runs the
workload in one JVM and prints its result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the metrics are the per-layer ones, and every layer reading
is also written to .bench_work/trace/<workload>-seed<n>.json. Everything a
run writes stays under .bench_build/ and .bench_work/ in the checkout; the
run's own inputs and catalogs are deleted when it ends. Exits non-zero,
without a result line, when the checkout has no engine sources, the build
fails, a check cannot run or the run overruns its time limit.
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
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("xyz_tiles", "ingest_consolidate")
RUN_LIMIT_S = 170  # one run, build excluded
BUILD_LIMIT_S = 700
JDK17_OPENS = [
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


def wait(proc, limit_s, what):
    """Wait for `proc` (started in its own session) and return its stdout;
    kill its whole process group if it overruns `limit_s`, and exit
    non-zero if it fails."""
    try:
        stdout, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        die(f"{what} exceeded {limit_s} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        die(f"{what} failed (exit {proc.returncode})", 4)
    return stdout


def source_files():
    trees = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    return files


def classpath():
    """Build if the sources changed since the last build; return the
    runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    h = hashlib.sha1()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / f"classpath-{h.hexdigest()[:16]}.txt"
    if stamp.is_file():
        return stamp.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    (BUILD / "tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={BUILD / 'tmp'}"
    t0 = time.time()
    stdout = wait(subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, start_new_session=True), BUILD_LIMIT_S, "build")
    sys.stderr.write(stdout[-4000:])
    lines = [l.strip() for l in stdout.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not lines:
        die("build printed no classpath")
    stamp.write_text(lines[-1])
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(run_dir)]
    try:
        stdout = wait(subprocess.Popen(
            cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            start_new_session=True), RUN_LIMIT_S, "run")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    last = stdout.strip().splitlines()[-1] if stdout.strip() else ""
    try:
        run = json.loads(last)
    except ValueError:
        die("run printed no result line", 4)
    # BENCHMARK.json names the metrics a run reports, and their units
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    readings = run["layers"] if a.trace else run["end_to_end"]
    missing = [m["name"] for m in wanted if readings.get(m["name"]) is None]
    if missing:
        die(f"run did not measure {', '.join(missing)}", 4)
    print(json.dumps({
        "correct": run["failed"] == 0 and run["attempted"] > 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {m["name"]: {"value": readings[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))

if __name__ == "__main__":
    main()
