#!/usr/bin/env python3
"""Build and run graft's per-layer benchmark.

    python3 perfbench/run.py --workload maintain_cycle|mor_churn \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine sources
(src/main) together with the harness (perfbench/src/main) through
perfbench/build.sbt and caches the classpath in perfbench/.build; later runs
start the JVM directly. Tables, staged inputs and Spark scratch live in
perfbench/.work and are removed afterwards; traced runs leave their spans in
perfbench/.out. The last stdout line is the result JSON; the line before it
is context (host probes, the workload's own figures).
"""
import argparse
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main"
BUILD = HERE / ".build"
WORKLOADS = ("maintain_cycle", "mor_churn")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_source_mtime():
    roots = [ENGINE, HERE / "src" / "main", HERE / "build.sbt", HERE / "project" / "build.properties"]
    newest = 0.0
    for r in roots:
        paths = [r] if r.is_file() else r.rglob("*")
        for p in paths:
            if p.is_file():
                newest = max(newest, p.stat().st_mtime)
    return newest


def classpath():
    """Compile when any source is newer than the cached classpath."""
    if not (ENGINE / "scala" / "graft").is_dir():
        die(f"engine sources not found under {ENGINE}")
    stamp = BUILD / "classpath.txt"
    if stamp.exists() and stamp.stat().st_mtime >= newest_source_mtime():
        return stamp.read_text().strip()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
                       + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and "classes" in l and ":" in l]
    if not lines:
        die("build printed no classpath")
    stamp.write_text(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")

    cp = classpath()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = HERE / ".out"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # C1 only and a fixed parallel-collected heap: a run lasts about a
    # minute on 4 cores, too short for C2 to settle; its compiler threads
    # (and G1's heap resizing) then compete with Spark's tasks at varying
    # times and dominate run-to-run CPU-time noise
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(stdout)
        die(f"benchmark exited with {proc.returncode}")
    sys.stdout.write(stdout)


if __name__ == "__main__":
    main()
