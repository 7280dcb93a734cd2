#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 bench/run.py --workload scalar_pricing --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark with sbt
(offline); later runs reuse the build until a source file changes. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the full per-run record (every op
sample, verification outcomes, traced layers) goes to bench/out/.
"""
import argparse
import datetime
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
OUT = BENCH / "out"
WORKLOADS = ["scalar_pricing", "curation_lineage"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit; the same list as the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[pbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in [ROOT / "project", BENCH / "project"]:
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for d in [ROOT / "src" / "main", BENCH / "src" / "main"]:
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def tmpdir():
    """Temporary files of sbt and the benchmark JVM stay in the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return tmp


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir()}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns the runtime classpath, building first if a source changed."""
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    print("[pbench] building program and benchmark (sbt, offline)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export bench/Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines or str(BENCH / "target") not in lines[-1]:
        sys.stderr.write(proc.stdout)
        fail(f"build failed (sbt exit {proc.returncode})")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(want)
    return lines[-1]


def heap():
    """Half of MemTotal, clamped to 2..8 GiB: the repository's test heap rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def java_cmd(classpath, main_args):
    tmp = tmpdir()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", *opens,
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             "-cp", classpath, "pbench.Main", *main_args])


def run_java(cmd, timeout):
    """Runs the JVM in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {timeout} s and was stopped")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"program sources not found under {ROOT}; run from a repository checkout")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    OUT.mkdir(parents=True, exist_ok=True)
    ts = datetime.datetime.now().strftime("%Y%m%dT%H%M%S%f")
    out = OUT / f"{a.workload}_seed{a.seed}_trace{a.trace}_{ts}.json"
    code, stdout = run_java(java_cmd(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
        "--bench-dir", str(BENCH.relative_to(ROOT)), "--out", str(out.relative_to(ROOT))]),
        RUN_TIMEOUT_S)
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if code != 0 or result is None:
        sys.stderr.write(stdout)
        fail(f"benchmark JVM exited with {code} and no result line")
    sys.stdout.write(stdout if stdout.endswith("\n") else stdout + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
