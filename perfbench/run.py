#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload ops_relational --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark package with sbt on first use (again
whenever a source file changes), then runs the benchmark JVM. Its report
lines pass through to stdout; the last line is one JSON object with the keys
correct, attempted, failed and metrics. Everything the run writes goes
under .bench_build/ at the checkout root. Exits non-zero if the build
fails, an operation fails or its output is wrong, or the run overruns.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("ops_relational", "ops_similarity", "pipeline_http")
# the program's default driver heap (its build's javaOptions), pinned so a
# SPARK_DRIVER_MEM in the environment cannot change the benchmark
HEAP = "-Xmx8g"
# heap_live_mb forces a full collection after every operation; a full
# collection would otherwise shrink the heap to a few hundred MB and leave
# the next operations collecting far more often than the program does
# without it
NO_SHRINK = "-XX:MaxHeapFreeRatio=100"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.properties"))
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted((BENCH / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the JVM arguments (options and classpath)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources beside {BENCH.name}/ (expected build.sbt and src/main/scala)")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    digest = digest.hexdigest()
    launch = OUT / "launch.txt"
    stamp = OUT / "build.digest"
    if launch.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return launch.read_text().splitlines()
    OUT.mkdir(exist_ok=True)
    log = OUT / "build.log"
    print(f"perfbench: building (log in {log.relative_to(ROOT)})", file=sys.stderr)
    t0 = time.time()
    # the toolchain's dependency cache is all a build may use
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"], cwd=BENCH,
                       timeout=BUILD_TIMEOUT_S, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    shutil.copyfile(BENCH / "target" / "launch.txt", launch)
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return launch.read_text().splitlines()


def run_group(cmd, cwd, timeout, env=None, stdout=None, stderr=None, on_line=None):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group. With `on_line`, stdout is read line by line."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if on_line else stdout, stderr=stderr,
                         text=True)
    deadline = time.time() + timeout
    try:
        if on_line:
            for line in p.stdout:
                on_line(line)
                if time.time() > deadline:
                    raise subprocess.TimeoutExpired(cmd, timeout)
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} overran {timeout} s; stopping it", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            # TERM first, so the JVM's shutdown hooks remove its scratch dirs
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # a TERM to this script stops the benchmark JVM too (run_group's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", type=Path, default=BENCH / "expected",
                    help="directory of expected fingerprints (the self-test swaps it)")
    a = ap.parse_args()

    jvm = build()
    nproc = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = OUT / "work" / tag
    tmp = OUT / "tmp" / tag
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    results = OUT / "results"
    cmd = (["java", HEAP, NO_SHRINK, f"-Djava.io.tmpdir={tmp}"] + jvm +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", str(BENCH / "fixtures" / "sf0.1"), "--work", str(work),
            "--cpus", str(nproc), "--expected", str(a.expected.resolve()),
            "--result-out", str(results / f"{tag}.json")])
    if a.trace:
        cmd += ["--trace-out", str(OUT / "trace" / f"{tag}.spans.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    last = [""]

    def relay(line):
        sys.stdout.write(line)
        sys.stdout.flush()
        if line.strip():
            last[0] = line.strip()

    rc = run_group(cmd, cwd=work, timeout=RUN_TIMEOUT_S, env=env, on_line=relay)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        result = json.loads(last[0])
    except ValueError:
        die(f"no result line (exit {rc})", 3)
    if rc != 0 or not result.get("correct"):
        die(f"run failed (exit {rc}, {result.get('failed')} of "
            f"{result.get('attempted')} operations failed)", 1)


if __name__ == "__main__":
    main()
