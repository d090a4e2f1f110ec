#!/usr/bin/env python3
"""Self-test of the correctness gate: a tampered expected fingerprint must be
reported as a failed operation and make the run exit non-zero.

    python3 perfbench/selftest.py

Copies the expected fingerprints, changes the recorded hash of one query
(j1_revenue_by_nation, which every run executes during set-up), runs a short
ops_relational run against the copy, and checks that the run fails on that
query and on no other. Exits 0 when the gate works as intended.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
TAMPERED = "j1_revenue_by_nation"


def main():
    exp = BENCH.parent / ".bench_build" / "selftest" / "expected"
    shutil.rmtree(exp, ignore_errors=True)
    shutil.copytree(BENCH / "expected", exp)
    q = exp / "queries.tsv"
    lines = q.read_text().splitlines()
    for i, line in enumerate(lines):
        f = line.split("\t")
        if f[0] == TAMPERED:
            f[3] = str(int(f[3]) + 1)
            lines[i] = "\t".join(f)
    q.write_text("\n".join(lines) + "\n")
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", "ops_relational",
                        "--seed", "1", "--seconds", "5", "--trace", "0", "--expected", str(exp)],
                       stdout=subprocess.PIPE, text=True)
    out = p.stdout.splitlines()
    result = json.loads(out[-1]) if out else {}
    failed = [l for l in out if l.startswith("[perfbench] FAILED")]
    checks = {
        "run exits non-zero": p.returncode != 0,
        "result reads correct=false": result.get("correct") is False,
        "failed operations counted": result.get("failed", 0) >= 1,
        f"failures name {TAMPERED}": bool(failed),
        "no other query failed": all(TAMPERED in l for l in failed),
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
