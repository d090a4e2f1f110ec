#!/usr/bin/env python3
"""Per-layer report: one untraced and one traced run per workload.

    python3 perfbench/report.py --seed 1 --seconds 35 [--workload ops_similarity ...]

For each workload it prints the end-to-end metrics of the untraced run, the
same figures from the traced run and their difference (the tracing
overhead), every per-layer metric, and the self time of each span name: a
span's duration minus the part of it its child spans cover. Each run is
preceded by its context: nproc and the 1-minute load average.
"""
import argparse
import json
import os
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
OUT = BENCH.parent / ".bench_build"
WORKLOADS = ("ops_relational", "ops_similarity", "pipeline_http")
# the workloads BENCHMARK.json lists; ops_similarity runs on request
DEFAULT = ("ops_relational", "pipeline_http")


def run(workload, seed, seconds, trace):
    print(f"-- {workload} seed={seed} trace={trace}: nproc={len(os.sched_getaffinity(0))} "
          f"load1={os.getloadavg()[0]:.2f}", flush=True)
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    for line in p.stdout.splitlines():
        if line.startswith("[perfbench]"):
            print("   " + line)
    if p.returncode != 0:
        sys.exit(f"run failed with exit {p.returncode}")
    tag = f"{workload}-seed{seed}-trace{trace}"
    return json.loads((OUT / "results" / f"{tag}.json").read_text()), OUT / "trace" / f"{tag}.spans.jsonl"


def self_times(spans_file):
    """Seconds of self time and span count per span name."""
    spans = [json.loads(l) for l in spans_file.read_text().splitlines() if l.strip()]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    total, count = defaultdict(float), defaultdict(int)
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        # union of the children's intervals, clipped to this span
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"])) for c in children[s["id"]])
        covered, end = 0, lo
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        total[s["name"]] += (hi - lo - covered) / 1e9
        count[s["name"]] += 1
    return total, count


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=35)
    a = ap.parse_args()
    for w in a.workload or DEFAULT:
        print(f"== {w} ==")
        plain, _ = run(w, a.seed, a.seconds, 0)
        traced, spans = run(w, a.seed, a.seconds, 1)
        print("end-to-end: untraced | traced | tracing overhead (traced - untraced)")
        for k, m in plain["e2e"].items():
            t = traced["e2e"].get(k, {}).get("value")
            u = m["value"]
            diff = None if t is None or u is None else t - u
            note = f"  ({m['note']})" if m.get("note") else ""
            print(f"  {k:<16} {fmt(u)} | {fmt(t)} | {fmt(diff)} {m['unit']}{note}")
        print("per-layer (traced run)")
        for k, m in traced["layers"].items():
            print(f"  {k:<30} {fmt(m['value'])} {m['unit']}")
        total, count = self_times(spans)
        layers = defaultdict(float)
        for name, t in total.items():
            layers[name.split(".")[0]] += t
        print("self time by layer (traced run)")
        for layer in sorted(layers, key=lambda n: -layers[n]):
            print(f"  {layer:<20} {layers[layer]:10.4f} s")
        print("self time by span")
        for name in sorted(total, key=lambda n: -total[n]):
            print(f"  {name:<20} {total[name]:10.4f} s over {count[name]} spans")


if __name__ == "__main__":
    main()
