#!/usr/bin/env python3
"""Run one workload once per seed and report each end-to-end metric's spread.

Run from the root of a checkout:

    python3 perfbench/spread.py --workload trickle_late --seeds 1-10 \
        --out perfbench/runs/trickle_late.jsonl

Each run's report and result lines go to --out, one JSON object per run.
The spread of a metric is the distance between the first and third
quartiles of its values (statistics.quantiles, n=4) as a share of their
median; it is printed beside the metric's bound from BENCHMARK.json.
`--summary FILE` prints the table for runs already recorded.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(l[len("report "):]) for l in lines
                   if l.startswith("report ")), None)
    result = json.loads(lines[-1]) if lines else None
    return {"workload": workload, "seed": seed, "exit": p.returncode,
            "wall_s": round(time.monotonic() - t0, 1),
            "result": result, "report": report}


def summary(records, bench):
    print(f"{'metric':16} {'median':>14} {'spread':>8} {'bound':>6}  runs")
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in records
                if r["result"] and r["result"]["correct"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:16} {med:14.4f} {(q3 - q1) / med:8.3f} "
              f"{m['bound']:6.2f}  {len(vals)}")
    # JVM and session start does the same work in every run: its spread
    # shows how much the host's own speed moved during the set
    starts = [r["report"]["session_s"]["value"] for r in records
              if r["report"] and "session_s" in r["report"]]
    if len(starts) >= 2:
        q1, med, q3 = statistics.quantiles(starts, n=4)
        print(f"{'(session start)':16} {med:14.4f} {(q3 - q1) / med:8.3f}")
    walls = [r["wall_s"] for r in records if "wall_s" in r]
    if walls:
        print(f"run wall time: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
    bad = [r["seed"] for r in records if not (r["result"] or {}).get("correct")]
    if bad:
        print(f"incorrect or failed runs: seeds {bad}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--summary")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if a.summary:
        with open(a.summary) as fh:
            summary([json.loads(l) for l in fh if l.strip()], bench)
        return
    if not (a.workload and a.out):
        ap.error("--workload and --out are required")
    records = []
    for s in seeds(a.seeds):
        r = run(a.workload, s, a.seconds or bench["run_seconds"])
        records.append(r)
        with open(a.out, "a") as fh:
            fh.write(json.dumps(r) + "\n")
        print(f"seed {s}: exit {r['exit']}", file=sys.stderr)
    summary(records, bench)


if __name__ == "__main__":
    main()
