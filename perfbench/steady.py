#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and print, for
each end-to-end metric, the median and the spread (Q3 - Q1) / median of
its values against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload index --seeds 1-10 --out runs.jsonl

Before every run it stamps bench.py's _host_probe() reading (a fixed CPU
workload and the page-fault rate) into the run's record, so a degraded
host window shows up next to the numbers it degrades.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="append one JSON record per run here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    sys.path.insert(0, ROOT)
    from bench import _host_probe

    records = []
    for seed in seeds(args.seeds):
        probe = _host_probe()
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        rec = {"workload": args.workload, "seed": seed, "host_probe": probe,
               "result": json.loads(p.stdout.strip().splitlines()[-1])}
        records.append(rec)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
        m = rec["result"]["metrics"]
        print(f"seed {seed}: failed {rec['result']['failed']}/{rec['result']['attempted']} "
              f"probe {probe['probe_sec']}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(m.items())), flush=True)

    print(f"{'metric':<20} {'median':>12} {'spread':>8} {'bound':>6}")
    ok = all(r["result"]["correct"] for r in records)
    for e in spec["end_to_end"]:
        vals = [r["result"]["metrics"][e["name"]]["value"] for r in records]
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        within = sp <= e["bound"]
        ok &= within
        print(f"{e['name']:<20} {statistics.median(vals):>12.5g} {sp:>8.3f} "
              f"{e['bound']:>6} {'' if within else 'OVER'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
