#!/usr/bin/env python3
"""pulse_spark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload index --seed 1 --seconds 20 --trace 0

Run from the checkout root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see README.md).  Everything the run writes goes under
.perfbench/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("index", "headline")
END_TO_END = {"setup_s", "throughput_per_s", "p50_ms", "tail_ms"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pulse_spark")):
        print(f"no pulse_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import pulse_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    import check
    from common import Run, adopt_orphans, reap_children
    from spans import Tracer

    adopt_orphans()
    # a run stopped by SIGTERM still stops Spark and reaps (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    run = Run(work=work, seed=args.seed, seconds=args.seconds,
              traced=bool(args.trace), tracer=Tracer(bool(args.trace)))
    try:
        run.check(check.selftest(), "checker self-test: a planted fault passed")
        if args.workload == "index":
            from index_workload import run_index
            run_index(run)
        else:
            from headline import run_headline
            run_headline(run)
    finally:
        # every process the run started, and any its children left
        # behind, has ended before the result is printed
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    if not run.traced:
        run.metric("setup_s", run.setup_s, "s")
    for e in run.errors:
        print("check failed:", e, file=sys.stderr)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(run.metrics.items())
               if run.traced != (k in END_TO_END)}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
