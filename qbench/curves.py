"""Record warm-up curves: per-pass wall times of each workload over many passes.

    python3 qbench/curves.py --passes 24 --seeds 1 2 3 [--workload panel ...]

Each workload runs once per seed in a fresh process (one cold pass, then
``--passes`` passes, no warm passes). The pass times of every process and
their pass-wise median are written to ``qbench/warmup_curves.json``;
qbench/tests checks each workload's configured warm/timed window against
the median curve.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CURVES = os.path.join(HERE, "warmup_curves.json")


def one(workload: str, seed: int, passes: int) -> list[float]:
    """Child-process body: all pass times (cold first) of one workload."""
    sys.path.insert(0, os.path.dirname(HERE))
    from qbench import datagen, run

    wl = dataclasses.replace(run.WORKLOADS[workload], warm_passes=0, timed_passes=passes)
    run_dir = os.path.join(run.OUT, f"curve-{workload}-{seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    r = run.Run(wl, seed, False, datagen.write_tier(os.path.join(run_dir, "data"), seed, wl.sf),
                os.path.join(run_dir, "tmp"))
    try:
        r.setup()
        return [sum(r.run_pass().values()) for _ in range(passes + 1)]
    finally:
        r.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description="record warm-up curves")
    p.add_argument("--passes", type=int, default=20)
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    p.add_argument("--workload", nargs="*")
    p.add_argument("--child", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.child:
        print(json.dumps(one(args.child, args.seeds[0], args.passes)))
        return
    sys.path.insert(0, os.path.dirname(HERE))
    from qbench.workloads import WORKLOADS

    curves = json.load(open(CURVES)) if os.path.exists(CURVES) else {}
    for name in args.workload or sorted(WORKLOADS):
        runs = []
        for seed in args.seeds:
            out = subprocess.run(
                [sys.executable, __file__, "--child", name, "--seeds", str(seed),
                 "--passes", str(args.passes)],
                check=True, capture_output=True, text=True).stdout
            runs.append(json.loads(out.strip().splitlines()[-1]))
            print(name, seed, " ".join(f"{t:.2f}" for t in runs[-1]), flush=True)
        curves[name] = {
            "median_s": [statistics.median(p) for p in zip(*runs)],
            "runs_s": runs,
            "seeds": args.seeds,
            "cores": len(os.sched_getaffinity(0)),
            "machine": platform.machine(),
            "recorded": time.strftime("%Y-%m-%d"),
        }
        with open(CURVES, "w") as f:
            json.dump(curves, f, indent=1)


if __name__ == "__main__":
    main()
