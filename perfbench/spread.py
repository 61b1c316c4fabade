"""Run-to-run spread of the end-to-end metrics, the figure the benchmark's
bounds are checked against: for each metric, the distance between the
first and third quartile of its values over several seeds, as a share of
their median (``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload eod_batch --seeds 1 2 3 4 5

Run from the repository root; the runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--log", help="append each run's result line here")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode} after {wall:.0f} s\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        if args.log:
            with open(args.log, "a") as fh:
                detail = json.loads(lines[-2]) if len(lines) > 1 else None
                fh.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall, **res, "detail": detail}) + "\n")
        print(f"seed {seed}: {wall:.0f} s, correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else ("within bound" if spread <= b else "OVER BOUND"))
        print(f"{k:24s} median={med:.4g} spread={spread:.3f} bound={b} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
