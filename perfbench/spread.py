"""Run-to-run spread of the end-to-end metrics.

Runs ``run.py`` once per seed for each workload (untraced), then prints
for every end-to-end metric its median and the distance between the
first and third quartile as a share of the median, next to the bound
in BENCHMARK.json. Use it to check that the benchmark is steady before
trusting a comparison::

    python3 perfbench/spread.py --seeds 10 --workload olap_dashboard
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeat to pick several (default: all)")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for name in names:
        runs, walls = [], []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t = time.perf_counter()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            ).stdout
            walls.append(time.perf_counter() - t)
            res = json.loads(out.strip().splitlines()[-1])
            ok &= res["correct"]
            runs.append({k: v["value"] for k, v in res["metrics"].items()})
            print(f"{name} seed {seed}: wall {walls[-1]:.1f} s "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
        print(f"{name}: {len(runs)} runs, median wall {statistics.median(walls):.1f} s")
        for metric in runs[0]:
            vals = [r[metric] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= bounds[metric] or metric == "setup_s" else "  OVER BOUND"
            print(f"  {metric:18s} median {med:10.4f}  spread {spread:6.3f}"
                  f"  bound {bounds[metric]:.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
