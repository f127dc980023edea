"""Run one workload over several seeds and print each end-to-end
metric's median and its interquartile spread as a share of the median
(``statistics.quantiles(values, n=4)``), the steadiness test the
benchmark is held to.

    python3 perfbench/spread.py --workload tx_upsert --seeds 1 2 3 4 5
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
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or str(bench["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", seconds, "--trace", args.trace],
            capture_output=True, text=True, check=True).stdout
        res = json.loads(out.splitlines()[-1])
        host = json.loads(out.splitlines()[-2])["host"]
        print(f"seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} steal={host['steal_frac']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        b = bounds.get(k)
        print(f"{k:24s} median={med:.4g} spread={spread:.3f}"
              + (f" bound={b} ({'ok' if spread <= b / 3 else 'WIDE'})" if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
