"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload corpus_curation --seeds 1 2 3 4 5

For every metric it prints the median of the runs and the distance between
the first and third quartile as a share of the median (the spread), next to
the metric's bound in BENCHMARK.json.
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
sys.path.insert(0, HERE)

from run import parse_result  # noqa: E402


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t0
        res = parse_result(out.stdout)
        runs.append(res)
        info = json.loads(out.stdout.strip().splitlines()[-2])["info"]
        passes = {k: [round(t, 2) for t in info[k]] for k in ("warmup_pass_s", "timed_pass_s")}
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(json.dumps({"seed": seed, "exit": out.returncode, "wall_s": round(wall, 1),
                          "correct": res["correct"], "attempted": res["attempted"], **vals,
                          **passes}), flush=True)
    if len(runs) < 2:
        return 0
    print(f"{'metric':36} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        s = spread(values)
        b = bounds.get(name)
        print(f"{name:36} {statistics.median(values):12.4f} {s:8.4f} {'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
