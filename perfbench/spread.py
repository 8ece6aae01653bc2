"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads sql_relational lake_ingest --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workloads lake_ingest --seeds 1 2 3 --overhead

For every end-to-end metric it prints the median and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as
a share of the median, next to the metric's bound in BENCHMARK.json.
``--overhead`` also makes a traced run per seed and reports the tracing
overhead: the traced run's ``trace.op_p50_s`` minus the untraced
``op_p50_s`` of the same seed.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        overhead: list[float] = []
        for seed in args.seeds:
            res = run_once(w, seed, args.seconds, 0)
            if not res["correct"]:
                print(f"{w} seed {seed}: wrong results ({res['failed']} of {res['attempted']})")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            if args.overhead:
                traced = run_once(w, seed, args.seconds, 1)
                overhead.append(traced["metrics"]["trace.op_p50_s"]["value"] - res["metrics"]["op_p50_s"]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())), flush=True)
        for k, xs in sorted(values.items()):
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
            share = (q[2] - q[0]) / med if med else float("nan")
            print(f"{w} {k:14s} median={med:.4g} iqr/median={share:.3f} bound={bounds.get(k)}")
        if overhead:
            print(f"{w} tracing overhead on op_p50_s: median {statistics.median(overhead):+.4f} s "
                  f"(per seed {[round(x, 4) for x in overhead]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
