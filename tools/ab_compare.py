"""Same-window A/B timing of registry queries between two repo checkouts.

Host throttling swings single-run numbers up to 15x (round-5/6 adjudication),
so regressions/improvements are only credible from ALTERNATING runs in one
window.  Each side runs in its own subprocess (fresh JVM) per round; we
report min-of-rounds per side and the ratio.

Usage:
  python tools/ab_compare.py --b /tmp/wt_head [--rounds 3] [--sf /root/testdata/sf0.1] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUNNER = r"""
import os, sys, time, json
sys.path.insert(0, sys.argv[1])
import pandas as pd  # noqa
import __spark_entry__ as entrymod
import aws_sdk_pandas_spark as asps
sf_dir = sys.argv[2]
names = sys.argv[3:]
spark = asps.get_spark(app_name="ab")
spark.sparkContext.setLogLevel("ERROR")
qs = entrymod.queries()
out = {}
# one warm-up pass (JVM/codegen/Python-worker warmup), then timed pass
for warm in (True, False):
    for n in names:
        spark.sparkContext.setJobDescription(f"ab:{n}:{'warm' if warm else 'timed'}")
        t0 = time.monotonic()
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        if not warm:
            out[n] = time.monotonic() - t0
print("ABRESULT " + json.dumps(out))
"""


def run_side(root: str, sf: str, names: list[str]) -> dict[str, float]:
    # Spark's Python workers find the package through the PYTHONPATH the
    # JVM inherits when it starts, not through the runner's sys.path;
    # without PYTHONSAFEPATH a package in the working directory would
    # shadow it
    pythonpath = [os.path.abspath(root)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, root, sf, *names],
        env={**os.environ, "PYTHONPATH": os.pathsep.join(pythonpath), "PYTHONSAFEPATH": "1"},
        capture_output=True,
        text=True,
        timeout=1200,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    print(p.stdout[-2000:], file=sys.stderr)
    print(p.stderr[-4000:], file=sys.stderr)
    raise RuntimeError(f"side {root} produced no result")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", default="/root/repo")
    ap.add_argument("--b", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    res_a: dict[str, list[float]] = {n: [] for n in args.names}
    res_b: dict[str, list[float]] = {n: [] for n in args.names}
    for r in range(args.rounds):
        for side, root, store in (("A", args.a, res_a), ("B", args.b, res_b)):
            out = run_side(root, args.sf, args.names)
            for n, v in out.items():
                store[n].append(v)
            print(f"round {r} side {side}: " + " ".join(f"{n}={v:.3f}" for n, v in out.items()))
    print()
    for n in args.names:
        a = min(res_a[n])
        b = min(res_b[n])
        print(f"{n}: A(min)={a:.3f}s  B(min)={b:.3f}s  B/A={b/a:.2f}x")


if __name__ == "__main__":
    main()
