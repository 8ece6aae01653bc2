"""Self-check of the benchmark: every workload once on tiny inputs
(sf 0.001, 200-row lake batches), untraced and traced, asserting that
each run is correct and prints every metric of BENCHMARK.json with its
unit, and that the traced run wrote spans with parent ids.

    python3 perfbench/selfcheck.py            # all workloads, ~5 minutes
    python3 perfbench/selfcheck.py lake_ingest
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_relational", "doc_curation", "lake_ingest")


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        return [f"exit {out.returncode}: {out.stderr[-1500:]}"]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    for m in want:
        if m["name"] not in got:
            problems.append(f"missing {m['name']}")
        elif got[m["name"]].get("unit") != m["unit"]:
            problems.append(f"{m['name']} unit {got[m['name']].get('unit')} != {m['unit']}")
        elif not isinstance(got[m["name"]].get("value"), (int, float)):
            problems.append(f"{m['name']} value {got[m['name']].get('value')!r}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        problems.append(f"unlisted metrics {sorted(extra)}")
    if trace:
        spans_path = os.path.join(HERE, "_runs", f"{workload}-s1-t1-tiny-spans.jsonl")
        spans = [json.loads(line) for line in open(spans_path)]
        if not any(s["parent"] is not None for s in spans):
            problems.append("no span has a parent")
        if not got.get("self.exec_s", {}).get("value"):
            problems.append("no exec self time")
    return problems


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failed = 0
    for w in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            problems = check(w, trace, spec)
            print(f"{'ok  ' if not problems else 'FAIL'} {w} trace={trace}", *problems, sep="\n    ")
            failed += bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
