"""Physical-plan quality report over the headline bench queries.

For each query: join strategies, exchange count, scan pushdown evidence
(PushedFilters / ReadSchema width), Python-eval operators in the plan.
Usage: python tools/plan_report.py [sf_dir]   (default sf0.01)

This is the evidence behind tests/test_plan_quality.py: run it after
touching an operator to see whether the plan is still the one you'd want
at 100 TB (broadcasts where dims are small, no nested-loop joins, no
accidental Python in the hot path).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def main() -> int:
    import __spark_entry__ as entrymod
    import aws_sdk_pandas_spark as asps
    from bench import _BENCH_QUERIES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = asps.get_spark(app_name="plan-report")
    qs = entrymod.queries()

    bad = 0
    for name in _BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        df.collect()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        joins = {j: plan.count(j) for j in _JOINS if j in plan}
        exchanges = plan.count("Exchange hashpartitioning")
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        py = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
        flags = []
        if joins.get("BroadcastNestedLoopJoin") or joins.get("CartesianProduct"):
            flags.append("NESTED-LOOP/CARTESIAN")
        if plan.count("BatchEvalPython"):
            flags.append("ROW-AT-A-TIME-PYTHON")
        if flags:
            bad += 1
        print(
            f"{name:32s} joins={joins or '-'} exchanges={exchanges} "
            f"pushed_filters={pushed} python_ops={py} "
            f"{'  <<< ' + ','.join(flags) if flags else ''}"
        )
    print(f"\n{bad} queries with plan smells")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
