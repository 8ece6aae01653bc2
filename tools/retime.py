"""Re-time ``queries()`` entries min-of-N interleaved (warm session, noop
sink) — the stable companion to registry_time_sweep.py.  Each round also
prints how many classes Spark compiled in it (codegen cache misses) and
the JVM's metaspace after it: once the codegen cache holds the working
set, every round after the first compiles nothing.

Usage: python tools/retime.py [name ...]   (no names: every entry;
env: ROUNDS, SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401


def main() -> int:
    import __spark_entry__ as entrymod
    import aws_sdk_pandas_spark as asps

    rounds = int(os.environ.get("ROUNDS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = asps.get_spark(app_name="retime")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._load(spark, sf_dir)
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()

    qs = entrymod.queries()
    names = sys.argv[1:] or list(qs)
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}")
        return 1
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    metaspace = next(
        p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getName() == "Metaspace"
    )
    runs: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    for r in range(rounds):
        c0, t_round = compiles.getCount(), time.monotonic()
        for name in names:
            spark.sparkContext.setJobDescription(f"retime:{name}:{r}")
            t0 = time.monotonic()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = str(exc).splitlines()[0][:120]
                continue
            runs[name].append(time.monotonic() - t0)
        spark.catalog.clearCache()
        print(
            f"round {r}: {time.monotonic() - t_round:.1f}s, "
            f"{compiles.getCount() - c0} classes compiled, "
            f"metaspace {metaspace.getUsage().getUsed() / 2**20:.1f} MB",
            flush=True,
        )
    for name in names:
        ts = runs[name]
        if ts:
            print(f"{name}: min={min(ts):.2f}s runs={['%.2f' % t for t in ts]}")
    for name, err in errors.items():
        print(f"ERROR {name}: {err}")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
