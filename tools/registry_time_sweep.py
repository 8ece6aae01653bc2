"""Time EVERY ``queries()`` entry at sf0.01 (warm session, noop sink) and
print the results sorted slowest-first, as one JSON line at the end.

Usage: python tools/registry_time_sweep.py [out.json] [name_filter_substr]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401


def main() -> int:
    import __spark_entry__ as entrymod
    import aws_sdk_pandas_spark as asps

    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/registry_sweep.json"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = asps.get_spark(app_name="registry-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._load(spark, sf_dir)
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()

    qs = entrymod.queries()
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    for i, (name, fn) in enumerate(qs.items()):
        if name_filter and name_filter not in name:
            continue
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            errs[name] = traceback.format_exc(limit=3)
        times[name] = time.monotonic() - t0
        print(f"[{i + 1}/{len(qs)}] {name}: {times[name]:.2f}s", flush=True)

    ranked = sorted(times.items(), key=lambda kv: -kv[1])
    print("\n=== slowest 40 ===")
    for name, t in ranked[:40]:
        print(f"{t:8.2f}s  {name}")
    print(f"\ntotal: {sum(times.values()):.1f}s over {len(times)} queries; "
          f"errors: {len(errs)}")
    for name, tb in errs.items():
        print(f"ERROR {name}:\n{tb}")
    with open(out_path, "w") as f:
        json.dump({"times": dict(ranked), "errors": errs}, f, indent=1)
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
