"""Hash registry query outputs for result-identity checks across trees.

Usage: python tools/hash_compare.py <repo_root> <sf_dir> name [name ...]
Prints "<name> <rowcount> <md5>" per query (sorted-row md5).
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, sys.argv[1])
# Spark's Python workers find the package through the PYTHONPATH the JVM
# inherits when it starts, not through this process's sys.path; without
# PYTHONSAFEPATH a package in the working directory would shadow it
os.environ["PYTHONPATH"] = os.pathsep.join(
    [os.path.abspath(sys.argv[1])] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)
os.environ["PYTHONSAFEPATH"] = "1"

import pandas as pd  # noqa: F401


def main() -> int:
    import __spark_entry__ as entrymod
    import aws_sdk_pandas_spark as asps

    sf_dir = sys.argv[2]
    names = sys.argv[3:]
    spark = asps.get_spark(app_name="hash_compare")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            rows = sorted([tuple(str(v) for v in r) for r in df.collect()])
            h = hashlib.md5(repr(rows).encode()).hexdigest()
            print(f"{name} {len(rows)} {h}", flush=True)
        except Exception as exc:  # noqa: BLE001
            print(f"{name} ERROR {type(exc).__name__}: {exc}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
