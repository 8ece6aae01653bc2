"""Deletion-vector scale probe: prove the DV plane is O(files) on the
driver, not O(deleted rows).

Round-5 verdict flagged the DV/MoR plane as perf-weak: read(), the MoR
merge/delete write paths, and the Iceberg position-delete exporter all
funneled every deleted row index through driver-side Python lists — a
GDPR-scale delete (10^7-10^9 rows) would OOM the driver at write time
and again on every read.  Round 6 distributed all four sites
(lakehouse_shim._dv_deletes_df / _write_dvs_distributed / _mor_scan,
iceberg_meta._write_pos_delete_parquet): executors decode and serialize
the bitmaps; the driver touches O(files) descriptors.

This probe DV-deletes ~half of a 10^7-row table and samples the
driver's RSS before/after each phase.  Pass = driver RSS growth stays
far below the decoded-index footprint (~80 MB for 5M int64s in a naive
Python list, several hundred MB as driver Row objects — the old
implementation's cost), and the post-delete read returns the exact
surviving count.

The decode of the deleted table is also run once under a job group:
``decode_stage_tasks`` lists its stages' task counts next to
``default_parallelism`` (the decode runs at most one Python task per
executor slot, not one per DV-carrying file).

Usage: python tools/dv_scale_probe.py [n_rows] [table_dir]
Prints one JSON line with phase timings, RSS deltas and the decode
stage's task counts.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rss_mb() -> float:
    # linux: ru_maxrss is KiB.  High-water mark, so "flat" here means
    # the delete phases never PUSHED the peak past the write phase.
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def decode_stage_tasks(spark, shim, p: str) -> list[int]:
    """Tasks per stage of one deletion-vector decode of the latest
    snapshot, counted from a job group through ``statusTracker()``.
    The decode stage is the ``mapInPandas`` one: its task count is the
    number of Python tasks a read spends on deletion vectors."""
    sc = spark.sparkContext
    man = shim._read_manifest(p, shim.latest_version(p))
    group = f"dv-probe-decode-{os.getpid()}"
    sc.setJobGroup(group, "deletion-vector decode")
    try:
        deletes, _card = shim._dv_deletes_df(spark, shim._local(p), man["files"])
        if deletes is not None:
            deletes.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(sid).numTasks
        for jid in sorted(tracker.getJobIdsForGroup(group))
        for sid in sorted(tracker.getJobInfo(jid).stageIds)
    ]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    base = sys.argv[2] if len(sys.argv) > 2 else None
    import aws_sdk_pandas_spark as asps
    from aws_sdk_pandas_spark import lakehouse_shim as shim
    from pyspark.sql import functions as F

    spark = asps.get_spark()
    tmp = base or tempfile.mkdtemp(prefix="dv_probe_")
    p = os.path.join(tmp, "t")
    out: dict = {"n_rows": n}
    try:
        t0 = time.time()
        df = spark.range(n).selectExpr(
            "id AS k", "CAST(id % 97 AS INT) AS v",
            "CAST(id % 8 AS STRING) AS g",
        ).repartition(8)
        shim.write(df, p, mode="overwrite")
        out["write_s"] = round(time.time() - t0, 2)
        out["rss_after_write_mb"] = round(rss_mb(), 1)

        # DV-delete every even key: ~n/2 deleted rows, zero rewrite
        t0 = time.time()
        doomed = spark.range(n).where("id % 2 = 0").selectExpr("id AS k")
        res = shim.delete(spark, doomed, p, ["k"], use_deletion_vectors=True)
        out["delete_s"] = round(time.time() - t0, 2)
        out["rows_deleted"] = res["rows_deleted"]
        out["files_dv"] = res["files_dv"]
        out["rss_after_delete_mb"] = round(rss_mb(), 1)

        t0 = time.time()
        survivors = shim.read(spark, p).count()
        out["read_s"] = round(time.time() - t0, 2)
        out["survivors"] = survivors
        out["rss_after_read_mb"] = round(rss_mb(), 1)
        out["default_parallelism"] = spark.sparkContext.defaultParallelism
        out["decode_stage_tasks"] = decode_stage_tasks(spark, shim, p)

        # MoR merge re-upserting 1/16 of the DELETED keys (ghosts must
        # not block the reinsert) and superseding 1/16 of the live ones
        t0 = time.time()
        src = (
            spark.range(n)
            .where("id % 16 IN (0, 1)")
            .selectExpr("id AS k", "CAST(-1 AS INT) AS v", "'m' AS g")
        )
        shim.merge(spark, src, p, ["k"], use_deletion_vectors=True)
        out["merge_s"] = round(time.time() - t0, 2)
        out["rss_after_merge_mb"] = round(rss_mb(), 1)

        total = shim.read(spark, p).count()
        merged = shim.read(spark, p).where("v = -1").count()
        out["rows_after_merge"] = total
        out["rows_merged"] = merged
        expect = n // 2 + n // 16  # odd survivors + reinserted evens(0 mod 16)
        out["counts_ok"] = bool(
            survivors == n - n // 2
            and total == expect
            and merged == n // 16 + n // 16
        )
        out["driver_delta_mb"] = round(
            out["rss_after_merge_mb"] - out["rss_after_write_mb"], 1
        )
        # the old driver funnel held every deleted index as Python
        # ints/Rows (~28+ bytes each: >=140 MB at 5M rows, decoded
        # again on every read); "flat" = the whole delete+read+merge
        # sequence moved the driver's high-water mark by well under that
        out["flat"] = out["driver_delta_mb"] < 60.0
    finally:
        if base is None:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
