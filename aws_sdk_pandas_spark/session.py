"""SparkSession factory.

Mirrors the reference's implicit "session" (boto3 session + engine
dispatcher, awswrangler/_distributed.py:24-37) — in a Spark-native engine
the session IS the SparkSession, so this module is a thin, opinionated
factory with scale-aware defaults (AQE, dynamic partition overwrite,
Arrow transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for correctness-at-scale first:
#  - AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
#  - dynamic partitionOverwriteMode: the reference's mode="overwrite_partitions"
#    (awswrangler/s3/_write_dataset.py:80-99) maps to INSERT OVERWRITE of only
#    the partitions present in the incoming frame.
#  - Arrow on: every pandas boundary (createDataFrame/toPandas/pandas UDF)
#    is columnar-batched, matching the reference's Arrow hot path.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dedup/similarity operators persist mid-pipeline tables (signature and
    # posting tables consumed by several downstream joins); without this
    # flag a cached plan pins its 200-partition shuffle layout and AQE
    # cannot coalesce the (often tiny) post-filter stages that follow.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "snappy",
    # Keep every generated class for the life of the JVM.  Spark's LRU
    # of compiled classes holds 100 by default; a recurring cycle of
    # more distinct classes than that gets no hits, so each pass
    # recompiles all of them (and the JIT recompiles the new classes).
    # Measured: the 13-query relational bench mix needs about 180 classes
    # and recompiled 174 per sweep at the default, 0 at this cap; one
    # pass over the 340-entry registry at sf0.001 compiles about 4,400.
    # A retained class costs about 11 KB of metaspace.  Static: read when
    # the first session of the JVM compiles code.
    "spark.sql.codegen.cache.maxEntries": "5000",
    "spark.ui.enabled": "false",
}


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 48g (the driver shares the host
    with its Python workers and the OS page cache)."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1, min(48 * 1024, total // 2 // (1 << 20)))}m"


def get_spark(
    app_name: str = "aws_sdk_pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if one exists."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# reference naming alias: athena/_spark.py:90 ``create_spark_session`` — in
# a Spark-native engine the "remote Athena Spark session" IS the local
# SparkSession factory
create_spark_session = get_spark


def run_spark_calculation(spark: SparkSession, code: str) -> dict:
    """reference: athena/_spark.py:166 ``run_spark_calculation`` — execute a
    PySpark code block against the session and return its result payload.
    The code runs with ``spark`` in scope, exactly like an Athena Spark
    calculation cell; only use with trusted code (same trust model as the
    reference, which ships the block to your own Athena workgroup)."""
    scope: dict = {"spark": spark}
    exec(compile(code, "<calculation>", "exec"), scope)  # noqa: S102
    return {"Result": scope.get("result"), "Status": {"State": "COMPLETED"}}
