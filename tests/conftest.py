"""Shared fixtures: one SparkSession for the whole test run.

Mirrors the reference's test strategy (SURVEY §5): round-trip equality as
the oracle, parametrized over formats × modes × partitioning, plus the
DuckDB golden-SQL layer the reference never had.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _patch_local_frames(spark):
    """Route simple list+schema ``createDataFrame`` calls through the
    package's builder of small driver-side frames
    (``_types.local_frame``).

    The plain list path builds a pickled Python RDD, so EVERY action that
    materializes the frame pays Python-worker round trips (~270 ms per
    action measured at 32 cores); the builder ships the same rows as an
    Arrow table into a local relation and never touches a Python worker
    again.  Tests build ~500 such fixture frames, so they also exercise
    the builder the package itself uses.  Only the trivially-safe shape
    is rerouted — list of flat tuples of scalar values WITH an explicit
    schema (no Rows, no nested lists/dicts/structs, no numpy scalars, no
    kwargs) — everything else falls through to the stock path, so
    coercion semantics for the exotic cases are unchanged.  A float NaN
    also falls through, as it did when this patch converted through
    pandas (which read a NaN as missing).
    Plan-shape tests opt back into the stock path (``fast._orig``): a
    local frame plans as a constant-folded ``LocalRelation``, which
    hides the scan/filter nodes those tests assert on.
    """
    import datetime
    import decimal
    import math

    from pyspark.sql.types import StructType

    from aws_sdk_pandas_spark._types import local_frame

    orig = spark.createDataFrame
    _SIMPLE = (bool, int, float, str, bytes, bytearray,
               datetime.date, datetime.datetime, decimal.Decimal)

    def fast(data, schema=None, **kw):
        if (
            not kw
            and isinstance(schema, (str, StructType))
            and isinstance(data, list)
            and data
            and all(
                type(r) is tuple
                and all(
                    v is None
                    or (type(v) in _SIMPLE
                        and not (type(v) is float and math.isnan(v)))
                    for v in r
                )
                for r in data
            )
        ):
            ncol = len(data[0])
            if ncol and all(len(r) == ncol for r in data):
                return local_frame(spark, data, schema)
        return orig(data, schema, **kw)

    fast._orig = orig
    spark.createDataFrame = fast


@pytest.fixture(scope="session")
def spark():
    import tempfile

    import aws_sdk_pandas_spark as asps

    spark = asps.get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={
            # hermetic warehouse/metastore: saveAsTable leftovers from a
            # killed run must not poison the next one
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="asps-wh-"),
            "javax.jdo.option.ConnectionURL": (
                "jdbc:derby:;databaseName=" + tempfile.mkdtemp(prefix="asps-md-") + "/metastore_db;create=true"
            ),
        },
    )
    _patch_local_frames(spark)
    yield spark


def pytest_collection_modifyitems(config, items):
    """Front-load the DuckDB oracle-parity gates (and the driver-contract
    checks) so a time-capped CI/verify run sees the strongest correctness
    signal before the slow graph/lakehouse tails.  Tests are
    order-independent (one session-scoped SparkSession, hermetic tmp
    warehouses); this only changes WHICH signal a truncated run shows.
    Relative order within each tier is preserved (stable sort)."""
    front = ("test_oracle_parity.py", "test_behavior.py", "test_plan_quality.py")

    def tier(item) -> int:
        name = os.path.basename(str(item.fspath))
        return front.index(name) if name in front else len(front)

    items.sort(key=tier)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def people_df(spark):
    """Small mixed-type frame (strings, ints, doubles, dates, nulls) —
    miniature of the reference's 16-column fixture (tests/_utils.py:120)."""
    from datetime import date

    # ONE slice: the default path spreads 5 rows over defaultParallelism
    # Python-RDD slices and every downstream action pays a Python-worker
    # round trip per slice (worst through coalesce(1): ~150 ms x 32,
    # sequential).  Same rows, same schema, order preserved.
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (1, "alice", 10.5, date(2024, 1, 1), "us"),
                (2, "bob", None, date(2024, 1, 2), "us"),
                (3, "carol", 7.25, date(2024, 2, 1), "de"),
                (4, None, 0.0, date(2024, 2, 2), "de"),
                (5, "eve", -3.5, date(2024, 3, 1), "fr"),
            ],
            1,
        ),
        "id bigint, name string, score double, d date, country string",
    )
