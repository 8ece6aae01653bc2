"""The package's one builder of small driver-side frames
(``_types.local_frame``) and the operators that build their frames
through it: exact values, partitioning, and no Python RDD."""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql.types import StructType

from aws_sdk_pandas_spark._types import local_frame


@pytest.fixture()
def stock_inputs(spark, monkeypatch):
    """Run the session's own ``createDataFrame`` (not the test session's
    rerouting of list inputs) and record the type of every input, so a
    list- or RDD-built frame shows as it would in production."""
    orig = getattr(spark.createDataFrame, "_orig", spark.createDataFrame)
    seen: list[str] = []

    def record(data, *args, **kwargs):
        seen.append(type(data).__name__)
        return orig(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", record)
    return seen


def _assert_no_python_rdd(df, seen):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert set(seen) <= {"Table"}, seen


# -- builder semantics --------------------------------------------------------


def test_bigint_next_to_none_keeps_every_bit(spark):
    big = 2**60 + 1
    rows = local_frame(spark, [(big,), (None,)], "v bigint").collect()
    assert [r.v for r in rows] == [big, None]


def test_nan_stays_nan_and_none_is_null(spark):
    df = local_frame(spark, [(1, float("nan")), (2, None), (3, 1.5)], "k int, x double")
    got = {r.k: r.x for r in df.collect()}
    assert math.isnan(got[1])
    assert got[2] is None and got[3] == 1.5
    assert df.where("x IS NULL").count() == 1
    assert df.where("isnan(x)").count() == 1


def test_empty_rows_keep_schema_with_no_partitions(spark):
    schema = "a bigint, b array<float>, c decimal(12,3), d string"
    df = local_frame(spark, [], schema)
    assert df.schema == StructType.fromDDL(schema)
    assert df.rdd.getNumPartitions() == 0
    assert df.count() == 0


def test_nested_decimal_binary_boolean_round_trip(spark):
    rows = [
        ([0.1, -2.5, 3.0e38], [2**62, -(2**63), None], Decimal("12345.678"), b"\x00\xff", True),
        ([], [], Decimal("-0.001"), b"", False),
        (None, None, None, None, None),
    ]
    df = local_frame(
        spark, rows, "f array<float>, l array<long>, d decimal(12,3), b binary, t boolean"
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0][0] == [float(np.float32(v)) for v in rows[0][0]]
    assert [g[1:] for g in got] == [
        ([2**62, -(2**63), None], Decimal("12345.678"), bytearray(b"\x00\xff"), True),
        ([], Decimal("-0.001"), bytearray(b""), False),
        (None, None, None, None),
    ]
    assert got[1][0] == [] and got[2][0] is None


def test_rows_must_match_the_schema_width(spark):
    with pytest.raises(ValueError, match="2 values"):
        local_frame(spark, [(1, "a"), (2,)], "k int, s string")


# -- partitioning -------------------------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 3, 10])
def test_map_in_pandas_runs_one_task_per_partition(spark, n):
    """The lake's deletion-vector decode and write run one Python task
    per partition of their descriptor frame: min(rows, slots)."""
    import pandas as pd

    def tasks(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"t": [1]})

    df = local_frame(spark, [(str(i),) for i in range(n)], "s string")
    ran = df.mapInPandas(tasks, "t int").count()
    assert ran == min(n, spark.sparkContext.defaultParallelism)


# -- operators build no Python RDD --------------------------------------------


def test_evaluate_ruleset_builds_no_python_rdd(spark, stock_inputs):
    from aws_sdk_pandas_spark import dq

    df = local_frame(spark, [(1, 2.0), (2, None), (3, float("nan"))], "id bigint, x double")
    out = dq.evaluate_ruleset(
        df,
        [
            {"rule_type": "RowCount", "expression": "= 3"},
            {"rule_type": "Completeness", "parameter": "x", "expression": ">= 0.5"},
        ],
    )
    assert [r.passed for r in out.collect()] == [True, True]
    _assert_no_python_rdd(out, stock_inputs)


def test_psi_numeric_builds_no_python_rdd(spark, stock_inputs):
    from aws_sdk_pandas_spark.operators.drift import psi_numeric

    base = local_frame(spark, [(float(i),) for i in range(40)], "x double")
    new = local_frame(spark, [(float(i) + 5,) for i in range(40)], "x double")
    out = psi_numeric(base, new, value_col="x", n_bins=4)
    assert out.count() == 4
    _assert_no_python_rdd(out, stock_inputs)


def test_diverse_subset_builds_no_python_rdd(spark, stock_inputs):
    from aws_sdk_pandas_spark.operators.similarity import diverse_subset

    pts = [(i, [float(i % 5), float(i // 5)]) for i in range(25)]
    df = local_frame(spark, pts, "vid long, embedding array<double>")
    out = diverse_subset(df, 3, id_col="vid", vector_col="embedding")
    assert [r.sel_order for r in out.collect()] == [0, 1, 2]
    _assert_no_python_rdd(out, stock_inputs)


def test_k_hop_neighbors_builds_no_python_rdd(spark, stock_inputs):
    """Its result reads from local checkpoints, which Spark also plans as
    ``Scan ExistingRDD``, so only the inputs it builds are checked."""
    from aws_sdk_pandas_spark.connectors.neptune import k_hop_neighbors

    edges = local_frame(
        spark,
        [("e1", "knows", "a", "b"), ("e2", "knows", "b", "c")],
        "`~id` string, `~label` string, `~from` string, `~to` string",
    )
    out = k_hop_neighbors(edges, ["a"], k=2, direction="out")
    assert {r["~id"]: r.hops for r in out.collect()} == {"a": 0, "b": 1, "c": 2}
    assert stock_inputs == ["Table", "Table"]


def test_sparql_values_builds_no_python_rdd(spark, stock_inputs):
    from aws_sdk_pandas_spark.connectors.sparql import compile_sparql

    triples = local_frame(
        spark,
        [("ex:a", "ex:name", "alice"), ("ex:b", "ex:name", "bob")],
        "s string, p string, o string",
    )
    out = compile_sparql(
        'SELECT ?n WHERE { ?x <ex:name> ?n . VALUES ?n { "alice" "carol" } }', triples
    )
    assert [r.n for r in out.collect()] == ["alice"]
    _assert_no_python_rdd(out, stock_inputs)
