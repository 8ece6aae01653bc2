"""SQL front door (params, cache, ctas, unload) and the Athena<->Spark
type-string matrix."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from aws_sdk_pandas_spark import _types
from aws_sdk_pandas_spark.sql import create_ctas_table, read_sql_query, unload


@pytest.fixture(autouse=True)
def _view(spark):
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], "id bigint, g string, x double"
    ).createOrReplaceTempView("t_sql")


def test_read_sql_query_basic(spark):
    got = read_sql_query(spark, "SELECT g, SUM(x) AS s FROM t_sql GROUP BY g ORDER BY g")
    assert [(r.g, r.s) for r in got.collect()] == [("a", 40.0), ("b", 20.0)]


def test_params_named(spark):
    got = read_sql_query(
        spark, "SELECT * FROM t_sql WHERE g = :g AND x > :lo", params={"g": "a", "lo": 15}
    )
    assert [r.id for r in got.collect()] == [3]


def test_params_qmark(spark):
    got = read_sql_query(
        spark, "SELECT * FROM t_sql WHERE g = ? AND x > ?", params=["a", 15],
        paramstyle="qmark",
    )
    assert [r.id for r in got.collect()] == [3]


def test_result_cache(spark):
    sql = "SELECT COUNT(*) AS n FROM t_sql"
    a = read_sql_query(spark, sql, max_cache_seconds=300)
    # whitespace/case/comment variations hit the same cache entry
    b = read_sql_query(spark, "  select count(*) as N   FROM t_sql -- hi\n;", max_cache_seconds=300)
    assert a.storageLevel.useMemory or b.storageLevel.useMemory
    assert b.first()[0] == 3


def test_ctas_and_unload(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS asps_ctas")
    create_ctas_table(spark, "SELECT * FROM t_sql WHERE g = 'a'", "asps_ctas")
    assert spark.table("asps_ctas").count() == 2

    out = str(tmp_path / "unload")
    unload(spark, "SELECT * FROM t_sql", out, file_format="parquet")
    assert spark.read.parquet(out).count() == 3


# ---------------------------------------------------------------------------
# type matrix (reference: awswrangler/_data_types.py:22-68,312-361)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "athena,spark_type",
    [
        ("tinyint", T.ByteType()),
        ("smallint", T.ShortType()),
        ("int", T.IntegerType()),
        ("integer", T.IntegerType()),
        ("bigint", T.LongType()),
        ("float", T.FloatType()),
        ("double", T.DoubleType()),
        ("boolean", T.BooleanType()),
        ("string", T.StringType()),
        ("date", T.DateType()),
        ("binary", T.BinaryType()),
        ("decimal(12,2)", T.DecimalType(12, 2)),
        ("array<int>", T.ArrayType(T.IntegerType())),
        ("map<string,bigint>", T.MapType(T.StringType(), T.LongType())),
        (
            "struct<a:int,b:array<string>>",
            T.StructType(
                [
                    T.StructField("a", T.IntegerType()),
                    T.StructField("b", T.ArrayType(T.StringType())),
                ]
            ),
        ),
        (
            "map<string,array<struct<x:double>>>",
            T.MapType(
                T.StringType(),
                T.ArrayType(T.StructType([T.StructField("x", T.DoubleType())])),
            ),
        ),
    ],
)
def test_athena2spark_roundtrip(athena, spark_type):
    got = _types.athena2spark(athena)
    assert got == spark_type
    # and back: spark2athena is the inverse (modulo int spelling)
    back = _types.spark2athena(got)
    assert _types.athena2spark(back) == spark_type


def test_timestamp_mapping():
    assert isinstance(_types.athena2spark("timestamp"), (T.TimestampType, T.TimestampNTZType))


def test_uint_policy():
    import pyarrow as pa

    assert _types.pyarrow2spark(pa.uint8()) == T.ShortType()
    assert _types.pyarrow2spark(pa.uint32()) == T.LongType()
    with pytest.raises(Exception):
        _types.pyarrow2spark(pa.uint64())  # reference rejects uint64 (_data_types.py:34)


def test_sanitize_names():
    assert _types.sanitize_column_name("My Col-1!") == "my_col_1"
    assert _types.sanitize_table_name("Order Details") == "order_details"


def test_cast_columns(spark):
    df = spark.createDataFrame([(1, "2.5")], "a bigint, b string")
    got = _types.cast_columns(df, {"a": "string", "b": "double"})
    assert dict(got.dtypes) == {"a": "string", "b": "double"}


def test_get_query_results_by_execution_id(spark):
    """start_query_execution registers an id; get_query_results re-fetches
    (reference: athena/_read.py:843)."""
    import pytest

    from aws_sdk_pandas_spark import sql as S
    from aws_sdk_pandas_spark.exceptions import InvalidArgument

    df = S.start_query_execution(spark, "SELECT 1 AS one")
    exec_id = df.query_execution_id
    again = S.get_query_results(spark, exec_id)
    assert again.collect() == df.collect()
    with pytest.raises(InvalidArgument):
        S.get_query_results(spark, "no-such-id")


def test_execution_introspection_and_prepared_statements(spark):
    from aws_sdk_pandas_spark import sql as S

    df = S.start_query_execution(spark, "SELECT 2 AS two")
    eid = df.query_execution_id
    assert S.get_query_execution(spark, eid)["Status"]["State"] == "SUCCEEDED"
    assert eid in S.list_query_executions(spark)
    assert S.get_query_columns_types(spark, eid) == {"two": "int"}
    assert S.wait_query(spark, eid)["QueryExecutionId"] == eid
    S.stop_query_execution(spark, eid)
    assert eid not in S.list_query_executions(spark)

    S.create_prepared_statement(spark, "SELECT ? AS v", "stmt1")
    assert S.list_prepared_statements(spark) == ["stmt1"]
    sql = S.get_prepared_statement(spark, "stmt1")
    got = S.read_sql_query(spark, sql, params=[7], paramstyle="qmark").collect()
    assert got[0].v == 7
    S.delete_prepared_statement(spark, "stmt1")
    assert S.list_prepared_statements(spark) == []


def test_describe_and_show_create_table(spark, tmp_path):
    from aws_sdk_pandas_spark import sql as S

    spark.range(2).write.mode("overwrite").option("path", f"{tmp_path}/sct").saveAsTable("sct_tbl")
    try:
        desc = S.describe_table(spark, "sct_tbl")
        assert "id" in [r.col_name for r in desc.collect()]
        ddl = S.show_create_table(spark, "sct_tbl")
        assert ddl.startswith("CREATE TABLE") and "sct_tbl" in ddl
        assert S.generate_create_query(spark, "sct_tbl") == ddl
    finally:
        spark.sql("DROP TABLE IF EXISTS sct_tbl")


def test_run_spark_calculation(spark):
    from aws_sdk_pandas_spark.session import run_spark_calculation

    out = run_spark_calculation(spark, "result = spark.range(5).count()")
    assert out["Result"] == 5 and out["Status"]["State"] == "COMPLETED"


def test_sql_formatter_literal_grammar(spark):
    """Pure literal grammar (reference: _sql_formatter.py:18-192, Spark
    dialect) — types, escaping, nested collections; formatted literals
    must round-trip through spark.sql."""
    import datetime as dt
    from decimal import Decimal

    import pytest

    from aws_sdk_pandas_spark.exceptions import InvalidArgument
    from aws_sdk_pandas_spark.sql_formatter import format_literal, format_sql

    assert format_literal(None) == "NULL"
    assert format_literal(True) == "TRUE"
    assert format_literal(42) == "42"
    assert format_literal(Decimal("12.50")) == "12.50BD"
    assert format_literal("it's") == "'it''s'"
    assert format_literal(b"\x01\xff") == "X'01FF'"
    assert format_literal(dt.date(2026, 1, 2)) == "DATE '2026-01-02'"
    assert format_literal(dt.datetime(2026, 1, 2, 3, 4, 5)) == "TIMESTAMP '2026-01-02 03:04:05'"
    assert format_literal([1, 2]) == "ARRAY(1, 2)"
    assert format_literal({"a": 1}) == "MAP('a', 1)"

    sql = format_sql(
        "SELECT :v AS v, ':notaparam' AS s, :arr AS arr",
        {"v": Decimal("1.5"), "arr": [1, 2]},
    )
    assert sql == "SELECT 1.5BD AS v, ':notaparam' AS s, ARRAY(1, 2) AS arr"
    row = spark.sql(sql).collect()[0]
    assert row.s == ":notaparam" and row.arr == [1, 2] and float(row.v) == 1.5

    with pytest.raises(InvalidArgument):
        format_sql("SELECT :missing", {"v": 1})
    with pytest.raises(InvalidArgument):
        format_literal(object())


def test_recurring_queries_compile_once(spark):
    """A recurring mix of more distinct generated classes than Spark's
    default codegen cache (100) compiles each class once per JVM: the
    second pass over the mix is all cache hits.  Integer literals are
    inlined into the generated source, so each ``k`` is a distinct plan
    (two classes each: the stage and its output projection)."""
    from pyspark.sql import Row

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_mix() -> list[list[Row]]:
        return [
            spark.range(8).selectExpr(f"id * {k} + {k} AS x").collect()
            for k in range(60)
        ]

    first = run_mix()
    before = compiles.getCount()
    second = run_mix()
    assert compiles.getCount() == before
    assert second == first
    assert first[7] == [Row(x=7 * i + 7) for i in range(8)]
