"""Type system: Athena/Glue type strings <-> Spark DataTypes.

The reference's canonical hub type is the PyArrow DataType with a hand
written conversion matrix (awswrangler/_data_types.py:22-68 pyarrow->Athena,
:312-361 Athena->pyarrow with a recursive bracket-depth parser).  In Spark
the Athena DDL grammar (``int``, ``array<struct<a:int>>``,
``map<string,int>``) is essentially the Spark SQL type-string grammar, so
the whole parser collapses onto ``pyspark.sql.types._parse_datatype_string``
with a small alias layer.

Policy choices carried over from the reference:
- unsigned ints widen (uint8->smallint, uint16->int, uint32->bigint) and
  uint64 is rejected (awswrangler/_data_types.py:29-35).
- an all-null / untyped column raises ``UndetectedType``
  (awswrangler/_data_types.py:64-67) unless the user supplies ``dtype``.
- ``time`` has no engine type; kept as string (awswrangler/_data_types.py:387-390).
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from aws_sdk_pandas_spark.exceptions import InvalidDataType, UndetectedType

# ---------------------------------------------------------------------------
# Athena type string -> Spark DataType
# ---------------------------------------------------------------------------

# Athena names that differ from Spark SQL's grammar.
_ATHENA_TO_SPARK_ALIASES: dict[str, str] = {
    "integer": "int",
    "varbinary": "binary",
    "geometry": "string",  # kept as WKT strings (reference _data_types.py:397)
    "time": "string",
    "json": "string",
    "ipaddress": "string",
    "uuid": "string",
    "hyperloglog": "binary",
    "p4hyperloglog": "binary",
    "row": "struct",  # presto ROW(...) spelled row<...> by some tools
}


def _normalize_type_string(type_string: str) -> str:
    """Lower-case and alias-replace leaf type names inside a (possibly
    nested) Athena type string, e.g. ``array<VARBINARY>`` -> ``array<binary>``.
    """
    s = type_string.strip().lower()
    # varchar(n)/char(n) -> string (Athena DDL allows them; Spark has them
    # too but the reference maps both to string: _data_types.py:44-47).
    out: list[str] = []
    i = 0
    while i < len(s):
        if s[i].isalpha() or s[i] == "_":
            j = i
            while j < len(s) and (s[j].isalnum() or s[j] == "_"):
                j += 1
            word = s[i:j]
            # keep varchar(n) so Spark parses the length; bare varchar -> string
            if word in ("varchar", "char") and (j >= len(s) or s[j] != "("):
                word = "string"
            else:
                word = _ATHENA_TO_SPARK_ALIASES.get(word, word)
            out.append(word)
            i = j
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def athena2spark(type_string: str) -> T.DataType:
    """Parse an Athena/Glue/Spark type string into a Spark DataType.

    Handles the recursive grammar the reference parses by hand with
    ``_split_fields`` (awswrangler/_data_types.py:287-361).
    """
    if not type_string or not type_string.strip():
        raise UndetectedType("empty type string")
    normalized = _normalize_type_string(type_string)
    try:
        return T._parse_datatype_string(normalized)
    except Exception as exc:  # pragma: no cover - parse error text varies
        raise InvalidDataType(f"cannot parse type string {type_string!r}: {exc}") from exc


# ---------------------------------------------------------------------------
# Spark DataType -> Athena type string
# ---------------------------------------------------------------------------

_SPARK_TO_ATHENA_SIMPLE: dict[type, str] = {
    T.ByteType: "tinyint",
    T.ShortType: "smallint",
    T.IntegerType: "int",
    T.LongType: "bigint",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BooleanType: "boolean",
    T.StringType: "string",
    T.DateType: "date",
    T.TimestampType: "timestamp",
    T.TimestampNTZType: "timestamp",
    T.BinaryType: "binary",
    T.NullType: "string",
}


def spark2athena(dtype: T.DataType) -> str:
    """Spark DataType -> Athena/Glue DDL type string
    (inverse of the matrix at awswrangler/_data_types.py:22-68)."""
    for cls, name in _SPARK_TO_ATHENA_SIMPLE.items():
        if isinstance(dtype, cls):
            return name
    if isinstance(dtype, T.DecimalType):
        return f"decimal({dtype.precision},{dtype.scale})"
    if isinstance(dtype, T.ArrayType):
        return f"array<{spark2athena(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return f"map<{spark2athena(dtype.keyType)},{spark2athena(dtype.valueType)}>"
    if isinstance(dtype, T.StructType):
        inner = ",".join(f"{f.name}:{spark2athena(f.dataType)}" for f in dtype.fields)
        return f"struct<{inner}>"
    if isinstance(dtype, (T.VarcharType, T.CharType)):
        return "string"
    raise InvalidDataType(f"unsupported Spark type: {dtype}")


# ---------------------------------------------------------------------------
# PyArrow -> Spark (uint policy from the reference)
# ---------------------------------------------------------------------------


def pyarrow2spark(dtype: pa.DataType) -> T.DataType:
    """Arrow -> Spark with the reference's unsigned-int widening policy
    (awswrangler/_data_types.py:29-35: uint64 rejected)."""
    if pa.types.is_int8(dtype):
        return T.ByteType()
    if pa.types.is_int16(dtype) or pa.types.is_uint8(dtype):
        return T.ShortType()
    if pa.types.is_int32(dtype) or pa.types.is_uint16(dtype):
        return T.IntegerType()
    if pa.types.is_int64(dtype) or pa.types.is_uint32(dtype):
        return T.LongType()
    if pa.types.is_uint64(dtype):
        raise InvalidDataType("uint64 is not supported (no engine equivalent)")
    if pa.types.is_float16(dtype) or pa.types.is_float32(dtype):
        return T.FloatType()
    if pa.types.is_float64(dtype):
        return T.DoubleType()
    if pa.types.is_boolean(dtype):
        return T.BooleanType()
    if pa.types.is_string(dtype) or pa.types.is_large_string(dtype):
        return T.StringType()
    if pa.types.is_binary(dtype) or pa.types.is_large_binary(dtype) or pa.types.is_fixed_size_binary(dtype):
        return T.BinaryType()
    if pa.types.is_date(dtype):
        return T.DateType()
    if pa.types.is_timestamp(dtype):
        return T.TimestampType() if dtype.tz is not None else T.TimestampNTZType()
    if pa.types.is_time(dtype):
        return T.StringType()  # no engine time-of-day type (reference punts too)
    if pa.types.is_decimal(dtype):
        return T.DecimalType(dtype.precision, dtype.scale)
    if pa.types.is_list(dtype) or pa.types.is_large_list(dtype) or pa.types.is_fixed_size_list(dtype):
        return T.ArrayType(pyarrow2spark(dtype.value_type))
    if pa.types.is_map(dtype):
        return T.MapType(pyarrow2spark(dtype.key_type), pyarrow2spark(dtype.item_type))
    if pa.types.is_struct(dtype):
        return T.StructType([T.StructField(f.name, pyarrow2spark(f.type)) for f in dtype])
    if pa.types.is_dictionary(dtype):
        return pyarrow2spark(dtype.value_type)
    if pa.types.is_null(dtype):
        raise UndetectedType(
            "column has no detectable type (all null); pass dtype={col: type} to override"
        )
    raise InvalidDataType(f"unsupported pyarrow type: {dtype}")


def schema_from_athena_types(columns_types: dict[str, str]) -> T.StructType:
    """Build a Spark schema from a ``{column: athena_type}`` mapping (the
    ``dtype=`` override surface of the reference, s3/_write.py:48-59)."""
    return T.StructType(
        [T.StructField(name, athena2spark(dtype), True) for name, dtype in columns_types.items()]
    )


def cast_columns(df, dtype: dict[str, str] | None):
    """Apply ``{column: athena_type}`` casts to a Spark DataFrame
    (reference: cast_pandas_with_athena_types, _data_types.py:745-816)."""
    if not dtype:
        return df
    from pyspark.sql import functions as F

    for col_name, type_string in dtype.items():
        if col_name in df.columns:
            df = df.withColumn(col_name, F.col(col_name).cast(athena2spark(type_string)))
    return df


# ---------------------------------------------------------------------------
# Small driver-side frames
# ---------------------------------------------------------------------------


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence[Any]], schema: str | T.StructType
) -> DataFrame:
    """A small frame of driver-side rows (reports, descriptors, one row
    per file) built as an Arrow table into a local relation.

    Each column is converted straight to its Arrow type, so a bigint
    next to a None keeps every bit and a NaN stays NaN, not NULL.
    Spark scans the relation over ``min(len(rows), defaultParallelism)``
    partitions (none for no rows), so a ``mapInPandas`` over it runs at
    most one Python task per executor slot; no other action over it
    starts a Python worker, where a list- or RDD-built frame unpickles
    its rows in Python workers on every action.  Naive datetimes read
    as UTC, the time zone of every session ``get_spark`` builds."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if any(len(r) != len(arrow) for r in rows):
        raise ValueError(f"every row of this frame needs {len(arrow)} values")
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


# ---------------------------------------------------------------------------
# Name sanitization (reference: awswrangler/catalog/_utils.py:88-230)
# ---------------------------------------------------------------------------


def sanitize_column_name(column: str) -> str:
    """Lower-case and replace non-alphanumeric with ``_`` — Athena/Glue
    naming rules (catalog/_utils.py:88-119)."""
    return _sanitize(column)


def sanitize_table_name(table: str) -> str:
    """Same rule for table names (catalog/_utils.py:214-230)."""
    return _sanitize(table)


def _sanitize(name: str) -> str:
    import re
    import unicodedata

    name = unicodedata.normalize("NFKD", name).encode("ascii", "ignore").decode("ascii")
    name = re.sub(r"[^a-zA-Z0-9_]+", "_", name)
    name = re.sub(r"_+", "_", name.strip("_"))
    return name.lower() or "_"


def sanitize_dataframe_columns_names(df, handle_duplicates: str = "warn"):
    """Rename all DataFrame columns via ``sanitize_column_name``
    (reference: sanitize_dataframe_columns_names, catalog/_utils.py:122-170)."""
    new_names = [sanitize_column_name(c) for c in df.columns]
    if len(set(new_names)) != len(new_names):
        if handle_duplicates == "rename":
            seen: dict[str, int] = {}
            deduped: list[str] = []
            for n in new_names:
                if n in seen:
                    seen[n] += 1
                    deduped.append(f"{n}_{seen[n]}")
                else:
                    seen[n] = 0
                    deduped.append(n)
            new_names = deduped
        else:
            raise InvalidDataType(f"duplicate column names after sanitize: {new_names}")
    return df.toDF(*new_names)


def ensure_no_duplicate_columns(columns: Iterable[str]) -> None:
    cols = list(columns)
    if len(set(cols)) != len(cols):
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        raise InvalidDataType(f"duplicate columns: {dupes}")
