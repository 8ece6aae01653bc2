"""File-level column statistics + predicate file pruning (data skipping).

The reference ships footer-driven metadata inference
(``awswrangler/s3/_read_parquet.py:765`` ``read_parquet_metadata``,
``awswrangler/catalog/_create.py`` ``store_parquet_metadata``) but stops at
schema.  This module extends it to Delta-style *data skipping*: per-file
min/max/null-count statistics harvested from parquet footers, then a range
predicate evaluated against the stats table to decide which files a scan
must open at all.

Scale design:
- footer reads are distributed — the file list becomes a DataFrame and
  ``mapInPandas`` tasks read footers in parallel (a 100 TB dataset has
  ~100k files; footers are KB-sized, so this is a metadata-weight job,
  never a data scan);
- the stats table is itself a DataFrame: pruning is a Spark filter over
  it, and only the surviving path list (driver-memory scale, same as
  Delta's file manifest) is collected;
- pruning is conservative: a file with missing/unreadable stats for a
  predicate column is KEPT, so results are always exact — the predicate
  is still applied as a real filter after the scan.

Local-mode note: executor tasks open footers with pyarrow on the shared
filesystem; on a real cluster the same tasks would go through the
fsspec/HDFS client — the job shape is identical.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_sdk_pandas_spark._types import local_frame

_PA_TO_SPARK: dict[str, T.DataType] = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "large_string": T.StringType(),
    "date32[day]": T.DateType(),
}


def _local_path(p: str) -> str:
    if p.startswith("file://"):
        return p[len("file:") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def _stats_schema(sample_file: str, columns: list[str] | None) -> tuple[T.StructType, list[str]]:
    """Output schema from one footer: (file, num_rows, then per column
    <c>__min <c>__max typed + <c>__nulls).  Columns without a stats-capable
    scalar type (nested, binary) are skipped."""
    import pyarrow.parquet as pq

    footer = pq.read_schema(_local_path(sample_file))
    fields: list[T.StructField] = [
        T.StructField("file", T.StringType()),
        T.StructField("num_rows", T.LongType()),
    ]
    stat_cols: list[str] = []
    for f in footer:
        if columns is not None and f.name not in columns:
            continue
        key = str(f.type)
        spark_t = _PA_TO_SPARK.get(key)
        if spark_t is None and key.startswith("timestamp"):
            spark_t = T.TimestampNTZType() if "tz=" not in key else T.TimestampType()
        if spark_t is None:
            continue
        stat_cols.append(f.name)
        fields += [
            T.StructField(f"{f.name}__min", spark_t),
            T.StructField(f"{f.name}__max", spark_t),
            T.StructField(f"{f.name}__nulls", T.LongType()),
        ]
    return T.StructType(fields), stat_cols


def collect_file_stats(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str] | None = None,
) -> DataFrame:
    """Per-file min/max/null-count stats from parquet footers, as a
    DataFrame ``(file, num_rows, <c>__min, <c>__max, <c>__nulls, ...)``.

    Footer reads fan out over the cluster (``mapInPandas`` on the path
    list) — one task opens many KB-sized footers, no data pages are read.
    """
    from aws_sdk_pandas_spark.sources.fs import list_objects

    if isinstance(path, str):
        files = list_objects(spark, path.rstrip("/") + "/**" if not path.endswith(".parquet") else path, suffix=".parquet")
        if not files:
            files = list_objects(spark, path, suffix=".parquet")
    else:
        files = list(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")

    schema, stat_cols = _stats_schema(files[0], columns)
    out_names = [f.name for f in schema.fields]

    def _read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for p in pdf["file"]:
                md = pq.ParquetFile(_local_path(p)).metadata
                names = {md.schema.column(i).path: i for i in range(md.num_columns)}
                row: dict[str, Any] = {"file": p, "num_rows": md.num_rows}
                for c in stat_cols:
                    idx = names.get(c)
                    mn = mx = None
                    nulls: int | None = 0
                    ok = idx is not None
                    for rg in range(md.num_row_groups if ok else 0):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                        nulls = (nulls or 0) + (st.null_count or 0)
                    if not ok:
                        mn = mx = nulls = None
                    row[f"{c}__min"], row[f"{c}__max"], row[f"{c}__nulls"] = mn, mx, nulls
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_names)

    return local_frame(spark, [(f,) for f in files], "file string").mapInPandas(
        _read_footers, schema
    )


def prune_files(
    stats: DataFrame,
    predicates: dict[str, tuple[Any, Any]],
) -> list[str]:
    """Files that can contain rows matching every ``col: (lo, hi)`` range
    (bounds inclusive, either side may be None).  A file with unknown
    stats for a column is kept — pruning never drops rows."""
    keep = F.lit(True)
    for c, (lo, hi) in predicates.items():
        mn, mx = F.col(f"{c}__min"), F.col(f"{c}__max")
        unknown = mn.isNull() | mx.isNull()
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (mx >= F.lit(lo))
        if hi is not None:
            cond = cond & (mn <= F.lit(hi))
        keep = keep & (unknown | cond)
    return [r.file for r in stats.where(keep).select("file").collect()]


def read_parquet_pruned(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple[Any, Any]],
    columns: list[str] | None = None,
) -> DataFrame:
    """Stats-pruned scan: skip files whose footer min/max prove they hold
    no matching rows, then apply the predicate exactly on the survivors.

    Equivalent to ``read_parquet(path).where(...)`` — the stats pass only
    shrinks the file list the scan opens (on top of Spark's own row-group
    pruning, which still applies inside each surviving file).
    """
    from aws_sdk_pandas_spark.sources import read_parquet

    stats = collect_file_stats(spark, path, columns=list(predicates))
    files = prune_files(stats, predicates)
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    if not files:
        base = read_parquet(spark, path)
        return (base.select(columns) if columns else base).where(F.lit(False))
    out = read_parquet(spark, files).where(cond)
    return out.select(columns) if columns else out
