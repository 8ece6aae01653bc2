"""CSV / JSON / FWF read-write (reference: awswrangler/s3/_read_text.py:153,
321,478 and s3/_write_text.py:86,647).

The reference streams S3 objects through ``pandas.read_csv/json/fwf`` and
exposes the full pandas-kwargs surface (ADR 0008).  Spark-first: translate
the supported kwarg subset onto Spark CSV/JSON source options (stays
JVM-side, whole-stage codegen) and reserve a ``mapInPandas`` fallback only
for the untranslatable long tail.  FWF has no native Spark reader —
``spark.read.text`` + substring projection (SURVEY §2.1).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_sdk_pandas_spark import _types
from aws_sdk_pandas_spark.sources._write import write_dataset
from aws_sdk_pandas_spark.sources.layout import PartitionFilter, apply_partition_filter

# pandas read_csv kwarg -> Spark CSV option translation
# (the supported subset; SURVEY §7 hard part 2)
_PANDAS_TO_SPARK_CSV: dict[str, str] = {
    "sep": "sep",
    "delimiter": "sep",
    "encoding": "encoding",
    "quotechar": "quote",
    "escapechar": "escape",
    "lineterminator": "lineSep",
    "comment": "comment",
    "compression": "compression",
}


def _csv_reader_options(pandas_kwargs: dict[str, Any]) -> tuple[dict[str, str], dict[str, Any]]:
    options: dict[str, str] = {}
    rest: dict[str, Any] = {}
    for k, v in pandas_kwargs.items():
        if k in _PANDAS_TO_SPARK_CSV:
            options[_PANDAS_TO_SPARK_CSV[k]] = str(v)
        elif k == "header":
            options["header"] = "true" if v in (0, True, "infer") else "false"
        elif k == "skiprows":
            options["skipRows"] = str(v)
        elif k == "nrows":
            rest["nrows"] = int(v)
        elif k == "names":
            rest["names"] = list(v)
        elif k == "usecols":
            rest["usecols"] = list(v)
        elif k == "dtype":
            rest["dtype"] = dict(v)
        elif k == "parse_dates":
            rest["parse_dates"] = list(v)
        else:
            rest[k] = v
    return options, rest


# rest-keys read_csv handles itself after the scan; anything else falls
# back to per-file pandas (the reference's own two-tier datasource trick,
# ADR 0008)
_CSV_POSTPROCESS_KEYS = {"nrows", "names", "usecols", "dtype", "parse_dates"}


def _csv_files(spark: SparkSession, path: str | list[str]) -> list[str]:
    from aws_sdk_pandas_spark.sources import fs as _fs

    paths = [path] if isinstance(path, str) else list(path)
    out: list[str] = []
    for p in paths:
        if _fs._is_file(spark, p):
            out.append(p)
        else:
            out.extend(
                f
                for f in _fs.list_objects(spark, p)
                # skip committer markers (_SUCCESS) and hidden files, same
                # as Spark's own file-source listing rules
                if not f.rsplit("/", 1)[-1].startswith(("_", "."))
            )
    return out


def _read_csv_pandas_fallback(
    spark: SparkSession,
    path: str | list[str],
    pandas_kwargs: dict[str, Any],
) -> DataFrame:
    """The untranslatable-kwargs path (``converters=``, ``thousands=``,
    ``skipfooter=`` ...): distribute the *file list* and run the real
    ``pandas.read_csv`` per file inside ``mapInPandas`` — full pandas
    semantics, Arrow-batched back to the JVM, parallel per file (the same
    per-object parallelism the reference's pandas datasource uses,
    s3/_read_text_core.py:34-120).

    Schema comes from a driver-side sample read of the first file (1000
    rows) with the SAME kwargs, so converter outputs type consistently.
    """
    import pandas as pd

    files = _csv_files(spark, path)
    if not files:
        from aws_sdk_pandas_spark.exceptions import NoFilesFound

        raise NoFilesFound(f"no CSV files under {path!r}")
    local = [f.removeprefix("file:") for f in files]

    sample_kwargs = dict(pandas_kwargs)
    sample_kwargs.pop("nrows", None)
    if "skipfooter" not in sample_kwargs:
        # skipfooter forbids nrows; only sample-limit when safe
        sample_kwargs["nrows"] = 1000
    # a dataset write leaves empty/part-only files: sample the first file
    # that yields rows (schema inference needs typed values)
    sample = None
    for cand in local:
        try:
            s = pd.read_csv(cand, **sample_kwargs)
        except pd.errors.EmptyDataError:
            continue
        if sample is None:
            sample = s
        if len(s):
            sample = s
            break
    if sample is None:
        from aws_sdk_pandas_spark.exceptions import NoFilesFound

        raise NoFilesFound(f"no parsable CSV content under {path!r}")
    sdf_schema = spark.createDataFrame(
        sample if len(sample) else sample.astype("string")
    ).schema

    nrows_total = pandas_kwargs.get("nrows")
    kwargs = {k: v for k, v in pandas_kwargs.items() if k != "nrows"}

    def _read(batches):
        for pdf in batches:
            for p in pdf["path"]:
                try:
                    out = pd.read_csv(p, **kwargs)
                except pd.errors.EmptyDataError:
                    continue
                # align to the sampled schema's column order
                yield out[[f.name for f in sdf_schema.fields]]

    df = _types.local_frame(spark, [(p,) for p in local], "path string").mapInPandas(
        _read, schema=sdf_schema
    )
    return df.limit(int(nrows_total)) if nrows_total else df


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    *,
    dataset: bool = False,
    partition_filter: PartitionFilter | None = None,
    header: bool | str = True,
    infer_schema: bool = True,
    schema: Any = None,
    options: dict[str, Any] | None = None,
    **pandas_kwargs: Any,
) -> DataFrame:
    """CSV scan (reference: s3/_read_text.py:153).  pandas kwargs translated
    to Spark options where possible; kwargs with no Spark equivalent fall
    back to per-file ``pandas.read_csv`` via ``mapInPandas`` (two-tier
    strategy, ADR 0008)."""
    spark_opts, rest = _csv_reader_options(pandas_kwargs)
    if not all(k in _CSV_POSTPROCESS_KEYS for k in rest):
        return _read_csv_pandas_fallback(spark, path, pandas_kwargs)
    reader = spark.read.format("csv")
    reader = reader.option("header", "true" if header in (True, 0, "infer") else "false")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    if dataset and isinstance(path, str):
        reader = reader.option("basePath", path)
    for k, v in {**spark_opts, **(options or {})}.items():
        reader = reader.option(k, v)
    df = reader.load([path] if isinstance(path, str) else list(path))
    if "names" in rest:
        df = df.toDF(*rest["names"])
    if dataset and partition_filter is not None and isinstance(path, str):
        df = apply_partition_filter(spark, path, df, partition_filter)
    if "dtype" in rest:
        df = _types.cast_columns(df, rest["dtype"])
    if "parse_dates" in rest:
        for c in rest["parse_dates"]:
            df = df.withColumn(c, F.to_timestamp(F.col(c)))
    if "usecols" in rest:
        df = df.select(*rest["usecols"])
    if "nrows" in rest:
        df = df.limit(rest["nrows"])
    return df


def read_json(
    spark: SparkSession,
    path: str | list[str],
    *,
    dataset: bool = False,
    partition_filter: PartitionFilter | None = None,
    lines: bool = True,
    schema: Any = None,
    options: dict[str, Any] | None = None,
    **pandas_kwargs: Any,
) -> DataFrame:
    """JSON scan (reference: s3/_read_text.py:478).  ``lines=False`` maps to
    Spark's ``multiLine``."""
    reader = spark.read.format("json")
    if not lines:
        reader = reader.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    if dataset and isinstance(path, str):
        reader = reader.option("basePath", path)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load([path] if isinstance(path, str) else list(path))
    if dataset and partition_filter is not None and isinstance(path, str):
        df = apply_partition_filter(spark, path, df, partition_filter)
    return df


def read_fwf(
    spark: SparkSession,
    path: str | list[str],
    *,
    widths: list[int] | None = None,
    colspecs: list[tuple[int, int]] | None = None,
    names: list[str] | None = None,
    dtype: dict[str, str] | None = None,
    **_ignored: Any,
) -> DataFrame:
    """Fixed-width scan — no native Spark reader; ``spark.read.text`` +
    substring projection (SURVEY §2.1; reference: s3/_read_text.py:321)."""
    if colspecs is None:
        if widths is None:
            raise ValueError("read_fwf requires widths= or colspecs=")
        colspecs = []
        start = 0
        for w in widths:
            colspecs.append((start, start + w))
            start += w
    names = names or [f"col{i}" for i in range(len(colspecs))]
    raw = spark.read.text([path] if isinstance(path, str) else list(path))
    cols = [
        F.trim(F.substring(F.col("value"), a + 1, b - a)).alias(n)
        for (a, b), n in zip(colspecs, names)
    ]
    df = raw.select(*cols)
    return _types.cast_columns(df, dtype)


def to_csv(
    df: DataFrame,
    path: str,
    *,
    dataset: bool = False,
    mode: str = "append",
    partition_cols: list[str] | None = None,
    bucketing_info: tuple[list[str], int] | None = None,
    header: bool = True,
    sep: str = ",",
    compression: str | None = None,
    max_rows_by_file: int = 0,
    dtype: dict[str, str] | None = None,
    options: dict[str, Any] | None = None,
    files_per_partition: int = 1,
) -> dict[str, Any]:
    """CSV dataset write (reference: s3/_write_text.py:86)."""
    opts = {"header": "true" if header else "false", "sep": sep, **(options or {})}
    return write_dataset(
        df,
        path,
        "csv",
        mode=mode,
        partition_cols=partition_cols,
        bucketing_info=bucketing_info,
        max_rows_by_file=max_rows_by_file,
        compression=compression,
        dtype=dtype,
        options=opts,
        dataset=dataset,
        files_per_partition=files_per_partition,
    )


def to_json(
    df: DataFrame,
    path: str,
    *,
    dataset: bool = False,
    mode: str = "append",
    partition_cols: list[str] | None = None,
    lines: bool = True,
    compression: str | None = None,
    max_rows_by_file: int = 0,
    options: dict[str, Any] | None = None,
    files_per_partition: int = 1,
) -> dict[str, Any]:
    """JSON-lines dataset write (reference: s3/_write_text.py:647).
    ``lines=False`` (array-JSON) is not distributed-friendly and is not
    supported — the reference itself forbids it for datasets."""
    if not lines:
        raise ValueError("only JSON-lines output is supported for datasets")
    return write_dataset(
        df,
        path,
        "json",
        mode=mode,
        partition_cols=partition_cols,
        bucketing_info=None,
        max_rows_by_file=max_rows_by_file,
        compression=compression,
        dtype=None,
        options=options,
        dataset=dataset,
        files_per_partition=files_per_partition,
    )
