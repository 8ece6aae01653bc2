"""Structured Streaming SOURCE over a lakelite table — the Delta
streaming-source analog (``spark.readStream.format("delta")``), built
on Spark 4's Python DataSource API so no jar is needed.

Offsets are Delta log VERSIONS: each micro-batch reads the files ADDED
by the commits in ``(start_version, end_version]`` — the ``add``
actions of each commit file — one input partition per data file, so a
batch's parallelism equals its file count and a 1000-executor cluster
fans the backlog out naturally.  Rows are produced as Arrow
RecordBatches read straight from the immutable commit parquet
(column-pruned to the declared schema); hive-partition values are
injected as constant Arrow columns from the log's ``partitionValues``
(they are not stored in the data files).

Semantics mirror Delta's source contract:

- append commits stream through exactly once (offsets are checkpointed
  by Spark; a restart resumes from the last committed version);
- a commit that REMOVED or REWROTE files (merge/delete/overwrite/
  compact) fails the stream with an actionable error unless
  ``ignoreChanges=true`` (re-emits the rewritten files' rows — possible
  duplicates, exactly Delta's ``ignoreChanges``) or the commit removed
  files only (``ignoreDeletes=true``);
- ``startingVersion`` (default 0) picks up history from a given commit.

A column-mapped table streams in logical names when its mapping is a
map of top-level names (mode 'name'); mode 'id' and nested physical
renames are refused, since the per-file reader resolves parquet
columns by name and renames top-level columns only.

Usage::

    from aws_sdk_pandas_spark.streaming.lakelite_source import (
        LakeliteStreamDataSource,
    )
    spark.dataSource.register(LakeliteStreamDataSource)
    df = (spark.readStream.format("lakelite_stream")
          .option("path", table_path).load())

Reference parity: awswrangler has no streaming reader (its S3 reads
are batch); this is the training-pipeline extension family — the
"tail the curated table into the tokenizer" hookup (SURVEY.md §2.8).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


class _FilePartition(InputPartition):
    def __init__(
        self,
        abs_path: str,
        partition_values: dict,
        dv: "dict | None" = None,
        root: "str | None" = None,
    ):
        self.abs_path = abs_path
        self.partition_values = partition_values
        # deletion-vector DESCRIPTOR (O(1) metadata): the WORKER decodes
        # the bitmap next to the data it reads — the driver never
        # materializes a deleted-row list, matching the batch plane
        self.dv = dv
        self.root = root


def _arrow_const(value, spark_type, n: int):
    """A length-n constant Arrow array for an injected partition value,
    typed from the Spark schema (partition values are stored as strings
    in the manifest, like hive dir names)."""
    import pyarrow as pa

    t = spark_type.simpleString()
    if value is None:
        conv, pa_t = None, pa.string()
    elif t in ("tinyint", "smallint", "int", "bigint"):
        conv, pa_t = int(value), pa.int64() if t == "bigint" else pa.int32()
    elif t in ("float", "double"):
        conv, pa_t = float(value), pa.float64() if t == "double" else pa.float32()
    elif t == "boolean":
        conv, pa_t = str(value).lower() == "true", pa.bool_()
    elif t == "date":
        import datetime

        conv, pa_t = datetime.date.fromisoformat(str(value)), pa.date32()
    else:  # string and anything else: keep the hive string form
        conv, pa_t = str(value), pa.string()
    return pa.array([conv] * n, type=pa_t)


def _streamable_snapshot(path: str) -> dict:
    """The latest snapshot of ``path``, refused when its column mapping
    is more than a map of top-level names."""
    from aws_sdk_pandas_spark import delta_log as dl
    from aws_sdk_pandas_spark import lakehouse_shim as ls

    man = ls._read_manifest(path)
    dl.refuse_beyond_top_level_names(man, "stream")
    return man


class _LakeliteStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("lakelite_stream requires .option('path', <table dir>)")
        self._starting = int(options.get("startingversion", options.get("startingVersion", 0)))
        self._ignore_changes = str(options.get("ignorechanges", "false")).lower() == "true"
        self._ignore_deletes = str(options.get("ignoredeletes", "false")).lower() == "true"
        # logical -> physical column map of a name-mapped table (loaded
        # on the DRIVER; the pickled reader carries it to workers)
        self._log2phys: dict = _streamable_snapshot(self._path)["log2phys"]

    # -- offset protocol ----------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self._starting - 1}

    def latestOffset(self) -> dict:
        from aws_sdk_pandas_spark import lakehouse_shim as ls

        return {"version": ls.latest_version(self._path)}

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint IS the commit; nothing table-side

    # -- planning -----------------------------------------------------------
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        import urllib.parse

        from aws_sdk_pandas_spark import delta_log as dl
        from aws_sdk_pandas_spark import lakehouse_shim as ls

        root = ls._local(self._path)
        out: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            actions = dl._read_actions(self._path, v)
            info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
            mode = dl._commit_mode(info)
            removed = {a["remove"]["path"] for a in actions if "remove" in a}
            adds = sorted(
                (a["add"] for a in actions if "add" in a), key=lambda a: a["path"]
            )
            # a file removed and re-added in one commit changed its
            # deletion vector: a row-level DELETE, the same streaming
            # contract as a rewrite (Delta's deletion-vector commits hit
            # ignoreDeletes/ignoreChanges)
            dv_changed = [a for a in adds if a["path"] in removed]
            added = [a for a in adds if a["path"] not in removed]
            removed -= {a["path"] for a in dv_changed}
            if (removed or dv_changed) and not self._ignore_changes:
                if not (self._ignore_deletes and not added):
                    raise RuntimeError(
                        f"lakelite_stream: commit v{v} ({mode}) "
                        f"removed/rewrote {len(removed)} and row-level-deleted "
                        f"from {len(dv_changed)} file(s); a streaming source "
                        "cannot retract rows. Set ignoreChanges=true to "
                        "re-emit rewritten files (possible duplicates) or "
                        "ignoreDeletes=true for delete-only commits."
                    )
            # with ignoreChanges a DV change re-emits the file's NEW
            # version: the file minus its deleted rows (duplicates
            # allowed, as documented)
            for a in (dv_changed if self._ignore_changes else []) + added:
                out.append(
                    _FilePartition(
                        os.path.join(root, urllib.parse.unquote(a["path"])),
                        dict(a.get("partitionValues") or {}),
                        dv=a.get("deletionVector"),
                        root=root,
                    )
                )
        return out

    # -- execution (runs in Python workers) ----------------------------------
    def read(self, partition: _FilePartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        l2p = getattr(self, "_log2phys", {})
        file_cols = [
            l2p.get(f.name, f.name)
            for f in self._schema.fields
            if l2p.get(f.name, f.name) not in partition.partition_values
        ]
        tbl = pq.read_table(
            partition.abs_path,
            columns=[c for c in file_cols if c in pq.read_schema(partition.abs_path).names],
        )
        if getattr(partition, "dv", None):
            from aws_sdk_pandas_spark import delta_log as dl

            skip = set(dl._dv_row_indexes(partition.root, partition.dv))
            tbl = tbl.take([i for i in range(tbl.num_rows) if i not in skip])
        n = tbl.num_rows
        arrays, names = [], []
        for f in self._schema.fields:
            phys = l2p.get(f.name, f.name)  # files/dirs carry physical names
            if phys in partition.partition_values:
                arrays.append(_arrow_const(partition.partition_values[phys], f.dataType, n))
            elif phys in tbl.column_names:
                arrays.append(tbl.column(phys).combine_chunks())
            else:  # schema evolution: older file lacks the column
                arrays.append(pa.nulls(n))
            names.append(f.name)
        out = pa.table(arrays, names=names)
        yield from out.to_batches()


class LakeliteStreamDataSource(DataSource):
    """``spark.readStream.format("lakelite_stream")`` — register with
    ``spark.dataSource.register(LakeliteStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "lakelite_stream"

    def schema(self) -> StructType:
        from aws_sdk_pandas_spark import lakehouse_shim as ls
        from pyspark.sql import types as T

        path = self.options.get("path")
        if not path:
            raise ValueError("lakelite_stream requires .option('path', <table dir>)")
        man = _streamable_snapshot(path)
        # a name-mapped table streams in LOGICAL names like every other
        # lakelite entry point (files stay physical; the per-partition
        # reader translates)
        phys2log = {p: l for l, p in man["log2phys"].items()}  # noqa: E741
        return T.StructType(
            [
                T.StructField(phys2log.get(f.name, f.name), f.dataType, f.nullable)
                for f in ls._table_schema(man).fields
            ]
        )

    def streamReader(self, schema: StructType) -> _LakeliteStreamReader:
        return _LakeliteStreamReader(schema, dict(self.options))
