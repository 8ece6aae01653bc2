"""The three benchmark workloads.

``sql_relational`` and ``doc_curation`` run registry entries of
``__spark_entry__.queries()``: one operation is one callable building its
DataFrame plus ``toPandas()``.  ``lake_ingest`` lands, commits, upserts,
deletes and compacts seeded batches through ``sources`` and
``lakehouse``/``lakehouse_shim``, reading back between the writes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd

from checks import LakeModel
from datagen import LakeBatches

SQL_RELATIONAL = (
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q06_revenue_forecast", "q10_returned_items",
    "events_daily_stats", "events_top_users", "agg_rollup", "window_running_total",
    "logs_insights_stats", "asof_join_events", "sessionize_events", "interval_join_purchases",
)
DOC_CURATION = (
    "doc_lang_stats", "doc_quality_scores", "doc_ngram_jaccard_dups",
    "dedup_minhash_lsh", "emb_knn_cosine", "vectors_query_filtered",
)
QUERY_WORKLOADS = {"sql_relational": SQL_RELATIONAL, "doc_curation": DOC_CURATION}
# operation each query workload's set-up runs once, after view registration
PROBE = {"sql_relational": "q06_revenue_forecast", "doc_curation": "doc_lang_stats"}


@dataclass
class OpResult:
    op_id: int
    name: str
    latency_s: float
    rows: int = 0
    frame: pd.DataFrame | None = None
    expected: Any = None
    error: str | None = None


@dataclass
class Phase:
    """Operations of one timed phase, in order."""

    results: list[OpResult] = field(default_factory=list)
    rounds: list[float] = field(default_factory=list)  # seconds per sweep or cycle
    persisted_left: list[int] = field(default_factory=list)
    wall_s: float = 0.0
    rows_committed: int = 0


def vectors_query_filtered(index_dir: str) -> Callable[[Any, str], Any]:
    """The registry's ``vectors_query_filtered`` composition with the
    index kept under the run directory (the registry entry writes to a
    fixed path outside it)."""

    def build(spark: Any, data_dir: str) -> Any:
        from pyspark.sql import functions as F

        from aws_sdk_pandas_spark import vectors as V
        from aws_sdk_pandas_spark.sources import read_parquet

        emb = read_parquet(spark, f"{data_dir}/embeddings.parquet")
        q = emb.where("vec_id = 0").select("embedding").first()[0]
        V.create_vector_index(spark, index_dir, dimension=len(q))
        V.put_vectors_from_df(
            emb.select(
                F.col("vec_id").cast("string").alias("key"),
                F.col("embedding").alias("vector"),
                "label",
            ),
            index_dir,
            mode="overwrite",
        )
        return V.query_vectors(
            spark, index_dir, q, top_k=10,
            metadata_filter={"$and": [{"label": {"$gte": 1}}, {"label": {"$ne": 3}}]},
        )

    return build


def query_callables(names: tuple[str, ...], run_dir: str) -> dict[str, Callable[[Any, str], Any]]:
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {n: qs[n] for n in names if n != "vectors_query_filtered"}
    if "vectors_query_filtered" in names:
        out["vectors_query_filtered"] = vectors_query_filtered(os.path.join(run_dir, "vec_index"))
    return out


def run_query(ctx: Any, op_id: int, name: str, fn: Callable[[Any, str], Any]) -> OpResult:
    tr = ctx.tracer
    tr.op_id = op_id
    t0 = time.perf_counter()
    try:
        with tr.span("op"):
            with tr.span("operators.build", group=True):
                df = fn(ctx.spark, ctx.data_dir)
            with tr.span("exec.fetch", group=True):
                pdf = df.toPandas()
    except Exception as exc:  # counted as a failed operation
        err = f"{type(exc).__name__}: {str(exc)[:300]}"
        return OpResult(op_id, name, time.perf_counter() - t0, error=err)
    return OpResult(op_id, name, time.perf_counter() - t0, len(pdf), pdf)


# ---------------------------------------------------------------------------
# lake_ingest
# ---------------------------------------------------------------------------


class Lake:
    """One table plus its landing dataset, driven through the public
    ``sources`` and ``lakehouse`` functions."""

    def __init__(self, ctx: Any, root: str, rows: int, seed: int) -> None:
        self.ctx = ctx
        self.table = os.path.join(root, "table")
        self.landing = os.path.join(root, "landing")
        self.batches = LakeBatches(seed, rows)
        self.model = LakeModel()
        self.landed = LakeModel()
        self.snapshots: dict[int, pd.DataFrame] = {}
        self.user_bytes = 0
        self.merge_returns: list[dict[str, int]] = []
        self.files_written: list[int] = []
        self.landed_files = 0
        self.phase = Phase()

    def _op(self, kind: str, fn: Callable[[], Any], expected: Any = None) -> Any:
        tr = self.ctx.tracer
        op_id = self.ctx.next_op_id()
        tr.op_id = op_id
        self.ctx.op_kinds[op_id] = kind
        t0 = time.perf_counter()
        out, error = None, None
        try:
            with tr.span("op"):
                out = fn()
        except Exception as exc:  # counted as a failed operation
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
        res = OpResult(op_id, kind, time.perf_counter() - t0, expected=expected, error=error)
        if isinstance(out, pd.DataFrame):
            res.frame, res.rows = out, len(out)
        self.phase.results.append(res)
        return out

    def _version(self) -> int:
        from aws_sdk_pandas_spark import delta_log

        return max(delta_log.delta_versions(self.table))

    def _to_spark(self, pdf: pd.DataFrame) -> Any:
        with self.ctx.tracer.span("exec.from_pandas"):
            return self.ctx.spark.createDataFrame(pdf)

    def _read(self, kind: str, version: int | None = None) -> pd.DataFrame:
        from aws_sdk_pandas_spark import lakehouse

        def go() -> pd.DataFrame:
            tr = self.ctx.tracer
            with tr.span("lakehouse.read_build", group=True):
                df = lakehouse.read_deltalake(self.ctx.spark, self.table, version=version)
            with tr.span("exec.fetch", group=True):
                return df.toPandas()

        expected = self.snapshots[version] if version is not None else self.model.snapshot()
        return self._op(kind, go, expected)

    def cycle(self) -> int:
        """One ingest, then the trim.  Returns rows committed."""
        rows = self.ingest()
        self.trim()
        return rows

    def ingest(self) -> int:
        """land + append, read, CoW upsert, read, DV upsert, time travel,
        partition-filtered landing read.  Returns rows committed."""
        from aws_sdk_pandas_spark import lakehouse, lakehouse_shim
        from aws_sdk_pandas_spark.sources import read_parquet, to_parquet

        tr = self.ctx.tracer
        spark = self.ctx.spark
        batch = self.batches.append()
        up_cow = self.batches.upsert()
        up_dv = self.batches.upsert()
        for b in (batch, up_cow, up_dv):
            self.user_bytes += int(b.memory_usage(index=False, deep=True).sum())

        def land() -> None:
            sdf = self._to_spark(batch)
            with tr.span("sources.to_parquet", group=True):
                res = to_parquet(sdf, self.landing, dataset=True, partition_cols=["day"])
            # the result lists every file of the dataset, old ones included
            self.files_written.append(len(res["paths"]) - self.landed_files)
            self.landed_files = len(res["paths"])

        self._op("land", land)
        self.landed.append(batch)

        def append() -> None:
            sdf = self._to_spark(batch)
            with tr.span("lakehouse.append", group=True):
                lakehouse.to_deltalake(sdf, self.table, mode="append", partition_cols=["day"])

        self._op("append", append)
        self.model.append(batch)
        v_append = self._version()
        self.snapshots[v_append] = self.model.snapshot()
        self._read("read_latest")

        def merge(src: pd.DataFrame, dv: bool) -> None:
            sdf = self._to_spark(src)
            with tr.span("lakehouse.merge_dv" if dv else "lakehouse.merge_cow", group=True):
                r = lakehouse_shim.merge(spark, sdf, self.table, ["id"], use_deletion_vectors=dv)
            self.merge_returns.append(r)

        self._op("merge_cow", lambda: merge(up_cow, False))
        self.model.upsert(up_cow)
        self._read("read_latest")
        self._op("merge_dv", lambda: merge(up_dv, True))
        self.model.upsert(up_dv)
        self._read("read_version", version=v_append)

        days = sorted({int(d) for d in self.batches.rng.choice(self.batches.DAYS, 2, replace=False)})

        def read_landing() -> pd.DataFrame:
            with tr.span("sources.read_parquet", group=True):
                df = read_parquet(
                    spark, self.landing, dataset=True,
                    partition_filter=lambda p: int(p["day"]) in days,
                )
            with tr.span("exec.fetch", group=True):
                return df.toPandas()

        rows = self.landed.rows
        self._op("read_landing", read_landing, rows[rows["day"].isin(days)].copy())
        return len(batch) + len(up_cow) + len(up_dv)

    def trim(self) -> None:
        """One deletion-vector delete, one compaction, one read."""
        from aws_sdk_pandas_spark import lakehouse_shim

        tr = self.ctx.tracer
        spark = self.ctx.spark
        keys = self.batches.delete_keys(max(1, self.batches.rows // 40))

        def delete() -> None:
            sdf = self._to_spark(keys)
            with tr.span("lakehouse.delete_dv", group=True):
                lakehouse_shim.delete(spark, sdf, self.table, ["id"], use_deletion_vectors=True)

        self._op("delete_dv", delete)
        self.model.delete(keys)

        def compact() -> None:
            with tr.span("lakehouse.compact", group=True):
                lakehouse_shim.compact(spark, self.table)

        self._op("compact", compact)
        self._read("read_latest")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
