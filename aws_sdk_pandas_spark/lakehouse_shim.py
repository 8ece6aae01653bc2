"""Lakelite: an in-repo versioned parquet table format (Delta commit log +
file-level copy-on-write) that gives the lakehouse entry points
(`to_deltalake`/`read_deltalake`/`to_iceberg`/`read_iceberg`/MERGE/
DELETE, reference: awswrangler/s3/_write_deltalake.py:51,
s3/_read_deltalake.py:38, athena/_write_iceberg.py:297-420,715)
*executable* semantics when the delta-spark / iceberg-spark-runtime jars
are absent — this container ships neither, so without this shim those
code paths exist only as classpath-probe error branches.

Design (the same shape as the real formats, scaled down to a shim):

- A table is a directory: immutable data files under ``data/<commit>/``
  plus a Delta transaction log under ``_delta_log/`` — the table's only
  commit log (``delta_log``), so every lakelite table is a Delta table
  and every Delta table another engine wrote is a lakelite table.
  Each public call replays the log ONCE into an in-memory manifest
  (schema, partition columns, the live files with their stats and
  deletion vectors, stats columns, txn stamps) and passes it down.
- Commits are atomic: data files land first, then ONE Delta commit file
  for the next version is created exclusively (``os.link``).  A crash
  between the two leaves orphan data files (harmless, vacuum-able),
  never a corrupt table; a writer that loses the version to another
  rebases or raises.  The Delta checkpoint (every 10th version) and the
  optional Iceberg export run after the commit, and a failure of either
  is raised with a note naming the version that did commit.
- MERGE / DELETE are file-level copy-on-write: a semi-join of the
  snapshot's hidden ``_metadata.file_path`` column against the source
  keys finds the files that contain matching rows; ONLY those files are
  rewritten, every other file is carried into the new snapshot by
  reference.  At 100 TB this is the property that matters — an upsert
  touching 0.1% of keys rewrites ~0.1% of the data, exactly like Delta
  CoW.  The touched-file list is collected on the driver (bounded by
  file count, the same driver-side set Delta's own commit builds).
- ``use_deletion_vectors=True`` makes MERGE / DELETE merge-on-read:
  touched files keep their data and gain a Delta-protocol deletion
  vector (roaring bitmap of deleted row indexes) instead of a rewrite.
  Reads decode the bitmaps on executors from O(files) descriptors the
  driver ships, spread over ``min(files, defaultParallelism)``
  partitions by the package's one builder of small driver-side frames
  (:func:`_types.local_frame`): one Python task per executor slot,
  each decoding its files one at a time, so per-task memory is one
  file's deleted-row list and the driver never holds row indexes.
- ``merge_condition='ignore'`` is an insert-only fast path: unmatched
  source rows become a new commit, NO existing file is read or written.
- Time travel = replay the log to an older version.
  ``overwrite_partitions`` drops the files whose partition values match
  the incoming frame's (dynamic partition overwrite).  ``compact``
  rewrites the snapshot as one commit (the OPTIMIZE analog) and
  ``vacuum`` truncates the log and deletes the data no kept version
  references.

Honest limits vs the real formats (documented, deliberate): APPENDS,
MERGEs, and DELETEs all get optimistic-concurrency retry (version
collision -> Delta-style rebase; exactly-once txn stamps re-checked
after a lost race).  Merge/delete rebase ONLY when the racing commits
touched disjoint file sets AND the winner added no rows matching the
source keys — both-rewrote-a-file, schema changes, and key-overlapping
concurrent adds raise (Delta's ConcurrentAppend/ConcurrentDeleteRead
contract).  Plain ``overwrite`` conflicts still raise rather than
rebase (a blind overwrite racing anything is a user-intent question,
not a mechanical one); every read
plan comes from one builder (:func:`_scan`) over the log's live files:
one parquet scan for an unpartitioned table, one per commit dir of a
hive layout, one per partition tuple of any other layout (bounded by
commit count — run ``compact`` on long-lived tables), each of at most
Spark's parallel-listing threshold of files; file skipping uses
partition values plus opt-in per-file min/max stats (``stats_cols`` /
``predicates`` / ``compact(zorder_by=...)``).  Production deployments should put
the real jars on the classpath; every entry point in ``lakehouse``
prefers the native path when the probe finds one.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import urllib.parse
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_sdk_pandas_spark import delta_log as dl
from aws_sdk_pandas_spark import iceberg_meta
from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _local(path: str) -> str:
    """Strip a file: scheme so os-level file IO and Spark's
    ``_metadata.file_path`` URIs compare equal."""
    if path.startswith("file:"):
        return urllib.parse.unquote(urllib.parse.urlparse(path).path)
    return path


def _normalize_uri(uri: str) -> str:
    """Spark file URI -> absolute local path (scheme stripped, percent
    escapes decoded, relative paths anchored) for manifest matching."""
    return os.path.abspath(_local(uri))


# A name-column-mapped table runs on PHYSICAL column names inside
# lakelite (schema, partition dirs, stats, data files), and the public
# entry points translate with the snapshot's ``log2phys`` map.


def _to_physical(df: DataFrame, log2phys: dict[str, str]) -> DataFrame:
    """Rename any LOGICAL column present in the frame to its physical
    name (columns already physical pass through)."""
    for logical, physical in log2phys.items():
        if logical in df.columns:
            df = df.withColumnRenamed(logical, physical)
    return df


def _phys_names(names: list[str] | None, log2phys: dict[str, str]) -> list[str] | None:
    return None if names is None else [log2phys.get(n, n) for n in names]


def table_exists(path: str) -> bool:
    return dl.has_delta_log(path)


def _versions(path: str) -> list[int]:
    return dl.readable_versions(path)


def latest_version(path: str) -> int:
    vs = _versions(path)
    if not vs:
        raise InvalidArgument(f"not a lakelite table: no Delta log under {path!r}")
    return vs[-1]


def _read_manifest(path: str, version: int | None = None) -> dict[str, Any]:
    """The snapshot at ``version`` (default latest), replayed from the
    Delta log (:func:`delta_log.snapshot`)."""
    return dl.snapshot(path, version)


def _commit_manifest(path: str, manifest: dict[str, Any]) -> None:
    """Commit ``manifest`` as the next Delta version (built on
    ``manifest["base"]``); raises ``concurrent write detected`` when
    another writer holds that version.  A table created through
    to_iceberg / convert_to_iceberg also exports every commit as an
    Iceberg snapshot; that export runs after the commit, and its failure
    is raised with a note (the next commit backfills the snapshot)."""
    dl.commit(path, manifest)
    if iceberg_meta.has_iceberg_meta(path):
        try:
            iceberg_meta.export_snapshot(path, manifest)
        except Exception as exc:
            exc.add_note(
                f"Delta version {manifest['version']} is committed at {path!r}; "
                "only its Iceberg export failed"
            )
            raise


def _hive_value(v: str) -> str | None:
    return None if v == _HIVE_NULL else urllib.parse.unquote(v)


def _parse_partition_values(rel_file: str, commit_rel: str) -> dict[str, str | None]:
    """Recover hive partition values from the dir segments between the
    commit dir and the leaf file."""
    inner = os.path.dirname(os.path.relpath(rel_file, commit_rel))
    vals: dict[str, str | None] = {}
    if inner in ("", "."):
        return vals
    for seg in inner.split(os.sep):
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        vals[k] = _hive_value(v)
    return vals


def _write_commit(
    df: DataFrame, path: str, partition_cols: list[str] | None
) -> tuple[str, list[dict[str, Any]]]:
    """Write one immutable commit dir of parquet files; return its
    relative path and the manifest file entries."""
    root = _local(path)
    commit = uuid.uuid4().hex[:12]
    commit_rel = os.path.join("data", commit)
    out = os.path.join(root, commit_rel)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(out)
    entries = []
    for dirpath, _dirs, files in os.walk(out):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            entries.append(
                {
                    "path": rel,
                    "commit": commit_rel,
                    "partition_values": _parse_partition_values(rel, commit_rel),
                }
            )
    return commit_rel, entries


def _table_schema(man: dict[str, Any]) -> T.StructType:
    """The snapshot's full read schema: the manifest schema plus any
    partition column it does not list (read as a string)."""
    schema = T.StructType.fromJson(json.loads(man["schema"]))
    for c in man["partition_cols"]:
        if c not in schema.fieldNames():
            schema = schema.add(c, T.StringType())
    return schema


def _scan_files(
    spark: SparkSession,
    files: list[str],
    schema: T.StructType,
    base_path: str | None = None,
) -> DataFrame:
    """The one scan of data files a table log lists.  The schema comes
    from the log, which is authoritative for the table, so building the
    scan opens no footer; a file that predates a column reads it as
    null.  Spark lists more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
    with a Spark job, so :func:`_scan` passes at most that many.  With
    ``base_path``, hive ``k=v`` directories below it supply the
    partition columns, typed by ``schema``."""
    reader = spark.read.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*files)


def _scan_groups(
    entries: list[dict[str, Any]], pcols: list[str], limit: int
) -> list[tuple[str | None, tuple, list[dict[str, Any]]]]:
    """Group a snapshot's files into scans: ``(base, values, entries)``.
    An unpartitioned table is one group.  A file whose relative path ends
    in the hive ``k=v`` dirs of its own log partition values (parsed as
    :func:`_parse_partition_values` does) joins the group of the dir above
    them, its partition-discovery ``base`` — one group per lakelite commit
    dir.  Every other file (a flat or random-prefix layout) joins the
    group of its partition tuple, whose ``values`` are injected.  A group
    of more than ``limit`` files is scanned ``limit`` files at a time, so
    building a scan never runs Spark's parallel file-listing job."""
    groups: dict[tuple, list[dict[str, Any]]] = {}
    for e in entries:
        pv = e["partition_values"]
        dirs = e["path"].split("/")[:-1]
        n = len(dirs) - len(pcols)
        key: tuple = (None, tuple(pv.get(c) for c in pcols))
        if pcols and n >= 0 and all(
            k == c and eq and _hive_value(v) == pv.get(c)
            for c, (k, eq, v) in zip(pcols, (s.partition("=") for s in dirs[n:]))
        ):
            key = ("/".join(dirs[:n]), ())
        groups.setdefault(key, []).append(e)
    return [
        (*k, g[i : i + limit])
        for k, g in sorted(groups.items(), key=lambda kv: repr(kv[0]))
        for i in range(0, len(g), limit)
    ]


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and value nullable and no field
    metadata: the type a file scan reads."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType))
    return t


def _scan(
    spark: SparkSession,
    path: str,
    man: dict[str, Any],
    entries: list[dict[str, Any]] | None = None,
    *,
    meta: dict[str, str] | None = None,
    logical: bool = False,
) -> DataFrame:
    """The one read plan of snapshot ``man``: the live rows of
    ``entries`` (default: every file), one :func:`_scan_files` per
    :func:`_scan_groups` group, unioned.  ``meta`` maps output column ->
    ``_metadata`` field, added per scan because ``_metadata`` does not
    survive a union.  Deletion vectors decode on executors
    (:func:`_dv_deletes_df`) and drop with ONE anti-join after the union.
    The columns come out in the table schema's order, then ``meta``;
    with ``logical``, a column-mapped table's physical columns are
    renamed to their logical names and cast to their logical types (a
    struct cast renames nested fields by position), in one projection."""
    root = _local(path)
    entries = [e for e in (man["files"] if entries is None else entries) if not e.get("empty")]
    schema = _table_schema(man)
    meta = dict(meta or {})
    cols: list[Any] = schema.fieldNames()
    m = man["log2phys"]
    if logical and m:
        cols = []
        for f in T.StructType.fromJson(json.loads(man["meta"]["schemaString"])).fields:
            c, want = F.col(m[f.name]), _nullable(f.dataType)
            if want != _nullable(schema[m[f.name]].dataType):
                c = c.cast(want)
            cols.append(c.alias(f.name))
    out = cols + list(meta)
    if man.get("mapping") == "id":
        phys2log = {p: l for l, p in m.items()}  # noqa: E741
        bare = [phys2log[f.name] for f in schema.fields if "parquet.field.id" not in f.metadata]
        if bare:
            raise InvalidArgument(
                f"columnMapping mode 'id' but field {bare[0]!r} carries no "
                "delta.columnMapping.id"
            )
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    if not entries:
        types = {"file_path": "string", "row_index": "bigint"}
        df = local_frame(spark, [], schema)
        return df.select(*cols, *[F.lit(None).cast(types[f]).alias(n) for n, f in meta.items()])
    missing = [e["path"] for e in entries if not os.path.exists(os.path.join(root, e["path"]))]
    if missing:
        raise InvalidArgument(
            f"Delta version {man['version']} at {path!r} references {len(missing)} "
            f"missing data file(s) (vacuumed away or external), e.g. {sorted(missing)[:2]}"
        )
    deletes, dv_card = _dv_deletes_df(spark, root, entries)
    if deletes is not None:
        have = {f: n for n, f in meta.items()}
        dv_cols = [have.get("file_path", "__dv_fp"), have.get("row_index", "__dv_ri")]
        meta.update(zip(dv_cols, ("file_path", "row_index")))
    pcols = man["partition_cols"]
    data = T.StructType([f for f in schema.fields if f.name not in pcols])
    parts = []
    threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
    limit = max(1, int(threshold))
    for base, values, group in _scan_groups(entries, pcols, limit):
        files = [os.path.join(root, e["path"]) for e in group]
        if base is None:
            part = _scan_files(spark, files, data)
        else:
            part = _scan_files(spark, files, schema, os.path.join(root, base))
        lits = {c: F.lit(v).cast(schema[c].dataType).alias(c) for c, v in zip(pcols, values)}
        parts.append(part.select(
            *[lits.get(n, n) for n in schema.fieldNames()],
            *[F.col(f"_metadata.{f}").alias(n) for n, f in meta.items()],
        ))
    df = functools.reduce(DataFrame.union, parts)
    if deletes is not None:
        df = _drop_dv_rows(df, deletes, dv_card, *dv_cols)
    return df.select(*out)


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _widens(src: T.DataType, dst: T.DataType) -> bool:
    if isinstance(src, _INTEGRAL) and isinstance(dst, _INTEGRAL):
        return _INTEGRAL.index(type(src)) < _INTEGRAL.index(type(dst))
    return isinstance(src, T.FloatType) and isinstance(dst, T.DoubleType)


def _conform(df: DataFrame, schema_json: str) -> DataFrame:
    """Write-time schema enforcement (Delta's rule): every column the
    frame shares with the table must carry the table's type.  A lossless
    widening (integral widening, float -> double) is cast; any other
    type change raises before a data file is written, because reads scan
    with the table's schema and a disagreeing file would break them.
    Returns ``df`` itself when nothing needs a cast."""
    table = {
        f.name: f.dataType
        for f in T.StructType.fromJson(json.loads(schema_json)).fields
    }
    casts: dict[str, T.DataType] = {}
    for f in df.schema.fields:
        want = table.get(f.name)
        # simpleString ignores nullability, which a write does not change
        if want is None or want.simpleString() == f.dataType.simpleString():
            continue
        if not _widens(f.dataType, want):
            raise InvalidArgument(
                f"column {f.name!r} is {want.simpleString()} in the table but "
                f"{f.dataType.simpleString()} in the incoming frame; only a "
                "lossless widening (integral, float -> double) is cast on write"
            )
        casts[f.name] = want
    if not casts:
        return df
    return df.withColumns({c: df[c].cast(t) for c, t in casts.items()})


def _collect_stats(
    spark: SparkSession,
    root: str,
    entries: list[dict[str, Any]],
    stats_cols: list[str],
    table: dict[str, Any],
) -> None:
    """Attach per-file min/max for ``stats_cols`` to the manifest entries
    (Delta-style data skipping stats) — one scan of ONLY the new commit's
    files, numeric and string data columns only (JSON-representable and
    order-comparable).  ``table`` holds the ``schema`` and
    ``partition_cols`` the files were written with."""
    if not entries or not stats_cols:
        return
    files = [os.path.join(root, e["path"]) for e in entries]
    fields = [
        f
        for f in _table_schema(table).fields
        if f.name in stats_cols
        and f.name not in table["partition_cols"]
        and isinstance(f.dataType, (T.StringType, T.DecimalType, T.FloatType,
                                    T.DoubleType) + _INTEGRAL)
    ]
    if not fields:
        return
    usable = [f.name for f in fields]
    df = _scan_files(spark, files, T.StructType(fields))
    aggs = []
    for c in usable:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("__f")).agg(*aggs).collect()
    )
    import math as _math

    def _plain(v, widen: int = 0):
        """JSON-safe bound.  NaN -> None (every NaN comparison is False,
        so a NaN bound would 'prove' non-match and wrongly prune real
        rows — None means unknown and keeps the file).  Decimals widen
        one relative ulp outward: float64 is lossy for them and an
        inward rounding could prune a file holding matching rows."""
        if v is None or isinstance(v, (int, str)):
            return v
        if isinstance(v, float):
            return None if _math.isnan(v) else v
        f = float(v)  # Decimal
        if widen:
            f = f + widen * (abs(f) * 1e-12 + 1e-300)
        return f

    by_norm = {_normalize_uri(r["__f"]): r for r in rows}
    for e in entries:
        r = by_norm.get(os.path.abspath(os.path.join(root, e["path"])))
        if r is None:
            # scanned but produced no group row -> the file holds 0 rows
            # (Spark writes schema-only part files for empty partitions);
            # provably prunable under any predicate
            e["empty"] = True
            continue
        e["stats"] = {
            c: [_plain(r[f"__mn_{c}"], widen=-1), _plain(r[f"__mx_{c}"], widen=1)]
            for c in usable
        }


_SKIP_OPS = {"<", "<=", ">", ">=", "="}


def _entry_may_match(entry: dict[str, Any], predicates) -> bool:
    """Conservative file skipping: False ONLY when the per-file min/max
    stats PROVE no row can satisfy every predicate; missing stats keep
    the file.  NULL bounds keep the file (min/max ignore NULLs, but a
    file of all NULLs has None bounds and unknown content)."""
    if entry.get("empty"):
        return False
    stats = entry.get("stats") or {}
    for col, op, value in predicates:
        if col not in stats:
            continue
        mn, mx = stats[col]
        if mn is None or mx is None:
            continue
        if op == "<" and not (mn < value):
            return False
        if op == "<=" and not (mn <= value):
            return False
        if op == ">" and not (mx > value):
            return False
        if op == ">=" and not (mx >= value):
            return False
        if op == "=" and not (mn <= value <= mx):
            return False
    return True


def files_scanned(path: str, predicates, *, version: int | None = None) -> tuple[int, int]:
    """(files kept after stat pruning, total files) for a predicate list
    — the data-skipping effectiveness probe tests assert on."""
    man = _read_manifest(path, version)
    kept = sum(1 for e in man["files"] if _entry_may_match(e, predicates))
    return kept, len(man["files"])


def _carry_txns(
    prev: dict[str, Any] | None,
    txn: tuple[str, int] | None,
    *,
    path: str | None = None,
) -> dict[str, int]:
    """Per-app transaction high-water marks after a commit stamped
    ``txn`` on top of snapshot ``prev``.  The snapshot's map is the
    log's ``txn`` actions (checkpoints carry them), so merge, delete,
    compact and vacuum can never erase the idempotence state a replayed
    streaming batch depends on.  ``path`` is unused: the snapshot holds
    the whole map."""
    txns: dict[str, int] = dict(prev["txns"]) if prev is not None else {}
    if txn is not None:
        app, batch = str(txn[0]), int(txn[1])
        txns[app] = max(txns.get(app, -1), batch)
    return txns


def txn_version(path: str, app_id: str) -> int:
    """Highest transaction/batch id committed for ``app_id`` (-1 when
    none) — the Delta ``txn`` action's idempotent-sink protocol: a
    streaming writer stamps each commit and skips replays."""
    if not table_exists(path):
        return -1
    return int(_read_manifest(path)["txns"].get(app_id, -1))


def write(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    partition_cols: list[str] | None = None,
    schema_mode: str | None = None,
    txn: tuple[str, int] | None = None,
    stats_cols: list[str] | None = None,
) -> bool:
    """Versioned write.  Modes mirror the reference's ``to_deltalake``
    (s3/_write_deltalake.py:51): append / overwrite / error|errorifexists
    / ignore, plus ``overwrite_partitions`` (dynamic partition overwrite,
    the Iceberg ``overwritePartitions`` analog).  ``schema_mode`` in
    (None, 'merge', 'overwrite') applies Delta's schema-enforcement
    contract: a column-set change is rejected unless merge/overwrite.

    ``stats_cols`` records per-file min/max in the log (Delta-style
    data skipping); once set it is REMEMBERED as the table property
    ``delta.dataSkippingStatsColumns`` and every later commit
    (append/merge/delete/compact) keeps collecting stats for those
    columns automatically.

    ``txn=(app_id, batch_id)`` makes the write IDEMPOTENT (Delta's txn
    action): if a commit with the same app and an equal-or-higher batch
    id already exists, the write is skipped and False is returned — the
    contract that makes a replayed foreachBatch micro-batch safe.
    Returns True when a commit happened."""
    prev = _read_manifest(path) if table_exists(path) else None
    exists = prev is not None
    if exists:
        dl.check_writable(prev)
    if txn is not None and exists and prev["txns"].get(str(txn[0]), -1) >= int(txn[1]):
        return False
    if mode in ("error", "errorifexists") and exists:
        raise InvalidArgument(f"lakelite table already exists at {path!r}")
    if mode == "ignore" and exists:
        return False
    if mode in ("error", "errorifexists", "ignore"):
        mode = "append" if not exists else mode

    log2phys = prev["log2phys"] if exists else {}
    if log2phys:
        df = _to_physical(df, log2phys)
        partition_cols = _phys_names(partition_cols, log2phys)
        stats_cols = _phys_names(stats_cols, log2phys)
        phys_cols = {f["name"] for f in json.loads(prev["schema"])["fields"]}
        if set(df.columns) != phys_cols:
            raise InvalidArgument(
                "schema change on a column-mapped table is not supported: "
                "new columns need fresh physical names and a maxColumnId "
                "bump in the table's metaData "
                f"(existing physical {sorted(phys_cols)} vs incoming "
                f"{sorted(df.columns)})"
            )
        # nor is a type change, even by an overwrite: the log keeps the
        # table's one logical schemaString
        df = _conform(df, prev["schema"])
    if prev is not None and partition_cols is None:
        partition_cols = prev["partition_cols"]

    if prev is not None and mode != "overwrite" and schema_mode != "overwrite":
        old_cols = {f["name"] for f in json.loads(prev["schema"])["fields"]}
        new_cols = set(df.columns)
        if old_cols != new_cols and schema_mode != "merge":
            raise InvalidArgument(
                "schema change rejected (existing "
                f"{sorted(old_cols)} vs incoming {sorted(new_cols)}); "
                "pass schema_mode='merge' or 'overwrite'"
            )

    if prev is not None and mode != "overwrite":
        df = _conform(df, prev["schema"])
    _, entries = _write_commit(df, path, partition_cols)
    written = {"schema": df.schema.json(), "partition_cols": partition_cols or []}
    effective_stats = stats_cols or ((prev or {}).get("stats_cols") or [])
    if effective_stats:
        _collect_stats(df.sparkSession, _local(path), entries, effective_stats, written)

    # commit with optimistic-concurrency retry: the data files above are
    # immutable and already durable, so a version collision just means
    # another writer landed first — an APPEND commutes with any winner
    # (its files union in on top of the NEW snapshot, exactly Delta's
    # append rebase), so replay the log and retry; every other mode is a
    # genuine conflict and raises
    for _attempt in range(6):
        if mode == "overwrite" or prev is None:
            files = entries
            schema = df.schema.json()
        elif mode == "append":
            files = prev["files"] + entries
            schema = (
                _merged_schema(prev["schema"], df)
                if schema_mode == "merge"
                else prev["schema"]
            )
        elif mode == "overwrite_partitions":
            if not partition_cols:
                raise InvalidArgument("overwrite_partitions requires a partitioned table")
            incoming = {
                tuple(e["partition_values"].get(c) for c in partition_cols)
                for e in entries
            }
            kept = [
                e
                for e in prev["files"]
                if tuple(e["partition_values"].get(c) for c in partition_cols)
                not in incoming
            ]
            files = kept + entries
            schema = prev["schema"]
        else:
            raise InvalidArgument(f"unsupported lakelite mode {mode!r}")

        manifest = {
            "version": (prev["version"] + 1) if prev is not None else 0,
            "mode": mode,
            "schema": schema,
            "partition_cols": partition_cols or [],
            "files": files,
            "stats_cols": effective_stats,
            "txns": _carry_txns(prev, txn),
            "base": prev,
        }
        try:
            _commit_manifest(path, manifest)
            return True
        except InvalidArgument as exc:
            if "concurrent write detected" not in str(exc) or mode != "append":
                raise
            prev = _read_manifest(path)
            dl.check_writable(prev)
            if txn is not None and prev["txns"].get(str(txn[0]), -1) >= int(txn[1]):
                return False  # the winner already committed this batch
            # re-validate against the WINNER's snapshot before rebasing:
            # schema compatibility and remembered stats_cols may both
            # have changed under us
            if schema_mode != "overwrite":
                old_cols = {f["name"] for f in json.loads(prev["schema"])["fields"]}
                if old_cols != set(df.columns) and schema_mode != "merge":
                    raise InvalidArgument(
                        "append lost a commit race and the winner changed the "
                        f"schema (now {sorted(old_cols)} vs incoming "
                        f"{sorted(df.columns)}); pass schema_mode='merge'"
                    )
            if _conform(df, prev["schema"]) is not df:
                raise InvalidArgument(
                    "append lost a commit race and the winner changed column "
                    "types; re-run the append against the new snapshot"
                )
            rebased_stats = stats_cols or (prev.get("stats_cols") or [])
            missing = [c for c in rebased_stats if c not in effective_stats]
            if missing:
                _collect_stats(df.sparkSession, _local(path), entries, rebased_stats, written)
            effective_stats = rebased_stats
    raise InvalidArgument(
        f"append to {path!r} lost {6} consecutive commit races; giving up"
    )


def _merged_schema(prev_schema_json: str, df: DataFrame) -> str:
    prev_schema = T.StructType.fromJson(json.loads(prev_schema_json))
    merged = T.StructType(list(prev_schema.fields))
    have = {f.name for f in prev_schema.fields}
    for f in df.schema.fields:
        if f.name not in have:
            merged = merged.add(f)
    return merged.json()


def read(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    columns: list[str] | None = None,
    partition_filter: Callable[[dict[str, str | None]], bool] | None = None,
    predicates: list[tuple[str, str, Any]] | None = None,
    with_file_path: bool = False,
) -> DataFrame:
    """Snapshot (or time-travel) read.  ``partition_filter`` prunes the
    snapshot's files on the DRIVER before any scan is planned — the log
    replaces a storage LIST + footer reads, exactly the benefit the real
    formats buy.  The plan is :func:`_scan`'s: partition values come
    from the log, columns in the table schema's order.  Every scan takes
    its schema from the log, so building the read runs no Spark job, and
    files that predate a column read it as null.

    ``predicates`` is a list of ``(col, op, value)`` with op in
    ``< <= > >= =``: files whose min/max stats PROVE no match are
    dropped from the plan (Delta data skipping), and the predicates are
    also applied as a residual row filter, so results are exact even
    for files without stats."""
    man = _read_manifest(path, version)
    # a name-mapped table's log keys partition values and stats by
    # PHYSICAL name; the public read speaks logical
    m = man["log2phys"]
    phys2log = {p: l for l, p in m.items()}  # noqa: E741
    entries = man["files"]
    if partition_filter is not None:
        entries = [
            e for e in entries
            if partition_filter({phys2log.get(k, k): v for k, v in e["partition_values"].items()})
        ]
    for _c, op, _v in predicates or []:
        if op not in _SKIP_OPS:
            raise InvalidArgument(f"unsupported predicate op {op!r}")
    skip = [(m.get(c, c), op, val) for c, op, val in predicates or []]
    entries = [e for e in entries if _entry_may_match(e, skip)]
    df = _scan(
        spark, path, man, entries, logical=True,
        # RAW URI as Spark reports it — matching against manifest paths
        # happens driver-side with real URI decoding
        meta={"__lakelite_file": "file_path"} if with_file_path else None,
    )
    for c, op, val in predicates or []:
        col = F.col(c)
        df = df.where(
            {"<": col < val, "<=": col <= val, ">": col > val,
             ">=": col >= val, "=": col == val}[op]
        )
    return df.select(*columns) if columns else df


def history(path: str) -> list[dict[str, Any]]:
    """The DESCRIBE HISTORY analog: one row per readable version, from
    one pass over the log that builds no manifest
    (:func:`delta_log.states`); partition columns are the log's
    (logical) names."""
    return [row for row, _state in dl.states(path)]


def _key_cond(left: DataFrame, right: DataFrame, keys: list[str], match_nulls: bool):
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k]) if match_nulls else (left[k] == right[k])
        cond = c if cond is None else (cond & c)
    return cond


def _touched_files(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    match_nulls: bool,
    man: dict[str, Any] | None = None,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], DataFrame, dict[str, str]]:
    """Split snapshot ``man`` (default: the latest) into (touched,
    untouched) by semi-joining its _metadata.file_path against the
    source keys; return the rewrite input (rows of touched files only)."""
    if man is None:
        man = _read_manifest(path)
    root = _local(path)
    snap = _scan(spark, path, man, meta={"__lakelite_file": "file_path"})
    src_keys = source.select(*keys).distinct()
    hit = (
        snap.join(F.broadcast(src_keys), _key_cond(snap, src_keys, keys, match_nulls), "leftsemi")
        .select("__lakelite_file")
        .distinct()
        .collect()
    )
    raw_hits = sorted(r[0] for r in hit)
    hit_paths = {_normalize_uri(u) for u in raw_hits}
    by_norm = {
        os.path.abspath(os.path.join(root, e["path"])): e for e in man["files"]
    }
    unmatched = hit_paths - set(by_norm)
    if unmatched:
        # a hit that maps to no manifest entry means the path matching is
        # broken — treating it as untouched would silently corrupt the
        # merge (duplicate matched keys) or no-op the delete
        raise InvalidArgument(
            f"lakelite internal error: scanned files {sorted(unmatched)[:3]} "
            f"not found in manifest at {path!r}"
        )
    touched = [by_norm[p] for p in sorted(hit_paths)]
    untouched = [
        e
        for e in man["files"]
        if os.path.abspath(os.path.join(root, e["path"])) not in hit_paths
    ]
    rewrite_input = snap.where(
        F.col("__lakelite_file").isin(raw_hits) if raw_hits else F.lit(False)
    ).drop("__lakelite_file")
    # manifest-relative path -> the RAW URI Spark reports for that file,
    # so MoR paths can join on exact string equality (no URI surgery)
    raw_by_path = {by_norm[_normalize_uri(u)]["path"]: u for u in raw_hits}
    return touched, untouched, rewrite_input, raw_by_path


# one decoded deletion vector above this many total rows stops being
# broadcast in the anti-join and shuffles instead (a broadcast of 10^8
# (path, pos) tuples would blow the driver/executor broadcast budget)
_DV_BROADCAST_MAX_ROWS = 4_000_000


def _uri_path(spark: SparkSession, path: str) -> str:
    """The absolute ``path`` as the path of the URI Spark's
    ``_metadata.file_path`` carries (Hadoop ``Path.toUri``: a partition
    dir ``k=10%3A00`` reads ``k=10%253A00``); a path of plain characters
    is its own URI path."""
    path = os.path.abspath(path)
    if re.fullmatch(r"[A-Za-z0-9/._=-]*", path):
        return path
    return spark._jvm.org.apache.hadoop.fs.Path(path).toUri().getRawPath()


def _dv_deletes_df(
    spark: SparkSession, root: str, entries: list[dict[str, Any]]
) -> tuple[DataFrame | None, int]:
    """The (file, row_index) rows named by the entries' deletion vectors,
    decoded ON EXECUTORS: the driver ships only O(files) descriptors
    (:func:`~aws_sdk_pandas_spark._types.local_frame`, one Python task
    per executor slot, not one per file); each task opens and decodes
    its files' bitmaps one file at a time (the DV bins live next to the
    data on shared storage, like the parquet itself).
    Returns ``(DataFrame['__dfp','__dpos'], total_cardinality)`` with
    ``__dfp`` the file's URI path (:func:`_uri_path`), or ``(None, 0)``
    with no DVs.
    Peak per-task memory is ONE file's deleted-row list (bounded by
    that file's row count, emitted in chunks of at most 2^20 rows),
    never the task's or the table's total."""
    descs = [
        (_uri_path(spark, os.path.join(root, e["path"])), json.dumps(e["dv"]))
        for e in entries
        if e.get("dv")
    ]
    if not descs:
        return None, 0
    total = sum(int((e["dv"].get("cardinality")) or 0) for e in entries if e.get("dv"))
    desc_df = local_frame(spark, descs, "__dfp string, __dvj string")

    def decode(batches):
        import pandas as pd  # runs in the Python worker

        from aws_sdk_pandas_spark import delta_log as dl

        for pdf in batches:
            for fp, dvj in zip(pdf["__dfp"], pdf["__dvj"]):
                idx = dl._dv_row_indexes(root, json.loads(dvj))
                for s in range(0, len(idx), 1 << 20):  # cap Arrow batch size
                    chunk = idx[s : s + (1 << 20)]
                    yield pd.DataFrame(
                        {
                            "__dfp": [fp] * len(chunk),
                            "__dpos": pd.Series(chunk, dtype="int64"),
                        }
                    )

    return desc_df.mapInPandas(decode, "__dfp string, __dpos long"), total


def _drop_dv_rows(
    df: DataFrame, deletes: DataFrame, total_card: int, fp_col: str, ri_col: str
) -> DataFrame:
    """Anti-join the decoded deletion rows out of a scan that carries
    raw ``_metadata`` file/position columns.  Small DVs broadcast; past
    :data:`_DV_BROADCAST_MAX_ROWS` total rows the join shuffles on the
    (file, position) key instead — either way no driver materialization."""
    norm = lambda c: F.regexp_replace(c, "^file:/*", "/")  # noqa: E731
    d = F.broadcast(deletes) if total_card <= _DV_BROADCAST_MAX_ROWS else deletes
    return df.join(
        d,
        (norm(F.col(fp_col)) == F.col("__dfp")) & (F.col(ri_col) == F.col("__dpos")),
        "left_anti",
    )


def _write_dvs_distributed(
    spark: SparkSession,
    root: str,
    doomed: DataFrame,
    touched: list[dict[str, Any]],
    raw_by_path: dict[str, str],
) -> dict[str, tuple[dict[str, Any], int]]:
    """Write one merged deletion vector per hit file ON EXECUTORS:
    ``doomed`` is a distributed ``(__f raw URI, __ri)`` frame; grouping
    by file, each task decodes that file's EXISTING DV, unions the new
    indexes, serializes the roaring bitmap and writes the new DV bin
    (executor-side writes to table storage, like Delta's own DV
    writers; bins orphaned by task retries are vacuumed).  The driver
    ships the O(files) old descriptors as a broadcast local frame
    (:func:`~aws_sdk_pandas_spark._types.local_frame`) and collects
    only O(files) new ones.  Returns
    ``{manifest_path: (dv_descriptor, newly_deleted_count)}``."""
    desc_rows = [
        (
            raw_by_path[e["path"]],
            e["path"],
            json.dumps(e["dv"]) if e.get("dv") else None,
        )
        for e in touched
        if e["path"] in raw_by_path
    ]
    if not desc_rows:
        return {}
    desc = local_frame(spark, desc_rows, "__f string, __p string, __olddv string")
    joined = doomed.join(F.broadcast(desc), "__f", "inner")

    def per_file(pdf):
        import pandas as pd  # runs in the Python worker

        from aws_sdk_pandas_spark import delta_log as dl

        p = pdf["__p"].iloc[0]
        olddv = pdf["__olddv"].iloc[0]
        old_idx = (
            set(dl._dv_row_indexes(root, json.loads(olddv)))
            if isinstance(olddv, str) and olddv
            else set()
        )
        new_idx = {int(x) for x in pdf["__ri"]}
        added = len(new_idx - old_idx)
        d = dl.write_dv_file(root, sorted(old_idx | new_idx), prefix="_dv")
        return pd.DataFrame(
            {"__p": [p], "__dv": [json.dumps(d)], "__added": [added]}
        )

    res = (
        joined.groupBy("__f")
        .applyInPandas(per_file, "__p string, __dv string, __added long")
        .collect()
    )
    return {r["__p"]: (json.loads(r["__dv"]), int(r["__added"])) for r in res}


def _commit_or_rebase(
    spark: SparkSession,
    path: str,
    manifest: dict[str, Any],
    base_man: dict[str, Any],
    new_entries: list[dict[str, Any]],
    *,
    touched_paths: set[str],
    source_keys: DataFrame | None = None,
    keys: list[str] | None = None,
    match_nulls: bool = False,
    mode_desc: str,
) -> None:
    """Commit a merge/delete manifest with Delta-style optimistic
    concurrency: on a version collision, diff the WINNER's commit
    against our base snapshot and

    - RAISE on true overlap: the winner rewrote/removed a file this
      commit also rewrote (both touched the same rows), the winner
      changed the schema, or the winner ADDED rows matching this
      commit's source keys (rebasing would silently duplicate or miss
      them — Delta's ConcurrentAppendException);
    - REBASE otherwise: the rebased snapshot is the winner's file list
      minus our touched files plus our new entries — two commits that
      touched disjoint file sets commute, exactly Delta's conflict rule.

    The winner's added-file key probe is bounded by the files the
    winner ADDED (not table size), read once and semi-joined against
    the source keys."""
    man = dict(manifest, base=base_man)
    base = base_man
    for _attempt in range(6):
        try:
            _commit_manifest(path, man)
            return
        except InvalidArgument as exc:
            if "concurrent write detected" not in str(exc):
                raise
            winner = _read_manifest(path)
            dl.check_writable(winner)
            if (
                winner["schema"] != base["schema"]
                or winner["partition_cols"] != base["partition_cols"]
            ):
                raise InvalidArgument(
                    f"concurrent {mode_desc} conflict at {path!r}: the winning "
                    "commit changed the table schema/partitioning"
                )
            base_paths = {e["path"] for e in base["files"]}
            win_paths = {e["path"] for e in winner["files"]}
            overlap = (base_paths - win_paths) & touched_paths
            # a touched file the winner kept but CHANGED (e.g. gained a
            # deletion vector) conflicts too: rebasing would clobber the
            # winner's row-level deletes with ours — Delta's
            # ConcurrentDeleteReadException
            win_by_path = {e["path"]: e for e in winner["files"]}
            base_by_path = {e["path"]: e for e in base["files"]}
            overlap |= {
                p
                for p in touched_paths
                if p in win_by_path and win_by_path[p] != base_by_path.get(p)
            }
            if overlap:
                raise InvalidArgument(
                    f"concurrent {mode_desc} conflict at {path!r}: "
                    f"{len(overlap)} file(s) rewritten by both commits, "
                    f"e.g. {sorted(overlap)[:2]}"
                )
            added = [e for e in winner["files"] if e["path"] not in base_paths]
            if added and source_keys is not None and keys:
                adf = _scan(spark, path, winner, added)
                hit = (
                    adf.join(
                        F.broadcast(source_keys),
                        _key_cond(adf, source_keys, keys, match_nulls),
                        "leftsemi",
                    )
                    .limit(1)
                    .count()
                )
                if hit:
                    raise InvalidArgument(
                        f"concurrent {mode_desc} conflict at {path!r}: the "
                        "winning commit added rows matching this "
                        f"{mode_desc}'s source keys; rebasing would duplicate "
                        "or miss them — re-run against the new snapshot"
                    )
            # stats_cols may have been extended by the winner: collect the
            # missing stats for OUR new files before carrying them forward
            win_stats = winner.get("stats_cols") or []
            missing_stats = [c for c in win_stats if c not in (man.get("stats_cols") or [])]
            if missing_stats and new_entries:
                _collect_stats(spark, _local(path), new_entries, win_stats, winner)
            man = dict(
                man,
                version=winner["version"] + 1,
                base=winner,
                files=[e for e in winner["files"] if e["path"] not in touched_paths]
                + new_entries,
                stats_cols=sorted(set(man.get("stats_cols") or []) | set(win_stats)),
            )
            base = winner
    raise InvalidArgument(
        f"{mode_desc} at {path!r} lost 6 consecutive commit races; giving up"
    )


def merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    *,
    merge_condition: str = "update",
    match_nulls: bool = False,
    precombine_key: str | None = None,
    use_deletion_vectors: bool = False,
) -> dict[str, int]:
    """MERGE INTO semantics (reference: athena/_write_iceberg.py:297-420):
    matched target rows updated (or kept, ``merge_condition='ignore'``),
    unmatched source rows inserted; ``match_nulls`` = null-safe ``<=>``
    matching; ``precombine_key`` = greatest-version-wins both within the
    source batch and against the target row (redshift/_utils.py:186-199).

    File-level copy-on-write: only files containing matched keys are
    rewritten.  Returns {'files_rewritten': n, 'files_kept': m}.

    ``use_deletion_vectors=True`` runs the update path MERGE-ON-READ:
    superseded target rows get deletion vectors (zero rewrite of
    untouched rows in touched files) and only the surviving source rows
    are written as new files — O(deleted rows + source rows) instead of
    O(touched bytes).  One intentional divergence from the CoW path:
    pre-existing duplicate-key rows whose key the source does NOT touch
    stay untouched (the CoW precombine rewrite incidentally collapses
    them because it rewrites whole files)."""
    if merge_condition not in ("update", "ignore"):
        raise InvalidArgument("merge_condition must be 'update' or 'ignore'")

    from aws_sdk_pandas_spark.operators.merge import _precombine_latest

    man = _read_manifest(path) if table_exists(path) else None
    if man is not None:
        dl.check_writable(man)
    m = man["log2phys"] if man is not None else {}
    if m:
        # name-mapped table: internals run on physical names
        source = _to_physical(source, m)
        keys = _phys_names(keys, m)
        if precombine_key is not None:
            precombine_key = m.get(precombine_key, precombine_key)
    if precombine_key is not None:
        # applied BEFORE any write path — a first merge into a fresh
        # table must not be born with duplicate keys the same call would
        # have collapsed against an existing table
        source = _precombine_latest(source, keys, precombine_key)
    if man is None:
        write(source, path, mode="overwrite")
        return {"files_rewritten": 0, "files_kept": 0}

    pcols = man["partition_cols"]
    # every write path below (insert-only, CoW, MoR) lands source rows
    source = _conform(source, man["schema"])

    if merge_condition == "ignore":
        # insert-only fast path: no existing file read or rewritten
        snap_keys = _scan(spark, path, man).select(*keys).distinct()
        inserts = source.join(
            snap_keys, _key_cond(source, snap_keys, keys, match_nulls), "left_anti"
        )
        target_cols = [f["name"] for f in json.loads(man["schema"])["fields"]]
        _, entries = _write_commit(inserts.select(*target_cols), path, pcols)
        if man.get("stats_cols"):
            _collect_stats(spark, _local(path), entries, man["stats_cols"], man)
        _commit_or_rebase(
            spark,
            path,
            {
                "version": man["version"] + 1,
                "mode": "merge_ignore",
                "schema": man["schema"],
                "partition_cols": pcols,
                "files": man["files"] + entries,
                "stats_cols": man["stats_cols"],
            },
            man,
            entries,
            touched_paths=set(),
            source_keys=source.select(*keys).distinct(),
            keys=keys,
            match_nulls=match_nulls,
            mode_desc="merge",
        )
        return {"files_rewritten": 0, "files_kept": len(man["files"])}

    if use_deletion_vectors:
        return _merge_mor(
            spark, source, path, keys, man, match_nulls, precombine_key
        )

    touched, untouched, rewrite_input, _raw = _touched_files(
        spark, path, source, keys, match_nulls, man
    )
    target_cols = [f["name"] for f in json.loads(man["schema"])["fields"]]
    src = source.select(*target_cols)
    if precombine_key is None:
        from aws_sdk_pandas_spark.operators.merge import upsert_dataframe

        merged = upsert_dataframe(rewrite_input, src, keys, match_nulls=match_nulls)
    else:
        # greatest precombine wins between the target row and the source
        # row; source wins ties (WHEN MATCHED AND s.v >= t.v semantics
        # made deterministic)
        from pyspark.sql import Window

        tagged = rewrite_input.withColumn("__src", F.lit(0)).unionByName(
            src.withColumn("__src", F.lit(1))
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col(precombine_key).desc_nulls_last(), F.col("__src").desc()
        )
        merged = (
            tagged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
    _, entries = _write_commit(merged, path, pcols)
    if man.get("stats_cols"):
        _collect_stats(spark, _local(path), entries, man["stats_cols"], man)
    _commit_or_rebase(
        spark,
        path,
        {
            "version": man["version"] + 1,
            "mode": "merge",
            "schema": man["schema"],
            "partition_cols": pcols,
            "files": untouched + entries,
            "stats_cols": man["stats_cols"],
        },
        man,
        entries,
        touched_paths={e["path"] for e in touched},
        source_keys=source.select(*keys).distinct(),
        keys=keys,
        match_nulls=match_nulls,
        mode_desc="merge",
    )
    return {"files_rewritten": len(touched), "files_kept": len(untouched)}


def delete(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    *,
    match_nulls: bool = False,
    use_deletion_vectors: bool = False,
) -> dict[str, int]:
    """DELETE-by-key (reference: athena/_write_iceberg.py:715
    ``delete_from_iceberg_table``) with the same file-level CoW: files
    with no matching key survive by reference.

    ``use_deletion_vectors=True`` switches to MERGE-ON-READ: touched
    files are NOT rewritten — each gets a Delta-protocol deletion
    vector (roaring bitmap of deleted row indexes, written in Delta's
    on-disk DV layout) and survives by reference.  The Delta commit
    carries the DV descriptors with the reader-3/writer-7 protocol
    upgrade, so delta-rs / Delta Spark read the delete; the sticky
    Iceberg sidecar exports the same rows as v2 positional-delete
    files.  Reads, CDF, and compaction apply DVs transparently
    (compaction materializes them).  Choose DVs when deletes are small
    relative to file sizes — O(deleted rows) metadata instead of
    O(touched bytes) rewrite."""
    man = _read_manifest(path)
    dl.check_writable(man)
    source = _to_physical(source, man["log2phys"])
    keys = _phys_names(keys, man["log2phys"])
    if use_deletion_vectors:
        return _delete_mor(spark, source, path, keys, man, match_nulls)
    touched, untouched, rewrite_input, _raw = _touched_files(
        spark, path, source, keys, match_nulls, man
    )
    src_keys = source.select(*keys).distinct()
    survivors = rewrite_input.join(
        F.broadcast(src_keys), _key_cond(rewrite_input, src_keys, keys, match_nulls), "left_anti"
    )
    entries: list[dict[str, Any]] = []
    if touched:
        _, entries = _write_commit(survivors, path, man["partition_cols"])
        if man.get("stats_cols"):
            _collect_stats(spark, _local(path), entries, man["stats_cols"], man)
    _commit_or_rebase(
        spark,
        path,
        {
            "version": man["version"] + 1,
            "mode": "delete",
            "schema": man["schema"],
            "partition_cols": man["partition_cols"],
            "files": untouched + entries,
            "stats_cols": man["stats_cols"],
        },
        man,
        entries,
        touched_paths={e["path"] for e in touched},
        source_keys=src_keys,
        keys=keys,
        match_nulls=match_nulls,
        mode_desc="delete",
    )
    return {"files_rewritten": len(touched), "files_kept": len(untouched)}


def _merge_mor(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    man: dict[str, Any],
    match_nulls: bool,
    precombine_key: str | None,
) -> dict[str, int]:
    """Merge-on-read MERGE: superseded target rows (matched rows the
    source out-versions — all of them when no precombine key) join
    their file's deletion vector; surviving source rows land in new
    files.  With a precombine key, the winner per key over (LIVE
    matched target rows ∪ source rows) follows the SAME
    greatest-version-wins / source-wins-ties rule as the CoW path, so
    a target row that out-versions the source survives untouched and
    that source row is dropped.  The scan (:func:`_scan`) excludes rows
    already deleted by existing DVs — a ghost row must not out-rank a
    re-upsert of its own key — and the per-file DV
    union/write runs on executors (``_write_dvs_distributed``): the
    driver handles O(files) descriptors, never O(deleted rows)."""
    from pyspark.sql import Window

    root = _local(path)
    pcols = man["partition_cols"]
    touched, untouched, _, raw_by_path = _touched_files(
        spark, path, source, keys, match_nulls, man
    )
    target_cols = [f["name"] for f in json.loads(man["schema"])["fields"]]
    src = source.select(*target_cols)
    src_keys = source.select(*keys).distinct()

    dv_results: dict[str, tuple[dict[str, Any], int]] = {}
    to_write = src
    if touched:
        scan = _scan(spark, path, man, touched, meta={"__f": "file_path", "__ri": "row_index"})
        matched = scan.join(
            F.broadcast(src_keys),
            _key_cond(scan, src_keys, keys, match_nulls),
            "leftsemi",
        ).select(*target_cols, "__f", "__ri")
        if precombine_key is None:
            # the source row always supersedes: every live matched
            # target row is doomed, every source row is written
            doomed = matched.select("__f", "__ri")
        else:
            tagged = matched.withColumn("__src", F.lit(0)).unionByName(
                src.withColumn("__f", F.lit(None).cast("string"))
                .withColumn("__ri", F.lit(None).cast("long"))
                .withColumn("__src", F.lit(1))
            )
            w = Window.partitionBy(*keys).orderBy(
                F.col(precombine_key).desc_nulls_last(), F.col("__src").desc()
            )
            ranked = tagged.withColumn("__rn", F.row_number().over(w))
            doomed = ranked.where(
                (F.col("__src") == 0) & (F.col("__rn") > 1)
            ).select("__f", "__ri")
            # source rows that lost to a target row are dropped; the
            # unmatched ones trivially win their partition
            to_write = (
                ranked.where((F.col("__src") == 1) & (F.col("__rn") == 1))
                .select(*target_cols)
            )
        dv_results = _write_dvs_distributed(spark, root, doomed, touched, raw_by_path)

    rows_deleted = sum(n for _, n in dv_results.values())
    dv_entries: list[dict[str, Any]] = []
    kept_touched: list[dict[str, Any]] = []
    for e in touched:
        hit = dv_results.get(e["path"])
        if hit is None:
            kept_touched.append(e)  # matched keys lost to precombine
            continue
        entry = dict(e)
        entry["dv"] = hit[0]
        dv_entries.append(entry)

    _, new_entries = _write_commit(to_write, path, pcols)
    if man.get("stats_cols"):
        _collect_stats(spark, _local(path), new_entries, man["stats_cols"], man)
    _commit_or_rebase(
        spark,
        path,
        {
            "version": man["version"] + 1,
            "mode": "merge",
            "schema": man["schema"],
            "partition_cols": pcols,
            "files": untouched + kept_touched + dv_entries + new_entries,
            "stats_cols": man["stats_cols"],
        },
        man,
        # kept_touched rides along: on a rebase the touched paths are
        # dropped from the winner's list and re-added from THIS list, so
        # entries we read-but-did-not-change must be in it too
        kept_touched + dv_entries + new_entries,
        touched_paths={e["path"] for e in touched},
        source_keys=src_keys,
        keys=keys,
        match_nulls=match_nulls,
        mode_desc="merge",
    )
    return {
        "files_rewritten": 0,
        "files_kept": len(untouched) + len(kept_touched),
        "files_dv": len(dv_entries),
        "rows_deleted": rows_deleted,
    }


def _delete_mor(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    man: dict[str, Any],
    match_nulls: bool,
) -> dict[str, int]:
    """Merge-on-read DELETE: per touched file, union the matching row
    indexes into its deletion vector (one Delta-layout DV file per
    touched file under ``<table>/_dv/``) and commit a manifest that
    keeps every data file by reference.  The matching (file, row_index)
    pairs stay distributed end-to-end: the scan (:func:`_scan`) drops
    rows already in a DV, and the per-file union/serialize/write runs on executors —
    the driver handles O(files) descriptors, never O(deleted rows)."""
    root = _local(path)
    touched, untouched, _rewrite, raw_by_path = _touched_files(
        spark, path, source, keys, match_nulls, man
    )
    src_keys = source.select(*keys).distinct()
    new_entries: list[dict[str, Any]] = []
    kept_touched: list[dict[str, Any]] = []
    rows_deleted = 0
    if touched:
        scan = _scan(spark, path, man, touched, meta={"__f": "file_path", "__ri": "row_index"})
        hits = scan.join(
            F.broadcast(src_keys),
            _key_cond(scan, src_keys, keys, match_nulls),
            "leftsemi",
        ).select("__f", "__ri")
        dv_results = _write_dvs_distributed(spark, root, hits, touched, raw_by_path)
        rows_deleted = sum(n for _, n in dv_results.values())
        for e in touched:
            hit = dv_results.get(e["path"])
            if hit is None:
                kept_touched.append(e)  # every live match was already deleted
                continue
            entry = dict(e)
            entry["dv"] = hit[0]
            new_entries.append(entry)
    _commit_or_rebase(
        spark,
        path,
        {
            "version": man["version"] + 1,
            "mode": "delete",
            "schema": man["schema"],
            "partition_cols": man["partition_cols"],
            "files": untouched + kept_touched + new_entries,
            "stats_cols": man["stats_cols"],
        },
        man,
        # kept_touched rides along: on a rebase the touched paths are
        # dropped from the winner's list and re-added from THIS list
        kept_touched + new_entries,
        touched_paths={e["path"] for e in touched},
        source_keys=src_keys,
        keys=keys,
        match_nulls=match_nulls,
        mode_desc="delete",
    )
    return {
        "files_rewritten": 0,
        "files_kept": len(untouched) + len(kept_touched),
        "files_dv": len(new_entries),
        "rows_deleted": rows_deleted,
    }


def compact(
    spark: SparkSession,
    path: str,
    *,
    target_partitions: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 10,
) -> None:
    """OPTIMIZE analog: rewrite the current snapshot as one commit so the
    read plan collapses back to a single parquet scan.  Run periodically
    on long-lived partitioned tables — their one scan per commit dir
    (:func:`_scan_groups`) is the one read cost the real formats don't
    pay.

    ``zorder_by`` is the OPTIMIZE ZORDER BY analog: rows are clustered on
    the interleaved-bit Morton key of the named (numeric) columns
    (functions.zorder.zorder_key — min/max scaled to ``zorder_bits``
    bits per dimension), so the per-file min/max stats become tight on
    EVERY listed dimension at once and ``predicates`` skipping prunes on
    any of them — a linear sort only ever skips on its leading column.
    Z-ordered compaction automatically records stats for those columns."""
    man = _read_manifest(path)
    dl.check_writable(man)
    zorder_by = _phys_names(zorder_by, man["log2phys"])
    df = _scan(spark, path, man)
    stats_cols = list(man["stats_cols"])
    if zorder_by:
        from aws_sdk_pandas_spark.functions.zorder import zorder_key

        bounds = df.agg(
            *[F.min(c).alias(f"__mn_{c}") for c in zorder_by],
            *[F.max(c).alias(f"__mx_{c}") for c in zorder_by],
        ).first()
        scaled = []
        top = (1 << zorder_bits) - 1
        for c in zorder_by:
            mn, mx = bounds[f"__mn_{c}"], bounds[f"__mx_{c}"]
            span = float(mx - mn) if mx is not None and mn is not None and mx > mn else 1.0
            scaled.append(
                F.least(
                    F.lit(top),
                    ((F.coalesce(F.col(c), F.lit(mn)) - F.lit(mn)) / F.lit(span) * top)
                    .cast("long"),
                )
            )
        n = target_partitions or max(2, df.rdd.getNumPartitions())
        df = (
            df.withColumn("__zkey", zorder_key(scaled, bits=zorder_bits))
            .repartitionByRange(n, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
        stats_cols = sorted(set(stats_cols) | set(zorder_by))
    elif target_partitions:
        df = df.repartition(target_partitions)
    _, entries = _write_commit(df, path, man["partition_cols"])
    if stats_cols:
        _collect_stats(spark, _local(path), entries, stats_cols, man)
    _commit_manifest(
        path,
        {
            "version": man["version"] + 1,
            "mode": "compact",
            "schema": man["schema"],
            "partition_cols": man["partition_cols"],
            "files": entries,
            "stats_cols": stats_cols,
            "base": man,
        },
    )


def vacuum(path: str, *, keep_versions: int = 1) -> list[str]:
    """Keep the newest ``keep_versions`` versions (the VACUUM analog):
    truncate the Delta log to them (a checkpoint at the oldest kept
    version, every commit and checkpoint below it deleted), then delete
    every data commit dir and deletion-vector bin no kept version
    references — which also reclaims orphans from crashed writes.  Time
    travel before the oldest kept version ends, exactly as in Delta.
    Returns the deleted data dirs and DV bins."""
    root = _local(path)
    referenced: set[str] = set()
    referenced_dv: set[str] = set()
    for add in dl.truncate(path, keep_versions):
        e = dl._entry(add, [])
        referenced.add(e["commit"])
        if e.get("dv") and (p := dl.dv_file_path(root, e["dv"])):
            referenced_dv.add(os.path.abspath(p))
    removed = []
    data_dir = os.path.join(root, "data")
    if os.path.isdir(data_dir):
        for commit in os.listdir(data_dir):
            rel = os.path.join("data", commit)
            if rel not in referenced:
                shutil.rmtree(os.path.join(root, rel))
                removed.append(rel)
    dv_dir = os.path.join(root, "_dv")
    if os.path.isdir(dv_dir):
        for f in sorted(os.listdir(dv_dir)):
            fp = os.path.abspath(os.path.join(dv_dir, f))
            if fp not in referenced_dv:
                os.remove(fp)
                removed.append(os.path.join("_dv", f))
    return removed


def table_changes(
    spark: SparkSession,
    path: str,
    keys: list[str],
    *,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two snapshots (the Delta
    ``table_changes`` / CDF analog, keyed because lakelite files carry no
    row ids): full-outer join of the two versions on ``keys`` emitting
    ``_change_type`` in Delta's vocabulary — ``insert``, ``delete``,
    and update PAIRS (``update_preimage`` + ``update_postimage``) when
    any non-key column differs.  Unchanged rows are dropped.

    Scale shape: ONE full-outer join keyed on ``keys`` between the two
    snapshot scans; the change volume, not the table volume, is the
    output.  Deletes carry the pre-image values; inserts and postimages
    carry the new values.  NULL-safe key matching throughout (a NULL key
    is one identity, as in MERGE with ``<=>``)."""
    old = read(spark, path, version=from_version)
    new = read(spark, path, version=to_version)
    # schema evolution: a column present in only one snapshot reads as a
    # typed NULL on the other side (its addition/removal then surfaces
    # as update pairs, which is the honest CDF of an evolved column)
    types = dict(new.dtypes)
    types.update({c: t for c, t in old.dtypes if c not in types})
    cols = list(new.columns) + [c for c in old.columns if c not in new.columns]
    for k in keys:
        if k not in old.columns or k not in new.columns:
            raise InvalidArgument(f"key column {k!r} must exist in both snapshots")
    non_keys = [c for c in cols if c not in keys]

    def _side(df: DataFrame, prefix: str, marker: str) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                (F.col(c) if c in have else F.lit(None).cast(types[c])).alias(
                    f"{prefix}{c}"
                )
                for c in cols
            ],
            F.lit(1).alias(marker),
        )

    # presence markers rather than guessing from key-column nullness —
    # a row with NULL keys is still a present row
    o_mark = _side(old, "__o_", "__in_old")
    n_mark = _side(new, "__n_", "__in_new")
    cond2 = None
    for k in keys:
        c = o_mark[f"__o_{k}"].eqNullSafe(n_mark[f"__n_{k}"])
        cond2 = c if cond2 is None else (cond2 & c)
    j = o_mark.join(n_mark, cond2, "full_outer")

    changed = F.lit(False)
    for c in non_keys:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))

    inserts = j.where(F.col("__in_old").isNull()).select(
        *[F.col(f"__n_{c}").alias(c) for c in cols],
        F.lit("insert").alias("_change_type"),
    )
    deletes = j.where(F.col("__in_new").isNull()).select(
        *[F.col(f"__o_{c}").alias(c) for c in cols],
        F.lit("delete").alias("_change_type"),
    )
    upd = j.where(
        F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull() & changed
    )
    pre = upd.select(
        *[F.col(f"__o_{c}").alias(c) for c in cols],
        F.lit("update_preimage").alias("_change_type"),
    )
    post = upd.select(
        *[F.col(f"__n_{c}").alias(c) for c in cols],
        F.lit("update_postimage").alias("_change_type"),
    )
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)
