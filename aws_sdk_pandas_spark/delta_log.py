"""Jar-free Delta Lake transaction-log interop for lakelite tables.

The Delta log protocol (https://github.com/delta-io/delta/blob/master/
PROTOCOL.md) is newline-delimited JSON actions under ``_delta_log/`` —
no jar is needed to READ or WRITE it.  This module gives lakelite
(``lakehouse_shim``) real on-disk format interop in a container that
ships neither delta-spark nor delta-rs:

- **Exporter** (:func:`export_commit` / :func:`export_table`): every
  lakelite commit also lands a protocol-valid Delta commit file
  ``_delta_log/{version:020d}.json`` with ``commitInfo`` / ``protocol``
  / ``metaData`` / ``txn`` / ``add`` / ``remove`` actions, so a table
  written here is readable by delta-rs / PyIceberg-era tooling / Spark
  with the real jar.  Lakelite manifests are full snapshots; the Delta
  actions are the DIFF of consecutive manifests.  Version numbers match
  1:1 (reference behavior: awswrangler ``s3/_write_deltalake.py:129-133``
  writes the same log through delta-rs).
- **Reader** (:func:`read_delta_log`): replays a Delta log — including
  one written by delta-rs or Delta Spark elsewhere, checkpoint-seeded
  or not — into the same union-of-parquet-scans plan lakelite reads
  use.  Partition values come from the log's ``partitionValues`` (the
  protocol's rule: partition columns are NOT stored in data files),
  cast to the ``metaData`` schema types.  Deletion vectors (reader 3)
  and column mapping ('name' and 'id', reader 2/3) are supported;
  anything beyond is refused loudly rather than mis-read.
- **Adoption** (:func:`convert_from_delta`): a foreign table — DV-
  bearing and/or name-column-mapped — imports as lakelite manifest v0
  and later lakelite commits continue the SAME ``_delta_log`` chain.

Scale notes: the exporter is driver-side metadata work proportional to
the files TOUCHED by a commit (one ``os.stat`` + parquet-footer
``num_rows`` per added file), never to table size; the reader's plan is
one parquet scan per distinct partition tuple, with column pruning and
row-group pushdown intact because the files are plain parquet.  Every
scan takes its schema from the log's ``metaData`` (authoritative under
the protocol), so building a read opens no footer and runs no Spark
job; the fetch is the only job.  Deletion vectors decode ON EXECUTORS
(the driver ships O(files) descriptors) and drop via one anti-join,
broadcast when small.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_sdk_pandas_spark.exceptions import InvalidArgument

_DELTA_DIR = "_delta_log"

# lakelite commit modes -> Delta commitInfo operation names
_OPS = {
    "append": "WRITE",
    "overwrite": "WRITE",
    "overwrite_partitions": "WRITE",
    "merge": "MERGE",
    "merge_ignore": "MERGE",
    "delete": "DELETE",
    "compact": "OPTIMIZE",
}

# table protocol once any file carries a deletion vector: DV reads need
# reader 3 + the readerFeatures entry, DV writes writer 7 + writerFeatures
_DV_PROTOCOL_ACTION = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
}


def _dv_upgrade_protocol(base: dict[str, Any] | None) -> dict[str, Any]:
    """The protocol action for the first DV-bearing commit.  Upgrading a
    LEGACY protocol to table features must enumerate every feature the
    legacy reader/writer versions implied (PROTOCOL.md's upgrade rule)
    — an adopted column-mapped table (reader 2 / writer 5) keeps its
    columnMapping capability listed next to deletionVectors."""
    if not base:
        return {"protocol": dict(_DV_PROTOCOL_ACTION["protocol"])}
    mrv = int(base.get("minReaderVersion", 1))
    mwv = int(base.get("minWriterVersion", 1))
    rfeat = set(base.get("readerFeatures") or [])
    wfeat = set(base.get("writerFeatures") or [])
    if mrv == 2:
        rfeat.add("columnMapping")
    if mwv < 7:
        if mwv >= 2:
            wfeat |= {"appendOnly", "invariants"}
        if mwv >= 3:
            wfeat.add("checkConstraints")
        if mwv >= 4:
            wfeat |= {"changeDataFeed", "generatedColumns"}
        if mwv >= 5:
            wfeat.add("columnMapping")
        if mwv >= 6:
            wfeat.add("identityColumns")
    rfeat.add("deletionVectors")
    wfeat.add("deletionVectors")
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rfeat),
            "writerFeatures": sorted(wfeat),
        }
    }


def _local(path: str) -> str:
    if path.startswith("file:"):
        return urllib.parse.unquote(urllib.parse.urlparse(path).path)
    return path


def _delta_dir(path: str) -> str:
    return os.path.join(_local(path), _DELTA_DIR)


def _commit_file(path: str, version: int) -> str:
    return os.path.join(_delta_dir(path), f"{version:020d}.json")


def has_delta_log(path: str) -> bool:
    d = _delta_dir(path)
    return os.path.isdir(d) and any(
        (f.endswith(".json") and f[:-5].isdigit()) or ".checkpoint" in f
        for f in os.listdir(d)
    )


def delta_versions(path: str) -> list[int]:
    d = _delta_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    )


def _read_actions(path: str, version: int) -> list[dict[str, Any]]:
    out = []
    with open(_commit_file(path, version)) as fh:
        for line in fh:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _current_table_id(path: str) -> str | None:
    """The stable table id from the newest metaData action already in
    the log (Delta requires the id to survive schema changes)."""
    for v in reversed(delta_versions(path)):
        for a in _read_actions(path, v):
            if "metaData" in a:
                return a["metaData"]["id"]
    return None


def _num_records(abs_file: str) -> int | None:
    """Row count from the parquet footer only (no data pages read)."""
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(abs_file).metadata.num_rows)
    except Exception:
        return None


def _add_action(root: str, entry: dict[str, Any]) -> dict[str, Any]:
    abs_file = os.path.join(root, entry["path"])
    st = os.stat(abs_file)
    stats: dict[str, Any] = {}
    n = 0 if entry.get("empty") else _num_records(abs_file)
    if n is not None:
        stats["numRecords"] = n
    if entry.get("stats"):
        stats["minValues"] = {c: b[0] for c, b in entry["stats"].items() if b[0] is not None}
        stats["maxValues"] = {c: b[1] for c, b in entry["stats"].items() if b[1] is not None}
    add = {
        # the protocol wants an RFC 2396 relative URI
        "path": urllib.parse.quote(entry["path"].replace(os.sep, "/"), safe="/=%"),
        "partitionValues": dict(entry.get("partition_values") or {}),
        "size": st.st_size,
        "modificationTime": int(st.st_mtime * 1000),
        "dataChange": True,
    }
    if stats:
        add["stats"] = json.dumps(stats)
    if entry.get("dv"):
        add["deletionVector"] = dict(entry["dv"])
    return {"add": add}


def _remove_action(entry: dict[str, Any], ts_ms: int) -> dict[str, Any]:
    remove: dict[str, Any] = {
        "path": urllib.parse.quote(entry["path"].replace(os.sep, "/"), safe="/=%"),
        "deletionTimestamp": ts_ms,
        "dataChange": True,
    }
    if entry.get("dv"):
        # the remove names the LOGICAL file it retires: (path, dv)
        remove["deletionVector"] = dict(entry["dv"])
    return {"remove": remove}


def _export_offset(path: str) -> int:
    """Delta-version offset for tables imported with
    :func:`convert_from_delta` (0 otherwise)."""
    from aws_sdk_pandas_spark import lakehouse_shim as ls

    f = os.path.join(ls._log_dir(path), "delta_offset")
    if os.path.exists(f):
        with open(f) as fh:
            return int(fh.read().strip())
    return 0


def _physical_type(t: Any) -> Any:
    if isinstance(t, dict):
        if t.get("type") == "struct":
            return {
                "type": "struct",
                "fields": [_physical_field(f) for f in t.get("fields", [])],
            }
        if t.get("type") == "array":
            return {**t, "elementType": _physical_type(t["elementType"])}
        if t.get("type") == "map":
            return {
                **t,
                "keyType": _physical_type(t["keyType"]),
                "valueType": _physical_type(t["valueType"]),
            }
    return t


def _nested_renames(t: Any) -> list[str]:
    """Nested fields whose columnMapping physicalName DIFFERS from their
    logical name (a no-op physicalName == name is harmless)."""
    out: list[str] = []
    if isinstance(t, dict):
        if t.get("type") == "struct":
            for f in t.get("fields", []):
                pn = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName"
                )
                if pn and pn != f["name"]:
                    out.append(f"{f['name']}->{pn}")
                out.extend(_nested_renames(f["type"]))
        elif t.get("type") == "array":
            out.extend(_nested_renames(t.get("elementType")))
        elif t.get("type") == "map":
            out.extend(_nested_renames(t.get("keyType")))
            out.extend(_nested_renames(t.get("valueType")))
    return out


def _physical_field(f: dict[str, Any]) -> dict[str, Any]:
    """One logical schemaString field -> its physical twin (the name the
    parquet files actually carry), columnMapping metadata stripped."""
    md = f.get("metadata") or {}
    return {
        "name": md.get("delta.columnMapping.physicalName", f["name"]),
        "type": _physical_type(f["type"]),
        "nullable": f.get("nullable", True),
        "metadata": {},
    }


def convert_from_delta(path: str) -> dict[str, Any]:
    """Adopt a FOREIGN Delta table (delta-rs / Delta Spark — including
    deletion-vector-bearing and NAME-column-mapped tables) for lakelite
    WRITES: the latest snapshot imports as lakelite manifest v0 (files
    by reference, deletionVector descriptors carried verbatim —
    lakelite speaks the same DV format) and a recorded version offset
    makes every later lakelite commit continue the SAME ``_delta_log``
    chain, so foreign readers keep following the table.  This is the
    migration direction the round-4 boundary refused.

    ``delta.columnMapping.mode = 'name'`` (the delta-rs / Delta Spark
    default for new tables) adopts via a column-mapping sidecar: inside
    lakelite the table runs entirely on PHYSICAL column names (manifest
    schema, partition values, stats — matching what the parquet files
    and the protocol's physical-name rule for partitionValues/stats
    already use), the lakelite entry points translate logical<->physical
    at the boundary, and the exporter emits the original logical
    ``schemaString``/``partitionColumns``/``configuration`` so foreign
    readers keep resolving the mapping.  Schema evolution on adopted
    mapped tables is refused (new columns need fresh physical names and
    a ``maxColumnId`` bump).

    Loud refusals (writing blind would corrupt the table for the
    features' readers): column mapping mode 'id' (field-id resolution),
    NESTED physical renames (both readers translate top-level only —
    surfacing physical inner names would be a silent wrong answer),
    writer features beyond deletionVectors/columnMapping (e.g.
    invariants/checkConstraints — we can't enforce them), declared
    ``delta.invariants``, ``delta.enableChangeDataFeed`` (we don't
    write ``_change_data``), ``delta.appendOnly`` tables, and
    non-hive-layout partitioned files (lakelite reads recover partition
    values from ``k=v`` directory names).

    Returns ``{"delta_version": N, "files": n, "dv_files": m}``."""
    from aws_sdk_pandas_spark import lakehouse_shim as ls

    if ls.table_exists(path):
        raise InvalidArgument(f"{path!r} is already a lakelite table")
    vs = delta_versions(path)
    ckpts = checkpoint_versions(path)
    if not vs and not ckpts:
        raise InvalidArgument(f"no Delta log under {path!r}")
    latest = max(vs[-1] if vs else -1, ckpts[-1] if ckpts else -1)
    json_set = set(vs)
    if all(i in json_set for i in range(latest + 1)):
        adds, meta, protocol = _replay(path, latest)
    else:
        usable = [
            c
            for c in ckpts
            if all(i in json_set for i in range(c + 1, latest + 1))
        ]
        if not usable:
            raise InvalidArgument(
                f"Delta log at {path!r} is not contiguous and no checkpoint "
                "covers the gap — cannot import a consistent snapshot"
            )
        c = max(usable)
        adds, meta, protocol = _replay(
            path, latest, start=c + 1, seed=_load_checkpoint(path, c)
        )

    config = meta.get("configuration") or {}
    cm_mode = config.get("delta.columnMapping.mode")
    schema_json = json.loads(meta["schemaString"])
    cmap_sidecar: dict[str, Any] | None = None
    if cm_mode == "name":
        log2phys: dict[str, str] = {}
        for f in schema_json.get("fields", []):
            md = f.get("metadata") or {}
            pn = md.get("delta.columnMapping.physicalName")
            if not pn:
                raise InvalidArgument(
                    f"column-mapped table field {f['name']!r} carries no "
                    "delta.columnMapping.physicalName"
                )
            log2phys[f["name"]] = pn
            nested = _nested_renames(f["type"])
            if nested:
                # the boundary translation (and read_delta_log's rename)
                # is top-level: silently exposing physical INNER names
                # would be a wrong answer, so refuse loudly
                raise InvalidArgument(
                    f"column-mapped table field {f['name']!r} renames NESTED "
                    f"fields (e.g. {nested[0]}): only top-level name mapping "
                    "is supported for adoption"
                )
        cmap_sidecar = {
            "mode": "name",
            "schemaString": meta["schemaString"],
            "partitionColumns": list(meta.get("partitionColumns") or []),
            "configuration": dict(config),
            "protocol": dict(protocol),
            "log2phys": log2phys,
        }
    elif cm_mode not in (None, "none"):
        raise InvalidArgument(
            f"cannot adopt column-mapped Delta table (mode {cm_mode!r}): "
            "only mode 'name' is supported (mode 'id' resolves parquet "
            "columns by field id, which lakelite's writers don't stamp)"
        )
    if any(
        (f.get("metadata") or {}).get("delta.invariants")
        for f in schema_json.get("fields", [])
    ):
        raise InvalidArgument(
            "cannot adopt table with delta.invariants: lakelite writes "
            "don't enforce them"
        )
    if str(config.get("delta.enableChangeDataFeed", "")).lower() == "true":
        raise InvalidArgument(
            "cannot adopt table with delta.enableChangeDataFeed: lakelite "
            "writes don't produce _change_data files"
        )
    if str(config.get("delta.appendOnly", "")).lower() == "true":
        raise InvalidArgument(
            "cannot adopt delta.appendOnly table: lakelite merge/delete "
            "would violate the table contract"
        )
    mwv = int(protocol.get("minWriterVersion", 1))
    wfeat = set(protocol.get("writerFeatures") or [])
    allowed_feat = {"deletionVectors"} | (
        {"columnMapping"} if cm_mode == "name" else set()
    )
    if not (
        mwv <= 2
        or (mwv == 5 and cm_mode == "name")
        or (mwv == 7 and wfeat <= allowed_feat)
    ):
        raise InvalidArgument(
            f"cannot adopt Delta table with writer protocol {protocol}: "
            "unsupported writer features (only deletionVectors and "
            "name-mode columnMapping are)"
        )

    root = _local(path)
    pcols = list(meta.get("partitionColumns") or [])
    if cmap_sidecar is not None:
        # lakelite runs the adopted table on PHYSICAL names throughout
        pcols = [cmap_sidecar["log2phys"].get(c, c) for c in pcols]
    entries: list[dict[str, Any]] = []
    n_dv = 0
    for a in adds.values():
        rel = urllib.parse.unquote(a["path"])
        if os.path.isabs(rel):
            raise InvalidArgument(
                f"cannot adopt table with absolute file path {rel!r}"
            )
        pv = dict(a.get("partitionValues") or {})
        if pv:
            segs = rel.split("/")
            missing = [
                k for k in pv if not any(s.startswith(f"{k}=") for s in segs)
            ]
            if missing:
                raise InvalidArgument(
                    f"cannot adopt non-hive-layout partitioned table: file "
                    f"{rel!r} carries partition values for {missing} only in "
                    "the log"
                )
        if not os.path.exists(os.path.join(root, rel)):
            raise InvalidArgument(
                f"Delta snapshot references missing data file {rel!r}"
            )
        entry: dict[str, Any] = {
            "path": rel,
            # basePath = table root: hive k=v dirs under it resolve the
            # partition columns through Spark's partition discovery
            "commit": "",
            "partition_values": {k: pv.get(k) for k in pcols},
        }
        stats_raw = a.get("stats")
        if stats_raw:
            st = json.loads(stats_raw) if isinstance(stats_raw, str) else stats_raw
            mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
            bounds = {
                c: [mins.get(c), maxs.get(c)]
                for c in set(mins) | set(maxs)
            }
            if bounds:
                entry["stats"] = bounds
        if a.get("deletionVector"):
            entry["dv"] = dict(a["deletionVector"])
            n_dv += 1
        entries.append(entry)

    os.makedirs(ls._log_dir(path), exist_ok=True)
    # lakelite version v maps to Delta version v + latest: manifest v0
    # IS the imported snapshot (its export is a no-op — that Delta
    # commit already exists), v1 continues the chain at latest + 1
    with open(os.path.join(ls._log_dir(path), "delta_offset"), "w") as fh:
        fh.write(str(latest))
    if cmap_sidecar is not None:
        with open(os.path.join(ls._log_dir(path), ls._CMAP_FILE), "w") as fh:
            json.dump(cmap_sidecar, fh)
        manifest_schema = json.dumps(
            {
                "type": "struct",
                "fields": [
                    _physical_field(f) for f in schema_json.get("fields", [])
                ],
            }
        )
    else:
        manifest_schema = meta["schemaString"]
    ls._commit_manifest(
        path,
        {
            "version": 0,
            "mode": "convert",
            "schema": manifest_schema,
            "partition_cols": pcols,
            "files": entries,
            "stats_cols": [],
            "txns": {},
        },
    )
    return {"delta_version": latest, "files": len(entries), "dv_files": n_dv}


def export_commit(path: str, manifest: dict[str, Any]) -> bool:
    """Write the Delta commit file for one lakelite manifest (idempotent;
    returns True when a file was written).  A valid Delta log must be
    contiguous from version 0, so a gap is backfilled from the lakelite
    manifests when they still exist; if older manifests were vacuumed
    away before the first export, the export is skipped (a truncated log
    would be worse than none — delta readers would refuse or misread)."""
    from aws_sdk_pandas_spark import lakehouse_shim as ls

    v = int(manifest["version"])
    # a table imported from a foreign Delta log (convert_from_delta)
    # continues that log: lakelite version v maps to Delta version
    # v + offset (offset = the imported snapshot's Delta version)
    off = _export_offset(path)
    final = _commit_file(path, v + off)
    if os.path.exists(final):
        return False
    if v > 0 and not os.path.exists(_commit_file(path, v - 1 + off)):
        have = set(ls._versions(path))
        if not all(i in have for i in range(v)):
            return False  # history vacuumed before first export
        for i in range(v):
            export_commit(path, ls._read_manifest(path, i))

    root = ls._local(path)
    ts = int(time.time() * 1000)
    prev = ls._read_manifest(path, v - 1) if v > 0 else None
    prev_files = {e["path"]: e for e in (prev["files"] if prev else [])}
    cur_files = {e["path"]: e for e in manifest["files"]}

    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": _OPS.get(manifest.get("mode", ""), "WRITE"),
                "operationParameters": {"mode": manifest.get("mode", "")},
                "engineInfo": "aws_sdk_pandas_spark-lakelite",
            }
        }
    ]
    # adopted column-mapped tables export the original LOGICAL
    # schemaString/partitionColumns/configuration and preserve the
    # foreign protocol — the manifest's physical names appear only
    # where the protocol wants them (add/remove partitionValues, stats)
    cmap = ls._cmap_load(path)
    has_dv = any(e.get("dv") for e in manifest["files"])
    prev_had_dv = any(e.get("dv") for e in (prev["files"] if prev else []))
    if v == 0:
        if has_dv:
            actions.append(_dv_upgrade_protocol(cmap["protocol"] if cmap else None))
        elif cmap:
            actions.append({"protocol": dict(cmap["protocol"])})
        else:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
    elif has_dv and not prev_had_dv:
        # first DV-bearing commit upgrades the table protocol in place —
        # sticky thereafter (replays keep the highest protocol seen)
        actions.append(_dv_upgrade_protocol(cmap["protocol"] if cmap else None))
    schema_changed = prev is not None and (
        prev["schema"] != manifest["schema"]
        or prev["partition_cols"] != manifest["partition_cols"]
    )
    if v == 0 or schema_changed:
        actions.append(
            {
                "metaData": {
                    "id": _current_table_id(path) or str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": (
                        cmap["schemaString"] if cmap else manifest["schema"]
                    ),
                    "partitionColumns": (
                        list(cmap["partitionColumns"])
                        if cmap
                        else list(manifest["partition_cols"])
                    ),
                    "configuration": dict(cmap["configuration"]) if cmap else {},
                    "createdTime": ts,
                }
            }
        )
    if manifest.get("txn"):
        actions.append(
            {"txn": {"appId": str(manifest["txn"][0]), "version": int(manifest["txn"][1])}}
        )
    for p in sorted(set(prev_files) - set(cur_files)):
        actions.append(_remove_action(prev_files[p], ts))
    for p in sorted(set(cur_files) - set(prev_files)):
        actions.append(_add_action(root, cur_files[p]))
    # a file whose deletion vector changed is a LOGICAL replace: the
    # spec'd pattern is remove(path, old dv) + add(path, new dv) in one
    # commit (the remove precedes the add, so replay nets to the new dv)
    for p in sorted(set(prev_files) & set(cur_files)):
        if (prev_files[p].get("dv") or None) != (cur_files[p].get("dv") or None):
            actions.append(_remove_action(prev_files[p], ts))
            actions.append(_add_action(root, cur_files[p]))

    d = _delta_dir(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{v + off:020d}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    try:
        os.link(tmp, final)  # same atomic create-exclusive as the manifest
    except FileExistsError:
        pass  # a racing exporter of the same version wrote the same diff
    os.unlink(tmp)
    # real Delta writers checkpoint every 10 commits so readers (and log
    # cleanup) never need the full JSON chain; best-effort sidecar
    if (v + off + 1) % _CHECKPOINT_INTERVAL == 0:
        try:
            write_checkpoint(path, v + off)
        except Exception as exc:  # pragma: no cover - defensive
            import warnings

            warnings.warn(f"Delta checkpoint skipped: {exc}", stacklevel=2)
    return True


def export_table(path: str) -> int:
    """Backfill the whole Delta log for an existing lakelite table;
    returns the number of commit files written."""
    from aws_sdk_pandas_spark import lakehouse_shim as ls

    n = 0
    for v in ls._versions(path):
        if export_commit(path, ls._read_manifest(path, v)):
            n += 1
    return n


_CHECKPOINT_INTERVAL = 10


def write_checkpoint(path: str, version: int | None = None) -> str:
    """Write a protocol-valid parquet CHECKPOINT of the table state at
    ``version`` (default latest) plus the ``_last_checkpoint`` pointer —
    the recovery file real Delta readers use to skip replaying old JSON
    commits (and to keep reading after log cleanup).  One row per
    action, exactly one non-null action column per row; row count is
    bounded by the live FILE count, never rows.  ``txn`` app versions
    are not checkpointed (lakelite keeps exactly-once stamps in its own
    manifests)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vs = delta_versions(path)
    if not vs:
        raise InvalidArgument(f"no Delta log under {path!r}")
    v = vs[-1] if version is None else int(version)
    adds, meta, protocol = _replay(path, v)

    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [
                                    ("provider", pa.string()),
                                    ("options", pa.map_(pa.string(), pa.string())),
                                ]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        ("deletionVector", dv_t),
                    ]
                ),
            ),
        ]
    )
    rows: list[dict] = [{"protocol": protocol, "metaData": None, "add": None}]
    if meta:
        m = dict(meta)
        m["format"] = m.get("format") or {"provider": "parquet", "options": {}}
        m["format"].setdefault("options", {})
        m["configuration"] = m.get("configuration") or {}
        m["partitionColumns"] = list(m.get("partitionColumns") or [])
        rows.append({"protocol": None, "metaData": m, "add": None})
    for a in adds.values():
        add = {
            "path": a["path"],
            "partitionValues": dict(a.get("partitionValues") or {}),
            "size": a.get("size"),
            "modificationTime": a.get("modificationTime"),
            "dataChange": False,
            "stats": a.get("stats"),
            "deletionVector": a.get("deletionVector"),
        }
        rows.append({"protocol": None, "metaData": None, "add": add})
    table = pa.Table.from_pylist(rows, schema=schema)
    d = _delta_dir(path)
    os.makedirs(d, exist_ok=True)
    out = os.path.join(d, f"{v:020d}.checkpoint.parquet")
    pq.write_table(table, out)
    with open(os.path.join(d, "_last_checkpoint"), "w") as fh:
        json.dump({"version": v, "size": len(rows)}, fh)
    return out


def clean_log(path: str, *, keep_versions: int = 0) -> list[int]:
    """Delta log retention (the metadata side of VACUUM): delete JSON
    commit files fully covered by the newest parquet checkpoint — the
    cleanup real Delta writers run so the log does not grow without
    bound.  Readers recover through the checkpoint (the protocol's
    recovery path, which :func:`read_delta_log` already follows);
    ``keep_versions`` retains that many JSON commits BELOW the
    checkpoint for extra time-travel headroom.  Returns the removed
    versions.  No checkpoint -> nothing is removed (a truncated log
    without a checkpoint would strand readers)."""
    ckpts = checkpoint_versions(path)
    if not ckpts:
        return []
    cut = ckpts[-1] - int(keep_versions)
    removed = []
    for v in delta_versions(path):
        # the checkpoint itself covers version ckpt; JSON commits at or
        # below (cut - ... ) are redundant for every supported read
        if v < cut:
            os.remove(_commit_file(path, v))
            removed.append(v)
    return removed


def checkpoint_versions(path: str) -> list[int]:
    """Versions that have a parquet checkpoint (single-part or
    multi-part per the protocol's file-name patterns)."""
    d = _delta_dir(path)
    if not os.path.isdir(d):
        return []
    out = set()
    for f in os.listdir(d):
        m = re.match(r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet$", f)
        if m:
            out.add(int(m.group(1)))
    return sorted(out)


def _checkpoint_files(path: str, version: int) -> list[str]:
    d = _delta_dir(path)
    single = os.path.join(d, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(single):
        return [single]
    parts = sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if re.match(rf"^{version:020d}\.checkpoint\.\d{{10}}\.\d{{10}}\.parquet$", f)
    )
    if not parts:
        raise InvalidArgument(f"no checkpoint parquet for version {version} at {path!r}")
    return parts


def _mapish(v) -> dict:
    """pyarrow renders a parquet map column as a list of (k, v) tuples /
    {'key':..,'value':..} dicts depending on layout — normalize."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    out = {}
    for item in v:
        if isinstance(item, dict):
            out[item.get("key")] = item.get("value")
        else:
            k, val = item
            out[k] = val
    return out


def _load_checkpoint(path: str, version: int) -> tuple[dict[str, dict], dict | None, dict | None]:
    """Seed (adds, metaData, protocol) from a parquet checkpoint — the
    checkpoint IS the full table state at its version, one action per
    row with exactly one non-null action column.  Driver-side via
    pyarrow: checkpoint row count == file count, the same bounded set
    every Delta client materializes to plan a scan."""
    try:
        import pyarrow.parquet as pq
    except Exception as exc:  # pragma: no cover - pyarrow is baked in
        raise InvalidArgument(f"checkpoint replay needs pyarrow: {exc}")
    adds: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None
    for f in _checkpoint_files(path, version):
        tbl = pq.read_table(f)
        cols = set(tbl.column_names)
        rows = tbl.to_pylist()
        for r in rows:
            a = r.get("add") if "add" in cols else None
            if a and a.get("path"):
                entry = {
                    "path": a["path"],
                    "partitionValues": _mapish(a.get("partitionValues")),
                    "size": a.get("size"),
                    "dataChange": False,
                }
                # a checkpointed file may carry live deletion vectors —
                # dropping them would silently RESURRECT deleted rows
                dv = a.get("deletionVector")
                if dv and dv.get("storageType"):
                    entry["deletionVector"] = {
                        k: v for k, v in dv.items() if v is not None
                    }
                adds[a["path"]] = entry
                continue
            m = r.get("metaData") if "metaData" in cols else None
            if m and m.get("id"):
                meta = {
                    "id": m["id"],
                    "format": m.get("format") or {"provider": "parquet", "options": {}},
                    "schemaString": m["schemaString"],
                    "partitionColumns": list(m.get("partitionColumns") or []),
                    "configuration": _mapish(m.get("configuration")),
                }
                continue
            p = r.get("protocol") if "protocol" in cols else None
            if p and p.get("minReaderVersion") is not None:
                protocol = {k: v for k, v in p.items() if v is not None}
    return adds, meta, protocol


# --------------------------------------------------- deletion vectors (v3)
#
# Reader protocol 3's only table feature this jar-free reader supports is
# deletionVectors: add actions carry a descriptor {storageType, pathOrInlineDv,
# offset, sizeInBytes, cardinality} pointing at a RoaringBitmapArray of
# DELETED ROW INDEXES (Delta PROTOCOL.md "Deletion Vectors").  The bitmap
# bytes are the "portable" serialization: uint32 LE magic 1681511377,
# int64 LE bitmap count, then per high-32 index the STANDARD 32-bit
# roaring serialization.  Storage: 'i' = Z85-inline, 'u' = Z85 uuid ->
# <table>/<prefix>/deletion_vector_<uuid>.bin, 'p' = absolute path; file
# layout is a format-version byte then per-DV [int32 BE size | data |
# int32 BE CRC32].

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}
_DV_MAGIC = 1681511377


def _z85_encode(data: bytes) -> str:
    """Z85 (RFC 32/ZeroMQ alphabet, the one Delta uses for DV descriptors)."""
    if len(data) % 4:
        raise InvalidArgument(f"Z85 encode needs a multiple of 4 bytes, got {len(data)}")
    out = []
    for i in range(0, len(data), 4):
        acc = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, r = divmod(acc, 85)
            chunk.append(_Z85[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _roaring32_encode(values: list[int]) -> bytes:
    """Serialize sorted u32 values as a standard 32-bit roaring bitmap
    (RoaringFormatSpec, SERIAL_COOKIE_NO_RUNCONTAINER layout: cookie,
    container count, per-container key/cardinality descriptors, the
    offset index, then array or bitmap container payloads — valid input
    for any conforming reader, run containers are an optional
    optimization we don't emit)."""
    import struct as _s

    containers: dict[int, list[int]] = {}
    for v in values:
        if not 0 <= v < (1 << 32):
            raise InvalidArgument(f"roaring32 value {v} out of range")
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    head = _s.pack("<II", 12346, n)
    descr = b"".join(
        _s.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    payloads = []
    for k in keys:
        lows = sorted(set(containers[k]))
        if len(lows) != len(containers[k]):
            raise InvalidArgument("roaring32 input must not contain duplicates")
        if len(lows) <= 4096:  # array container
            payloads.append(_s.pack(f"<{len(lows)}H", *lows))
        else:  # bitmap container
            words = [0] * 1024
            for lo in lows:
                words[lo >> 6] |= 1 << (lo & 63)
            payloads.append(_s.pack("<1024Q", *words))
    # offsets: byte position of each container payload from stream start
    base = len(head) + len(descr) + 4 * n
    offsets, pos = [], base
    for p in payloads:
        offsets.append(pos)
        pos += len(p)
    return (
        head
        + descr
        + _s.pack(f"<{n}I", *offsets)
        + b"".join(payloads)
    )


def _rbarray_encode(indexes: list[int]) -> bytes:
    """Delta's RoaringBitmapArray 'portable' form: magic + number of
    32-bit bitmaps (highest key + 1, empties included) + each bitmap in
    RoaringFormatSpec order — the exact inverse of :func:`_rbarray_decode`."""
    import struct as _s

    idx = sorted(set(indexes))
    if idx and idx[0] < 0:
        raise InvalidArgument("deletion vector row indexes must be >= 0")
    n_maps = (idx[-1] >> 32) + 1 if idx else 0
    out = [_s.pack("<Iq", _DV_MAGIC, n_maps)]
    by_high: dict[int, list[int]] = {}
    for v in idx:
        by_high.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    for high in range(n_maps):
        out.append(_roaring32_encode(by_high.get(high, [])))
    return b"".join(out)


def write_dv_file(
    root: str, indexes: list[int], *, prefix: str = "_dv"
) -> dict[str, Any]:
    """Write ONE deletion vector in Delta's on-disk 'u' storage layout
    (``<root>/<prefix>/deletion_vector_<uuid>.bin``: format-version byte
    1, then [int32 BE size | RoaringBitmapArray data | int32 BE CRC32])
    and return the ``add.deletionVector`` descriptor — the exact shape
    :func:`_dv_row_indexes` (and delta-rs / Delta Spark) resolve.
    Metadata-plane work: cost is O(deleted rows in this file)."""
    import struct as _s
    import zlib as _z

    data = _rbarray_encode(indexes)
    u = uuid.uuid4()
    d = os.path.join(root, prefix) if prefix else root
    os.makedirs(d, exist_ok=True)
    fpath = os.path.join(d, f"deletion_vector_{u}.bin")
    blob = b"\x01" + _s.pack(">i", len(data)) + data + _s.pack(
        ">I", _z.crc32(data) & 0xFFFFFFFF
    )
    with open(fpath, "wb") as fh:
        fh.write(blob)
    enc_prefix = (prefix.rstrip("/") + "/") if prefix else ""
    return {
        "storageType": "u",
        "pathOrInlineDv": enc_prefix + _z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(set(indexes)),
    }


def _z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise InvalidArgument(f"Z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for c in s[i : i + 5]:
            if c not in _Z85_INV:
                raise InvalidArgument(f"invalid Z85 character {c!r}")
            acc = acc * 85 + _Z85_INV[c]
        out += acc.to_bytes(4, "big")
    return bytes(out)


def _roaring32_decode(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Standard 32-bit roaring bitmap (RoaringFormatSpec): returns the
    sorted values and the new position."""
    import struct as _s

    cookie = _s.unpack_from("<I", buf, pos)[0]
    if (cookie & 0xFFFF) == 12347:  # SERIAL_COOKIE (has run containers)
        n = (cookie >> 16) + 1
        pos += 4
        flag_bytes = (n + 7) // 8
        run_flags = buf[pos : pos + flag_bytes]
        pos += flag_bytes
        has_offsets = n >= 4
    elif cookie == 12346:  # SERIAL_COOKIE_NO_RUNCONTAINER
        n = _s.unpack_from("<I", buf, pos + 4)[0]
        pos += 8
        run_flags = b"\x00" * ((n + 7) // 8)
        has_offsets = True
    else:
        raise InvalidArgument(f"not a roaring bitmap (cookie {cookie})")
    keys, cards = [], []
    for _i in range(n):
        k, c1 = _s.unpack_from("<HH", buf, pos)
        keys.append(k)
        cards.append(c1 + 1)
        pos += 4
    if has_offsets:
        pos += 4 * n  # sequential read — offsets are redundant
    values: list[int] = []
    for i in range(n):
        base = keys[i] << 16
        if run_flags[i // 8] >> (i % 8) & 1:
            n_runs = _s.unpack_from("<H", buf, pos)[0]
            pos += 2
            for _r in range(n_runs):
                start, length = _s.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(base | v for v in range(start, start + length + 1))
        elif cards[i] <= 4096:  # array container
            vals = _s.unpack_from(f"<{cards[i]}H", buf, pos)
            pos += 2 * cards[i]
            values.extend(base | v for v in vals)
        else:  # bitmap container: 2^16 bits
            words = _s.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    values.append(base | (wi << 6) | b.bit_length() - 1)
                    w ^= b
    return values, pos


def _rbarray_decode(data: bytes) -> list[int]:
    """Delta's RoaringBitmapArray 'portable' form -> sorted row indexes."""
    import struct as _s

    if len(data) < 12 or _s.unpack_from("<I", data, 0)[0] != _DV_MAGIC:
        raise InvalidArgument("deletion vector: bad RoaringBitmapArray magic")
    n_maps = _s.unpack_from("<q", data, 4)[0]
    pos = 12
    out: list[int] = []
    for high in range(n_maps):
        vals, pos = _roaring32_decode(data, pos)
        out.extend((high << 32) | v for v in vals)
    return out


def dv_file_path(root: str, dv: dict) -> str | None:
    """On-disk file of one deletionVector descriptor (None when the DV
    is inline) — also the retention hook lakelite's vacuum uses to keep
    live DV files."""
    st = dv.get("storageType")
    if st == "i":
        return None
    if st == "u":
        enc = dv["pathOrInlineDv"]
        prefix, uuid_z85 = enc[:-20], enc[-20:]
        u = uuid.UUID(bytes=_z85_decode(uuid_z85))
        fname = f"deletion_vector_{u}.bin"
        return os.path.join(root, prefix, fname) if prefix else os.path.join(root, fname)
    if st == "p":
        return _local(dv["pathOrInlineDv"])
    raise InvalidArgument(f"unknown deletion vector storageType {st!r}")


def _dv_row_indexes(root: str, dv: dict) -> list[int]:
    """Resolve one add.deletionVector descriptor to its row indexes."""
    import struct as _s
    import zlib as _z

    if dv.get("storageType") == "i":
        data = _z85_decode(dv["pathOrInlineDv"])
        return _rbarray_decode(data)
    fpath = dv_file_path(root, dv)
    if not os.path.exists(fpath):
        raise InvalidArgument(f"missing deletion vector file {fpath!r}")
    with open(fpath, "rb") as fh:
        blob = fh.read()
    off = int(dv.get("offset") or 1)
    size = _s.unpack_from(">i", blob, off)[0]
    data = blob[off + 4 : off + 4 + size]
    crc = _s.unpack_from(">I", blob, off + 4 + size)[0]
    if _z.crc32(data) & 0xFFFFFFFF != crc:
        raise InvalidArgument(f"deletion vector checksum mismatch in {fpath!r}")
    return _rbarray_decode(data)


def _replay(path: str, version: int, *, start: int = 0, seed=None) -> tuple[dict[str, dict], dict, dict]:
    """Replay JSON actions start..version (optionally seeded from a
    checkpoint) -> (live add actions by path, metaData, protocol)."""
    adds: dict[str, dict] = dict(seed[0]) if seed else {}
    meta: dict | None = seed[1] if seed else None
    protocol: dict | None = seed[2] if seed else None
    for v in range(start, version + 1):
        for a in _read_actions(path, v):
            if "protocol" in a:
                protocol = a["protocol"]
            elif "metaData" in a:
                meta = a["metaData"]
            elif "add" in a:
                adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                adds.pop(a["remove"]["path"], None)
    if meta is None:
        raise InvalidArgument(f"Delta log at {path!r} has no metaData action")
    return adds, meta, protocol or {"minReaderVersion": 1}


def read_delta_log(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read a Delta table by replaying its transaction log — works on
    tables written by this exporter AND on tables written elsewhere by
    delta-rs / Delta Spark, with reader protocol 1.  When older JSON
    commits have been cleaned up, the newest parquet CHECKPOINT at or
    below the requested version seeds the replay (the protocol's
    recovery path), and only the JSON commits after it are applied.
    The scans take their schema from the ``metaData`` action (physical
    names in column-mapping mode 'name', parquet field ids in mode
    'id'), so building the read runs no Spark job, and files that
    predate a column read it as null."""
    vs = delta_versions(path)
    ckpts = checkpoint_versions(path)
    if not vs and not ckpts:
        raise InvalidArgument(f"no Delta log under {path!r}")
    latest = max(vs[-1] if vs else -1, ckpts[-1] if ckpts else -1)
    v = latest if version is None else int(version)
    if v < 0 or v > latest:
        raise InvalidArgument(
            f"Delta version {v} not found at {path!r} (have up to {latest})"
        )
    json_set = set(vs)
    if all(i in json_set for i in range(v + 1)):
        adds, meta, protocol = _replay(path, v)
    else:
        usable = [
            c
            for c in ckpts
            if c <= v and all(i in json_set for i in range(c + 1, v + 1))
        ]
        if not usable:
            raise InvalidArgument(
                f"Delta version {v} at {path!r} is not reachable: the log is "
                "not contiguous from version 0 and no parquet checkpoint "
                "covers the gap (history cleaned up past this version)"
            )
        c = max(usable)
        adds, meta, protocol = _replay(
            path, v, start=c + 1, seed=_load_checkpoint(path, c)
        )
    mrv = int(protocol.get("minReaderVersion", 1))
    features = set(protocol.get("readerFeatures") or [])
    cm_mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
    supported = mrv == 1 or mrv == 2 or (
        mrv == 3 and features <= {"deletionVectors", "columnMapping"}
    )
    if not supported:
        raise InvalidArgument(
            f"unsupported Delta reader protocol {protocol}: this jar-free "
            "reader supports minReaderVersion 1, 2 (column mapping mode "
            "'name'), or 3 with the deletionVectors/columnMapping features "
            "only (no v2 checkpoints / timestampNtz)"
        )
    if cm_mode not in (None, "none", "name", "id"):
        raise InvalidArgument(
            f"unknown delta.columnMapping.mode {cm_mode!r}"
        )
    schema_json = json.loads(meta["schemaString"])
    schema = T.StructType.fromJson(schema_json)
    pcols = list(meta.get("partitionColumns") or [])
    # column mapping: files store PHYSICAL column names.  'name' mode
    # scans by physical name and renames back; 'id' mode resolves the
    # columns by parquet field id (the files carry ids equal to
    # delta.columnMapping.id).  phys stays populated in BOTH modes
    # (partitionValues are keyed by physical name whenever column
    # mapping is on).
    phys: dict[str, str] = {}
    read_fields: list[T.StructField] = []
    for fj, f in zip(schema_json.get("fields", []), schema.fields):
        md = fj.get("metadata") or {}
        if md.get("delta.columnMapping.physicalName"):
            phys[f.name] = md["delta.columnMapping.physicalName"]
        if cm_mode == "id" and md.get("delta.columnMapping.id") is None:
            raise InvalidArgument(
                f"columnMapping mode 'id' but field {f.name!r} carries "
                "no delta.columnMapping.id"
            )
        if f.name in pcols:
            continue
        if cm_mode == "id":
            read_fields.append(
                T.StructField(
                    f.name, f.dataType, True,
                    {"parquet.field.id": int(md["delta.columnMapping.id"])},
                )
            )
        elif cm_mode == "name":
            read_fields.append(T.StructField.fromJson(_physical_field(fj)))
        else:
            read_fields.append(f)
    read_schema = T.StructType(read_fields)
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    root = _local(path)
    from aws_sdk_pandas_spark import lakehouse_shim as _ls

    if not adds:
        df = _ls._driver_frame(spark, [], schema)
        return df.select(*columns) if columns else df

    # group files by partition tuple: partition values live ONLY in the
    # log (protocol rule), so they are injected as typed literals per
    # group — one scan per distinct partition tuple
    groups: dict[tuple, list[str]] = {}
    dv_entries: list[dict[str, Any]] = []
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        # column mapping keys partitionValues by PHYSICAL name; accept
        # either so plain tables keep working
        key = tuple(
            pv[c] if c in pv else pv.get(phys.get(c, c)) for c in pcols
        )
        rel = urllib.parse.unquote(a["path"])
        abs_file = rel if os.path.isabs(rel) else os.path.join(root, rel)
        groups.setdefault(key, []).append(abs_file)
        if a.get("deletionVector"):
            dv_entries.append({"path": abs_file, "dv": a["deletionVector"]})

    missing = [f for files in groups.values() for f in files if not os.path.exists(f)]
    if missing:
        raise InvalidArgument(
            f"Delta version {v} at {path!r} references {len(missing)} missing "
            f"data file(s) (vacuumed away or external), e.g. {sorted(missing)[:2]}"
        )

    # deletion vectors decode ON EXECUTORS (the driver ships O(files)
    # descriptors, never the row-index lists) and drop via one anti-join
    # — broadcast when small, shuffled past the cardinality threshold
    deletes, dv_card = _ls._dv_deletes_df(spark, root, dv_entries)

    parts = []
    for key, files in sorted(
        groups.items(), key=lambda kv: tuple("" if x is None else str(x) for x in kv[0])
    ):
        # the metaData schema is authoritative: the scan takes it, runs
        # no footer-inference job, and files that predate a column read
        # it as null
        part = _ls._scan_files(spark, sorted(files), read_schema)
        if deletes is not None:
            part = part.withColumn("__fp", F.col("_metadata.file_path")).withColumn(
                "__ri", F.col("_metadata.row_index")
            )
        if cm_mode == "name":
            for logical, physical in phys.items():
                if physical in part.columns and logical not in part.columns:
                    part = part.withColumnRenamed(physical, logical)
        for c, val in zip(pcols, key):
            dt = schema[c].dataType
            part = part.withColumn(
                c, F.lit(val).cast(dt) if val is not None else F.lit(None).cast(dt)
            )
        sel = [f.name for f in schema.fields]
        if deletes is not None:
            sel += ["__fp", "__ri"]
        parts.append(part.select(*sel))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if deletes is not None:
        # ONE anti-join after the union so the DV decode runs once, not
        # once per partition-tuple scan
        df = _ls._drop_dv_rows(df, deletes, dv_card, "__fp", "__ri").drop(
            "__fp", "__ri"
        )
    return df.select(*columns) if columns else df
