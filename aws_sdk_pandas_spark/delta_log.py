"""The Delta Lake transaction log, jar-free: lakelite's only commit log.

The Delta log protocol (https://github.com/delta-io/delta/blob/master/
PROTOCOL.md) is newline-delimited JSON actions under ``_delta_log/`` —
no jar is needed to READ or WRITE it.  A lakelite table
(``lakehouse_shim``) keeps no other log, so a table written here is a
Delta table that delta-rs / Delta Spark read, and a Delta table written
elsewhere is a table lakelite reads and writes in place:

- **Commits** (:func:`commit`): a lakelite commit is ONE Delta commit
  file ``_delta_log/{version:020d}.json`` with ``commitInfo`` /
  ``protocol`` / ``metaData`` / ``txn`` / ``remove`` / ``add`` actions,
  created exclusively (``os.link``), so two writers racing for a
  version cannot both win it — the protocol's mutual-exclusion rule.
  Every 10th version also lands a parquet checkpoint, written from the
  in-memory state (reference behavior: awswrangler
  ``s3/_write_deltalake.py:129-133`` writes the same log through
  delta-rs).
- **Snapshots** (:func:`snapshot`): every lakelite reader and writer
  replays the log once per call — as Delta readers do, from the newest
  checkpoint at or below the version (JSON from version 0 when there is
  none), so the cost follows the live files and the commits since the
  last checkpoint, not the table's age — into the manifest dict the
  lakelite operations work on:
  ``schema``/``partition_cols`` from ``metaData``, the files from the
  live ``add`` actions (their stats, deletion vectors and ``numRecords``
  0 for an empty file), ``stats_cols`` from the
  ``delta.dataSkippingStatsColumns`` table property, ``txns`` from the
  ``txn`` actions and the commit ``mode`` from ``commitInfo``.
- **Reader** (:func:`read_delta_log`): the snapshot of the same log —
  or of one written by delta-rs or Delta Spark elsewhere,
  checkpoint-seeded or not — through lakelite's one scan builder
  (``lakehouse_shim._scan``), the plan behind ``read_deltalake`` and
  every lakelite read.  Partition values come from the log's
  ``partitionValues`` (the protocol's rule: partition columns are NOT
  stored in data files).  Deletion vectors (reader 3) and column
  mapping ('name' and 'id', reader 2/3, nested renames included) are
  supported; anything beyond is refused loudly rather than mis-read.
- **Column mapping**: a mapped table runs on PHYSICAL column names
  inside lakelite (the ``metaData`` schema's
  ``delta.columnMapping.physicalName``; in mode 'id' each scan field
  also carries its ``parquet.field.id``), and reads rename and cast the
  columns back to the logical schema in one projection.
- **Foreign tables**: every write into an existing table first runs the
  refusals of :func:`check_writable` (features this engine cannot keep
  intact), so a DV-bearing or NAME-column-mapped table another engine
  wrote takes lakelite writes that continue its own log, whatever its
  file layout.

Scale notes: a commit is driver-side metadata work proportional to the
files it TOUCHES (one ``os.stat`` + parquet-footer ``num_rows`` per
added file), never to table size; a read is one parquet scan for an
unpartitioned table, one per commit dir of a hive layout and one per
partition tuple of any other layout, each split into scans of at most
``spark.sql.sources.parallelPartitionDiscovery.threshold`` files (more
paths would make Spark list them with a job), with column pruning and
row-group pushdown intact because the files are plain parquet.  Every
scan takes its schema from the log's ``metaData`` (authoritative under
the protocol), so building a read opens no footer and runs no Spark
job; the fetch is the only job.  Deletion vectors decode ON EXECUTORS (the
driver ships O(files) descriptors) and drop via one anti-join,
broadcast when small.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aws_sdk_pandas_spark.exceptions import InvalidArgument

_DELTA_DIR = "_delta_log"
_ENGINE = "aws_sdk_pandas_spark-lakelite"
_CHECKPOINT_INTERVAL = 10
# the table property that lists the columns lakelite keeps min/max for
_STATS_COLS = "delta.dataSkippingStatsColumns"
_PHYSICAL = "delta.columnMapping.physicalName"
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet$")

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

# the features each legacy writer version implies (PROTOCOL.md, table
# features): a legacy table upgraded to writer 7 must list them
_LEGACY_WRITER_FEATURES = (
    (2, {"appendOnly", "invariants"}),
    (3, {"checkConstraints"}),
    (4, {"changeDataFeed", "generatedColumns"}),
    (5, {"columnMapping"}),
    (6, {"identityColumns"}),
)


def _legacy_writer_features(min_writer_version: int) -> set[str]:
    return {
        f
        for v, feats in _LEGACY_WRITER_FEATURES
        if min_writer_version >= v
        for f in feats
    }


def _dv_upgrade_protocol(base: dict[str, Any] | None) -> dict[str, Any]:
    """The protocol of the first DV-bearing commit (reader 3 / writer 7
    with the deletionVectors feature).  Upgrading a LEGACY protocol to
    table features must enumerate every feature the legacy reader/writer
    versions implied (PROTOCOL.md's upgrade rule) — a column-mapped
    table (reader 2 / writer 5) keeps its columnMapping capability
    listed next to deletionVectors."""
    base = base or {}
    rfeat = set(base.get("readerFeatures") or []) | {"deletionVectors"}
    wfeat = set(base.get("writerFeatures") or []) | {"deletionVectors"}
    if int(base.get("minReaderVersion", 1)) == 2:
        rfeat.add("columnMapping")
    mwv = int(base.get("minWriterVersion", 1))
    if mwv < 7:
        wfeat |= _legacy_writer_features(mwv)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rfeat),
        "writerFeatures": sorted(wfeat),
    }


def _local(path: str) -> str:
    if path.startswith("file:"):
        return urllib.parse.unquote(urllib.parse.urlparse(path).path)
    return path


def _delta_dir(path: str) -> str:
    return os.path.join(_local(path), _DELTA_DIR)


def _commit_file(path: str, version: int) -> str:
    return os.path.join(_delta_dir(path), f"{version:020d}.json")


def _listing(path: str) -> tuple[list[int], list[int]]:
    """(JSON commit versions, checkpoint versions) from one listing of
    the log directory; checkpoints may be single- or multi-part."""
    d = _delta_dir(path)
    if not os.path.isdir(d):
        return [], []
    commits, ckpts = set(), set()
    for f in os.listdir(d):
        if f.endswith(".json") and f[:-5].isdigit():
            commits.add(int(f[:-5]))
        elif m := _CHECKPOINT_RE.match(f):
            ckpts.add(int(m.group(1)))
    return sorted(commits), sorted(ckpts)


def has_delta_log(path: str) -> bool:
    return any(_listing(path))


def delta_versions(path: str) -> list[int]:
    return _listing(path)[0]


def checkpoint_versions(path: str) -> list[int]:
    """Versions that have a parquet checkpoint (single-part or
    multi-part per the protocol's file-name patterns)."""
    return _listing(path)[1]


def readable_versions(path: str) -> list[int]:
    """The versions a snapshot can be built for: a checkpoint, or a JSON
    commit on top of a readable version (version 0 on nothing)."""
    commits, ckpts = _listing(path)
    json_set, ck_set = set(commits), set(ckpts)
    out: list[int] = []
    for v in sorted(json_set | ck_set):
        if v in ck_set or (v in json_set and (v == 0 or (out and out[-1] == v - 1))):
            out.append(v)
    return out


def _read_actions(path: str, version: int) -> list[dict[str, Any]]:
    out = []
    with open(_commit_file(path, version)) as fh:
        for line in fh:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _replay_each(path: str, start: int, stop: int, seed=None) -> Iterator[tuple]:
    """Apply the JSON commits start..stop on top of ``seed`` (a
    checkpoint's (adds, metaData, protocol, txns)), yielding the state
    after each: (version, live add actions by path, metaData, protocol,
    txn versions by app id, that version's commitInfo).  The yielded
    dicts are the replay's own, updated in place by the next commit."""
    adds: dict[str, dict] = dict(seed[0]) if seed else {}
    meta: dict | None = seed[1] if seed else None
    protocol: dict | None = seed[2] if seed else None
    txns: dict[str, int] = dict(seed[3]) if seed else {}
    for v in range(start, stop + 1):
        info: dict = {}
        for a in _read_actions(path, v):
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                adds.pop(a["remove"]["path"], None)
            elif "metaData" in a:
                meta = a["metaData"]
            elif "protocol" in a:
                protocol = a["protocol"]
            elif "txn" in a:
                txns[a["txn"]["appId"]] = int(a["txn"]["version"])
            elif "commitInfo" in a:
                info = a["commitInfo"]
        if meta is None:
            raise InvalidArgument(f"Delta log at {path!r} has no metaData action")
        yield v, adds, meta, protocol or {"minReaderVersion": 1}, txns, info


def _state(
    path: str, version: int | None = None
) -> tuple[int, dict[str, dict], dict, dict, dict[str, int], dict]:
    """The table state at ``version`` (default latest): (version, live
    adds, metaData, protocol, txns, commitInfo).  As Delta readers do,
    the newest parquet checkpoint at or below ``version`` seeds the
    replay when the JSON commits after it reach ``version``; otherwise
    the JSON commits replay from version 0.  A log cleaned past
    ``version`` with no checkpoint to bridge it is refused."""
    commits, ckpts = _listing(path)
    if not commits and not ckpts:
        raise InvalidArgument(f"no Delta log under {path!r}")
    latest = max(commits[-1] if commits else -1, ckpts[-1] if ckpts else -1)
    v = latest if version is None else int(version)
    if v < 0 or v > latest:
        raise InvalidArgument(
            f"Delta version {v} not found at {path!r} (have up to {latest})"
        )
    json_set = set(commits)
    # a gap that the newest checkpoint at or below v cannot bridge, no
    # older one can either
    c = max((c for c in ckpts if c <= v), default=-1)
    if not all(i in json_set for i in range(c + 1, v + 1)):
        raise InvalidArgument(
            f"Delta version {v} at {path!r} is not reachable: the log is "
            "not contiguous from version 0 and no parquet checkpoint "
            "covers the gap (history cleaned up past this version)"
        )
    if c < 0:
        *_, out = _replay_each(path, 0, v)
        return out
    seed = _checkpoint_state(path, c)
    if c < v:
        *_, out = _replay_each(path, c + 1, v, seed)
        return out
    adds, meta, protocol, txns = seed
    info = next(
        (a["commitInfo"] for a in _read_actions(path, v) if "commitInfo" in a), {}
    ) if v in json_set else {}
    return v, adds, meta, protocol or {"minReaderVersion": 1}, txns, info


def _check_readable(protocol: dict[str, Any], meta: dict[str, Any]) -> str | None:
    """Refuse reader features this reader does not implement; returns
    the table's column-mapping mode."""
    mrv = int(protocol.get("minReaderVersion", 1))
    features = set(protocol.get("readerFeatures") or [])
    if not (mrv in (1, 2) or (mrv == 3 and features <= {"deletionVectors", "columnMapping"})):
        raise InvalidArgument(
            f"unsupported Delta reader protocol {protocol}: this jar-free "
            "reader supports minReaderVersion 1, 2 (column mapping mode "
            "'name'), or 3 with the deletionVectors/columnMapping features "
            "only (no v2 checkpoints / timestampNtz)"
        )
    cm_mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
    if cm_mode not in (None, "none", "name", "id"):
        raise InvalidArgument(f"unknown delta.columnMapping.mode {cm_mode!r}")
    return cm_mode


def _physical_type(t: Any, ids: bool) -> Any:
    if isinstance(t, dict):
        if t.get("type") == "struct":
            return {
                "type": "struct",
                "fields": [_physical_field(f, ids) for f in t.get("fields", [])],
            }
        if t.get("type") == "array":
            return {**t, "elementType": _physical_type(t["elementType"], ids)}
        if t.get("type") == "map":
            return {
                **t,
                "keyType": _physical_type(t["keyType"], ids),
                "valueType": _physical_type(t["valueType"], ids),
            }
    return t


def _nested_renames(t: Any) -> list[str]:
    """Nested fields whose columnMapping physicalName DIFFERS from their
    logical name (a no-op physicalName == name is harmless)."""
    out: list[str] = []
    if isinstance(t, dict):
        if t.get("type") == "struct":
            for f in t.get("fields", []):
                pn = (f.get("metadata") or {}).get(_PHYSICAL)
                if pn and pn != f["name"]:
                    out.append(f"{f['name']}->{pn}")
                out.extend(_nested_renames(f["type"]))
        elif t.get("type") == "array":
            out.extend(_nested_renames(t.get("elementType")))
        elif t.get("type") == "map":
            out.extend(_nested_renames(t.get("keyType")))
            out.extend(_nested_renames(t.get("valueType")))
    return out


def _physical_field(f: dict[str, Any], ids: bool) -> dict[str, Any]:
    """One logical schemaString field -> its physical twin (the name the
    parquet files actually carry), columnMapping metadata stripped; with
    ``ids`` (mode 'id'), the ``parquet.field.id`` Spark resolves the
    column by."""
    md = f.get("metadata") or {}
    fid = md.get("delta.columnMapping.id")
    return {
        "name": md.get(_PHYSICAL, f["name"]),
        "type": _physical_type(f["type"], ids),
        "nullable": f.get("nullable", True),
        "metadata": {"parquet.field.id": int(fid)} if ids and fid is not None else {},
    }


def _entry(add: dict[str, Any], pcols: list[str]) -> dict[str, Any]:
    """One live ``add`` as a lakelite manifest entry."""
    rel = urllib.parse.unquote(add["path"])
    seg = rel.split("/")
    pv = add.get("partitionValues") or {}
    entry: dict[str, Any] = {
        "path": rel,
        # lakelite writes each commit under its own data/<commit> dir,
        # the unit vacuum deletes; another engine's file has none
        "commit": "/".join(seg[:2])
        if len(seg) > 2 and seg[0] == "data" and "=" not in seg[1]
        else "",
        "partition_values": {c: pv.get(c) for c in pcols},
    }
    stats = add.get("stats")
    if stats:
        st = json.loads(stats) if isinstance(stats, str) else stats
        if st.get("numRecords") == 0:
            entry["empty"] = True
        mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
        bounds = {c: [mins.get(c), maxs.get(c)] for c in sorted(set(mins) | set(maxs))}
        if bounds:
            entry["stats"] = bounds
    if add.get("deletionVector"):
        entry["dv"] = dict(add["deletionVector"])
    return entry


def snapshot(path: str, version: int | None = None) -> dict[str, Any]:
    """The lakelite manifest of ``version`` (default latest), replayed
    from the log once (:func:`manifest`)."""
    return manifest(path, _state(path, version))


def _commit_mode(info: dict[str, Any]) -> str:
    """The write mode a commit's ``commitInfo`` records (``""`` if none)."""
    return (info.get("operationParameters") or {}).get("mode", "")


def states(path: str) -> Iterator[tuple[dict[str, Any], tuple]]:
    """``(row, state)`` for every readable version, oldest first, in ONE
    pass over the log: each JSON commit is applied to the state of the
    version before it (a version after a gap in the log starts from its
    checkpoint).  ``row`` is the version's history row — ``version``,
    ``mode``, ``num_files`` and the log's (logical) ``partition_cols`` —
    built without a manifest; ``state`` is the replay's own, updated in
    place by the next version, for :func:`manifest`."""

    def replay() -> Iterator[tuple]:
        commits = set(_listing(path)[0])
        versions = readable_versions(path)
        i = 0
        while i < len(versions):
            state = _state(path, versions[i])
            yield state
            j = i + 1
            while (
                j < len(versions) and versions[j] == versions[j - 1] + 1 and versions[j] in commits
            ):
                j += 1
            if j > i + 1:
                yield from _replay_each(path, versions[i] + 1, versions[j - 1], state[1:5])
            i = j

    for state in replay():
        v, adds, meta, _protocol, _txns, info = state
        row = {
            "version": v,
            "mode": _commit_mode(info),
            "num_files": len(adds),
            "partition_cols": list(meta.get("partitionColumns") or []),
        }
        yield row, state


def snapshots(path: str) -> Iterator[dict[str, Any]]:
    """The lakelite manifest of every readable version, oldest first, in
    one pass over the log (:func:`states`)."""
    for _row, state in states(path):
        yield manifest(path, state)


def manifest(path: str, state: tuple) -> dict[str, Any]:
    """Table ``state`` (one of :func:`states`) as a lakelite manifest,
    which copies the state's dicts the replay updates: ``version``,
    ``mode``, ``schema`` (Spark JSON in
    PHYSICAL names: the scan schema), ``partition_cols``, ``files`` (``path``, ``commit``
    — the ``data/<commit>`` dir lakelite wrote the file to, ``""`` for
    another engine's —, ``partition_values`` and, when known, ``stats``,
    ``dv`` and ``empty``), ``stats_cols``, ``txns``, ``log2phys`` (a
    column-mapped table's logical -> physical columns, else empty),
    ``mapping`` (the column-mapping mode) and the raw
    ``meta``/``protocol``/``adds`` the next commit builds on.

    A mode-'name' field without a physical name is refused; a mode-'id'
    field without a field id is refused by the read that would resolve
    it (``lakehouse_shim._scan``), and writes and streams refuse mode
    'id' and nested renames (:func:`refuse_beyond_top_level_names`)."""
    v, adds, meta, protocol, txns, info = state
    cm_mode = _check_readable(protocol, meta)
    fields = json.loads(meta["schemaString"]).get("fields", [])
    log2phys: dict[str, str] = {}
    schema = meta["schemaString"]
    if cm_mode in ("name", "id"):
        for f in fields:
            pn = (f.get("metadata") or {}).get(_PHYSICAL)
            if not pn and cm_mode == "name":
                raise InvalidArgument(
                    f"column-mapped table field {f['name']!r} carries no {_PHYSICAL}"
                )
            log2phys[f["name"]] = pn or f["name"]
        schema = T.StructType.fromJson(
            {"type": "struct", "fields": [_physical_field(f, cm_mode == "id") for f in fields]}
        ).json()
    config = meta.get("configuration") or {}
    pcols = [log2phys.get(c, c) for c in meta.get("partitionColumns") or []]
    return {
        "version": v,
        "mode": _commit_mode(info),
        "schema": schema,
        "partition_cols": pcols,
        "files": [_entry(a, pcols) for a in adds.values()],
        "stats_cols": [
            log2phys.get(c, c) for c in (config.get(_STATS_COLS) or "").split(",") if c
        ],
        "txns": dict(txns),
        "log2phys": log2phys,
        "mapping": cm_mode,
        "meta": meta,
        "protocol": protocol,
        "adds": dict(adds),
    }


def refuse_beyond_top_level_names(man: dict[str, Any], use: str) -> None:
    """Refuse to ``use`` (``"write"``, ``"stream"``) snapshot ``man`` when
    its column mapping is more than a map of top-level names: mode 'id'
    (parquet columns resolve by field id) and NESTED physical renames.
    Lakelite's writers and its streaming source map top-level names
    only; the batch reads (``lakehouse_shim._scan``) resolve both."""
    if man["mapping"] == "id":
        raise InvalidArgument(
            f"cannot {use} column-mapped Delta table (mode 'id'): only mode "
            "'name' is supported (mode 'id' resolves parquet columns by "
            f"field id; lakelite {use}s map names)"
        )
    if man["mapping"] == "name":
        for f in json.loads(man["meta"]["schemaString"]).get("fields", []):
            nested = _nested_renames(f["type"])
            if nested:
                raise InvalidArgument(
                    f"cannot {use} column-mapped table whose field {f['name']!r} "
                    f"renames NESTED fields (e.g. {nested[0]}): lakelite {use}s "
                    "map top-level names only"
                )


def check_writable(man: dict[str, Any]) -> None:
    """Refuse to write a table this engine cannot keep intact for its
    other readers and writers: declared ``delta.invariants``, CHECK
    constraints (``delta.constraints.*``), generated and identity
    columns (none is enforced or filled here), ``delta.enableChangeDataFeed``
    (no ``_change_data`` files are written), ``delta.appendOnly`` (merge
    and delete would break it), writer features beyond deletionVectors
    and name-mode columnMapping, column mapping beyond top-level names
    (:func:`refuse_beyond_top_level_names`), and data files at absolute
    paths.  A writer-7 name-mapped table may
    list the legacy writer-5 features, the set Delta lists when it
    upgrades such a table for deletion vectors; the checks above refuse
    any of them a table actually uses.  ``man`` is a :func:`snapshot`;
    every write into an existing table runs this before it writes a
    data file."""
    meta, protocol = man["meta"], man["protocol"]
    config = meta.get("configuration") or {}
    refuse_beyond_top_level_names(man, "write")
    for f in json.loads(meta["schemaString"]).get("fields", []):
        used = [
            k
            for k in f.get("metadata") or {}
            if k in ("delta.invariants", "delta.generationExpression")
            or k.startswith("delta.identity.")
        ]
        if used:
            raise InvalidArgument(
                f"cannot write table whose column {f['name']!r} carries "
                f"{used[0]}: lakelite writes don't enforce invariants or "
                "fill generated and identity columns"
            )
    constraints = sorted(k for k in config if k.startswith("delta.constraints."))
    if constraints:
        raise InvalidArgument(
            f"cannot write table with CHECK constraint {constraints[0]}: "
            "lakelite writes don't enforce them"
        )
    if str(config.get("delta.enableChangeDataFeed", "")).lower() == "true":
        raise InvalidArgument(
            "cannot write table with delta.enableChangeDataFeed: lakelite "
            "writes don't produce _change_data files"
        )
    if str(config.get("delta.appendOnly", "")).lower() == "true":
        raise InvalidArgument(
            "cannot write delta.appendOnly table: lakelite merge/delete "
            "would violate the table contract"
        )
    mwv = int(protocol.get("minWriterVersion", 1))
    extra = set(protocol.get("writerFeatures") or []) - {"deletionVectors"}
    mapped = bool(man["log2phys"])
    # writer 7 lists its features: none beyond deletionVectors, or on a
    # name-mapped table columnMapping alone or exactly the set a legacy
    # writer-5 table lists once its first DV commit upgrades it (the
    # checks above refuse the features of that set a table uses)
    if not (
        mwv <= 2
        or (mwv == 5 and mapped)
        or (
            mwv == 7
            and (
                not extra
                or (mapped and extra in ({"columnMapping"}, _legacy_writer_features(5)))
            )
        )
    ):
        raise InvalidArgument(
            f"cannot write Delta table with writer protocol {protocol}: "
            "unsupported writer features (only deletionVectors and "
            "name-mode columnMapping are)"
        )
    for e in man["files"]:
        if os.path.isabs(e["path"]):
            raise InvalidArgument(
                f"cannot write table with absolute file path {e['path']!r}"
            )


def _created_here(path: str) -> bool:
    """True when this engine wrote the table's version 0."""
    return os.path.exists(_commit_file(path, 0)) and any(
        (a.get("commitInfo") or {}).get("engineInfo") == _ENGINE
        for a in _read_actions(path, 0)
    )


def convert_from_delta(path: str) -> dict[str, Any]:
    """Check that a FOREIGN Delta table (delta-rs / Delta Spark —
    including deletion-vector-bearing and NAME-column-mapped tables)
    takes lakelite writes, and describe its latest snapshot.  Nothing is
    written: every lakelite write into an existing table runs the same
    refusals (:func:`snapshot`'s column-mapping rules and
    :func:`check_writable`) and continues the table's own log.  Also
    refuses a snapshot that lists a missing data file, and a table this
    engine created (it needs no adoption).

    Returns ``{"delta_version": N, "files": n, "dv_files": m}``."""
    if _created_here(path):
        raise InvalidArgument(f"{path!r} is already a lakelite table")
    man = snapshot(path)
    check_writable(man)
    root = _local(path)
    missing = [
        e["path"] for e in man["files"] if not os.path.exists(os.path.join(root, e["path"]))
    ]
    if missing:
        raise InvalidArgument(
            f"Delta snapshot references missing data file {missing[0]!r}"
        )
    return {
        "delta_version": man["version"],
        "files": len(man["files"]),
        "dv_files": sum(1 for e in man["files"] if e.get("dv")),
    }


def _num_records(abs_file: str) -> int | None:
    """Row count from the parquet footer only (no data pages read)."""
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(abs_file).metadata.num_rows)
    except Exception:
        return None


def _add_action(root: str, entry: dict[str, Any], uri: str) -> dict[str, Any]:
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
        "path": uri,
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


def _remove_action(entry: dict[str, Any], uri: str, ts_ms: int) -> dict[str, Any]:
    remove: dict[str, Any] = {"path": uri, "deletionTimestamp": ts_ms, "dataChange": True}
    if entry.get("dv"):
        # the remove names the LOGICAL file it retires: (path, dv)
        remove["deletionVector"] = dict(entry["dv"])
    return {"remove": remove}


def _metadata(
    base: dict[str, Any] | None, manifest: dict[str, Any], ts_ms: int
) -> dict[str, Any]:
    """The table's ``metaData`` after a commit: the base's own while the
    schema, partition columns and stats columns stay the same, else a
    new one under the same table id.  A name-mapped table keeps its
    logical schemaString and names its partitionColumns logically
    (lakelite runs it on the physical names)."""
    stats_cols = list(manifest.get("stats_cols") or [])
    if base is not None and (
        manifest["schema"], list(manifest["partition_cols"]), stats_cols
    ) == (base["schema"], base["partition_cols"], base["stats_cols"]):
        return base["meta"]
    old = base["meta"] if base else {}
    log2phys = base["log2phys"] if base else {}
    phys2log = {p: l for l, p in log2phys.items()}  # noqa: E741
    config = {k: v for k, v in (old.get("configuration") or {}).items() if k != _STATS_COLS}
    if stats_cols:
        config[_STATS_COLS] = ",".join(phys2log.get(c, c) for c in stats_cols)
    return {
        "id": old.get("id") or str(uuid.uuid4()),
        "format": old.get("format") or {"provider": "parquet", "options": {}},
        # a name-mapped table's columns and types never change
        "schemaString": old["schemaString"] if log2phys else manifest["schema"],
        "partitionColumns": [phys2log.get(c, c) for c in manifest["partition_cols"]],
        "configuration": config,
        "createdTime": old.get("createdTime", ts_ms),
    }


def commit(path: str, manifest: dict[str, Any]) -> None:
    """Commit a lakelite manifest as the Delta commit of its
    ``version``: the actions that turn the snapshot it was built on
    (``manifest["base"]``, replayed here when absent) into it — files
    gone are removed, files new are added, and a file whose deletion
    vector changed is a remove(path, old dv) + add(path, new dv) pair.
    The commit file is created exclusively, so a version another writer
    holds raises ``concurrent write detected`` and the caller rebases.
    Every ``_CHECKPOINT_INTERVAL``-th version also writes a checkpoint
    from the in-memory state; its failure is raised with a note that the
    version itself is committed."""
    v = int(manifest["version"])
    base = manifest.get("base")
    if base is None and v > 0:
        base = snapshot(path, v - 1)
    root = _local(path)
    ts = int(time.time() * 1000)
    mode = manifest.get("mode", "")
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": _OPS.get(mode, "WRITE"),
                "operationParameters": {"mode": mode},
                "engineInfo": _ENGINE,
            }
        }
    ]
    protocol = base["protocol"] if base else {"minReaderVersion": 1, "minWriterVersion": 2}
    if any(e.get("dv") for e in manifest["files"]) and "deletionVectors" not in (
        protocol.get("readerFeatures") or []
    ):
        # the first DV-bearing commit upgrades the protocol in place
        protocol = _dv_upgrade_protocol(protocol if base and base["log2phys"] else None)
    if base is None or protocol is not base["protocol"]:
        actions.append({"protocol": protocol})
    meta = _metadata(base, manifest, ts)
    if base is None or meta is not base["meta"]:
        actions.append({"metaData": meta})
    # a txn stamp only ever advances its app's high-water mark
    txns = dict(base["txns"]) if base else {}
    for app, batch in sorted((manifest.get("txns") or {}).items()):
        if int(batch) > txns.get(app, -1):
            txns[app] = int(batch)
            actions.append({"txn": {"appId": app, "version": int(batch)}})

    prev = {e["path"]: e for e in base["files"]} if base else {}
    cur = {e["path"]: e for e in manifest["files"]}
    # a kept file is named by the exact path string its add carried, so
    # the remove (or re-add) matches the key every replay uses
    raw = {urllib.parse.unquote(p): p for p in base["adds"]} if base else {}

    def uri(p: str) -> str:
        # the protocol wants an RFC 2396 relative URI: the '%' of Spark's
        # partition-dir escapes (k=10%3A00) is itself escaped, so the
        # path decodes back to the file on disk
        return raw.get(p) or urllib.parse.quote(p.replace(os.sep, "/"), safe="/=")

    files: list[dict[str, Any]] = []
    for p in sorted(prev.keys() - cur.keys()):
        files.append(_remove_action(prev[p], uri(p), ts))
    for p in sorted(cur.keys() - prev.keys()):
        files.append(_add_action(root, cur[p], uri(p)))
    for p in sorted(prev.keys() & cur.keys()):
        if (prev[p].get("dv") or None) != (cur[p].get("dv") or None):
            files.append(_remove_action(prev[p], uri(p), ts))
            files.append(_add_action(root, cur[p], uri(p)))

    d = _delta_dir(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{v:020d}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions + files)
    try:
        # a hard link is an atomic create-exclusive: two racing writers
        # cannot both win the version (a rename would clobber the winner)
        os.link(tmp, _commit_file(path, v))
    except FileExistsError:
        raise InvalidArgument(
            f"concurrent write detected: version {v} already committed at {path!r}"
        ) from None
    finally:
        os.unlink(tmp)
    if (v + 1) % _CHECKPOINT_INTERVAL:
        return
    adds = dict(base["adds"]) if base else {}
    for a in files:
        if "remove" in a:
            adds.pop(a["remove"]["path"], None)
        else:
            adds[a["add"]["path"]] = a["add"]
    try:
        _write_checkpoint(path, v, adds, meta, protocol, txns)
    except Exception as exc:
        exc.add_note(f"Delta version {v} is committed at {path!r}; only its checkpoint failed")
        raise


def _write_checkpoint(
    path: str,
    version: int,
    adds: dict[str, dict],
    meta: dict[str, Any],
    protocol: dict[str, Any],
    txns: dict[str, int],
) -> str:
    """Write the parquet CHECKPOINT of one table state plus the
    ``_last_checkpoint`` pointer (unless that names a newer version).
    One row per action, exactly one non-null action column per row; the
    row count is bounded by the live FILE count, never rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

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
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                        ("lastUpdated", pa.int64()),
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
    m = dict(meta)
    m["format"] = dict(m.get("format") or {"provider": "parquet", "options": {}})
    m["format"].setdefault("options", {})
    m["configuration"] = m.get("configuration") or {}
    m["partitionColumns"] = list(m.get("partitionColumns") or [])
    rows: list[dict] = [{"protocol": protocol}, {"metaData": m}]
    rows += [
        {"txn": {"appId": app, "version": batch}} for app, batch in sorted(txns.items())
    ]
    for a in adds.values():
        rows.append(
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": dict(a.get("partitionValues") or {}),
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime"),
                    "dataChange": False,
                    "stats": a.get("stats"),
                    "deletionVector": a.get("deletionVector"),
                }
            }
        )
    d = _delta_dir(path)
    os.makedirs(d, exist_ok=True)
    out = os.path.join(d, f"{version:020d}.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), out)
    pointer = os.path.join(d, "_last_checkpoint")
    if os.path.exists(pointer):
        with open(pointer) as fh:
            if int(json.load(fh)["version"]) > version:
                return out
    with open(pointer, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return out


def write_checkpoint(path: str, version: int | None = None) -> str:
    """Write a protocol-valid parquet CHECKPOINT of the table state at
    ``version`` (default latest) plus the ``_last_checkpoint`` pointer —
    the recovery file real Delta readers use to skip replaying old JSON
    commits (and to keep reading after log cleanup).  It carries the
    live files (with their deletion vectors), the protocol, the
    ``metaData`` with its configuration and every app's ``txn``."""
    v, adds, meta, protocol, txns, _info = _state(path, version)
    return _write_checkpoint(path, v, adds, meta, protocol, txns)


def clean_log(path: str, *, keep_versions: int = 0) -> list[int]:
    """Delta log retention (the metadata side of VACUUM): delete JSON
    commit files fully covered by the newest parquet checkpoint — the
    cleanup real Delta writers run so the log does not grow without
    bound.  Readers recover through the checkpoint (the protocol's
    recovery path, which every replay follows);
    ``keep_versions`` retains that many JSON commits BELOW the
    checkpoint for extra time-travel headroom.  Returns the removed
    versions.  No checkpoint -> nothing is removed (a truncated log
    without a checkpoint would strand readers)."""
    commits, ckpts = _listing(path)
    if not ckpts:
        return []
    cut = ckpts[-1] - int(keep_versions)
    removed = [v for v in commits if v < cut]
    for v in removed:
        os.remove(_commit_file(path, v))
    return removed


def truncate(path: str, keep_versions: int) -> list[dict[str, Any]]:
    """Keep only the newest ``keep_versions`` readable versions of the
    log: write a checkpoint at the oldest kept version, delete every
    JSON commit and checkpoint below it, and return the ``add`` actions
    live at any kept version (the files VACUUM must keep)."""
    if keep_versions < 1:
        raise InvalidArgument("keep_versions must be >= 1")
    kept = readable_versions(path)[-keep_versions:]
    if not kept:
        raise InvalidArgument(f"no Delta log under {path!r}")
    oldest = kept[0]
    _v, adds, meta, protocol, txns, _info = _state(path, oldest)
    _write_checkpoint(path, oldest, adds, meta, protocol, txns)
    live = list(adds.values())
    commits, ckpts = _listing(path)
    for v in kept[1:]:
        if v in commits:
            live += [a["add"] for a in _read_actions(path, v) if "add" in a]
        else:
            live += list(_load_checkpoint(path, v)[0].values())
    for c in ckpts:
        if c < oldest:
            for f in _checkpoint_files(path, c):
                os.remove(f)
    for v in commits:
        if v < oldest:
            os.remove(_commit_file(path, v))
    return live


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
    """(adds, metaData, protocol) of a parquet checkpoint."""
    return _checkpoint_state(path, version)[:3]


def _checkpoint_state(
    path: str, version: int
) -> tuple[dict[str, dict], dict | None, dict | None, dict[str, int]]:
    """Seed (adds, metaData, protocol, txns) from a parquet checkpoint —
    the checkpoint IS the full table state at its version, one action
    per row with exactly one non-null action column; only the four
    action columns a snapshot needs are read.  Driver-side via pyarrow:
    checkpoint row count == file count, the same bounded set every
    Delta client materializes to plan a scan."""
    import pyarrow.parquet as pq

    def present(d: dict) -> dict:  # one action struct minus its null fields
        return {k: v for k, v in d.items() if v is not None}

    adds: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None
    txns: dict[str, int] = {}
    for f in _checkpoint_files(path, version):
        pf = pq.ParquetFile(f)
        names = set(pf.schema_arrow.names)
        tbl = pf.read(columns=[c for c in ("add", "metaData", "protocol", "txn") if c in names])

        def rows(col: str) -> list:
            return [r for r in tbl.column(col).to_pylist() if r] if col in names else []

        for a in rows("add"):
            a = present(a)
            a["partitionValues"] = _mapish(a.get("partitionValues"))
            # a checkpointed file may carry live deletion vectors —
            # dropping them would silently RESURRECT deleted rows
            if a.get("deletionVector"):
                a["deletionVector"] = present(a["deletionVector"])
            adds[a["path"]] = a
        for m in rows("metaData"):
            fmt = m.get("format") or {"provider": "parquet"}
            meta = {
                **present(m),
                "format": {**fmt, "options": _mapish(fmt.get("options"))},
                "partitionColumns": list(m.get("partitionColumns") or []),
                "configuration": _mapish(m.get("configuration")),
            }
        for p in rows("protocol"):
            protocol = present(p)
        for t in rows("txn"):
            txns[t["appId"]] = int(t["version"])
    if meta is None:
        raise InvalidArgument(f"Delta checkpoint {version} at {path!r} has no metaData action")
    return adds, meta, protocol, txns


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


def read_delta_log(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read a Delta table by replaying its transaction log — works on
    tables lakelite writes AND on tables written elsewhere by delta-rs /
    Delta Spark, with reader protocol 1-3.  The newest parquet
    CHECKPOINT at or below the requested version seeds the replay, and
    only the JSON commits after it are applied.  The plan is lakelite's
    one scan builder (``lakehouse_shim._scan``) in logical names: the
    scans take their schema from the ``metaData`` action (physical names
    under column mapping, parquet field ids in mode 'id'), so building
    the read runs no Spark job, and files that predate a column read it
    as null."""
    from aws_sdk_pandas_spark import lakehouse_shim

    df = lakehouse_shim._scan(spark, path, snapshot(path, version), logical=True)
    return df.select(*columns) if columns else df
