"""Delta-protocol log interop for lakelite (jar-free): every lakelite
commit exports a `_delta_log/{v:020d}.json` of protocol-valid actions
(protocol/metaData/add/remove/txn), and `read_deltalake` replays a
Delta log — including a foreign one written by delta-rs — when present.
Reference behavior: awswrangler/s3/_write_deltalake.py:129-133 (writes
the real Delta log via delta-rs), s3/_read_deltalake.py:38."""

from __future__ import annotations

import json
import os
import urllib.parse

import pytest

from aws_sdk_pandas_spark import delta_log, lakehouse, lakehouse_shim as shim
from aws_sdk_pandas_spark.exceptions import InvalidArgument



def _df1(spark, rows, schema):
    # ONE slice — a multi-slice local frame pays one Python-worker round
    # trip per slice per consuming action through coalesce(1) (measured
    # ~150 ms x defaultParallelism); same rows, same order, one file
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _df(spark, rows, schema="k int, part string, v int"):
    # ONE slice: createDataFrame(list) spreads a handful of rows over
    # defaultParallelism Python-RDD slices, and the .coalesce(1) most
    # callers add then pays one sequential Python-worker round trip PER
    # SLICE per action (~5s for 32 slices, measured) — same data, same
    # single output file, ~20x faster per write
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _actions(path, version):
    fname = os.path.join(path, "_delta_log", f"{version:020d}.json")
    assert os.path.exists(fname), f"missing Delta commit {version}"
    out = []
    with open(fname) as fh:
        for line in fh:
            if line.strip():
                out.append(json.loads(line))
    return out


def _live_paths(path, upto):
    """Replay the log like a Delta reader would: add/remove by path."""
    live = set()
    for v in range(upto + 1):
        for a in _actions(path, v):
            if "add" in a:
                live.add(urllib.parse.unquote(a["add"]["path"]))
            elif "remove" in a:
                live.discard(urllib.parse.unquote(a["remove"]["path"]))
    return live


def test_export_action_shapes_and_replay_parity(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(
        _df(spark, [(1, "a", 1), (2, "b", 1)]), p,
        mode="overwrite", partition_cols=["part"],
    )
    lakehouse.to_deltalake(_df(spark, [(3, "a", 2)]), p, mode="append")
    shim.merge(spark, _df(spark, [(2, "b", 9), (4, "c", 1)]), p, keys=["k"])
    shim.delete(spark, _df(spark, [(1, "a", 0)]), p, keys=["k"])

    # v0 carries protocol + metaData per the Delta spec
    a0 = _actions(p, 0)
    kinds0 = [next(iter(a)) for a in a0]
    assert kinds0[0] == "commitInfo"
    proto = next(a["protocol"] for a in a0 if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in a0 if "metaData" in a)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == ["part"]
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    assert set(schema.fieldNames()) == {"k", "part", "v"}
    assert isinstance(meta["id"], str) and len(meta["id"]) >= 32

    # every add: decodable relative path to an existing parquet file,
    # string partitionValues, size/modificationTime/dataChange
    for v in range(4):
        for a in _actions(p, v):
            if "add" not in a:
                continue
            add = a["add"]
            rel = urllib.parse.unquote(add["path"])
            assert not os.path.isabs(rel)
            assert os.path.exists(os.path.join(p, rel))
            assert add["dataChange"] is True
            assert isinstance(add["size"], int) and add["size"] > 0
            assert isinstance(add["modificationTime"], int)
            assert set(add["partitionValues"]) == {"part"}
            if "stats" in add:
                st = json.loads(add["stats"])  # stats is a JSON *string*
                assert isinstance(st.get("numRecords"), int)

    # replaying the Delta log reproduces each lakelite snapshot exactly
    for v in range(4):
        man_files = {e["path"] for e in shim._read_manifest(p, v)["files"]}
        assert _live_paths(p, v) == man_files, f"version {v}"

    # and the replay READER returns the same rows as the lakelite reader
    for v in (0, 1, 2, 3):
        got = sorted(
            tuple(r) for r in delta_log.read_delta_log(
                spark, p, version=v, columns=["k", "part", "v"]
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in shim.read(spark, p, version=v)
            .select("k", "part", "v")
            .collect()
        )
        assert got == want, f"version {v}"
    # partition column type survives the log round-trip (from metaData
    # schemaString, not inference)
    assert dict(delta_log.read_delta_log(spark, p).dtypes)["part"] == "string"


def test_read_deltalake_prefers_delta_log(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1), (2, "b", 1)]), p, mode="overwrite")
    lakehouse.to_deltalake(_df(spark, [(3, "c", 1)]), p, mode="append")
    assert lakehouse.read_deltalake(spark, p).count() == 3
    assert lakehouse.read_deltalake(spark, p, version=0).count() == 2
    assert lakehouse.read_deltalake(spark, p, columns=["k"]).columns == ["k"]


def test_txn_action_and_schema_change_metadata(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 1)]), p, mode="overwrite")
    shim.write(_df(spark, [(2, "b", 2)]), p, txn=("appX", 7))
    a1 = _actions(p, 1)
    txn = next(a["txn"] for a in a1 if "txn" in a)
    assert txn == {"appId": "appX", "version": 7}
    # schema evolution emits a fresh metaData with the SAME table id
    wider = _df1(spark, [(3, "c", 3, "x")], "k int, part string, v int, extra string")
    shim.write(wider, p, schema_mode="merge")
    id0 = next(a["metaData"]["id"] for a in _actions(p, 0) if "metaData" in a)
    m2 = next(a["metaData"] for a in _actions(p, 2) if "metaData" in a)
    assert m2["id"] == id0
    assert "extra" in m2["schemaString"]


def test_foreign_delta_log_roundtrip(spark, tmp_path):
    """A log we didn't write (delta-rs shape): partitioned adds +
    a remove, read through read_deltalake with partition values taken
    from the log, not the directory layout."""
    p = str(tmp_path / "foreign")
    os.makedirs(os.path.join(p, "_delta_log"))
    # data files in a FLAT layout (no hive dirs) — the protocol allows it
    df_a = _df1(spark, [(1, 10), (2, 20)], "k int, v int")
    df_b = _df1(spark, [(3, 30)], "k int, v int")
    df_a.coalesce(1).write.parquet(os.path.join(p, "fa"))
    df_b.coalesce(1).write.parquet(os.path.join(p, "fb"))
    fa = next(f for f in os.listdir(os.path.join(p, "fa")) if f.endswith(".parquet"))
    fb = next(f for f in os.listdir(os.path.join(p, "fb")) if f.endswith(".parquet"))
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "v", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "part", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )

    def _w(version, actions):
        with open(os.path.join(p, "_delta_log", f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    _w(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "abc", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_str, "partitionColumns": ["part"],
                      "configuration": {}}},
        {"add": {"path": f"fa/{fa}", "partitionValues": {"part": "7"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    _w(1, [
        {"add": {"path": f"fb/{fb}", "partitionValues": {"part": "8"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    got = sorted(
        tuple(r) for r in lakehouse.read_deltalake(spark, p).collect()
    )
    assert got == [(1, 10, 7), (2, 20, 7), (3, 30, 8)]
    assert dict(lakehouse.read_deltalake(spark, p).dtypes)["part"] == "int"
    # version 0 time travel sees only the first file
    assert lakehouse.read_deltalake(spark, p, version=0).count() == 2
    # a remove action drops the file from the snapshot
    _w(2, [{"remove": {"path": f"fa/{fa}", "deletionTimestamp": 1, "dataChange": True}}])
    assert [tuple(r) for r in lakehouse.read_deltalake(spark, p).collect()] == [(3, 30, 8)]


def test_unsupported_reader_protocol_refused(spark, tmp_path):
    p = str(tmp_path / "dvtable")
    os.makedirs(os.path.join(p, "_delta_log"))
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                                          "readerFeatures": ["v2Checkpoint"]}}) + "\n")
        fh.write(json.dumps({"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                                          "schemaString": json.dumps({"type": "struct", "fields": []}),
                                          "partitionColumns": [], "configuration": {}}}) + "\n")
    with pytest.raises(InvalidArgument, match="minReaderVersion"):
        lakehouse.read_deltalake(spark, p)
    # a non-contiguous log (checkpointed tail) is refused, not misread
    p2 = str(tmp_path / "gap")
    os.makedirs(os.path.join(p2, "_delta_log"))
    with open(os.path.join(p2, "_delta_log", f"{5:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": {"id": "y", "format": {"provider": "parquet", "options": {}},
                                          "schemaString": json.dumps({"type": "struct", "fields": []}),
                                          "partitionColumns": [], "configuration": {}}}) + "\n")
    with pytest.raises(InvalidArgument, match="contiguous"):
        lakehouse.read_deltalake(spark, p2)


def test_foreign_checkpoint_seeds_replay(spark, tmp_path):
    """A delta-rs-style table whose old JSON commits were cleaned up:
    the parquet checkpoint seeds the state and only the later JSON
    commits replay on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ckpt_table")
    os.makedirs(os.path.join(p, "_delta_log"))
    df_a = _df1(spark, [(1, 10), (2, 20)], "k int, v int")
    df_b = _df1(spark, [(3, 30)], "k int, v int")
    df_a.coalesce(1).write.parquet(os.path.join(p, "fa"))
    df_b.coalesce(1).write.parquet(os.path.join(p, "fb"))
    fa = "fa/" + next(f for f in os.listdir(os.path.join(p, "fa")) if f.endswith(".parquet"))
    fb = "fb/" + next(f for f in os.listdir(os.path.join(p, "fb")) if f.endswith(".parquet"))
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "v", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    # checkpoint at version 1: protocol + metaData + the single live add,
    # with the protocol's map<string,string> partitionValues layout
    ck_schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None,
         "metaData": {"id": "ck", "schemaString": schema_str, "partitionColumns": []},
         "add": None},
        {"protocol": None, "metaData": None,
         "add": {"path": fa, "partitionValues": {}, "size": 1, "dataChange": False}},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=ck_schema),
        os.path.join(p, "_delta_log", f"{1:020d}.checkpoint.parquet"),
    )
    # JSON commit 2 on top of the checkpoint; commits 0-1 were cleaned up
    with open(os.path.join(p, "_delta_log", f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"add": {"path": fb, "partitionValues": {}, "size": 1,
                                     "modificationTime": 0, "dataChange": True}}) + "\n")
    got = sorted(tuple(r) for r in lakehouse.read_deltalake(spark, p).collect())
    assert got == [(1, 10), (2, 20), (3, 30)]
    # time travel to the checkpoint version itself
    assert lakehouse.read_deltalake(spark, p, version=1).count() == 2
    # version 0 predates the checkpoint and its JSON is gone -> honest error
    with pytest.raises(InvalidArgument, match="not reachable|not found"):
        lakehouse.read_deltalake(spark, p, version=0)


# ----------------------------------------------- deletion vectors (protocol 3)


def _z85_encode(data: bytes) -> str:
    """Test-side Z85 encoder (independent of the reader's decoder)."""
    assert len(data) % 4 == 0
    alpha = ("0123456789abcdefghijklmnopqrstuvwxyz"
             "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
    out = []
    for i in range(0, len(data), 4):
        acc = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(alpha[acc % 85])
            acc //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def _roaring_array_bytes(values):
    """Test-side RoaringBitmapArray 'portable' encoder (array containers
    only) built straight from the format spec — independent of the
    reader's decoder."""
    import struct

    assert all(0 <= v < 2**32 for v in values)
    by_key = {}
    for v in sorted(values):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    n = len(by_key)
    body = struct.pack("<I", 12346) + struct.pack("<I", n)
    for k, vals in sorted(by_key.items()):
        body += struct.pack("<HH", k, len(vals) - 1)
    off = len(body) + 4 * n
    offsets = b""
    containers = b""
    for _k, vals in sorted(by_key.items()):
        offsets += struct.pack("<I", off + len(containers))
        containers += struct.pack(f"<{len(vals)}H", *vals)
    bitmap = body + offsets + containers
    return struct.pack("<I", 1681511377) + struct.pack("<q", 1) + bitmap


def test_roaring_decoder_golden_vector():
    """Hand-derived bytes for bitmap {1, 3} straight from the
    RoaringFormatSpec — pins the decoder against the SPEC, not against
    the test encoder."""
    golden = bytes([
        0x3A, 0x30, 0x00, 0x00,  # cookie 12346 LE
        0x01, 0x00, 0x00, 0x00,  # 1 container
        0x00, 0x00, 0x01, 0x00,  # key 0, cardinality-1 = 1
        0x10, 0x00, 0x00, 0x00,  # offset 16
        0x01, 0x00, 0x03, 0x00,  # values 1, 3
    ])
    vals, pos = delta_log._roaring32_decode(golden, 0)
    assert vals == [1, 3] and pos == len(golden)
    # run-container form of {5..8}: cookie 12347, container-count-1 in
    # the high 16 bits (n=1 -> 0), then the run-flag bitset
    import struct
    run = struct.pack("<I", 12347 | (0 << 16)) + b"\x01"  # run flag bit 0 set
    run += struct.pack("<HH", 0, 3)   # key 0, card-1 = 3
    run += struct.pack("<H", 1)       # 1 run
    run += struct.pack("<HH", 5, 3)   # start 5, length-1 = 3 -> 5..8
    vals, _ = delta_log._roaring32_decode(run, 0)
    assert vals == [5, 6, 7, 8]


def test_deletion_vectors_inline_and_file(spark, tmp_path):
    """A protocol-3 deletionVectors table reads correctly: inline ('i')
    and on-disk ('u') vectors drop exactly the marked row indexes."""
    import json
    import struct
    import uuid as _uuid
    import zlib

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _df1(spark, [(i, f"r{i}") for i in range(6)], "k int, name string") \
        .write.parquet(os.path.join(root, "files"))
    rel = "files/" + next(
        f for f in os.listdir(os.path.join(root, "files"))
        if f.endswith(".parquet")
    )
    # which k sits at each row index
    pos_k = {
        r.row_index: r.k
        for r in spark.read.parquet(os.path.join(root, rel))
        .select("k", "_metadata.row_index").collect()
    }

    schema_str = json.dumps({
        "type": "struct", "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "name", "type": "string", "nullable": True, "metadata": {}},
        ],
    })
    # inline DV deleting row indexes 1 and 3
    dv_inline = _roaring_array_bytes([1, 3])
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "tbl-1", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_str, "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        {"add": {"path": rel, "partitionValues": {}, "size": 1, "modificationTime": 0,
                 "dataChange": True,
                 "deletionVector": {"storageType": "i",
                                    "pathOrInlineDv": _z85_encode(dv_inline),
                                    "offset": None,
                                    "sizeInBytes": len(dv_inline),
                                    "cardinality": 2}}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    got = sorted(r.k for r in delta_log.read_delta_log(spark, root).collect())
    assert got == sorted(pos_k[i] for i in (0, 2, 4, 5))

    # version 1: same file, DV moved to a 'u' storage file marking 0,1,2
    dv2 = _roaring_array_bytes([0, 1, 2])
    u = _uuid.uuid4()
    blob = b"\x01" + struct.pack(">i", len(dv2)) + dv2 + struct.pack(
        ">I", zlib.crc32(dv2) & 0xFFFFFFFF
    )
    with open(os.path.join(root, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(blob)
    actions2 = [
        {"commitInfo": {"timestamp": 1, "operation": "DELETE"}},
        {"add": {"path": rel, "partitionValues": {}, "size": 1, "modificationTime": 1,
                 "dataChange": True,
                 "deletionVector": {"storageType": "u",
                                    "pathOrInlineDv": _z85_encode(u.bytes),
                                    "offset": 1,
                                    "sizeInBytes": len(dv2),
                                    "cardinality": 3}}},
    ]
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as fh:
        for a in actions2:
            fh.write(json.dumps(a) + "\n")
    got2 = sorted(r.k for r in delta_log.read_delta_log(spark, root).collect())
    assert got2 == sorted(pos_k[i] for i in (3, 4, 5))
    # time travel to version 0 re-applies the OLD vector
    got0 = sorted(r.k for r in delta_log.read_delta_log(spark, root, version=0).collect())
    assert got0 == sorted(pos_k[i] for i in (0, 2, 4, 5))

    # reader features beyond deletionVectors/columnMapping stay refused
    with open(os.path.join(root, "_delta_log", f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "timestampNtz"]}}) + "\n")
    with pytest.raises(InvalidArgument, match="unsupported Delta reader protocol"):
        delta_log.read_delta_log(spark, root)


def test_checkpoint_write_and_recovery(spark, tmp_path):
    """11 commits auto-checkpoint at version 9 (every 10th, real Delta's
    cadence) with a _last_checkpoint pointer; deleting the JSON commits
    the checkpoint covers still reads every version >= 9."""
    import json

    p = str(tmp_path / "t")
    for i in range(11):
        shim.write(_df(spark, [(i, f"r{i}", 1)]).coalesce(1), p,
                   mode="overwrite" if i == 0 else "append")
    ck = os.path.join(p, "_delta_log", f"{9:020d}.checkpoint.parquet")
    assert os.path.exists(ck)
    with open(os.path.join(p, "_delta_log", "_last_checkpoint")) as fh:
        lc = json.load(fh)
    assert lc["version"] == 9
    # cleanup: drop JSON commits 0..9 (the checkpoint subsumes them)
    for i in range(10):
        os.unlink(os.path.join(p, "_delta_log", f"{i:020d}.json"))
    assert delta_log.read_delta_log(spark, p).count() == 11
    assert delta_log.read_delta_log(spark, p, version=9).count() == 10
    with pytest.raises(InvalidArgument, match="not reachable|not found"):
        delta_log.read_delta_log(spark, p, version=5)


def test_checkpoint_carries_deletion_vectors(spark, tmp_path):
    """A checkpoint of a DV table must keep the vectors: dropping them
    would silently resurrect deleted rows after log cleanup."""
    import json
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _df1(spark, [(i, f"r{i}") for i in range(4)], "k int, name string").write.parquet(os.path.join(root, "files"))
    rel = "files/" + next(
        f for f in os.listdir(os.path.join(root, "files"))
        if f.endswith(".parquet")
    )
    dv = _roaring_array_bytes([0, 2])
    schema_str = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "name", "type": "string", "nullable": True, "metadata": {}},
    ]})
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"metaData": {"id": "t2", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_str, "partitionColumns": [],
                          "configuration": {}, "createdTime": 0}},
            {"add": {"path": rel, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "deletionVector": {"storageType": "i",
                                        "pathOrInlineDv": _z85_encode(dv),
                                        "sizeInBytes": len(dv),
                                        "cardinality": 2}}},
        ]:
            fh.write(json.dumps(a) + "\n")
    before = sorted(r.k for r in delta_log.read_delta_log(spark, root).collect())
    delta_log.write_checkpoint(root)
    os.unlink(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    # force a trailing JSON so the version is still discoverable
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    after = sorted(r.k for r in delta_log.read_delta_log(spark, root).collect())
    assert before == after and len(after) == 2


def test_column_mapping_name_mode(spark, tmp_path):
    """Reader protocol 2 / columnMapping mode 'name': data files store
    PHYSICAL column names (col-<uuid>); the logical schema and the
    logical->physical map come from schemaString field metadata, and
    partitionValues are keyed by physical name."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    # physical-named files, flat layout, partition column NOT in files
    _df1(spark, [(1, "x"), (2, "y")], "`col-aaa` int, `col-bbb` string").write.parquet(os.path.join(root, "fa"))
    fa = "fa/" + next(
        f for f in os.listdir(os.path.join(root, "fa")) if f.endswith(".parquet")
    )
    schema_str = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
        {"name": "part", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-ccc"}},
    ]})
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "cm-1", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_str, "partitionColumns": ["part"],
                          "configuration": {"delta.columnMapping.mode": "name"},
                          "createdTime": 0}},
            {"add": {"path": fa, "partitionValues": {"col-ccc": "p1"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ]:
            fh.write(json.dumps(a) + "\n")
    got = sorted(tuple(r) for r in delta_log.read_delta_log(spark, root).collect())
    assert got == [(1, "x", "p1"), (2, "y", "p1")]
    assert delta_log.read_delta_log(spark, root).columns == ["k", "name", "part"]


def test_column_mapping_id_mode(spark, tmp_path):
    """columnMapping mode 'id': data columns resolve by PARQUET FIELD ID
    (arbitrary physical names in the files), via Spark's native field-id
    matching — the schemaString's delta.columnMapping.id drives it."""
    from pyspark.sql import types as T

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    ws = T.StructType([
        T.StructField("xyz-1", T.IntegerType(), True, {"parquet.field.id": 7}),
        T.StructField("xyz-2", T.StringType(), True, {"parquet.field.id": 9}),
    ])
    _df1(spark, [(1, "x"), (2, "y")], ws) \
        .write.parquet(os.path.join(root, "fa"))
    fa = "fa/" + next(
        f for f in os.listdir(os.path.join(root, "fa")) if f.endswith(".parquet")
    )
    schema_str = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True,
         "metadata": {"delta.columnMapping.id": 7,
                      "delta.columnMapping.physicalName": "xyz-1"}},
        {"name": "name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 9,
                      "delta.columnMapping.physicalName": "xyz-2"}},
    ]})
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "cm-2", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_str, "partitionColumns": [],
                          "configuration": {"delta.columnMapping.mode": "id"},
                          "createdTime": 0}},
            {"add": {"path": fa, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ]:
            fh.write(json.dumps(a) + "\n")
    got = delta_log.read_delta_log(spark, root)
    assert got.columns == ["k", "name"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "x"), (2, "y")]
    # missing columnMapping.id metadata refuses loudly
    bad_schema = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}}]})
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": {
            "id": "cm-2", "format": {"provider": "parquet", "options": {}},
            "schemaString": bad_schema, "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
            "createdTime": 0}}) + "\n")
    with pytest.raises(InvalidArgument, match="no delta.columnMapping.id"):
        delta_log.read_delta_log(spark, root)
