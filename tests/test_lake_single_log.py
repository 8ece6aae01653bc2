"""`_delta_log/` is lakelite's only commit log: a commit another engine
made is part of every lakelite snapshot, a foreign Delta table takes
lakelite writes in place, sidecar failures are raised after the commit
they follow, checkpoints keep txn stamps and table properties, and
vacuum truncates the log with the data."""

from __future__ import annotations

import json
import os

import pytest

from aws_sdk_pandas_spark import delta_log as dl
from aws_sdk_pandas_spark import iceberg_meta, lakehouse
from aws_sdk_pandas_spark import lakehouse_shim as shim
from aws_sdk_pandas_spark.exceptions import InvalidArgument


def _df(spark, ks):
    # one slice: one data file per write
    return spark.createDataFrame(
        spark.sparkContext.parallelize([(int(k),) for k in ks], 1), "k bigint"
    )


def _both(spark, p):
    """Sorted k from the Delta reader and from the lakelite reader."""
    delta = sorted(r.k for r in lakehouse.read_deltalake(spark, p).collect())
    lake = sorted(r.k for r in shim.read(spark, p).collect())
    return delta, lake


def _foreign_file(p, name, ks):
    """A parquet file another engine wrote (pyarrow), relative to ``p``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(p, exist_ok=True)
    pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}), os.path.join(p, name))
    return {
        "add": {
            "path": name,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(p, name)),
            "modificationTime": 0,
            "dataChange": True,
            "stats": json.dumps({"numRecords": len(ks)}),
        }
    }


def _foreign_commit(p, version, actions):
    os.makedirs(os.path.join(p, "_delta_log"), exist_ok=True)
    info = {"commitInfo": {"timestamp": 0, "operation": "WRITE", "engineInfo": "other"}}
    with open(os.path.join(p, "_delta_log", f"{version:020d}.json"), "w") as fh:
        for a in [info] + actions:
            fh.write(json.dumps(a) + "\n")


def _foreign_table(p, ks, configuration=None):
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    _foreign_commit(p, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "foreign", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": configuration or {}}},
        _foreign_file(p, "part-00000.parquet", ks),
    ])


def test_append_after_a_foreign_commit_sees_it(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [1]), p, mode="overwrite")
    _foreign_commit(p, 1, [_foreign_file(p, "foreign-00001.parquet", [2])])
    lakehouse.to_deltalake(_df(spark, [3]), p, mode="append")
    assert dl.delta_versions(p) == [0, 1, 2]
    assert _both(spark, p) == ([1, 2, 3], [1, 2, 3])
    # the append is one add on top of the foreign commit, nothing removed
    acts = dl._read_actions(p, 2)
    assert not any("remove" in a for a in acts)
    assert len([a for a in acts if "add" in a]) == 1


def test_append_into_a_foreign_table_continues_its_log(spark, tmp_path):
    p = str(tmp_path / "t")
    _foreign_table(p, [1])
    lakehouse.to_deltalake(_df(spark, [2]), p, mode="append")
    assert dl.delta_versions(p) == [0, 1]
    assert _both(spark, p) == ([1, 2], [1, 2])


def test_write_into_an_unwritable_foreign_table_raises_before_writing(spark, tmp_path):
    p = str(tmp_path / "t")
    _foreign_table(p, [1], configuration={"delta.appendOnly": "true"})
    before = sorted(os.listdir(p))
    with pytest.raises(InvalidArgument, match="appendOnly"):
        lakehouse.to_deltalake(_df(spark, [2]), p, mode="append")
    with pytest.raises(InvalidArgument, match="appendOnly"):
        shim.merge(spark, _df(spark, [2]), p, ["k"])
    assert sorted(os.listdir(p)) == before  # no data dir, no commit
    assert dl.delta_versions(p) == [0]


def test_iceberg_export_failure_is_raised_after_the_commit(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [1]), p, mode="overwrite")
    lakehouse.convert_to_iceberg(p)

    def down(path, manifest):
        raise RuntimeError("iceberg export down")

    monkeypatch.setattr(iceberg_meta, "export_snapshot", down)
    with pytest.raises(RuntimeError, match="iceberg export down") as err:
        shim.write(_df(spark, [2]), p)
    assert any("Delta version 1 is committed" in n for n in err.value.__notes__)
    assert _both(spark, p) == ([1, 2], [1, 2])
    monkeypatch.undo()
    # the next commit backfills the missing snapshot
    shim.write(_df(spark, [3]), p)
    assert iceberg_meta.iceberg_versions(p) == [0, 1, 2]
    got = sorted(r.k for r in iceberg_meta.read_iceberg_meta(spark, p).collect())
    assert got == [1, 2, 3]


def test_checkpoint_failure_is_raised_after_the_commit(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    for i in range(9):
        shim.write(_df(spark, [i]), p, mode="overwrite" if i == 0 else "append")

    def down(*args):
        raise OSError("checkpoint storage down")

    monkeypatch.setattr(dl, "_write_checkpoint", down)
    with pytest.raises(OSError, match="checkpoint storage down") as err:
        shim.write(_df(spark, [9]), p)
    assert any("Delta version 9 is committed" in n for n in err.value.__notes__)
    assert dl.checkpoint_versions(p) == []
    assert _both(spark, p) == (list(range(10)), list(range(10)))


def test_checkpoint_keeps_txn_stamps_and_stats_cols(spark, tmp_path):
    p = str(tmp_path / "t")
    base = spark.range(0, 100).selectExpr("id AS k").repartitionByRange(4, "k")
    assert shim.write(base, p, mode="overwrite", txn=("app", 5), stats_cols=["k"])
    for i in range(11):
        shim.write(_df(spark, [1000 + i]), p)
    assert dl.checkpoint_versions(p) == [9]
    assert dl.clean_log(p) == list(range(9))
    assert shim.txn_version(p, "app") == 5
    assert shim.write(_df(spark, [7]), p, txn=("app", 5)) is False
    assert shim._read_manifest(p)["stats_cols"] == ["k"]
    kept, total = shim.files_scanned(p, [("k", "<", 10)])
    assert total == 15 and kept == 1
    got = shim.read(spark, p, predicates=[("k", "<", 10)])
    assert sorted(r.k for r in got.collect()) == list(range(10))


def test_vacuum_truncates_the_delta_log(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [1]), p, mode="overwrite")
    shim.write(_df(spark, [2]), p, mode="overwrite")
    shim.write(_df(spark, [3]), p)
    shim.delete(spark, _df(spark, [2]), p, ["k"], use_deletion_vectors=True)
    removed = shim.vacuum(p, keep_versions=2)
    assert len(removed) == 1  # v0's commit dir: no kept version lists it
    assert dl.checkpoint_versions(p) == [2]
    assert dl.delta_versions(p) == [2, 3]
    assert shim._versions(p) == [2, 3]
    for v, want in ((2, [2, 3]), (3, [3])):
        assert sorted(r.k for r in lakehouse.read_deltalake(spark, p, version=v).collect()) == want
        assert sorted(r.k for r in shim.read(spark, p, version=v).collect()) == want
    with pytest.raises(InvalidArgument, match="not reachable"):
        lakehouse.read_deltalake(spark, p, version=1)
    shim.write(_df(spark, [4]), p)
    assert _both(spark, p) == ([3, 4], [3, 4])


def test_no_public_call_creates_a_private_log(spark, tmp_path):
    p = str(tmp_path / "t")
    steps = [
        lambda: lakehouse.to_deltalake(
            spark.range(0, 40, 1, 4).selectExpr("id AS k", "id % 3 AS v"), p, mode="overwrite"
        ),
        lambda: shim.merge(spark, spark.createDataFrame([(1, 9)], "k bigint, v bigint"), p, ["k"]),
        lambda: shim.merge(
            spark, spark.createDataFrame([(2, 9)], "k bigint, v bigint"), p, ["k"],
            use_deletion_vectors=True,
        ),
        lambda: shim.delete(spark, _df(spark, [3]), p, ["k"]),
        lambda: shim.delete(spark, _df(spark, [4]), p, ["k"], use_deletion_vectors=True),
        lambda: shim.compact(spark, p),
        lambda: shim.vacuum(p, keep_versions=1),
    ]
    for step in steps:
        step()
        assert set(os.listdir(p)) <= {"_delta_log", "data", "_dv"}, os.listdir(p)
    assert _both(spark, p)[0] == [k for k in range(40) if k not in (3, 4)]


def test_partition_values_spark_escapes_in_dir_names(spark, tmp_path):
    # Spark escapes ':', '%', '#' ... in partition dir names (k=10%3A00);
    # the log must name those files as URIs that decode back to them
    p = str(tmp_path / "t")
    schema = "k bigint, v bigint, ts string"
    rows = [(1, 0, "10:00"), (2, 0, "a%b"), (3, 0, "c#d")]
    lakehouse.to_deltalake(
        spark.createDataFrame(rows, schema), p, mode="overwrite", partition_cols=["ts"]
    )
    lakehouse.to_deltalake(spark.createDataFrame([(4, 0, "10:00")], schema), p, mode="append")
    shim.merge(spark, spark.createDataFrame([(1, 1, "10:00")], schema), p, ["k"])
    shim.merge(
        spark, spark.createDataFrame([(2, 1, "a%b")], schema), p, ["k"],
        use_deletion_vectors=True,
    )
    shim.delete(spark, _df(spark, [4]), p, ["k"], use_deletion_vectors=True)
    want = [(1, 1, "10:00"), (2, 1, "a%b"), (3, 0, "c#d")]
    for df in (lakehouse.read_deltalake(spark, p), shim.read(spark, p)):
        assert sorted(tuple(r) for r in df.select("k", "v", "ts").collect()) == want
    shim.compact(spark, p)
    assert sorted(tuple(r) for r in shim.read(spark, p).select("k", "v", "ts").collect()) == want
    # every add names an existing file once decoded
    for a in dl._state(p)[1].values():
        assert os.path.exists(os.path.join(p, dl.urllib.parse.unquote(a["path"])))


def _mapped_table(p, configuration=None, field_metadata=None):
    """A name-mapped writer-7 table whose writer features are the legacy
    writer-5 set plus deletionVectors (what Delta lists when it enables
    deletion vectors on a legacy name-mapped table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(p)
    pq.write_table(pa.table({"col-k": pa.array([1], pa.int64())}), os.path.join(p, "f0.parquet"))
    md = {"delta.columnMapping.id": 1, "delta.columnMapping.physicalName": "col-k"}
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {**md, **(field_metadata or {})}}]}
    writer = sorted(dl._legacy_writer_features(5) | {"deletionVectors"})
    _foreign_commit(p, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping", "deletionVectors"],
                      "writerFeatures": writer}},
        {"metaData": {"id": "mapped", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "name",
                                        "delta.columnMapping.maxColumnId": "1",
                                        **(configuration or {})}}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "dataChange": True,
                 "size": os.path.getsize(os.path.join(p, "f0.parquet")),
                 "modificationTime": 0}},
    ])


@pytest.mark.parametrize(
    "configuration, field_metadata, match",
    [
        ({"delta.constraints.positive": "k > 0"}, None, "CHECK constraint"),
        (None, {"delta.generationExpression": "1"}, "generationExpression"),
        (None, {"delta.identity.start": 1, "delta.identity.step": 1}, "delta.identity"),
    ],
)
def test_enforced_column_rules_refuse_writes(
    spark, tmp_path, configuration, field_metadata, match
):
    p = str(tmp_path / "t")
    _mapped_table(p, configuration, field_metadata)
    before = sorted(os.listdir(p))
    with pytest.raises(InvalidArgument, match=match):
        lakehouse.to_deltalake(_df(spark, [-1]), p, mode="append")
    with pytest.raises(InvalidArgument, match=match):
        shim.merge(spark, _df(spark, [-1]), p, ["k"], use_deletion_vectors=True)
    with pytest.raises(InvalidArgument, match=match):
        dl.convert_from_delta(p)
    assert sorted(os.listdir(p)) == before
    # the same table without the rule takes the write
    q = str(tmp_path / "plain")
    _mapped_table(q)
    lakehouse.to_deltalake(_df(spark, [2]), q, mode="append")
    assert _both(spark, q) == ([1, 2], [1, 2])


def test_history_is_one_pass_that_matches_each_snapshot(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [0]), p, mode="overwrite", txn=("app", 0))
    for i in range(1, 12):
        shim.write(_df(spark, [i]), p, txn=("app", i))
    shim.delete(spark, _df(spark, [3]), p, ["k"], use_deletion_vectors=True)
    shim.write(_df(spark, [99]), p, mode="overwrite")

    def view(m):
        files = sorted((e["path"], json.dumps(e.get("dv"), sort_keys=True)) for e in m["files"])
        return m["version"], m["mode"], files, m["txns"], m["schema"]

    for cleaned in (False, True):
        if cleaned:
            assert dl.clean_log(p) == list(range(9))
        got = [view(m) for m in dl.snapshots(p)]
        assert got == [view(dl.snapshot(p, v)) for v in shim._versions(p)]
        assert [h["version"] for h in shim.history(p)] == shim._versions(p)
    assert [h["mode"] for h in shim.history(p)][-3:] == ["append", "delete", "overwrite"]
    assert [h["num_files"] for h in shim.history(p)][-3:] == [12, 12, 1]


def _md(fid, phys):
    return {"delta.columnMapping.id": fid, "delta.columnMapping.physicalName": phys}


def _nested_table(p, mode="name"):
    """A column-mapped table (``mode``) whose struct, array<struct> and
    map<string, struct> columns rename their inner fields.  Rows (k, s,
    a, m): (1, {inner: 10}, [{x: 20}, {x: 21}], {p: {y: 30}}) and
    (2, null, [], null)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(p)
    pq.write_table(pa.table({
        "col-k": pa.array([1, 2], pa.int64()),
        "col-s": pa.array([{"col-c": 10}, None], pa.struct([("col-c", pa.int32())])),
        "col-a": pa.array([[{"col-d": 20}, {"col-d": 21}], []],
                          pa.list_(pa.struct([("col-d", pa.int32())]))),
        "col-m": pa.array([[("p", {"col-e": 30})], None],
                          pa.map_(pa.string(), pa.struct([("col-e", pa.int32())]))),
    }), os.path.join(p, "f0.parquet"))

    def struct(name, fid, phys):
        return {"type": "struct", "fields": [
            {"name": name, "type": "integer", "nullable": True, "metadata": _md(fid, phys)}]}

    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": _md(1, "col-k")},
        {"name": "s", "type": struct("inner", 3, "col-c"), "nullable": True,
         "metadata": _md(2, "col-s")},
        {"name": "a", "nullable": True, "metadata": _md(4, "col-a"),
         "type": {"type": "array", "elementType": struct("x", 5, "col-d"),
                  "containsNull": True}},
        {"name": "m", "nullable": True, "metadata": _md(6, "col-m"),
         "type": {"type": "map", "keyType": "string", "valueType": struct("y", 7, "col-e"),
                  "valueContainsNull": True}},
    ]}
    _foreign_commit(p, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "nested", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": mode}}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "dataChange": True,
                 "size": os.path.getsize(os.path.join(p, "f0.parquet")),
                 "modificationTime": 0}},
    ])


def test_nested_renames_read_logical_names(spark, tmp_path):
    # a name-mapped table whose struct, array<struct> and map<string,
    # struct> columns rename their inner fields: both readers return the
    # logical names at every level, and writes stay refused
    p = str(tmp_path / "t")
    _nested_table(p)
    for df in (lakehouse.read_deltalake(spark, p), shim.read(spark, p)):
        assert df.schema.simpleString() == (
            "struct<k:bigint,s:struct<inner:int>,a:array<struct<x:int>>,"
            "m:map<string,struct<y:int>>>"
        )
        rows = {r.k: r for r in df.collect()}
        assert rows[1].s.inner == 10 and [e.x for e in rows[1].a] == [20, 21]
        assert rows[1].m["p"].y == 30
        assert (rows[2].s, rows[2].a, rows[2].m) == (None, [], None)
    assert shim.read(spark, p, columns=["s"]).first().s.inner == 10
    with pytest.raises(InvalidArgument, match="NESTED"):
        lakehouse.to_deltalake(spark.range(1).selectExpr("id AS k"), p, mode="append")


def test_stream_source_refuses_nested_renames_and_id_mode(spark, tmp_path):
    # the streaming source resolves parquet columns by name and renames
    # top-level columns only, so it refuses the tables it would misread
    from aws_sdk_pandas_spark.streaming.lakelite_source import LakeliteStreamDataSource

    spark.dataSource.register(LakeliteStreamDataSource)
    for mode, match in (("name", "NESTED"), ("id", "only mode 'name'")):
        p = str(tmp_path / mode)
        _nested_table(p, mode)
        with pytest.raises(InvalidArgument, match=match):
            LakeliteStreamDataSource({"path": p}).schema()
        with pytest.raises(Exception, match=match):
            spark.readStream.format("lakelite_stream").option("path", p).load()


def _flat_table(spark, p):
    """A partitioned foreign table in a flat layout: the files sit under
    dirs that name no partition column, so ``part`` lives only in the
    log.  Rows (k, v, part): (1, 10, '7'), (4, 40, '7'), (5, 50, '9')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    adds = []
    for sub, ks, part in (("flat0", [1, 4], "7"), ("flat1", [5], "9")):
        os.makedirs(os.path.join(p, sub))
        name = f"{sub}/f.parquet"
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int32()), "v": pa.array([10 * k for k in ks], pa.int32())}),
            os.path.join(p, name),
        )
        adds.append({"add": {"path": name, "partitionValues": {"part": part}, "dataChange": True,
                             "size": os.path.getsize(os.path.join(p, name)),
                             "modificationTime": 0,
                             "stats": json.dumps({"numRecords": len(ks)})}})
    schema = {"type": "struct", "fields": [
        {"name": c, "type": t, "nullable": True, "metadata": {}}
        for c, t in (("k", "integer"), ("v", "integer"), ("part", "string"))]}
    _foreign_commit(p, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "flat", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": ["part"],
                      "configuration": {}}},
        *adds,
    ])


def test_flat_layout_partitioned_foreign_table_takes_writes(spark, tmp_path):
    p = str(tmp_path / "t")
    _flat_table(spark, p)
    schema = "k int, v int, part string"
    model = {1: (10, "7"), 4: (40, "7"), 5: (50, "9")}

    def check():
        want = sorted((k, v, part) for k, (v, part) in model.items())
        for df in (lakehouse.read_deltalake(spark, p), shim.read(spark, p)):
            assert df.columns == ["k", "v", "part"]
            assert sorted(tuple(r) for r in df.collect()) == want

    check()
    lakehouse.to_deltalake(spark.createDataFrame([(2, 20, "8")], schema), p, mode="append")
    model[2] = (20, "8")
    check()
    # a deletion vector on a flat-layout file
    shim.delete(spark, _df(spark, [4]), p, ["k"], use_deletion_vectors=True)
    del model[4]
    check()
    # copy-on-write rewrites that file (its DV applied) in a hive layout
    shim.merge(spark, spark.createDataFrame([(1, 11, "7"), (3, 30, "7")], schema), p, ["k"])
    model.update({1: (11, "7"), 3: (30, "7")})
    check()
    assert any(e["path"].startswith("flat1/") for e in dl.snapshot(p)["files"])
    shim.compact(spark, p)
    check()
    assert not any(e["path"].startswith("flat") for e in dl.snapshot(p)["files"])


def _file_scans(df):
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")


def test_read_plan_shape(spark, tmp_path):
    # a partitioned lakelite table: one scan per commit dir, however many
    # partitions each holds
    p = str(tmp_path / "days")
    rows = spark.range(0, 40).selectExpr("id AS k", "CAST(id % 4 AS STRING) AS day")
    lakehouse.to_deltalake(rows, p, mode="overwrite", partition_cols=["day"])
    lakehouse.to_deltalake(rows, p, mode="append")
    assert len({e["commit"] for e in dl.snapshot(p)["files"]}) == 2
    for df in (lakehouse.read_deltalake(spark, p), shim.read(spark, p)):
        assert _file_scans(df) == 2
        assert df.count() == 80
    # an unpartitioned table: one scan, whatever the commit count
    q = str(tmp_path / "flat")
    lakehouse.to_deltalake(_df(spark, [0]), q, mode="overwrite")
    for i in (1, 2):
        lakehouse.to_deltalake(_df(spark, [i]), q, mode="append")
    for df in (lakehouse.read_deltalake(spark, q), shim.read(spark, q)):
        assert _file_scans(df) == 1
        assert sorted(r.k for r in df.collect()) == [0, 1, 2]
    # a flat-layout partitioned table: one scan per partition tuple
    r = str(tmp_path / "foreign")
    _flat_table(spark, r)
    for df in (lakehouse.read_deltalake(spark, r), shim.read(spark, r)):
        assert _file_scans(df) == 2
    lakehouse.to_deltalake(spark.createDataFrame([(6, 60, "7")], "k int, v int, part string"), r)
    for df in (lakehouse.read_deltalake(spark, r), shim.read(spark, r)):
        assert _file_scans(df) == 3  # flat '7', flat '9', the lakelite commit dir
        assert df.count() == 4


def test_scans_stay_within_the_listing_threshold(spark, tmp_path):
    # Spark lists more than parallelPartitionDiscovery.threshold paths
    # with a Spark job, so one commit of threshold + 1 files is scanned
    # in two scans and building either read runs no job
    from tests.test_lakehouse_lakelite import _jobs

    n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")) + 1
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(spark.range(0, n, numPartitions=n).selectExpr("id AS k"), p)
    assert len(dl.snapshot(p)["files"]) == n
    for name, build in (("delta", lambda: lakehouse.read_deltalake(spark, p)),
                        ("lakelite", lambda: shim.read(spark, p))):
        df, jobs = _jobs(spark, f"build-{name}-{os.getpid()}-{id(tmp_path)}", build)
        assert jobs == 0, name
        assert _file_scans(df) == 2
        assert sorted(r.k for r in df.collect()) == list(range(n))
