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
