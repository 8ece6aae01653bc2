"""Executable lakehouse semantics via the lakelite shim (no delta/iceberg
jars in this env): append/overwrite/ignore/error modes, time travel,
schema enforcement + evolution, dynamic partition overwrite, MERGE with
file-level copy-on-write (untouched files carried by reference —
asserted, not assumed), insert-only merge fast path, precombine,
DELETE-by-key, compact and vacuum.  These are the same contracts the
native paths run when jars are present (reference:
awswrangler/s3/_write_deltalake.py:51, s3/_read_deltalake.py:38,
athena/_write_iceberg.py:297-420,715)."""

from __future__ import annotations

import json
import os

import pytest

from aws_sdk_pandas_spark import lakehouse, lakehouse_shim as shim
from aws_sdk_pandas_spark.exceptions import InvalidArgument


def _df(spark, rows, schema="k int, name string, ver int"):
    return spark.createDataFrame(rows, schema)


def test_modes_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1), (2, "b", 1)]), p, mode="overwrite")
    lakehouse.to_deltalake(_df(spark, [(3, "c", 1)]), p, mode="append")

    assert lakehouse.read_deltalake(spark, p).count() == 3
    # time travel: version 0 predates the append
    assert lakehouse.read_deltalake(spark, p, version=0).count() == 2
    assert lakehouse.read_deltalake(spark, p, columns=["k"]).columns == ["k"]

    with pytest.raises(InvalidArgument, match="already exists"):
        lakehouse.to_deltalake(_df(spark, [(9, "z", 1)]), p, mode="error")
    lakehouse.to_deltalake(_df(spark, [(9, "z", 1)]), p, mode="ignore")  # no-op
    assert lakehouse.read_deltalake(spark, p).count() == 3

    lakehouse.to_deltalake(_df(spark, [(9, "z", 1)]), p, mode="overwrite")
    assert lakehouse.read_deltalake(spark, p).count() == 1
    # history records every committed version
    assert [h["version"] for h in shim.history(p)] == [0, 1, 2]

    with pytest.raises(InvalidArgument, match="version 7 not found"):
        lakehouse.read_deltalake(spark, p, version=7)


def test_require_native_still_raises(spark, tmp_path):
    with pytest.raises(InvalidArgument, match="delta-spark"):
        lakehouse.to_deltalake(
            _df(spark, [(1, "a", 1)]), str(tmp_path / "n"), require_native=True
        )
    with pytest.raises(InvalidArgument, match="iceberg"):
        lakehouse.read_iceberg(spark, "db.t", require_native=True)


def test_schema_enforcement_and_merge(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1)]), p, mode="overwrite")
    widened = spark.createDataFrame([(2, "b", 1, 9.5)], "k int, name string, ver int, score double")
    with pytest.raises(InvalidArgument, match="schema change rejected"):
        lakehouse.to_deltalake(widened, p, mode="append")
    lakehouse.to_deltalake(widened, p, mode="append", schema_mode="merge")
    got = lakehouse.read_deltalake(spark, p)
    assert set(got.columns) == {"k", "name", "ver", "score"}
    # old file read with null in the new column
    assert got.where("k = 1").first().score is None
    assert got.where("k = 2").first().score == 9.5


def _both_readers(spark, p):
    """(dtypes, sorted rows) from the lakelite manifest reader and from
    the Delta-log reader behind read_deltalake, columns in one order."""
    from aws_sdk_pandas_spark import delta_log

    out = []
    for df in (shim.read(spark, p), delta_log.read_delta_log(spark, p)):
        df = df.select(*sorted(df.columns))
        out.append((df.dtypes, sorted(tuple(r) for r in df.collect())))
    assert out[0] == out[1]
    return out[0]


def _data_dirs(p):
    return sorted(os.listdir(os.path.join(p, "data")))


def test_append_widens_int_into_bigint_table(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 10)], "k int, name string, v bigint"), p, mode="overwrite")
    shim.write(_df(spark, [(2, "b", 20)], "k int, name string, v int"), p)
    dtypes, rows = _both_readers(spark, p)
    assert dict(dtypes)["v"] == "bigint"
    assert rows == [(1, "a", 10), (2, "b", 20)]


def test_append_string_into_bigint_table_raises_before_writing(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 10)], "k int, name string, v bigint"), p, mode="overwrite")
    dirs = _data_dirs(p)
    with pytest.raises(InvalidArgument, match="'v' is bigint in the table but string"):
        shim.write(_df(spark, [(2, "b", "x")], "k int, name string, v string"), p)
    assert _data_dirs(p) == dirs and shim.latest_version(p) == 0
    dtypes, rows = _both_readers(spark, p)
    assert dict(dtypes)["v"] == "bigint" and rows == [(1, "a", 10)]


def test_narrowing_writes_are_refused(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 10)], "k int, name string, v int"), p, mode="overwrite")
    dirs = _data_dirs(p)
    wide = _df(spark, [(1, "a", 11), (2, "b", 2**40)], "k int, name string, v bigint")
    with pytest.raises(InvalidArgument, match="'v' is int in the table but bigint"):
        shim.write(wide, p)
    # every merge path lands source rows, so each refuses the same way
    for kw in ({"merge_condition": "ignore"}, {}, {"use_deletion_vectors": True}):
        with pytest.raises(InvalidArgument, match="'v' is int in the table but bigint"):
            shim.merge(spark, wide, p, ["k"], **kw)
    assert _data_dirs(p) == dirs and shim.latest_version(p) == 0
    dtypes, rows = _both_readers(spark, p)
    assert dict(dtypes)["v"] == "int" and rows == [(1, "a", 10)]


def test_merge_and_partition_overwrite_widen_to_table_types(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(
        _df(spark, [(1, "a", 10, 1.5), (2, "b", 20, 2.5)], "k bigint, g string, v bigint, x double"),
        p, mode="overwrite", partition_cols=["g"],
    )
    narrow = "k int, g string, v int, x float"
    shim.merge(spark, _df(spark, [(1, "a", 11, 0.5)], narrow), p, ["k"])
    shim.merge(spark, _df(spark, [(2, "b", 21, 0.25)], narrow), p, ["k"], use_deletion_vectors=True)
    shim.merge(spark, _df(spark, [(3, "a", 30, 3.5)], narrow), p, ["k"], merge_condition="ignore")
    shim.write(_df(spark, [(4, "c", 40, 4.5)], narrow), p, mode="overwrite_partitions")
    dtypes, rows = _both_readers(spark, p)
    assert dtypes == [("g", "string"), ("k", "bigint"), ("v", "bigint"), ("x", "double")]
    assert rows == [("a", 1, 11, 0.5), ("a", 3, 30, 3.5), ("b", 2, 21, 0.25), ("c", 4, 40, 4.5)]


def test_schema_merge_reads_new_column_as_null_in_older_files(spark, tmp_path):
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 10)], "k int, name string, v bigint"), p, mode="overwrite")
    shim.write(
        _df(spark, [(2, "b", 20, "new")], "k int, name string, v int, w string"),
        p, schema_mode="merge",
    )
    dtypes, rows = _both_readers(spark, p)
    assert dtypes == [("k", "int"), ("name", "string"), ("v", "bigint"), ("w", "string")]
    assert rows == [(1, "a", 10, None), (2, "b", 20, "new")]


def _jobs(spark, group, action):
    """(result, number of Spark jobs ``action`` ran) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_building_a_read_runs_no_spark_job(spark, tmp_path):
    """Scans take their schema from the table log, so building a read of
    a table with 2 partitions, 3 commits and a deletion vector runs no
    Spark job in any of the three readers: the only jobs are the fetch's.
    A footer-inference scan ran one job per commit or partition group."""
    from aws_sdk_pandas_spark import iceberg_meta

    p = str(tmp_path / "t")
    schema = "k int, part string, v bigint"
    for i, mode in enumerate(("overwrite", "append", "append")):
        rows = [(2 * i + 1, "a", 10 * (2 * i + 1)), (2 * i + 2, "b", 10 * (2 * i + 2))]
        shim.write(_df(spark, rows, schema), p, mode=mode, partition_cols=["part"])
    lakehouse.convert_to_iceberg(p)
    before_dv = shim.latest_version(p)
    shim.delete(spark, _df(spark, [(3,)], "k int"), p, ["k"], use_deletion_vectors=True)
    all_rows = [(k, "ab"[(k - 1) % 2], 10 * k) for k in range(1, 7)]
    live = [r for r in all_rows if r[0] != 3]
    tag = f"{os.getpid()}-{id(tmp_path)}"
    # (reader, rows, jobs per fetch): the pre-delete snapshot is one scan
    # job; a deletion vector adds the job that builds the broadcast side
    # of its anti-join, run once for both partition groups (exchange
    # reuse).  The Iceberg reader adds a third: the broadcast of its
    # data-file sequence-number map, a local relation that Spark
    # collects with a job of min(files, slots) tasks, once for both
    # groups; its positional-delete scan is the second job
    cases = [
        ("delta_v", lambda: lakehouse.read_deltalake(spark, p, version=before_dv), all_rows, 1),
        ("lakelite_v", lambda: shim.read(spark, p, version=before_dv), all_rows, 1),
        ("delta", lambda: lakehouse.read_deltalake(spark, p), live, 2),
        ("lakelite", lambda: shim.read(spark, p), live, 2),
        ("iceberg", lambda: iceberg_meta.read_iceberg_meta(spark, p), live, 3),
    ]
    for name, build, want, fetch_jobs in cases:
        df, jobs = _jobs(spark, f"build-{name}-{tag}", build)
        assert jobs == 0, (name, jobs)
        got, jobs = _jobs(
            spark, f"fetch-{name}-{tag}",
            lambda: sorted(tuple(r) for r in df.select("k", "part", "v").collect()),
        )
        assert got == want, name
        assert jobs == fetch_jobs, (name, jobs)


def test_partitioned_write_pruning_and_overwrite_partitions(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id % 4 AS INT) AS g")
    lakehouse.to_deltalake(df, p, mode="overwrite", partition_cols=["g"])

    # driver-side manifest pruning: only g=2 files enter the plan
    pruned = shim.read(spark, p, partition_filter=lambda pv: pv.get("g") == "2")
    assert pruned.count() == 10
    assert pruned.select("g").distinct().collect()[0][0] == 2

    # dynamic partition overwrite: replace g=1 only
    repl = spark.createDataFrame([(100, 1), (101, 1)], "k bigint, g int")
    lakehouse.to_deltalake(repl, p, mode="overwrite_partitions")
    got = lakehouse.read_deltalake(spark, p)
    assert got.count() == 32  # 40 - 10 + 2
    assert got.where("g = 1").count() == 2
    assert got.where("g = 0").count() == 10  # untouched partitions intact


def test_merge_is_file_level_cow(spark, tmp_path):
    p = str(tmp_path / "t")
    # 8 files; keys clustered so a 2-key source touches few files
    base = spark.range(0, 800).selectExpr("id AS k", "CAST(id AS STRING) AS name", "1 AS ver")
    lakehouse.to_deltalake(base.repartitionByRange(8, "k"), p, mode="overwrite")
    v0_files = {e["path"] for e in shim._read_manifest(p, 0)["files"]}
    assert len(v0_files) == 8

    src = _df(spark, [(5, "FIVE", 2), (900, "NEW", 2)])
    stats = shim.merge(spark, src, p, ["k"])
    # only the file(s) holding k=5 rewritten; the rest carried by reference
    assert stats["files_rewritten"] >= 1
    assert stats["files_kept"] >= 6
    v1_files = {e["path"] for e in shim._read_manifest(p, 1)["files"]}
    assert len(v0_files & v1_files) == stats["files_kept"]

    got = lakehouse.read_deltalake(spark, p)
    assert got.count() == 801
    assert got.where("k = 5").first().name == "FIVE"
    assert got.where("k = 900").first().name == "NEW"
    # time travel still sees the pre-merge row
    assert lakehouse.read_deltalake(spark, p, version=0).where("k = 5").first().name == "5"


def test_merge_ignore_is_insert_only(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1), (2, "b", 1)]), p, mode="overwrite")
    stats = shim.merge(
        spark, _df(spark, [(2, "CHANGED", 2), (3, "c", 1)]), p, ["k"],
        merge_condition="ignore",
    )
    assert stats["files_rewritten"] == 0  # matched rows untouched, no CoW at all
    got = {r.k: r.name for r in lakehouse.read_deltalake(spark, p).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_merge_precombine_greatest_version_wins(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 10), (2, "b", 10)]), p, mode="overwrite")
    src = _df(spark, [(1, "stale", 5), (2, "fresh", 20), (2, "staler", 3), (4, "d", 1)])
    shim.merge(spark, src, p, ["k"], precombine_key="ver")
    got = {r.k: (r.name, r.ver) for r in lakehouse.read_deltalake(spark, p).collect()}
    # k=1 target wins (10 > 5); k=2 source ver=20 wins over target and
    # over the staler source row; k=4 inserted
    assert got == {1: ("a", 10), 2: ("fresh", 20), 4: ("d", 1)}


def test_merge_null_safe_keys(spark, tmp_path):
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(
        spark.createDataFrame([(1, "a"), (None, "nullkey")], "k int, name string"),
        p, mode="overwrite",
    )
    shim.merge(
        spark,
        spark.createDataFrame([(None, "REPLACED")], "k int, name string"),
        p, ["k"], match_nulls=True,
    )
    got = {r.name for r in lakehouse.read_deltalake(spark, p).collect()}
    assert got == {"a", "REPLACED"}


def test_iceberg_table_names_merge_and_delete(spark, tmp_path):
    table = f"lakelite_test.orders_{os.path.basename(str(tmp_path))}"
    df = _df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)])
    lakehouse.to_iceberg(df, table, mode="overwrite")
    assert lakehouse.read_iceberg(spark, table).count() == 3
    assert lakehouse.from_iceberg(spark, table, columns=["k"], row_filter="k > 1").count() == 2

    # MERGE INTO through the public entry point
    lakehouse.to_iceberg(_df(spark, [(3, "C2", 2), (4, "d", 1)]), table, merge_cols=["k"])
    got = {r.k: r.name for r in lakehouse.read_iceberg(spark, table).collect()}
    assert got == {1: "a", 2: "b", 3: "C2", 4: "d"}
    # snapshot pin = version time travel
    assert lakehouse.read_iceberg(spark, table, snapshot_id=0).count() == 3

    lakehouse.delete_from_iceberg_table(
        spark, spark.createDataFrame([(1,), (4,)], "k int"), table, ["k"]
    )
    assert {r.k for r in lakehouse.read_iceberg(spark, table).collect()} == {2, 3}


def test_delete_cow_keeps_unmatched_files(spark, tmp_path):
    p = str(tmp_path / "t")
    base = spark.range(0, 400).selectExpr("id AS k", "CAST(id AS STRING) AS name", "1 AS ver")
    lakehouse.to_deltalake(base.repartitionByRange(4, "k"), p, mode="overwrite")
    stats = shim.delete(spark, spark.createDataFrame([(7,)], "k bigint"), p, ["k"])
    assert stats["files_kept"] == 3 and stats["files_rewritten"] == 1
    got = lakehouse.read_deltalake(spark, p)
    assert got.count() == 399
    assert got.where("k = 7").count() == 0


def test_compact_and_vacuum(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(4):
        lakehouse.to_deltalake(_df(spark, [(i, f"r{i}", 1)]), p, mode="append")
    assert len({e["commit"] for e in shim._read_manifest(p, 3)["files"]}) == 4
    shim.compact(spark, p, target_partitions=1)
    man = shim._read_manifest(p, shim.latest_version(p))
    assert len({e["commit"] for e in man["files"]}) == 1
    assert lakehouse.read_deltalake(spark, p).count() == 4

    removed = shim.vacuum(p, keep_versions=1)
    assert removed  # pre-compaction commit dirs reclaimed
    # time travel truncated, latest intact — exactly Delta's VACUUM contract
    with pytest.raises(InvalidArgument):
        lakehouse.read_deltalake(spark, p, version=0)
    assert lakehouse.read_deltalake(spark, p).count() == 4


def test_streaming_micro_batches(spark, tmp_path):
    p = str(tmp_path / "t")
    batches = iter([_df(spark, [(1, "a", 1)]), _df(spark, [(2, "b", 1)])])
    lakehouse.to_deltalake_streaming(batches, p)
    assert lakehouse.read_deltalake(spark, p).count() == 2


def test_crash_safety_orphan_not_corruption(spark, tmp_path):
    """A data-written-but-manifest-uncommitted state must be invisible to
    readers and reclaimable by vacuum."""
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1)]), p, mode="overwrite")
    # simulate the crash: data files land, manifest never committed
    _, _entries = shim._write_commit(_df(spark, [(99, "orphan", 1)]), p, None)
    assert lakehouse.read_deltalake(spark, p).count() == 1  # reader never sees it
    removed = shim.vacuum(p, keep_versions=1)
    assert len(removed) == 1
    assert lakehouse.read_deltalake(spark, p).count() == 1


def test_txn_idempotent_writes(spark, tmp_path):
    p = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1)])
    assert shim.write(df, p, mode="append", txn=("app", 0)) is True
    # replay of the same batch: skipped, no duplicate rows
    assert shim.write(df, p, mode="append", txn=("app", 0)) is False
    assert lakehouse.read_deltalake(spark, p).count() == 1
    # next batch commits; txn_version tracks the high-water mark per app
    assert shim.write(_df(spark, [(2, "b", 1)]), p, mode="append", txn=("app", 1)) is True
    assert shim.txn_version(p, "app") == 1
    assert shim.txn_version(p, "other") == -1
    # a different app's batch 0 is independent
    assert shim.write(_df(spark, [(3, "c", 1)]), p, mode="append", txn=("other", 0)) is True
    assert lakehouse.read_deltalake(spark, p).count() == 3


def test_write_stream_lakelite_exactly_once(spark, tmp_path):
    from aws_sdk_pandas_spark.streaming import write_stream_lakelite

    src = str(tmp_path / "src")
    _df(spark, [(1, "a", 1), (2, "b", 1)]).write.parquet(src)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema("k int, name string, ver int").parquet(src)
    q = write_stream_lakelite(stream, table, checkpoint=ckpt)
    q.awaitTermination(120)
    assert lakehouse.read_deltalake(spark, table).count() == 2

    # restart with the same checkpoint: no new data, no duplicates
    q2 = write_stream_lakelite(
        spark.readStream.schema("k int, name string, ver int").parquet(src),
        table, checkpoint=ckpt,
    )
    q2.awaitTermination(120)
    assert lakehouse.read_deltalake(spark, table).count() == 2

    # simulate the crash-replay window (sink wrote, checkpoint didn't):
    # re-delivering batch 0 under the same derived app id is a no-op
    import hashlib
    app = "stream-" + hashlib.md5(ckpt.encode()).hexdigest()[:12]
    assert shim.txn_version(table, app) == 0
    assert (
        shim.write(_df(spark, [(1, "a", 1), (2, "b", 1)]), table, mode="append", txn=(app, 0))
        is False
    )
    assert lakehouse.read_deltalake(spark, table).count() == 2


def test_txn_survives_compact_and_vacuum(spark, tmp_path):
    """Review finding: the exactly-once high-water mark must survive the
    documented maintenance ops — compact rewrites the snapshot and vacuum
    deletes the old manifests that held the per-commit txn stamps."""
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 1)]), p, mode="append", txn=("app", 0))
    shim.write(_df(spark, [(2, "b", 1)]), p, mode="append", txn=("app", 1))
    shim.compact(spark, p)
    shim.vacuum(p, keep_versions=1)
    assert shim.txn_version(p, "app") == 1
    # a crash-replay of batch 1 after maintenance is still a no-op
    assert shim.write(_df(spark, [(2, "b", 1)]), p, mode="append", txn=("app", 1)) is False
    assert lakehouse.read_deltalake(spark, p).count() == 2
    # merge/delete commits also carry the marks forward
    shim.merge(spark, _df(spark, [(1, "A2", 2)]), p, ["k"])
    assert shim.txn_version(p, "app") == 1


def test_merge_on_path_with_space_and_relative(spark, tmp_path):
    """Review finding: _metadata.file_path percent-encodes special chars;
    manifest matching must decode, or merges silently duplicate matched
    keys (the hit set never matches and nothing is 'touched')."""
    p = str(tmp_path / "ta ble")  # space -> %20 in the scan URI
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1), (2, "b", 1)]), p, mode="overwrite")
    stats = shim.merge(spark, _df(spark, [(1, "A", 2)]), p, ["k"])
    assert stats["files_rewritten"] >= 1  # the match actually happened
    got = {r.k: r.name for r in lakehouse.read_deltalake(spark, p).collect()}
    assert got == {1: "A", 2: "b"}  # no duplicate k=1

    stats = shim.delete(spark, spark.createDataFrame([(2,)], "k int"), p, ["k"])
    assert stats["files_rewritten"] >= 1
    assert {r.k for r in lakehouse.read_deltalake(spark, p).collect()} == {1}


def test_merge_fresh_table_applies_precombine(spark, tmp_path):
    """Review finding: the first merge into a not-yet-existing table must
    not be born with duplicate keys the same call would collapse."""
    p = str(tmp_path / "t")
    src = _df(spark, [(1, "old", 1), (1, "new", 9), (2, "b", 1)])
    shim.merge(spark, src, p, ["k"], precombine_key="ver")
    got = {r.k: r.name for r in lakehouse.read_deltalake(spark, p).collect()}
    assert got == {1: "new", 2: "b"}
    # and via the to_iceberg entry point
    table = "lakelite_test.fresh_pc"
    lakehouse.to_iceberg(src, table, merge_cols=["k"], precombine_key="ver")
    got2 = {r.k: r.name for r in lakehouse.read_iceberg(spark, table).collect()}
    assert got2 == {1: "new", 2: "b"}


def test_stats_and_data_skipping(spark, tmp_path):
    """Per-file min/max stats (Delta data-skipping analog): recorded at
    write, inherited by later commits, used to PRUNE files under
    predicates, with an exact residual filter."""
    p = str(tmp_path / "t")
    df = spark.range(0, 800).selectExpr("id AS k", "CAST(id AS STRING) AS name", "1 AS ver")
    shim.write(df.repartitionByRange(8, "k"), p, mode="overwrite", stats_cols=["k"])
    man = shim._read_manifest(p, 0)
    assert man["stats_cols"] == ["k"]
    assert all("stats" in e and "k" in e["stats"] for e in man["files"])

    kept, total = shim.files_scanned(p, [("k", "<", 100)])
    assert total == 8 and kept <= 2  # range clustering -> ~1 file holds k<100
    got = shim.read(spark, p, predicates=[("k", "<", 100)])
    assert got.count() == 100 and got.agg({"k": "max"}).first()[0] == 99

    # append WITHOUT passing stats_cols: remembered from the manifest
    shim.write(_df(spark, [(900, "x", 1)]), p, mode="append")
    man1 = shim._read_manifest(p, 1)
    new_entries = [e for e in man1["files"] if e not in man["files"]]
    # every new file carries stats, or is a provably-empty part file
    assert all("stats" in e or e.get("empty") for e in new_entries)
    assert any("stats" in e for e in new_entries)
    assert shim.read(spark, p, predicates=[("k", ">=", 900)]).count() == 1
    # equality predicate
    kept_eq, _ = shim.files_scanned(p, [("k", "=", 450)])
    assert kept_eq <= 2


def test_zorder_compact_prunes_every_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER BY analog: after a linear (x-clustered) layout a
    y-only predicate prunes nothing; after z-order compaction on (x, y)
    the same predicate skips most files — the multi-dimension clustering
    property that motivates z-ordering at 100 TB."""
    p = str(tmp_path / "t")
    grid = spark.range(0, 64 * 64).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x", "CAST(id DIV 64 AS BIGINT) AS y", "id AS v"
    )
    shim.write(
        grid.repartitionByRange(16, "x"), p, mode="overwrite", stats_cols=["x", "y"]
    )
    kept_linear, total_linear = shim.files_scanned(p, [("y", "<", 8)])
    assert total_linear == 16 and kept_linear == 16  # x-clustered: y spans every file

    shim.compact(spark, p, target_partitions=16, zorder_by=["x", "y"])
    kept_z, total_z = shim.files_scanned(p, [("y", "<", 8)])
    assert total_z >= 8
    assert kept_z <= total_z // 2  # most files provably excluded
    # and the x dimension still prunes too
    kept_zx, _ = shim.files_scanned(p, [("x", "<", 8)])
    assert kept_zx <= total_z // 2
    # values exact through the pruned read
    got = shim.read(spark, p, predicates=[("y", "<", 8)])
    assert got.count() == 64 * 8
    assert got.agg({"y": "max"}).first()[0] == 7


def test_table_changes_cdf(spark, tmp_path):
    """Change data feed between snapshots (Delta table_changes analog):
    inserts, deletes, and update pre/post image pairs; unchanged rows
    absent; NULL keys are one identity."""
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 1), (None, "nk", 1)],
            "k int, name string, ver int",
        ),
        p, mode="overwrite",
    )
    shim.merge(spark, _df(spark, [(2, "B2", 2), (4, "d", 1)]), p, ["k"])
    shim.delete(spark, spark.createDataFrame([(3,)], "k int"), p, ["k"])

    ch = shim.table_changes(spark, p, ["k"], from_version=0)
    got = {(r.k, r.name, r._change_type) for r in ch.collect()}
    assert got == {
        (4, "d", "insert"),
        (3, "c", "delete"),
        (2, "b", "update_preimage"),
        (2, "B2", "update_postimage"),
    }
    # unchanged rows (1 and the NULL-key row) emit nothing
    assert all(t[0] not in (1, None) for t in got)
    # version-bounded diff: only the delete between v1 and v2
    ch2 = shim.table_changes(spark, p, ["k"], from_version=1, to_version=2)
    assert {(r.k, r._change_type) for r in ch2.collect()} == {(3, "delete")}
    # identity diff is empty
    assert shim.table_changes(spark, p, ["k"], from_version=2, to_version=2).count() == 0


def test_concurrent_append_retry_rebase(spark, tmp_path, monkeypatch):
    """Optimistic concurrency for appends: a manifest-version collision
    (another writer landed first) rebases the append onto the NEW
    snapshot and retries — both writers' rows survive.  Simulated
    deterministically: the first commit attempt is preempted by an
    interloper manifest landing at the same version."""
    p = str(tmp_path / "t")
    shim.write(_df(spark, [(1, "a", 1)]), p, mode="overwrite")

    real_commit = shim._commit_manifest
    fired = {"done": False}

    def preempting_commit(path, manifest):
        if not fired["done"]:
            fired["done"] = True
            # the interloper wins version 1 first
            interloper = _df(spark, [(50, "interloper", 1)])
            _, entries = shim._write_commit(interloper, path, None)
            base = shim._read_manifest(path, 0)
            real_commit(path, {
                "version": 1, "mode": "append", "schema": base["schema"],
                "partition_cols": [], "files": base["files"] + entries,
                "stats_cols": [], "txns": {},
            })
        real_commit(path, manifest)

    monkeypatch.setattr(shim, "_commit_manifest", preempting_commit)
    assert shim.write(_df(spark, [(2, "b", 1)]), p, mode="append") is True
    monkeypatch.setattr(shim, "_commit_manifest", real_commit)

    got = {r.k for r in lakehouse.read_deltalake(spark, p).collect()}
    assert got == {1, 2, 50}  # nobody's rows lost
    assert shim.latest_version(p) == 2

    # non-append modes surface the conflict instead of rebasing
    fired["done"] = False
    monkeypatch.setattr(shim, "_commit_manifest", preempting_commit)
    with pytest.raises(InvalidArgument, match="concurrent write detected"):
        shim.write(_df(spark, [(9, "z", 1)]), p, mode="overwrite")


def test_nan_stats_never_prune_real_rows(spark, tmp_path):
    """Round-2 review: max() over a column containing NaN returns NaN and
    every NaN comparison is False — a NaN bound must read as UNKNOWN
    (file kept), not as proof of non-match."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan"))], "k int, x double"
    )
    shim.write(df, p, mode="overwrite", stats_cols=["x"])
    kept, _total = shim.files_scanned(p, [("x", ">", 3.0)])
    n_data_files = sum(
        1 for e in shim._read_manifest(p, 0)["files"] if not e.get("empty")
    )
    assert kept == n_data_files  # only empty part files pruned, never NaN files
    got = shim.read(spark, p, predicates=[("x", ">", 3.0)])
    # Spark orders NaN greater than every value, so BOTH rows pass the
    # residual filter — the point pinned here is that the 5.0 row was
    # not lost to a NaN-poisoned bound
    assert sorted(r.k for r in got.collect()) == [1, 2]


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """Round-2 review: CDF between snapshots with different column sets
    must read the missing column as typed NULL, not crash."""
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(
        spark.createDataFrame([(1, "a")], "k int, name string"), p, mode="overwrite"
    )
    lakehouse.to_deltalake(
        spark.createDataFrame([(2, "b", 7)], "k int, name string, ver int"),
        p, mode="append", schema_mode="merge",
    )
    ch = shim.table_changes(spark, p, ["k"], from_version=0)
    got = {(r.k, r.name, r.ver, r._change_type) for r in ch.collect()}
    # row 1 unchanged (ver NULL both sides); row 2 inserted with ver=7
    assert got == {(2, "b", 7, "insert")}


def test_merge_fallback_insert_only_duplicates_allowed(spark):
    """Round-2 review: native MERGE only rejects duplicates that match
    the same TARGET row; insert-only duplicate keys are legal."""
    from aws_sdk_pandas_spark.operators.merge import merge_upsert
    from aws_sdk_pandas_spark.exceptions import InvalidArgument as IA

    spark.sql("DROP TABLE IF EXISTS asps_merge_dup")
    spark.createDataFrame([(1, "a")], "k int, v string").write.mode(
        "overwrite"
    ).saveAsTable("asps_merge_dup")
    try:
        # k=7 absent from target: both duplicate rows insert, as natively
        merge_upsert(
            spark,
            spark.createDataFrame([(7, "x"), (7, "y")], "k int, v string"),
            "asps_merge_dup", ["k"],
        )
        rows = sorted((r.k, r.v) for r in spark.table("asps_merge_dup").collect())
        assert rows == [(1, "a"), (7, "x"), (7, "y")]
        # duplicates that DO match a target row still raise
        with pytest.raises(IA, match="multiple merge source rows"):
            merge_upsert(
                spark,
                spark.createDataFrame([(1, "p"), (1, "q")], "k int, v string"),
                "asps_merge_dup", ["k"],
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS asps_merge_dup")


def _interleave(monkeypatch, winner_fn):
    """Make the NEXT _commit_manifest call race: the winner commits
    first, then the patched call proceeds (and collides)."""
    orig = shim._commit_manifest
    state = {"fired": False}

    def racy(path, manifest):
        if not state["fired"]:
            state["fired"] = True
            winner_fn()
        return orig(path, manifest)

    monkeypatch.setattr(shim, "_commit_manifest", racy)


def test_concurrent_disjoint_merges_both_land(spark, tmp_path, monkeypatch):
    """round-3 verdict: two interleaved MERGEs touching disjoint files
    must BOTH commit (loser rebases on the winner, Delta-style)."""
    p = str(tmp_path / "t")
    base = spark.range(0, 800).selectExpr("id AS k", "CAST(id AS STRING) AS name", "1 AS ver")
    lakehouse.to_deltalake(base.repartitionByRange(8, "k"), p, mode="overwrite")

    src_a = _df(spark, [(5, "A-WIN", 2)])      # lives in the low-key file
    src_b = _df(spark, [(700, "B-REBASED", 2)])  # lives in the high-key file
    _interleave(monkeypatch, lambda: shim.merge(spark, src_a, p, keys=["k"]))
    stats = shim.merge(spark, src_b, p, keys=["k"])
    assert stats["files_rewritten"] == 1

    got = lakehouse.read_deltalake(spark, p)
    assert got.where("k = 5").first().name == "A-WIN"      # winner's update kept
    assert got.where("k = 700").first().name == "B-REBASED"
    assert got.count() == 800
    assert shim.latest_version(p) == 2  # v1 = winner, v2 = rebased loser


def test_concurrent_merges_same_file_conflict(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    base = spark.range(0, 800).selectExpr("id AS k", "CAST(id AS STRING) AS name", "1 AS ver")
    lakehouse.to_deltalake(base.repartitionByRange(8, "k"), p, mode="overwrite")

    # both sources hit the same low-key file -> true overlap, must raise
    _interleave(monkeypatch, lambda: shim.merge(spark, _df(spark, [(5, "A", 2)]), p, keys=["k"]))
    with pytest.raises(InvalidArgument, match="rewritten by both"):
        shim.merge(spark, _df(spark, [(6, "B", 2)]), p, keys=["k"])
    # the winner's commit is intact
    assert lakehouse.read_deltalake(spark, p).where("k = 5").first().name == "A"


def test_concurrent_append_matching_source_keys_conflicts(spark, tmp_path, monkeypatch):
    """A winner that ADDED rows with this merge's source keys cannot be
    rebased over (the merge would duplicate the key) — Delta's
    ConcurrentAppendException analog."""
    p = str(tmp_path / "t")
    lakehouse.to_deltalake(_df(spark, [(1, "a", 1)]), p, mode="overwrite")
    _interleave(
        monkeypatch,
        lambda: shim.write(_df(spark, [(900, "appended", 1)]), p, mode="append"),
    )
    with pytest.raises(InvalidArgument, match="matching this merge's source keys"):
        shim.merge(spark, _df(spark, [(900, "merged", 2)]), p, keys=["k"])
    # an unrelated append + merge with NON-overlapping keys rebases fine
    _interleave(
        monkeypatch,
        lambda: shim.write(_df(spark, [(901, "appended2", 1)]), p, mode="append"),
    )
    shim.merge(spark, _df(spark, [(2, "new", 1)]), p, keys=["k"])
    got = {r.k for r in lakehouse.read_deltalake(spark, p).collect()}
    assert {1, 2, 900, 901} <= got


def test_concurrent_disjoint_deletes_both_land(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    base = spark.range(0, 800).selectExpr("id AS k", "CAST(id AS STRING) AS name", "1 AS ver")
    lakehouse.to_deltalake(base.repartitionByRange(8, "k"), p, mode="overwrite")
    _interleave(monkeypatch, lambda: shim.delete(spark, _df(spark, [(5, "x", 0)]), p, keys=["k"]))
    shim.delete(spark, _df(spark, [(700, "x", 0)]), p, keys=["k"])
    got = lakehouse.read_deltalake(spark, p)
    assert got.count() == 798
    assert got.where("k in (5, 700)").count() == 0
