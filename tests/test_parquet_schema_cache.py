"""``read_parquet`` infers a source's schema once per file listing: a
repeated read of unchanged files runs no Spark job, and anything that can
change the inferred schema (the files, the dataset layout, the inference
confs) infers again.  Jobs are counted with a job group.  Also the
TIMESTAMP(NANOS) read path and the registry's per-session view memo."""

from __future__ import annotations

import datetime as dt
import gc
import os
import uuid
import weakref

import pyarrow as pa
import pyarrow.parquet as pq

from aws_sdk_pandas_spark.sources import read_parquet


def _jobs(spark, action):
    """(result, number of Spark jobs ``action`` ran)."""
    sc = spark.sparkContext
    group = f"pq-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, **cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def test_second_read_of_unchanged_file_runs_no_job(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    _write(f, a=[1, 2, 3], s=["x", "y", None])
    first, jobs_first = _jobs(spark, lambda: read_parquet(spark, f))
    second, jobs_second = _jobs(spark, lambda: read_parquet(spark, f))
    assert jobs_first == 1
    assert jobs_second == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == [(1, "x"), (2, "y"), (3, None)]


def test_rewritten_file_with_another_column_infers_again(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    _write(f, a=[1, 2])
    assert read_parquet(spark, f).columns == ["a"]
    _write(f, a=[1, 2], b=[0.5, 1.5])
    df, jobs = _jobs(spark, lambda: read_parquet(spark, f))
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert _rows(df) == [(1, 0.5), (2, 1.5)]


def test_file_added_to_a_dataset_partition_infers_again(spark, tmp_path):
    root = str(tmp_path / "ds")
    _write(f"{root}/k=1/a.parquet", v=[1])
    assert _rows(read_parquet(spark, root, dataset=True)) == [(1, 1)]
    _write(f"{root}/k=1/b.parquet", v=[2])
    df, jobs = _jobs(spark, lambda: read_parquet(spark, root, dataset=True))
    assert jobs == 1
    assert _rows(df) == [(1, 1), (2, 1)]


def test_partitioned_hit_matches_the_miss(spark, tmp_path):
    root = str(tmp_path / "ds")
    for k, day in ((1, "2024-01-01"), (2, "2024-01-02")):
        _write(f"{root}/k={k}/day={day}/part.parquet", v=[k * 10], s=[f"s{k}"])
    miss, jobs_miss = _jobs(spark, lambda: read_parquet(spark, root, dataset=True))
    hit, jobs_hit = _jobs(spark, lambda: read_parquet(spark, root, dataset=True))
    assert (jobs_miss, jobs_hit) == (1, 0)
    assert hit.dtypes == miss.dtypes == [("v", "bigint"), ("s", "string"), ("k", "int"), ("day", "date")]
    assert _rows(hit) == _rows(miss)

    # files that also hold a partition column: Spark keeps the column at
    # its data position only when it infers, so such a dataset infers
    # every time and keeps the order
    both = str(tmp_path / "both")
    for k in (1, 2):
        _write(f"{both}/k={k}/part.parquet", a=[k], k=[str(k)], b=[0.5])
    miss = read_parquet(spark, both, dataset=True)
    again, jobs = _jobs(spark, lambda: read_parquet(spark, both, dataset=True))
    assert jobs == 1
    assert again.dtypes == miss.dtypes == [("a", "bigint"), ("k", "int"), ("b", "double")]
    assert _rows(again) == _rows(miss)


def test_a_new_session_in_the_same_process_hits(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    _write(f, a=[1, 2])
    first = read_parquet(spark, f)
    other = spark.newSession()
    df, jobs = _jobs(other, lambda: read_parquet(other, f))
    assert jobs == 0
    assert df.schema == first.schema
    assert _rows(df) == [(1,), (2,)]


def test_changing_binary_as_string_infers_again(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    _write(f, b=pa.array([b"ab", b"c"], pa.binary()))
    session = spark.newSession()
    assert read_parquet(session, f).dtypes == [("b", "binary")]
    session.conf.set("spark.sql.parquet.binaryAsString", "true")
    df, jobs = _jobs(session, lambda: read_parquet(session, f))
    assert jobs == 1
    assert df.dtypes == [("b", "string")]
    assert _rows(df) == [("ab",), ("c",)]


def test_validate_schema_still_runs_its_job(spark, tmp_path):
    root = str(tmp_path / "ds")
    _write(f"{root}/a.parquet", x=[1])
    _write(f"{root}/b.parquet", x=[2], y=["z"])
    for _ in range(2):
        df, jobs = _jobs(spark, lambda: read_parquet(spark, root, validate_schema=True))
        assert jobs >= 1
        assert df.columns == ["x", "y"]


def test_nanosecond_timestamps_read_like_microsecond_ones(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads with the type Spark gives the same
    column in microseconds (``timestamp_ntz`` without a zone, ``timestamp``
    with one), floored to microseconds, and with no session-zone shift
    under a zone with DST.  The microsecond file is read before and after
    the ns read flips ``nanosAsLong``, which is part of the cache key."""
    wall = [
        dt.datetime(2024, 11, 3, 5, 30),  # 01:30 EDT: the fall-back hour in New York
        dt.datetime(2024, 11, 3, 6, 30, 0, 123456),  # 01:30 EST
        dt.datetime(2024, 3, 10, 7, 30),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
    ]
    us = [(w - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for w in wall]
    ns = [u * 1000 + 789 for u in us]  # sub-microsecond digits to drop
    us_file, ns_file = str(tmp_path / "us.parquet"), str(tmp_path / "ns.parquet")

    def write(path, unit, values):
        pq.write_table(pa.table({
            "i": pa.array(range(len(values)), pa.int64()),
            "naive": pa.array(values, pa.timestamp(unit)),
            "utc": pa.array(values, pa.timestamp(unit, tz="UTC")),
        }), path)

    write(us_file, "us", us)
    write(ns_file, "ns", ns)
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", "America/New_York")
    types = [("i", "bigint"), ("naive", "timestamp_ntz"), ("utc", "timestamp")]

    before, jobs_before = _jobs(session, lambda: read_parquet(session, us_file))
    assert jobs_before == 1
    assert before.dtypes == types
    nanos = read_parquet(session, ns_file)
    assert session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert nanos.dtypes == types
    assert [r.naive for r in nanos.orderBy("i").collect()] == wall
    assert _rows(nanos) == _rows(before)
    after, jobs_after = _jobs(session, lambda: read_parquet(session, us_file))
    assert jobs_after == 1
    assert after.dtypes == types
    assert _rows(after) == _rows(before)


def test_nanosecond_columns_rebuilt_through_a_glob_and_escaped_names(spark, tmp_path):
    """The footer sample is taken from the files the load listed, so a
    glob (which bypasses the schema cache) and a directory whose name
    Spark escapes in file URIs still get their ns columns rebuilt."""
    d = tmp_path / "ns dir%20x"
    d.mkdir()
    wall = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901)]
    ns = [(wall[0] - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) * 1000 + 999]
    pq.write_table(pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}), str(d / "part-0.parquet"))
    session = spark.newSession()
    df = read_parquet(session, str(d / "*.parquet"))
    assert df.dtypes == [("ts", "timestamp_ntz")]
    assert [r.ts for r in df.collect()] == wall


def test_registry_views_register_again_in_a_fresh_session(spark, sf_dir):
    """The view memo holds sessions weakly: a dropped session's entry goes
    with it, so a fresh session (which may reuse the dropped one's id)
    registers its own views.  The session is dropped, not stopped:
    stopping would end the SparkContext every test shares."""
    import __spark_entry__ as entry

    first = spark.newSession()
    entry._load(first, sf_dir)
    assert first.catalog.tableExists("region")
    dropped = weakref.ref(first)
    del first
    # PySpark's ``RDD.toDF`` closes over the newest session, so the
    # dropped one is freed once another session exists
    fresh = spark.newSession()
    gc.collect()
    assert dropped() is None
    assert fresh not in entry._LOADED
    entry._load(fresh, sf_dir)
    assert fresh.catalog.tableExists("region")
    assert fresh.sql("SELECT COUNT(*) FROM region").collect()[0][0] == 5


def test_cache_stays_consistent_under_concurrent_reads(tmp_path, monkeypatch):
    """Threads (more than cores) read through the cache with a bound small
    enough to evict all the time: every read gets its own path's schema
    and the cache never holds more keys than its bound.  Spark is faked:
    a load returns the given schema or, when inferring, the path's."""
    import sys
    import threading
    from types import SimpleNamespace

    from aws_sdk_pandas_spark.sources import parquet

    monkeypatch.setattr(parquet, "_SCHEMAS", type(parquet._SCHEMAS)())
    monkeypatch.setattr(parquet, "_SCHEMAS_MAX", 3)
    files = []
    for i in range(8):
        f = str(tmp_path / f"f{i}.parquet")
        open(f, "wb").write(b"x" * (i + 1))
        files.append(f)
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key: "false"))

    class Reader:
        given = None

        def schema(self, s):
            self.given = s
            return self

        def load(self, paths):
            return SimpleNamespace(schema=self.given or f"schema of {paths[0]}")

    errors: list[BaseException] = []

    def work(seed):
        try:
            for n in range(300):
                f = files[(seed * 7 + n) % len(files)]
                df = parquet._load_cached(spark, [f], None, None, Reader)
                assert df.schema == f"schema of {f}"
                with parquet._SCHEMAS_LOCK:
                    assert len(parquet._SCHEMAS) <= 3
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(2 * (os.cpu_count() or 2))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
