"""Structured Streaming over the dataset layout.

The reference has no streaming operators (SURVEY §2.8) — its closest
artifact is ``to_deltalake_streaming`` (micro-batch writes from an
iterator of DataFrames, awswrangler/s3/_write_deltalake.py:182) and the
``chunked=`` iterators.  Structured Streaming is the additive capability:
``read_stream`` over the same partition layout, ``write_stream`` via
``foreachBatch`` into the same dataset writers, plus watermarked windowed
aggregation helpers.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame


def _read_state_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a state/target dataset, returning None ONLY when the path
    genuinely does not exist yet (first batch).  Any other failure —
    storage throttling, a corrupt footer, permissions — re-raises so
    the batch fails and retries, instead of silently treating a year of
    accumulated state as absent and OVERWRITING it with one batch."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def _read_rollup_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """State read with crash-recovery fallback: prefer the live path;
    if it's absent (a crash landed between the two swap renames), fall
    back to the ``.old`` copy — the complete pre-batch state the swap
    had just retired.  ``.staging`` is never read: it is the only
    directory a crash can leave incomplete."""
    prev = _read_state_if_exists(spark, state_path)
    if prev is not None:
        return prev
    return _read_state_if_exists(spark, state_path.rstrip("/") + ".old")


def _atomic_swap_state(spark: SparkSession, staged: DataFrame, state_path: str) -> None:
    """Crash-safe replacement of a parquet state directory.

    Order of operations (each a metadata-only FS rename, so the
    exposure windows are tiny and every window leaves at least one
    COMPLETE copy on disk):

    1. write merged state to ``<state>.staging`` (live state untouched)
    2. ONLY IF the live path exists: delete any stale ``<state>.old``
       (safe — live is complete and newer) and rename ``<state>`` →
       ``<state>.old``
    3. rename ``<state>.staging`` → ``<state>``
    4. delete ``<state>.old``

    The live-exists guard in (2) is load-bearing for crash RECOVERY:
    when a prior crash left live absent and ``.old`` holding the only
    complete copy, deleting ``.old`` before (3) would open a window
    where a second crash leaves nothing but ``.staging`` — which
    readers never consult — silently resetting all accumulated state.
    With the guard, every instant of every path keeps at least one
    complete copy at ``<state>`` or ``<state>.old``."""
    from aws_sdk_pandas_spark.sources._write import write_dataset
    from aws_sdk_pandas_spark.sources.fs import _jvm_fs

    base = state_path.rstrip("/")
    staging, old = base + ".staging", base + ".old"
    write_dataset(staged, staging, "parquet", mode="overwrite")
    fs, jpath, jvm = _jvm_fs(spark, base)
    jstaging = jvm.org.apache.hadoop.fs.Path(staging)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(jpath):
        if fs.exists(jold):
            fs.delete(jold, True)
        if not fs.rename(jpath, jold):
            raise IOError(f"state swap: rename {base} -> {old} failed")
    if not fs.rename(jstaging, jpath):
        raise IOError(f"state swap: rename {staging} -> {base} failed")
    fs.delete(jold, True)


def read_stream(
    spark: SparkSession,
    path: str,
    file_format: str = "parquet",
    *,
    schema: Any = None,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """``readStream`` over a dataset prefix.  File sources require a
    schema; infer it from the existing data when not supplied."""
    if schema is None:
        schema = spark.read.format(file_format).load(path).schema
    reader = spark.readStream.format(file_format).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_stream_dataset(
    df: DataFrame,
    path: str,
    file_format: str = "parquet",
    *,
    checkpoint: str,
    mode: str = "append",
    partition_cols: list[str] | None = None,
    trigger_once: bool = True,
):
    """Micro-batch the stream into the dataset writers via ``foreachBatch``
    (the Spark-native ``to_deltalake_streaming``)."""
    from aws_sdk_pandas_spark.sources._write import write_dataset

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        write_dataset(
            batch_df,
            path,
            file_format,
            mode="append" if mode == "append" else mode,
            partition_cols=partition_cols,
        )

    writer = df.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_lakelite(
    df: DataFrame,
    path: str,
    *,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    trigger_once: bool = True,
    app_id: str | None = None,
):
    """EXACTLY-ONCE streaming sink into a versioned lakelite table
    (reference behavior: s3/_write_deltalake.py:182
    ``to_deltalake_streaming`` with Delta's idempotent txn protocol).

    ``foreachBatch`` gives at-least-once by itself: a crash after the
    sink writes but before the checkpoint commits REPLAYS the batch.
    Here every commit is stamped ``txn=(app_id, batch_id)`` (a Delta
    ``txn`` action) and ``lakehouse_shim.write`` skips any batch id
    already committed for this app — so replays are no-ops and each
    micro-batch lands exactly once.  ``app_id`` defaults to a stable id
    derived from the checkpoint location (restarts of the same query
    keep the same identity)."""
    import hashlib

    from aws_sdk_pandas_spark import lakehouse_shim

    stable_app = app_id or ("stream-" + hashlib.md5(checkpoint.encode()).hexdigest()[:12])

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        lakehouse_shim.write(
            batch_df,
            path,
            mode="append",
            partition_cols=partition_cols,
            txn=(stable_app, int(batch_id)),
        )

    writer = df.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    df: DataFrame,
    *,
    time_col: str = "ts",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window counts — the canonical
    late-data-tolerant streaming aggregate."""
    w = (
        F.window(F.col(time_col), window_duration, slide)
        if slide
        else F.window(F.col(time_col), window_duration)
    )
    keys = [w] + [F.col(c) for c in (group_cols or [])]
    return df.withWatermark(time_col, watermark).groupBy(*keys).agg(F.count("*").alias("n"))


def run_batch_as_stream(
    spark: SparkSession,
    path: str,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str,
    file_format: str = "parquet",
) -> None:
    """Replay existing files through a streaming query once
    (``availableNow``) — used by tests to validate streaming parity with
    batch semantics."""
    stream = read_stream(spark, path, file_format)
    query = (
        transform(stream)
        .writeStream.format(file_format)
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def sessionize(
    df: DataFrame,
    *,
    time_col: str = "ts",
    gap: str = "30 minutes",
    group_cols: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based) — native ``session_window`` so the same
    plan runs batch AND streaming (with ``watermark`` for state eviction).

    Semantics: an event extends its session while the gap since the last
    event is < ``gap``; ``session_start`` = first event, ``last_ts`` =
    last event, ``n_events`` = count.  The reference has no streaming
    operators (SURVEY §2.8); this is the additive capability over the
    same tables.
    """
    out = df
    if watermark:
        out = out.withWatermark(time_col, watermark)
    keys = [F.session_window(F.col(time_col), gap)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        out.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.max(time_col).alias("last_ts"))
        .select(
            *[F.col(c) for c in (group_cols or [])],
            F.col("session_window.start").alias("session_start"),
            "last_ts",
            "n_events",
        )
    )


def running_state_per_key(
    stream_df: DataFrame,
    *,
    key_col: str,
    time_col: str = "ts",
    value_col: str | None = None,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running event count + running sum + last-seen timestamp,
    emitted once per micro-batch per updated key.

    The pattern slot for operators Spark lacks (SURVEY custom-operator
    rule c): state lives in the state store (RocksDB at scale), the
    user function is Arrow-batched pandas, timeouts evict idle keys.

    ``timeout_minutes`` is opt-in: with ProcessingTimeTimeout an
    ``availableNow`` run keeps scheduling empty "cleaning up state"
    batches until the timeout fires, so bounded replays must leave it
    None (NoTimeout); set it only on continuous queries that need
    idle-key eviction.
    """
    import pandas as pd  # noqa: F401 (executor-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("last_seen", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
        ]
    )

    def _update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, s = (state.get if state.exists else (0, 0.0))
        last = None
        for pdf in pdfs:
            n += len(pdf)
            if value_col is not None:
                s += float(pdf[value_col].fillna(0.0).sum())
            mx = pdf[time_col].max()
            last = mx if last is None else max(last, mx)
        state.update((n, s))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"key": [str(key[0])], "n_events": [n], "sum_value": [s], "last_seen": [last]}
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream_df.withColumn("__key", F.col(key_col).cast("string"))
        .groupBy("__key")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    subset: list[str],
    *,
    time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only for the
    watermark horizon, so the dedup state store cannot grow without bound
    (a plain ``dropDuplicates`` on a stream retains every key forever).

    Batch DataFrames fall back to plain ``dropDuplicates`` — same result,
    no state store involved.  Complements the corpus-level dedup operators
    (operators/dedup.py) for the ingestion path: exact-key dedup at the
    door, minhash/simhash offline.
    """
    if not stream_df.isStreaming:
        return stream_df.dropDuplicates(subset)
    return stream_df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        subset
    )


def upsert_stream(
    changes: DataFrame,
    target_path: str,
    keys: list[str],
    *,
    checkpoint: str,
    precombine_key: str | None = None,
    trigger_once: bool = True,
):
    """Streaming CDC apply: each micro-batch of change rows upserts into
    the target dataset (newest-version-wins within the batch via
    ``precombine_key``) — the streaming form of the reference's staged
    upsert (redshift/_utils.py:173-211) over the same batch writer.

    At scale the target re-write per batch is the plain-parquet cost of
    row-level merge; with a Delta/Iceberg target swap the sink body for
    ``operators.merge.merge_upsert`` and the rewrite disappears.
    """
    from aws_sdk_pandas_spark.operators.merge import upsert_dataframe
    from aws_sdk_pandas_spark.sources._write import write_dataset

    spark = changes.sparkSession

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        target = _read_state_if_exists(spark, target_path)
        if target is None:
            merged = batch_df
            if precombine_key is not None:
                from aws_sdk_pandas_spark.operators.merge import _precombine_latest

                merged = _precombine_latest(batch_df, keys, precombine_key)
        else:
            merged = upsert_dataframe(
                target, batch_df.select(*target.columns), keys,
                precombine_key=precombine_key,
            )
        staged = merged.localCheckpoint(eager=True)  # break lineage off the files being replaced
        write_dataset(staged, target_path, "parquet", mode="overwrite")

    writer = changes.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    left_time: str = "ts",
    right_time: str = "ts",
    within: str = "15 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join (the ad-view -> click
    attribution shape): match right rows whose timestamp falls in
    ``[left_time, left_time + within]`` on the equi-keys ``on``.

    Both sides get a watermark and the join carries the time-interval
    condition, which is what lets Spark BOUND THE JOIN STATE: each side's
    buffered rows are evicted once the other side's watermark passes
    ``within`` + ``watermark`` — without it, stream-stream state grows
    forever at 100 TB/day ingest.  The same plan runs on batch frames
    unchanged (the watermark is a no-op there), so batch backfill and the
    live stream share one definition.

    The reference has no streaming surface (SURVEY §2.8 additive family).
    """
    lt, rt = F.col(f"l.{left_time}"), F.col(f"r.{right_time}")
    l = left.withWatermark(left_time, watermark).alias("l")
    r = right.withWatermark(right_time, watermark).alias("r")
    cond = lt <= rt
    cond = cond & (rt <= lt + F.expr(f"INTERVAL {within}"))
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    joined = l.join(r, cond, how)
    keep = [F.col(f"l.{k}").alias(k) for k in on]
    keep += [lt.alias(left_time)]
    keep += [rt.alias(f"right_{right_time}")]
    others_l = [
        F.col(f"l.{c}").alias(c)
        for c in left.columns
        if c not in set(on) | {left_time}
    ]
    others_r = [
        F.col(f"r.{c}").alias(f"right_{c}")
        for c in right.columns
        if c not in set(on) | {right_time}
    ]
    return joined.select(*keep, *others_l, *others_r)


def near_dup_filter_stream(
    stream_df: DataFrame,
    out_path: str,
    index_path: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    trigger_once: bool = True,
):
    """Streaming near-duplicate ingestion filter — the nightly-crawl
    pattern as one continuous pipeline: each micro-batch of documents is
    (1) deduped within itself (MinHash-LSH pairs; the larger id of a
    verified pair drops — deterministic, order-independent), (2) matched
    against the persistent MinHash index of everything previously
    admitted (``operators.dedup.minhash_match_against`` — corpus text is
    never re-shingled), and (3) survivors are appended to the output
    dataset while their signatures append to the index dataset.

    Within a candidate cluster the drop rule can over-drop a chain
    (a<b<c, b~a and c~b but c!~a drops both b and c) — the standard
    LSH-pipeline trade for a single-pass, deterministic rule; use the
    offline ``dedup_keep_best`` for representative selection.

    Scale shape: per batch, kernel cost is batch-sized only; the index
    side shuffles (id, band-key) pairs, and the index grows by one
    signature row per admitted doc — identical to the batch incremental
    path, so a stream replay and a sequence of batch runs produce the
    same admitted set (pinned by tests).
    """
    from aws_sdk_pandas_spark.operators.dedup import (
        build_minhash_index,
        minhash_duplicates,
        minhash_match_against,
    )
    from aws_sdk_pandas_spark.sources._write import write_dataset

    spark = stream_df.sparkSession
    kw = dict(num_hashes=num_hashes, shingle_k=shingle_k, seed=seed)

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch = batch_df.persist()
        # (1) within-batch: drop the larger id of every verified pair
        pairs = minhash_duplicates(
            batch, id_col, text_col, bands=bands, threshold=threshold, **kw
        )
        batch_losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        remaining = batch.join(batch_losers, id_col, "left_anti")
        # (2) against the persistent index
        index = _read_state_if_exists(spark, index_path)
        if index is not None:
            matched = minhash_match_against(
                index, remaining, id_col, text_col,
                bands=bands, threshold=threshold, **kw,
            ).select(F.col("new_id").alias(id_col)).distinct()
            survivors = remaining.join(matched, id_col, "left_anti")
        else:
            survivors = remaining
        survivors = survivors.localCheckpoint(eager=True)
        # (3) admit + extend the index
        write_dataset(survivors, out_path, "parquet", mode="append")
        write_dataset(
            build_minhash_index(survivors, id_col, text_col, **kw),
            index_path,
            "parquet",
            mode="append",
        )
        batch.unpersist()

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decontaminate_stream(
    stream_df: DataFrame,
    eval_df: DataFrame,
    out_path: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    fpp: float = 0.01,
    reject_path: str | None = None,
    trigger_once: bool = True,
):
    """Streaming eval-set decontamination guard: every micro-batch of
    incoming documents is checked against a FIXED benchmark corpus and
    only docs sharing no exact word ``n``-gram with it are admitted
    (``reject_path`` captures the contaminated rows for audit).  The
    ingestion-time complement of the offline ``operators.bloom.
    decontaminate`` pass — run both: offline for the backfill, this for
    the continuously-arriving crawl.

    Scale shape: the eval gram set is reduced ONCE at stream start —
    distinct grams persist, and the Bloom filter is built a single time
    and reused by every batch (the per-batch work is one map-side bloom
    probe over the batch's grams plus a sliver-sized exact verify join
    against the persisted gram set).  Batch-replay equivalence with the
    offline operator is pinned in tests.
    """
    from aws_sdk_pandas_spark.operators.bloom import (
        _word_ngrams,
        build_bloom,
        might_contain,
    )
    from aws_sdk_pandas_spark.sources._write import write_dataset

    grams_col = _word_ngrams(F.col(text_col), n)
    eval_grams = (
        eval_df.select(F.explode(grams_col).alias("g")).distinct().persist()
    )
    bloom = build_bloom(eval_grams, "g", fpp=fpp)
    # build the membership-test Column ONCE: in broadcast mode the bloom
    # words ride a SparkContext broadcast created at construction time —
    # building it per batch would leak one broadcast per micro-batch
    g_test = might_contain(F.col("g"), bloom)

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch = batch_df.persist()
        cand = batch.select(F.col(id_col), F.explode(grams_col).alias("g")).where(
            g_test
        )
        bad = (
            cand.join(eval_grams, "g", "left_semi")
            .select(id_col)
            .distinct()
            .localCheckpoint(eager=True)  # computed once, reused by both writes
        )
        survivors = batch.join(F.broadcast(bad), id_col, "left_anti")
        write_dataset(survivors, out_path, "parquet", mode="append")
        if reject_path:
            rejected = batch.join(F.broadcast(bad), id_col, "left_semi")
            write_dataset(rejected, reject_path, "parquet", mode="append")
        batch.unpersist()

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drift_monitor_stream(
    stream_df: DataFrame,
    baseline_df: DataFrame,
    metrics_path: str,
    *,
    checkpoint: str,
    text_col: str = "text",
    ngrams: tuple = (1, 2),
    buckets: int = 512,
    alpha: float = 1.0,
    trigger_once: bool = True,
):
    """Streaming corpus-drift monitor: every micro-batch's gram
    distribution is compared against a FROZEN baseline corpus and one
    metrics row ``(batch_id, n_docs, js_total, psi_total)`` appends to
    ``metrics_path`` — the alerting feed for a continuously-ingesting
    crawl (PSI > 0.1 warn / > 0.25 act).

    Scale shape: the baseline reduces ONCE at stream start to a
    ``buckets``-row histogram held on the driver (bounded; no cache
    entry to leak past query termination); per batch
    the only corpus-sized work is the batch's own bucket count, and the
    divergence math runs on the bounded joined histogram
    (``operators.drift.corpus_divergence`` semantics, baseline side
    precomputed).
    """
    from aws_sdk_pandas_spark.operators.drift import gram_bucket_counts
    from aws_sdk_pandas_spark.sources._write import write_dataset

    spark = stream_df.sparkSession
    # the baseline histogram is <= `buckets` rows: hold it on the DRIVER
    # and rebuild a literal frame per batch — a persisted DataFrame here
    # would leak a cache entry past query termination (nothing owns its
    # unpersist in the foreachBatch lifecycle)
    base_rows = (
        gram_bucket_counts(baseline_df, text_col=text_col, ngrams=ngrams, buckets=buckets)
        .collect()
    )
    base_hist = [(int(r["bucket"]), int(r["n"])) for r in base_rows]
    t_base = sum(n for _, n in base_hist)
    all_buckets = spark.range(buckets).select(F.col("id").alias("bucket"))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch = batch_df.persist()
        n_docs = batch.count()
        ca = (
            gram_bucket_counts(batch, text_col=text_col, ngrams=ngrams, buckets=buckets)
            .withColumnRenamed("n", "n_a")
            .persist()
        )
        t_batch = ca.agg(F.sum("n_a")).first()[0] or 0
        base_counts = local_frame(spark, base_hist or [(0, 0)], "bucket long, n_b long")
        j = (
            all_buckets.join(ca, "bucket", "left")
            .join(base_counts, "bucket", "left")
            .select(
                F.coalesce("n_a", F.lit(0)).alias("n_a"),
                F.coalesce("n_b", F.lit(0)).alias("n_b"),
            )
        )
        p = (F.col("n_a") + F.lit(alpha)) / (F.lit(t_batch) + F.lit(alpha * buckets))
        q = (F.col("n_b") + F.lit(alpha)) / (F.lit(t_base) + F.lit(alpha * buckets))
        m = (p + q) / 2
        row = j.agg(
            F.sum((p * F.log(p / m) + q * F.log(q / m)) / 2).alias("js_total"),
            F.sum((p - q) * F.log(p / q)).alias("psi_total"),
        ).first()
        metrics = local_frame(
            spark,
            [(int(batch_id), int(n_docs), float(row["js_total"]), float(row["psi_total"]))],
            "batch_id long, n_docs long, js_total double, psi_total double",
        )
        write_dataset(metrics, metrics_path, "parquet", mode="append")
        ca.unpersist()
        batch.unpersist()

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_rollup_stream(
    events: DataFrame,
    state_path: str,
    *,
    keys: list[str],
    metrics: dict[str, list[str]],
    checkpoint: str,
    trigger_once: bool = True,
):
    """Streaming materialization of the incremental rollup algebra
    (`operators.aggregates`): each micro-batch reduces to its PARTIAL
    aggregate state (sum/count/min/max/HLL-distinct components — batch
    volume collapses to key cardinality before anything durable
    happens), merges with the stored state table, and swaps it.  The
    running rollup is then `finalize_aggregates(spark.read.parquet(
    state_path), metrics, keys)` at any moment — answered from the
    state table alone, the raw history is NEVER re-scanned.

    This is the streaming face of the same mergeable-state discipline
    the batch `partial_aggregate`/`merge_aggregates` pair provides for
    daily partitions and backfills: one algebra, three arrival modes.
    The per-batch cost is (batch partial) + (state-sized merge), so a
    year of history costs the same per batch as day one.

    Durability: the swap is crash-safe.  Each batch writes the merged
    state to a ``.staging`` sibling directory FIRST (the live state is
    never the write target), then swaps via two directory renames
    (state → ``.old``, staging → state).  A crash at any point leaves a
    complete copy on disk: mid-write → live state untouched; between
    the renames → ``.old`` holds the pre-batch state and the next
    attempt (or reader) falls back to it.  Delivery is therefore
    at-least-once — a crash between the swap and the checkpoint commit
    replays the batch and merges it twice — but accumulated state is
    never destroyed.  For exactly-once, point ``state_path`` at a
    transactional table (Delta/Iceberg via `lakehouse`) and make the
    swap a MERGE keyed on batch_id.
    """
    from aws_sdk_pandas_spark.operators.aggregates import (
        merge_aggregates,
        partial_aggregate,
    )

    spark = events.sparkSession

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        part = partial_aggregate(batch_df, keys, metrics)
        prev = _read_rollup_state(spark, state_path)
        merged = part if prev is None else merge_aggregates([prev, part], keys)
        staged = merged.localCheckpoint(eager=True)  # break lineage off the files being replaced
        _atomic_swap_state(spark, staged, state_path)

    writer = events.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
