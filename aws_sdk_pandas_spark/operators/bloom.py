"""Broadcast Bloom-filter prefilters for membership-heavy joins.

The scale problem: eval-set decontamination, URL/domain blocklists, and
"seen-before" checks are all semi/anti-joins of a huge corpus against a
membership set.  A plain join shuffles (or hash-broadcasts) the full
set; at 10^8-10^9 members the broadcast hash relation is gigabytes and
the shuffle carries every corpus row.  A Bloom filter of the same set is
~10 bits per member (1.2 GB at 10^9 members vs ~60 GB for a hash set),
has NO false negatives, and lets each map task drop the overwhelming
majority of rows before any shuffle.  The sliver of bloom-positive rows
(true matches + fpp false positives) is then exact-verified with a real
join — so composed results are EXACTLY the semi/anti-join, independent
of the hash function, while the shuffle carries ~fpp of the corpus.

This is the same trick Spark's runtime bloom-filter join
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) applies to equi-join
keys — materialized here as an explicit operator so it can run at *gram*
granularity inside text pipelines and persist across batches.

Reference parity: aws-sdk-pandas has no Bloom primitive; this is the
scale path behind the decontamination pass its users run via Athena SQL
(`athena.read_sql_query` with IN-subqueries, reference
awswrangler/athena/_read.py).  Two membership-test paths:

- ``mode="plan"``: the filter words ride the query plan as an
  ``array<bigint>`` literal and the bit test is pure JVM expression
  (xxhash64 -> element_at -> shiftright) — zero Python in the hot path.
  Right for filters up to a few MiB (the plan is shipped per stage).
- ``mode="broadcast"``: the words live in a SparkContext broadcast
  (one copy per executor, not per task) as a numpy uint64 array; the k
  bit positions are STILL computed JVM-side (xxhash64 columns), and an
  Arrow-batched pandas UDF does only the vectorized bit lookups.
  Right for 100 MiB - multi-GiB filters.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame

_PLAN_MODE_MAX_BITS = 1 << 24  # 2 MiB of plan literal; beyond this, broadcast


class BloomFilter:
    """Immutable built filter: ``m_bits`` bit array packed into int64
    words, ``k`` hash functions (xxhash64 seeded 0..k-1)."""

    def __init__(self, words: list[int], m_bits: int, k: int, n_items: int):
        self.words = words
        self.m_bits = m_bits
        self.k = k
        self.n_items = n_items

    @property
    def size_bytes(self) -> int:
        return len(self.words) * 8


def _size_for(n_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n ln p / (ln 2)^2, k = (m/n) ln 2.

    k is capped at 8 probes (each probe is an xxhash64 + bit test per
    row — past 8 the CPU cost beats the shuffle it saves); when the cap
    binds (requested fpp below ~1e-3), m is RE-SIZED for k=8 via
    m = -k n / ln(1 - fpp^(1/k)) so the realized false-positive rate
    still meets the request — more bits instead of more probes."""
    n = max(n_items, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / n * math.log(2)))
    if k > 8:
        k = 8
        m = int(math.ceil(-k * n / math.log(1.0 - fpp ** (1.0 / k))))
    m = ((m + 63) // 64) * 64  # whole words
    return m, k


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of ``col``, as JVM-side columns (xxhash64 with
    seed columns 0..k-1 — stays in whole-stage codegen)."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)).cast("long")
        for i in range(k)
    ]


def build_bloom(
    df: DataFrame,
    col: str,
    *,
    fpp: float = 0.01,
    n_items: int | None = None,
) -> BloomFilter:
    """Build a Bloom filter over the distinct values of ``df[col]``,
    distributed: each value's k bit positions are computed JVM-side, the
    set bits are OR-combined per 64-bit word in ONE aggregation keyed by
    word index (at most m/64 groups — bounded by the filter size, not
    the data), and only the m/64 word rows come back to the driver.
    """
    vals = df.select(F.col(col).alias("__v")).where(F.col("__v").isNotNull()).distinct()
    if n_items is None:
        n_items = vals.count()
    m_bits, k = _size_for(n_items, fpp)
    pos = _positions(F.col("__v"), m_bits, k)
    rows = (
        vals.select(F.explode(F.array(*pos)).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod("p", F.lit(64)).cast("int")
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["w"]] = r["word"]
    return BloomFilter(words, m_bits, k, n_items)


def might_contain(col: Column, bloom: BloomFilter, *, mode: str | None = None) -> Column:
    """Boolean membership-test Column: true for every inserted value (no
    false negatives), true with probability ~fpp for others."""
    if mode is None:
        mode = "plan" if bloom.m_bits <= _PLAN_MODE_MAX_BITS else "broadcast"
    pos = _positions(col, bloom.m_bits, bloom.k)
    if mode == "plan":
        words = F.lit(bloom.words)
        tests = []
        for p in pos:
            word = F.element_at(words, (p / 64).cast("int") + F.lit(1))
            bit = F.call_function("shiftright", word, F.pmod(p, F.lit(64)).cast("int"))
            tests.append(bit.bitwiseAND(F.lit(1).cast("long")) == 1)
        out = tests[0]
        for t in tests[1:]:
            out = out & t
        return out
    if mode == "broadcast":
        from pyspark.sql import SparkSession

        sc = SparkSession.getActiveSession().sparkContext
        bc = sc.broadcast(np.array(bloom.words, dtype=np.int64).view(np.uint64))

        @F.pandas_udf("boolean")
        def _test(p_arrs: pd.Series) -> pd.Series:
            w = bc.value
            if len(p_arrs) == 0:
                return pd.Series([], dtype=bool)
            # positions come pre-hashed from the JVM; here it is ONLY
            # vectorized word/bit lookups on the shared numpy array.
            mat = np.stack(p_arrs.to_numpy()).astype(np.uint64)  # rows x k
            hit = (w[mat >> np.uint64(6)] >> (mat & np.uint64(63))) & np.uint64(1)
            return pd.Series(hit.all(axis=1).astype(bool))

        return _test(F.array(*[p.cast("long") for p in pos]))
    raise ValueError(f"unknown mode {mode!r} (use 'plan' or 'broadcast')")


def bloom_semi_join(
    df: DataFrame,
    filter_df: DataFrame,
    on: str,
    *,
    anti: bool = False,
    fpp: float = 0.01,
    mode: str | None = None,
) -> DataFrame:
    """Exact left semi (or anti) join of ``df`` against the distinct
    values of ``filter_df[on]``, with a Bloom prefilter so the exact
    join only ever sees the bloom-positive sliver.

    semi = bloom-positive rows that exact-verify; anti = bloom-negative
    rows (definitely absent — pass with NO join at all) plus the
    bloom-positive rows that fail exact verification.
    """
    keys = filter_df.select(F.col(on).alias(on)).distinct()
    bloom = build_bloom(keys, on, fpp=fpp)
    test = might_contain(F.col(on), bloom, mode=mode)
    positive = df.where(test)
    if not anti:
        return positive.join(keys, on, "left_semi")
    return df.where(~test).unionByName(positive.join(keys, on, "left_anti"))


def prepare_decontamination(
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    fpp: float = 0.01,
) -> tuple[DataFrame, BloomFilter]:
    """The eager half of :func:`decontaminate`: the distinct eval gram
    set (persisted — the bloom build counts it, the bit aggregation scans
    it, and the exact-verify join probes it) plus its Bloom filter.

    It depends ONLY on ``eval_df``, so pipeline compositions can run it
    in a background thread (guide §2.6: overlap independent jobs) while
    corpus-side stages occupy the cluster — the bloom build's two driver
    actions otherwise serialize after the whole curation chain.

    Caller owns the returned frame's cache: unpersist after the
    decontaminated output is materialized."""
    grams = _word_ngrams(F.col(text_col), n)
    eval_grams = (
        eval_df.select(F.explode(grams).alias("g")).distinct().persist()
    )
    bloom = build_bloom(eval_grams, "g", fpp=fpp)
    return eval_grams, bloom


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    fpp: float = 0.01,
    mode: str | None = None,
    flag: bool = False,
    prepared: tuple[DataFrame, BloomFilter] | None = None,
) -> DataFrame:
    """Eval-set decontamination by exact word n-gram match (the GPT-3 /
    PaLM recipe: drop any training document sharing an n-gram with the
    benchmark).  Returns the surviving corpus rows, or all rows with a
    boolean ``contaminated`` column when ``flag=True``.

    Scale shape: the eval side collapses to a distinct gram set once and
    becomes a Bloom filter (bits ~ 10 x |eval grams| — benchmarks are
    tiny next to the corpus).  The corpus's grams are tested map-side;
    only bloom-positive grams are shuffled into the exact verify join,
    so the result equals the plain gram semi-join for ANY hash.  One
    corpus scan, one sliver-sized shuffle, one broadcast-back of the
    contaminated id set.
    """
    grams = _word_ngrams(F.col(text_col), n)
    if prepared is not None:
        eval_grams, bloom = prepared
    else:
        eval_grams = eval_df.select(F.explode(grams).alias("g")).distinct()
        bloom = build_bloom(eval_grams, "g", fpp=fpp)
    corpus_grams = corpus.select(
        F.col(id_col).alias("__id"), F.explode(grams).alias("g")
    )
    candidates = corpus_grams.where(might_contain(F.col("g"), bloom, mode=mode))
    bad_ids = (
        candidates.join(eval_grams, "g", "left_semi").select("__id").distinct()
    )
    if flag:
        hit = bad_ids.withColumn("contaminated", F.lit(True))
        return (
            corpus.join(
                F.broadcast(hit.withColumnRenamed("__id", id_col)), id_col, "left"
            )
            .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
        )
    return corpus.join(
        F.broadcast(bad_ids.withColumnRenamed("__id", id_col)), id_col, "left_anti"
    )


def _word_ngrams(col: Column, n: int) -> Column:
    """Distinct space-joined word n-grams of a text column, pure JVM:
    portable gram STRINGS, so exact-verify joins and cross-engine
    oracles agree byte-for-byte.  Delegates to ``functions.text.ngrams``
    (n shifted slices zipped — the tokenize subtree evaluates n times
    per row, not len(toks) times as a transform-over-sequence would) and
    inherits its empty-text -> empty-array guard for every n."""
    from aws_sdk_pandas_spark.functions.text import ngrams

    return F.array_distinct(ngrams(col, n))


def save_bloom(bloom: BloomFilter, path: str, spark=None) -> None:
    """Persist a built filter as a one-row parquet dataset (the words
    array plus sizing params) — a nightly decontamination/blocklist run
    builds the eval bloom once and every later run loads it instead of
    re-reducing the membership set."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "no active SparkSession on this thread — pass save_bloom(..., spark=...)"
        )
    df = local_frame(
        spark,
        [(bloom.m_bits, bloom.k, bloom.n_items, bloom.words)],
        "m_bits long, k int, n_items long, words array<long>",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_bloom(spark, path: str) -> BloomFilter:
    """Inverse of :func:`save_bloom`."""
    r = spark.read.parquet(path).first()
    return BloomFilter(list(r["words"]), r["m_bits"], r["k"], r["n_items"])
