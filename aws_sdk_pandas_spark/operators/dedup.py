"""Deduplication operators for large-scale corpora.

Beyond the reference's surface (its vector family seeds the API shape,
awswrangler/s3/_vectors/), these are the LLM-training-pipeline dedup
primitives, each designed shuffle-consciously:

- exact:        one hash-aggregate (map-side combine), no Python.
- fingerprint:  md5 of normalized text -> same single aggregate.
- minhash LSH:  shingle -> minhash signature (per-row, no shuffle) ->
                banding -> ONE shuffle on (band, bucket) -> candidate
                pairs verified with exact Jaccard. No O(n^2) stage; at
                1000 executors every stage stays key-partitioned.
- simhash:      per-row 63-bit signature; duplicates = identical signature
                (single aggregate) — Hamming-radius search is round-2.
- n-gram Jaccard: inverted-index pair generation with a hot-ngram
                frequency cutoff (skew guard), then exact Jaccard verify.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.functions.text import document_fingerprint, ngrams, tokens

# Mersenne prime 2^31-1 for minhash universal hashing: operands stay below
# 2^31 so a*h+b < 2^62 never overflows a long (ANSI mode would raise)
_MERSENNE = (1 << 31) - 1


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Heavy per-row compute (shingling, signatures) must not run on a
    handful of input splits: a small/compacted file set would serialize
    the whole operator on one core.  Repartition up to the cluster's
    default parallelism when the scan has fewer partitions (round-robin,
    no key skew); at real scale inputs already exceed this and it's a
    no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # JVM-side partition count: df.rdd would build the Python-RDD
    # conversion pipeline just to ask for a number
    if df._jdf.rdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


def dedup_exact(
    df: DataFrame,
    subset: list[str] | None = None,
    *,
    keep: str = "any",
    order_col: str | None = None,
) -> DataFrame:
    """Exact deduplication.

    ``keep='any'`` -> ``dropDuplicates`` (one hash aggregate).
    ``keep='first'|'last'`` with ``order_col`` -> deterministic winner via
    a window (one shuffle on the subset keys).
    """
    if keep == "any" or order_col is None:
        return df.dropDuplicates(subset)
    direction = F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()
    w = Window.partitionBy(*(subset or df.columns)).orderBy(direction)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def dedup_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str | None = None,
) -> DataFrame:
    """Near-exact dedup on the normalized-content fingerprint
    (case/whitespace-insensitive).  Keeps the smallest id per fingerprint
    when ``id_col`` given, else an arbitrary representative.

    Skew shape: ONE hash aggregation with ``min_by`` (map-side partial
    combine) — a boilerplate document duplicated a billion times costs
    each task only its local min, never a single-task window funnel.

    The ``min_by`` order key is NULL-safe: a bare ``min_by(row, id)``
    IGNORES rows whose id is NULL, so a group whose ids are ALL NULL
    would aggregate to a NULL struct and expand to an all-NULL row —
    silent content destruction on dirty input.  Ordering by
    ``struct(id IS NULL, id, xxhash64(text))`` keeps every row in play
    (non-NULL ids win, NULL-id groups keep a deterministic
    content-hashed representative)."""
    fp = document_fingerprint(F.col(text_col))
    with_fp = df.withColumn("__fp", fp)
    if id_col is None:
        return with_fp.dropDuplicates(["__fp"]).drop("__fp")
    cols = list(df.columns)
    order = F.struct(
        F.col(id_col).isNull().alias("n"),
        F.col(id_col).alias("i"),
        F.xxhash64(F.col(text_col)).alias("t"),
    )
    return (
        with_fp.groupBy("__fp")
        .agg(F.min_by(F.struct(*cols), order).alias("__row"))
        .select("__row.*")
    )


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


# FNV-64 prime as the rolling-hash base (uint64 wraparound arithmetic)
_ROLL_BASE = 1099511628211


def _text_minhash_kernel(num_hashes: int, shingle_k: int, seed: int = 42):
    """Fused normalize -> shingle -> hash -> signature kernel as ONE
    Arrow-batched pandas UDF returning ``struct<h:array<bigint>,
    sig:array<bigint>>`` (``h`` = distinct shingle hashes mod 2^31-1 for
    exact-Jaccard verification, ``sig`` = the MinHash signature).

    Why Python here at all: the JVM formulation (regex-normalize +
    per-position substring + xxhash64 + a higher-order min-aggregate)
    evaluates interpreted per-shingle lambdas — benchmarked ~10x slower
    end-to-end than this kernel, which does one vectorized pandas str
    normalization pass and, per document, a k-step numpy rolling hash
    plus one (shingles x num_hashes) broadcast-min.  Text crosses the
    Arrow boundary once; no per-row Python objects.
    """
    coeffs = _minhash_coeffs(num_hashes, seed)
    a = np.array([c[0] for c in coeffs], dtype=np.int64)
    b = np.array([c[1] for c in coeffs], dtype=np.int64)
    empty_sig = [int(_MERSENNE)] * num_hashes
    base = np.uint64(_ROLL_BASE)
    p64 = np.uint64(_MERSENNE)

    @F.pandas_udf("struct<h:array<bigint>,sig:array<bigint>>")
    def _kernel(texts: pd.Series) -> pd.DataFrame:
        norm = (
            texts.fillna("")
            .str.strip()
            .str.lower()
            .str.replace(r"\s+", " ", regex=True)
        )
        hs: list[list[int]] = []
        sigs: list[list[int]] = []
        old = np.seterr(over="ignore")  # uint64 wraparound is the hash
        try:
            for s in norm:
                bts = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                n = len(bts)
                if n == 0:
                    hs.append([])
                    sigs.append(empty_sig)
                    continue
                if n >= shingle_k:
                    h = np.zeros(n - shingle_k + 1, dtype=np.uint64)
                    for j in range(shingle_k):
                        h = h * base + bts[j : n - shingle_k + 1 + j]
                else:
                    acc = np.uint64(0)
                    for x in bts:
                        acc = acc * base + x
                    h = np.array([acc], dtype=np.uint64)
                m = np.unique((h % p64).astype(np.int64))
                # operands < 2^31 so a*m+b < 2^62: no int64 overflow.
                # (A shift+mask Mersenne reduction was benchmarked here and
                # LOST to numpy's scalar %: the extra temporaries make it
                # memory-bound — 0.75s vs 0.44s per 50M elements.)
                sig = ((np.multiply.outer(m, a) + b) % _MERSENNE).min(axis=0)
                # numpy arrays go straight through the Arrow conversion —
                # .tolist() here materialized ~1.5k Python ints per doc
                hs.append(m)
                sigs.append(sig)
        finally:
            np.seterr(**old)
        return pd.DataFrame({"h": hs, "sig": sigs})

    return _kernel


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    out_col: str = "minhash",
) -> DataFrame:
    """Attach a MinHash signature column (array<bigint>, len=num_hashes)."""
    kernel = _text_minhash_kernel(num_hashes, shingle_k, seed)
    return _ensure_parallelism(df).withColumn(out_col, kernel(F.col(text_col))["sig"])


def minhash_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Pipeline: shingle -> signature (row-local) -> band hashes -> explode ->
    ONE shuffle grouping by (band, bucket) -> within-bucket candidate
    pairs (id_a < id_b) -> exact Jaccard verification on shingle sets ->
    pairs with ``jaccard >= threshold``.

    Returns columns: ``id_a, id_b, jaccard``.
    At scale the only heavy exchange is the band-bucket shuffle, which is
    uniformly key-distributed by construction; candidate verification is a
    self-join on the (much smaller) candidate id set.
    """
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")

    kernel = _text_minhash_kernel(num_hashes, shingle_k, seed)
    # the signature rides along POSITION-TAGGED (sig[i]*num_hashes + i,
    # a per-position bijection): the pair prefilter can then count
    # agreeing components with ONE native array_intersect instead of an
    # interpreted zip_with+filter+size lambda chain per pair (guide §4.1).
    # The tagged column is materialized INSIDE the persisted frame: left
    # as a projection over the cache, the optimizer collapses it past the
    # banding explode and re-evaluates the 64-lambda transform once per
    # exploded row (bands x per doc) instead of once per doc.
    tagged = F.transform(
        "__sig", lambda x, i: x * F.lit(num_hashes).cast("long") + i
    )
    base = (
        _ensure_parallelism(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")))
        .withColumn("__hs", kernel(F.col("__text")))
        .select("__id", F.col("__hs.h").alias("__h"), F.col("__hs.sig").alias("__sig"))
        .withColumn("__tsig", tagged)
        # consumed by banding AND twice by verification: persist so the
        # kernel runs once (spills to disk if large)
        .persist()
    )
    # materialize the cache BEFORE the plan fans out: the final action
    # schedules the banding scan and both verify-join scans concurrently,
    # and on a cold cache each would redundantly recompute the kernel
    base.count()

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    # the signature (num_hashes longs) rides along with the band keys so
    # candidate pairs can be PREFILTERED on the MinHash Jaccard estimate
    # (fraction of agreeing components) before any shingle set is touched.
    # In boilerplate-heavy corpora candidates >> true duplicates, and each
    # candidate would otherwise drag its two full shingle-hash arrays
    # (O(doc size)) through the verify joins; the estimate costs
    # O(num_hashes) per pair inside the same stage that generates it.
    # Cutoff = threshold - 3 sigma of the Binomial(num_hashes, threshold)
    # estimator, so a true >=threshold pair is dropped with P < ~1e-3
    # (measured at sf0.1: 73k candidates -> 3k survivors, identical final
    # pair set, verify-join time cut ~4x).
    import math

    sigma = math.sqrt(threshold * (1.0 - threshold) / num_hashes)
    min_match = max(0, int(math.ceil((threshold - 3.0 * sigma) * num_hashes)))
    # Band buckets hash the RAW sig slices, so bucket values (and the
    # stored-index band layout in minhash_match_against) are unchanged.
    buckets = base.select(
        F.col("__id"), F.col("__tsig"), F.explode(band_structs).alias("bb")
    ).select(
        "__id",
        F.col("__tsig").alias("__sig"),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )

    # candidate pairs via group-and-combine (ONE aggregation; a self-join
    # would recompute the signature pipeline for both sides and shuffle
    # the full bucket table twice).  Dedup candidates BEFORE verification:
    # near-dups collide in many of the 16 bands, so the raw candidate
    # multiset is ~bands x larger than the distinct set, and each extra
    # copy would drag its two shingle arrays through the verify joins
    # (measured 3x slower end-to-end when deduping after verification)
    pairs = _sig_filtered_pairs_from_buckets(buckets, min_match).dropDuplicates(
        ["id_a", "id_b"]
    )

    sh = base.select("__id", "__h")
    verified = (
        pairs.join(sh.withColumnsRenamed({"__id": "id_a", "__h": "h_a"}), "id_a")
        .join(sh.withColumnsRenamed({"__id": "id_b", "__h": "h_b"}), "id_b")
        .withColumn("__shared", F.size(F.array_intersect("h_a", "h_b")))
        .withColumn(
            # ``h`` arrays are np.unique outputs (true sets), so
            # |A∪B| = |A|+|B|−|A∩B| exactly — arithmetic instead of a
            # second per-pair set materialization (array_union allocated
            # a ~|A|+|B| array per candidate).
            # try_divide: two degenerate documents (no shingles at all —
            # NULL/empty/shorter-than-k text) can collide in banding with
            # empty shingle sets; 0/0 must read NULL (pair filtered out),
            # not raise DIVIDE_BY_ZERO under ANSI mode mid-corpus
            "jaccard",
            F.try_divide(
                F.col("__shared"),
                F.size("h_a") + F.size("h_b") - F.col("__shared"),
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    # The base cache is caller-owned: the returned plan scans it lazily,
    # so it cannot be unpersisted here.  An eager result checkpoint +
    # unpersist was tried and REVERTED: driving the pipeline through
    # RDD materialization re-ran the banding map once for the broadcast
    # branch and once for the checkpoint job (no AQE stage reuse),
    # +0.4s at sf0.1 (alternating A/B).  A long-lived session that runs
    # this operator many times should spark.catalog.clearCache()
    # periodically.
    return verified


def build_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Materializable MinHash index over a corpus: one row per document
    with the shingle-hash set (``h``, for exact-Jaccard verification) and
    the MinHash signature (``sig``).  WRITE this as a parquet/Delta
    dataset once; incremental batches then dedup against it with
    ``minhash_match_against`` without re-processing the corpus — the
    nightly-crawl pattern at 100 TB.

    Same kernel and hash coefficients as ``minhash_duplicates``: indexes
    built with the same (num_hashes, shingle_k, seed) are compatible.
    """
    kernel = _text_minhash_kernel(num_hashes, shingle_k, seed)
    return (
        _ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
        .withColumn("__hs", kernel(F.col("__text")))
        .select("id", F.col("__hs.h").alias("h"), F.col("__hs.sig").alias("sig"))
    )


def minhash_match_against(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-duplicate detection: match a NEW batch of
    documents against an existing ``build_minhash_index`` output without
    touching the corpus text.

    Pipeline: kernel over the new batch only -> band hashes on both sides
    (the index side recomputes band keys from stored signatures — cheap
    JVM slicing, no Python) -> equi-join per (band, bucket) -> signature
    prefilter -> exact Jaccard on the stored shingle sets.  Returns
    ``new_id, index_id, jaccard``.

    Scale shape: the corpus-side shuffle carries (id, 8-byte band keys)
    only; shingle sets move only for pairs surviving the prefilter.

    Index compatibility note: the candidate prefilter position-tags
    stored signatures as ``sig[i]*num_hashes + i``, which is only
    overflow-safe because ``_text_minhash_kernel`` bounds every
    component below 2^31 (mod the Mersenne prime).  An index whose
    ``sig`` column was produced by anything other than
    :func:`build_minhash_index` with full-range 64-bit values would
    overflow the long multiply (an error under ANSI mode, silent tag
    collisions otherwise) — indexes must come from the same kernel
    family, which the (num_hashes, shingle_k, seed) contract already
    implies.
    """
    import math

    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")

    kernel = _text_minhash_kernel(num_hashes, shingle_k, seed)
    new_base = (
        _ensure_parallelism(
            new_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        )
        .withColumn("__hs", kernel(F.col("__text")))
        .select("id", F.col("__hs.h").alias("h"), F.col("__hs.sig").alias("sig"))
        .persist()
    )
    new_base.count()

    def band_keys(side: DataFrame) -> DataFrame:
        structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
        return side.select("id", "sig", F.explode(structs).alias("bb")).select(
            "id",
            "sig",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    sigma = math.sqrt(threshold * (1.0 - threshold) / num_hashes)
    min_match = max(0, int(math.ceil((threshold - 3.0 * sigma) * num_hashes)))

    # the prefilter counts agreeing components via POSITION-TAGGED sigs
    # (sig[i]*num_hashes + i, a per-position bijection): tag equality <=>
    # same position AND same value, so ONE native array_intersect per
    # candidate replaces an interpreted zip_with lambda chain (guide
    # §4.1).  Tagging is applied AFTER the band join, once per CANDIDATE
    # pair: tagging before the explode re-ran the 64-lambda transform
    # once per exploded row (bands x per doc, the optimizer collapses the
    # projection into the Generate), and bucket collisions are far rarer
    # than band rows.  Raw sigs ride the shuffle (same bytes either way);
    # bucket hashes stay on the RAW slices, so stored indexes built
    # before this change keep matching.
    def _tag(col: str) -> Column:
        return F.transform(col, lambda x, i: x * F.lit(num_hashes).cast("long") + i)

    n_side = band_keys(new_base).withColumnsRenamed({"id": "new_id", "sig": "sig_n"})
    i_side = band_keys(index.select("id", "sig")).withColumnsRenamed(
        {"id": "index_id", "sig": "sig_i"}
    )
    candidates = (
        n_side.join(i_side, ["band", "bucket"])
        .withColumn("__match", F.size(F.array_intersect(_tag("sig_n"), _tag("sig_i"))))
        .where(F.col("__match") >= min_match)
        .select("new_id", "index_id")
        .dropDuplicates(["new_id", "index_id"])
    )
    verified = (
        candidates.join(
            new_base.select(F.col("id").alias("new_id"), F.col("h").alias("h_n")), "new_id"
        )
        .join(index.select(F.col("id").alias("index_id"), F.col("h").alias("h_i")), "index_id")
        .withColumn("__shared", F.size(F.array_intersect("h_n", "h_i")))
        .withColumn(
            # sets, so |A∪B| = |A|+|B|−|A∩B| (see minhash_duplicates);
            # try_divide for the same degenerate-collision case:
            # 0/0 reads NULL, never DIVIDE_BY_ZERO
            "jaccard",
            F.try_divide(
                F.col("__shared"),
                F.size("h_n") + F.size("h_i") - F.col("__shared"),
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", F.round("jaccard", 6).alias("jaccard"))
    )
    # new_base cache is caller-owned (see minhash_duplicates: the eager
    # release-at-exit variant re-ran shared exchanges and was reverted).
    return verified


def _sig_filtered_pairs_from_buckets(
    buckets: DataFrame, min_match: int, max_group: int = 1000
) -> DataFrame:
    """Within-bucket ordered id pairs whose signatures agree on at least
    ``min_match`` components.  One aggregation per (band, bucket): collect
    sorted (id, sig) structs, explode the upper-triangle pairs, computing
    the signature-agreement count inline.  ``buckets.__sig`` must be
    POSITION-TAGGED (``sig[i]*num_hashes + i``): agreement is then ONE
    native ``array_intersect`` per pair (tags are unique within an array,
    and tag equality <=> same position AND same value) instead of an
    interpreted zip_with lambda chain — O(num_hashes) native hash-set ops
    per pair, in the same stage.  ``max_group`` caps quadratic blowup
    from a degenerate hot bucket.

    ``collect_list``, not ``collect_set``: each document contributes
    exactly one row per band, so within a (band, bucket) group the
    (id, sig) structs are already distinct — the sorted arrays are
    identical, and the list variant skips hashing every ~0.5 KB struct
    into a dedup set during both aggregation phases."""
    groups = (
        buckets.groupBy("band", "bucket")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__id").alias("i"), F.col("__sig").alias("s")))
                ),
                1,
                max_group,
            ).alias("ds")
        )
        .where(F.size("ds") > 1)
    )
    ds = F.col("ds")
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ds, i + 2, F.size(ds)),
                    lambda y: F.struct(
                        x["i"].alias("id_a"),
                        y["i"].alias("id_b"),
                        F.size(F.array_intersect(x["s"], y["s"])).alias("match"),
                    ),
                ),
                lambda p: p["match"] >= F.lit(min_match),
            ),
        )
    )
    return groups.select(F.explode(pair_structs).alias("p")).select("p.id_a", "p.id_b")


def _pairs_from_groups(
    df: DataFrame, group_cols: list[str], id_col: str, max_group: int = 1000
) -> DataFrame:
    """All within-group ordered id pairs: groupBy -> collect sorted ids ->
    explode the upper-triangle combinations.  ``max_group`` caps quadratic
    blowup from a degenerate hot bucket (skew guard; capped groups are
    truncated, mirroring the hot-ngram cutoff)."""
    groups = (
        df.groupBy(*group_cols)
        .agg(F.slice(F.array_sort(F.collect_set(id_col)), 1, max_group).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return groups.select(F.explode(pair_structs).alias("p")).select("p.id_a", "p.id_b")


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "simhash",
    bits: int = 63,
) -> DataFrame:
    """63-bit SimHash over whitespace tokens (bit 63 left clear to stay in
    signed-long range).  Row-local: token hashes aggregated into per-bit
    counters with array-state higher-order aggregate; no shuffle."""
    df = _ensure_parallelism(df)
    tok_hashes = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    zero = F.array(*[F.lit(0).cast(T.LongType()) for _ in range(bits)])
    # bit positions are compile-time constants: unroll the per-bit array in
    # Python so shiftright gets int bit counts (stays one JVM expression)
    counters = F.aggregate(
        tok_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast(T.LongType())
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    weights = F.array(*[F.lit(1 << i).cast(T.LongType()) for i in range(bits)])
    sig = F.aggregate(
        F.zip_with(
            counters,
            weights,
            lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast(T.LongType())),
        ),
        F.lit(0).cast(T.LongType()),
        lambda acc, v: acc.bitwiseOR(v),
    )
    return df.withColumn(out_col, sig)


def simhash_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    radius: int = 0,
    bits: int = 63,
) -> DataFrame:
    """Near-duplicates by SimHash Hamming distance <= ``radius``.

    radius=0: identical signatures — a single equi-self-join on the hash.
    radius>0: pigeonhole banding — the 63 bits split into ``radius+1``
    bands; two signatures within distance r agree exactly on at least one
    band, so candidates come from ``radius+1`` equi-joins on (band id,
    band bits) — never an O(n^2) comparison — then exact verification via
    ``bit_count(a XOR b) <= radius`` (JVM-side POPCNT).
    Returns ``id_a, id_b, hamming``.
    """
    sigs = simhash_signatures(df.select(id_col, text_col), text_col, bits=bits)
    return hamming_band_pairs(sigs, id_col, "simhash", radius=radius, bits=bits)


def hamming_band_pairs(
    sigs: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    radius: int,
    bits: int = 63,
) -> DataFrame:
    """All id pairs whose ``hash_col`` signatures are within Hamming
    distance ``radius`` — the pigeonhole-banding candidate generator
    shared by SimHash text dedup and dHash image dedup.

    radius=0: identical signatures — a single equi-self-join.
    radius>0: the ``bits`` bits split into ``radius+1`` bands; two
    signatures within distance r agree exactly on at least one band, so
    candidates come from ``radius+1`` equi-joins on (band id, band
    bits) — never an O(n^2) comparison — then exact verification via
    ``bit_count(a XOR b) <= radius`` (JVM-side POPCNT).
    Returns ``id_a, id_b, hamming``."""
    # both self-join sides derive from ``sigs`` — without materializing
    # it, the upstream signature producer (for image/audio dedup a REAL
    # decode+hash Arrow kernel over every payload) runs once PER SIDE.
    # The materialized frame is (id, one 64-bit hash): tiny at any
    # scale.  persist+count, NOT localCheckpoint: the checkpoint variant
    # was measured +0.33s on multimodal_image_dhash_dups at sf0.1
    # (alternating A/B, 3 rounds) — driving materialization through the
    # RDD path does not share AQE exchange stages with the banding
    # join's broadcast build, so the decode+hash kernel re-ran.
    # Cache lifetime is caller-owned (clearCache() in long sessions).
    sigs = sigs.select(F.col(id_col), F.col(hash_col)).persist()
    sigs.count()
    if radius == 0:
        l = sigs.select(F.col(id_col).alias("id_a"), F.col(hash_col))
        r = sigs.select(F.col(id_col).alias("id_b"), F.col(hash_col))
        return (
            l.join(r, hash_col)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(0).alias("hamming"))
        )

    n_bands = radius + 1
    width = bits // n_bands
    if width < 1:
        raise ValueError(f"radius {radius} too large for {bits}-bit signatures")
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # band b = bits [b*width, ...) (last band takes the rest)
                        F.shiftrightunsigned(F.col(hash_col), b * width)
                        .bitwiseAND(
                            F.lit(
                                (1 << (bits - b * width)) - 1
                                if b == n_bands - 1
                                else (1 << width) - 1
                            )
                        )
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "__sig", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))

    l = banded.select(
        F.col("band"), F.col("key"), F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a")
    )
    r = banded.select(
        F.col("band"), F.col("key"), F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b")
    )
    return (
        l.join(r, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def _ngram_hash_kernel(n: int):
    """Fused tokenize -> n-gram -> hash kernel as one Arrow-batched pandas
    UDF returning the *distinct* hashed word n-grams per document
    (array<bigint>).

    Same rationale as ``_text_minhash_kernel``: the JVM formulation
    (regex split + arrays_zip + concat_ws + per-element xxhash64) runs
    interpreted higher-order lambdas per gram — benchmarked ~4x slower
    end-to-end.  Here: one vectorized split pass, one cython
    ``pd.util.hash_array`` call over ALL grams of the batch, per-doc
    ``np.unique`` on slices.  Only set cardinalities matter downstream
    (Jaccard), so a 64-bit hash stands in for the gram string (collision
    odds ~2^-64 per pair).
    """

    @F.pandas_udf("array<bigint>")
    def _kernel(texts: pd.Series) -> pd.Series:
        toks_list = texts.fillna("").str.split()
        all_grams: list[str] = []
        offsets = [0]
        for toks in toks_list:
            m = len(toks) - n + 1
            if m > 0:
                all_grams.extend(" ".join(toks[i : i + n]) for i in range(m))
            offsets.append(len(all_grams))
        if all_grams:
            hashed = pd.util.hash_array(np.array(all_grams, dtype=object)).astype(np.int64)
        else:
            hashed = np.array([], dtype=np.int64)
        # numpy arrays pass straight through the Arrow conversion — no
        # per-gram Python ints
        out = [
            np.unique(hashed[offsets[i] : offsets[i + 1]])
            for i in range(len(offsets) - 1)
        ]
        return pd.Series(out)

    # asNondeterministic (guide §4.4): downstream ``explode(kernel(...))``
    # implies a ``size(...) > 0`` filter which the optimizer pushes below
    # the parallelism repartition, DUPLICATING the kernel — the plan had
    # two ArrowEvalPython nodes and every document was shingled+hashed
    # twice.  The kernel is pure; the marker only pins it to one
    # evaluation above the exchange.  Trade-off: the marker also blocks
    # pushing OTHER filters past the kernel for every consumer — a
    # caller that wants to hash only a subset must pre-filter its input
    # DataFrame explicitly (cheap rows-in, not a correctness issue).
    return _kernel.asNondeterministic()


def ngram_jaccard_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_ngram_df: int | None = 10_000,
) -> DataFrame:
    """Word n-gram Jaccard near-duplicate pairs via an inverted index:
    per-doc distinct hashed n-grams (fused Arrow kernel) -> explode ->
    drop n-grams appearing in more than ``max_ngram_df`` docs (hot-key /
    skew guard — a stopword n-gram would otherwise create a quadratic
    bucket) -> equi-self-join on the gram hash -> count shared ->
    ``jaccard = shared / (|A| + |B| - shared)``.

    Returns ``id_a, id_b, jaccard``.

    Scale shape: ONE shuffle keyed by gram hash feeds both the
    document-frequency window (the skew guard) and, via the persisted
    8-byte-key posting table, the codegen'd self-join; candidate volume is
    bounded by ``max_ngram_df``^2 per gram, never O(n^2) in documents.
    """
    kernel = _ngram_hash_kernel(n)
    cap = max_ngram_df or 1_000_000
    grams = (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        )
        .select("__id", kernel(F.col("__text")).alias("__grams"))
        .select("__id", F.size("__grams").alias("__ng"), F.explode("__grams").alias("gram"))
        # document frequency per gram: same shuffle key the join needs
        .withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .where((F.col("__df") > 1) & (F.col("__df") <= cap))
        .drop("__df")
        # both join sides scan this; persist so the Python kernel and the
        # gram shuffle run once (the filtered posting table is 3 longs/row).
        # persist, NOT localCheckpoint: the checkpoint variant re-ran the
        # kernel+window subtree (8.1s executor) because the RDD
        # materialization path does not share AQE exchange stages with
        # the downstream join's broadcast build — measured +0.45s at
        # sf0.1, reverted.  Cache lifetime is caller-owned.
        .persist()
    )
    grams.count()  # materialize before the join fans out

    a = grams.select("gram", F.col("__id").alias("id_a"), F.col("__ng").alias("na"))
    b = grams.select("gram", F.col("__id").alias("id_b"), F.col("__ng").alias("nb"))
    shared = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def embedding_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    *,
    threshold: float = 0.1,
    num_hash_tables: int = 4,
    bucket_length: float = 2.0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed approximate
    self-join (never the O(n^2) cross product), cosine distance <=
    ``threshold``.  Returns ``id_a, id_b, distance`` with ``id_a < id_b``.

    The scale path for semantic dedup over a 100 TB corpus: random
    hyperplane bucketing keeps candidate generation key-partitioned; the
    exact distance check runs only on bucket collisions.
    """
    from aws_sdk_pandas_spark.operators.similarity import similarity_join

    pairs = similarity_join(
        df.select(F.col(id_col).alias("k"), F.col(vector_col).alias("v")),
        df.select(F.col(id_col).alias("k"), F.col(vector_col).alias("v")),
        threshold=threshold,
        id_col="k",
        vector_col="v",
        metric="cosine",
        num_hash_tables=num_hash_tables,
        bucket_length=bucket_length,
    )
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round("distance", 6).alias("distance"))
        .orderBy("id_a", "id_b")
    )


def remove_repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    passage_words: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level repeated-passage removal (the MassiveText / RefinedWeb
    "remove duplicated paragraphs across documents" step, adapted to
    word-window passages since the corpus has no newline structure).

    Every document is chunked into consecutive ``passage_words``-word
    passages; any passage whose exact text occurs ``min_count``+ times
    ACROSS THE WHOLE CORPUS is dropped from every document, and the
    survivors are stitched back in original order.

    Shuffle plan (scale path):
      1. chunking is pure per-row JVM compute — split + sequence/
         transform/slice higher-order functions, no Python, no shuffle;
      2. ONE hash aggregate on xxhash64(passage) with map-side combine
         finds the duplicated passage set (at 100 TB the dup set is the
         small minority, so the agg output is orders of magnitude
         smaller than the corpus);
      3. the dup set joins back AS THE SMALL SIDE — AQE broadcasts it,
         so the corpus-side passage rows never shuffle for the join;
      4. one groupBy(id) reassembles documents (array_sort on the
         (pidx, passage) structs — no per-group window sort).

    Returns ``id_col, text (cleaned), n_passages, n_removed``; documents
    whose every passage was duplicated come back with ``text = ''``.
    A document with NULL or empty/whitespace-only text has no passages
    and passes through unchanged (text NULL or verbatim, n_passages 0,
    n_removed 0) — it is never silently dropped.

    Reference parity: nothing in awswrangler — this is the
    training-pipeline extension family (SURVEY.md §2.10).
    """
    W = int(passage_words)
    base = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__orig")
    )
    # NULL/empty text short-circuits to zero passages — split(NULL) would
    # otherwise turn into a NULL array whose posexplode silently drops
    # the document from the output
    norm = F.trim(F.coalesce(F.col("__orig"), F.lit("")))
    words = F.split(norm, r"\s+")
    n_pass = F.ceil(F.size(words) / F.lit(float(W)))
    passages = F.when(
        F.length(norm) > 0,
        F.transform(
            F.sequence(F.lit(0), (n_pass - 1).cast("int")),
            lambda i: F.array_join(F.slice(words, i * W + 1, W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

    ex = base.select(
        "__id", F.posexplode(passages).alias("pidx", "passage")
    ).withColumn("phash", F.xxhash64("passage"))

    dup_hashes = (
        ex.groupBy("phash")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select("phash", F.lit(1).alias("is_dup"))
    )

    # no forced broadcast: at web scale the min_count=2 dup set can be
    # billions of rows — AQE broadcasts it at runtime when it IS small
    flagged = ex.join(dup_hashes, "phash", "left").select(
        "__id",
        "pidx",
        "passage",
        F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
    )

    sorted_structs = F.array_sort(
        F.collect_list(F.struct("pidx", "passage", "is_dup"))
    )
    rebuilt = flagged.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.filter(sorted_structs, lambda s: s["is_dup"] == 0),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("n_passages"),
        F.sum("is_dup").alias("n_removed"),
    )
    # left join back to base: zero-passage documents (NULL/empty text)
    # pass through instead of vanishing in the groupBy
    out = base.join(rebuilt, "__id", "left")
    return out.select(
        F.col("__id").alias(id_col),
        F.coalesce("__clean", "__orig").alias(text_col),
        F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 50,
    keep: str | None = "first",
) -> DataFrame:
    """Exact repeated-SUBSTRING removal with SLIDING windows (the
    suffix-array dedup of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", restated Spark-shaped): any run of
    ``min_tokens``+ whitespace tokens that occurs 2+ times in the corpus
    is cut out of every occurrence except (with ``keep='first'``) the
    one with the globally smallest ``(doc_id, start)``.

    Why this exists next to ``remove_repeated_passages``: fixed
    non-overlapping chunks miss every duplicate that straddles a chunk
    boundary and under-match shifted copies; overlapping L-token windows
    catch ANY >=L-token repeat regardless of alignment — exactly the
    boilerplate/license-header/mirror-page mass the Lee et al. pipeline
    removes.  The price is L rows of window fan-out per token, which is
    why passages stay the cheap first pass and spans are the thorough
    one.

    Algorithm (each step one shuffle or pure codegen):
      1. normalize whitespace, split to tokens, fan out L-token windows
         with their start index (higher-order functions + posexplode —
         no Python);
      2. ONE aggregate keyed on a 128-bit composite (two INDEPENDENT
         xxhash64s of the window — the second over a domain-separated
         copy) finds windows with count >= 2 and, for keep='first', the
         min (doc_id, start) occurrence (a single ``min(struct(...))``
         in the same aggregation).  A single 64-bit key would suffer
         birthday collisions at the multi-billion-window scale this
         targets (~50M windows already in the scale probe) and silently
         delete non-duplicate text; requiring both hashes to agree
         pushes the collision odds below 2^-90 at 10^12 windows while
         adding only 8 bytes per shuffled row;
      3. dup keys join back (AQE broadcasts when the dup set is small);
         the exempt occurrence is filtered out by position equality;
      4. spans [start, start+L) merge per document with the classic
         island scan (running max(end) over a doc-keyed window — state
         O(1), ordering local to each document);
      5. reconstruction is one groupBy(id): tokens re-indexed through
         the merged-span list with array HOFs — a kept-first occurrence
         swallowed by a LARGER removed span still dies, which is the
         range-removal semantics of the original.

    Returns ``id_col, text (cleaned), n_tokens, n_spans, n_removed``.
    Documents with no duplicated span come back verbatim (modulo the
    whitespace normalization); NULL text passes through as NULL
    (n_tokens 0) rather than being dropped.  Deterministic given the
    corpus.

    Reference parity: nothing in awswrangler — training-pipeline
    extension family (SURVEY.md §2.10).
    """
    if keep not in (None, "first"):
        raise ValueError("keep must be 'first' or None")
    L = int(min_tokens)
    if L < 2:
        raise ValueError("min_tokens must be >= 2")

    norm = F.trim(F.regexp_replace(F.col(text_col), "[ \\t\\n\\r]+", " "))
    toks = F.when(F.length(norm) > 0, F.split(norm, " ")).otherwise(
        F.array().cast("array<string>")
    )
    base = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        # NULL text tokenizes to [] (so the doc passes through the
        # left-join reconstruction); the flag restores NULL on output
        F.col(text_col).isNull().alias("__tnull"),
        toks.alias("__toks"),
    )
    n_tok = F.size("__toks")

    # 1. sliding windows with start positions (0-based)
    # sequence(0, -1) would read as a DESCENDING [0, -1] in Spark, so
    # short documents must short-circuit to an empty window list
    # both hashes are computed INSIDE the transform, so the window string
    # exists only transiently inside the lambda — what fans out per row
    # (and crosses the exchange) is 16 bytes of key, never the string
    def _win_keys(i):
        w = F.array_join(F.slice("__toks", i + 1, L), " ")
        return F.struct(
            F.xxhash64(w).alias("__k1"),
            F.xxhash64(F.concat(F.lit("\x01"), w)).alias("__k2"),
        )

    win_keys = F.when(
        n_tok >= L,
        F.transform(F.sequence(F.lit(0), n_tok - L), _win_keys),
    ).otherwise(F.array().cast("array<struct<__k1:bigint,__k2:bigint>>"))
    wins = base.select(
        "__id", F.posexplode(win_keys).alias("__start", "__wk")
    ).select(
        "__id",
        "__start",
        F.col("__wk.__k1").alias("__k1"),
        F.col("__wk.__k2").alias("__k2"),
    )

    # 2. duplicated windows (+ the exempt canonical occurrence)
    dup = (
        wins.groupBy("__k1", "__k2")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("__id", "__start")).alias("__keep"),
        )
        .where(F.col("__n") >= 2)
        .select("__k1", "__k2", "__keep")
    )

    # 3. removable occurrences -> raw spans
    occ = wins.join(dup, ["__k1", "__k2"])
    if keep == "first":
        occ = occ.where(
            ~(
                (F.col("__id") == F.col("__keep.__id"))
                & (F.col("__start") == F.col("__keep.__start"))
            )
        )
    spans = occ.select(
        "__id", F.col("__start").alias("__s"), (F.col("__start") + L).alias("__e")
    )

    # 4. island merge per document
    w_doc = Window.partitionBy("__id").orderBy("__s", "__e")
    prev_max = F.max("__e").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        spans.withColumn(
            "__new", F.when(prev_max.isNull() | (F.col("__s") > prev_max), 1).otherwise(0)
        )
        .withColumn("__isl", F.sum("__new").over(w_doc))
        .groupBy("__id", "__isl")
        .agg(F.min("__s").alias("__s"), F.max("__e").alias("__e"))
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__s", "__e"))).alias("__spans"))
    )

    # 5. reconstruction (docs without spans pass through the left join)
    out = base.join(merged, "__id", "left")
    spans_col = F.coalesce("__spans", F.array().cast("array<struct<__s:int,__e:int>>"))
    kept = F.filter(
        F.transform("__toks", lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda x: ~F.exists(
            spans_col, lambda sp: (x["i"] >= sp["__s"]) & (x["i"] < sp["__e"])
        ),
    )
    removed = F.aggregate(
        spans_col,
        F.lit(0),
        lambda acc, sp: acc + F.least(sp["__e"], F.size("__toks")) - sp["__s"],
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__tnull"), F.lit(None).cast("string"))
        .otherwise(F.array_join(F.transform(kept, lambda x: x["t"]), " "))
        .alias(text_col),
        F.size("__toks").alias("n_tokens"),
        F.size(spans_col).alias("n_spans"),
        removed.alias("n_removed"),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_count: int = 2,
    min_line_chars: int = 1,
    lowercase: bool = False,
    aggressive: bool = False,
    keep: str | None = "first",
) -> DataFrame:
    """CORPUS-level line deduplication — the CCNet / RefinedWeb
    boilerplate pass: a line (trimmed; optionally lowercased for
    matching) that occurs ``min_count``+ times ACROSS THE CORPUS is cut
    from every document — navigation bars, cookie banners, license
    footers, and mirror-page chrome all die here.  ``keep='first'``
    exempts the occurrence with the globally smallest ``(doc_id,
    line_no)``; ``keep=None`` removes every occurrence.  Lines shorter
    than ``min_line_chars`` after trimming are never candidates (one-
    character bullets would cross-link the whole corpus).

    ``aggressive=True`` applies CCNet's matching normalization (the
    paragraph-hash recipe of Wenzek et al. 2020): lowercase, digits
    dropped, punctuation dropped, whitespace squeezed — so "Page 3 of
    10" and "page 4 of 12" match as the same boilerplate.  Output text
    always keeps the ORIGINAL line; only the matching key normalizes.
    Pure codegen (lower + two regexp_replace), still one aggregate.

    This is the third member of the family and deliberately between the
    other two: ``functions.collapse_repeated_lines`` is within-doc and
    consecutive-only; ``remove_repeated_passages``/``remove_repeated_
    spans`` are word-window based and miss line-structure boilerplate
    that is shorter than their window.

    Scale shape (the CCNet step runs on Common-Crawl-sized corpora):
    one posexplode fan-out, ONE aggregate keyed on a 128-bit composite
    (two independent xxhash64s — same birthday-collision argument as
    ``remove_repeated_spans``; the line string itself never crosses the
    exchange), one join back (AQE broadcasts when the dup set is small),
    one per-doc rebuild groupBy.  No Python anywhere.

    Returns ``id_col, text (cleaned), n_lines, n_removed``.  Documents
    whose every line was removed come back with empty text.  Line
    ORDER is preserved via the carried line number.  A document with
    NULL text passes through (text NULL, n_lines 0, n_removed 0) — it
    is never silently dropped.

    Reference parity: nothing in awswrangler — training-pipeline
    extension family (SURVEY.md §2.10).
    """
    if keep not in (None, "first"):
        raise ValueError("keep must be 'first' or None")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")

    base = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        # NULL text must pass through (split(NULL) -> NULL array ->
        # posexplode silently drops the document — at web scale that is
        # silent row loss on dirty data); the flag restores NULL on output
        F.col(text_col).isNull().alias("__tnull"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("__lines"),
    )
    lines = base.select(
        "__id", "__tnull", F.posexplode("__lines").alias("__ln", "__line")
    )
    norm = F.trim(F.col("__line"))
    if lowercase or aggressive:
        norm = F.lower(norm)
    if aggressive:
        # CCNet matching key: numbers, punctuation, and symbols are noise
        # between near-identical boilerplate lines; letters (any script)
        # survive — Java regex Unicode classes, still pure codegen
        norm = F.regexp_replace(norm, "[\\p{P}\\p{S}\\p{N}]", "")
        norm = F.trim(F.regexp_replace(norm, "[ \\t]+", " "))
    lines = lines.select(
        "__id",
        "__tnull",
        "__ln",
        "__line",
        F.when(F.length(norm) >= min_line_chars, norm).alias("__norm"),
    )
    keyed = lines.select(
        "__id",
        "__tnull",
        "__ln",
        "__line",
        F.xxhash64("__norm").alias("__k1"),
        F.xxhash64(F.concat(F.lit("\x01"), F.col("__norm"))).alias("__k2"),
        F.col("__norm").isNotNull().alias("__cand"),
    )
    dup = (
        keyed.where("__cand")
        .groupBy("__k1", "__k2")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("__id", "__ln")).alias("__keep"),
        )
        .where(F.col("__n") >= min_count)
        .select("__k1", "__k2", "__keep")
    )
    marked = keyed.join(dup, ["__k1", "__k2"], "left").withColumn(
        "__rm",
        F.col("__cand")
        & F.col("__keep").isNotNull()
        & (
            F.lit(True)
            if keep is None
            else ~(
                (F.col("__id") == F.col("__keep.__id"))
                & (F.col("__ln") == F.col("__keep.__ln"))
            )
        ),
    )
    rebuilt = marked.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("__rm"), F.struct("__ln", "__line")).otherwise(
                            F.lit(None)
                        )
                    )
                ),
                lambda x: x["__line"],
            ),
            "\n",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__rm").cast("int")).alias("n_removed"),
        F.first("__tnull").alias("__tnull"),
    )
    return rebuilt.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__tnull"), F.lit(None).cast("string"))
        .otherwise(F.col("__clean"))
        .alias(text_col),
        F.when(F.col("__tnull"), F.lit(0)).otherwise(F.col("n_lines")).alias("n_lines"),
        "n_removed",
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "id",
    vector_col: str = "vector",
    *,
    n_clusters: int = 16,
    threshold: float = 0.95,
    keep: str = "low_centroid_sim",
    max_cluster: int = 100_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): KMeans-cluster the embeddings, then WITHIN each
    cluster drop any item whose cosine similarity to a kept-preferred
    neighbor is ``>= threshold``.

    Kept-preference is a deterministic total order per cluster —
    ``keep="low_centroid_sim"`` prefers the item FARTHEST from the
    centroid (the paper's best-performing variant: extreme points
    survive, prototypical near-dups drop), ``"high_centroid_sim"`` the
    reverse; ties break on id.  An item is dropped iff some
    kept-preferred item sits within the threshold — a single dominance
    rule, so the result is order-independent and needs no iterative
    clustering of the duplicate graph.

    Plan shape (100 TB): one KMeans fit (MLlib, sampled init), one
    cluster assignment pass, then a per-cluster self-join — the classic
    SemDeDup trade where ``n_clusters`` bounds the quadratic term:
    clusters average ``n / n_clusters`` rows, so the join does
    ``n^2 / n_clusters`` candidate work distributed over cluster-keyed
    shuffle partitions.  Size ``n_clusters ~ n / 10k`` to keep each
    bucket's pair count bounded; ``max_cluster`` hard-caps a degenerate
    cluster (rows beyond it pass through undeduped rather than fanning
    out quadratically).

    Returns the input rows that SURVIVE, plus ``__cluster`` (int) and
    ``__centroid_sim`` (double) for inspection.
    """
    from aws_sdk_pandas_spark.functions.vectors import cosine_similarity
    from aws_sdk_pandas_spark.operators.similarity import build_ivf_index

    if keep not in ("low_centroid_sim", "high_centroid_sim"):
        raise ValueError("keep must be low_centroid_sim|high_centroid_sim")

    assigned, centroids = build_ivf_index(
        df, vector_col=vector_col, n_clusters=n_clusters, metric="cosine", seed=seed
    )
    spark = assigned.sparkSession
    centroid_df = local_frame(
        spark, [(int(c), v) for c, v in centroids], "__cluster int, __centroid array<float>"
    )
    scored = (
        assigned.join(F.broadcast(centroid_df), "__cluster")
        .withColumn("__centroid_sim", cosine_similarity(F.col(vector_col), F.col("__centroid")))
        .drop("__centroid")
    )
    # deterministic kept-priority inside each cluster (rank 1 = kept first)
    order = (
        [F.col("__centroid_sim").asc(), F.col(id_col).asc()]
        if keep == "low_centroid_sim"
        else [F.col("__centroid_sim").desc(), F.col(id_col).asc()]
    )
    w = Window.partitionBy("__cluster").orderBy(*order)
    ranked = scored.withColumn("__rank", F.row_number().over(w)).persist()
    ranked.count()

    # dominance join: drop i iff a kept-preferred j (rank_j < rank_i,
    # same cluster) is cosine-similar above the threshold.  Only the
    # (id, rank, vector) projection shuffles for the join.
    left = ranked.select(
        F.col("__cluster"),
        F.col(id_col).alias("__i"),
        F.col("__rank").alias("__ri"),
        F.col(vector_col).alias("__vi"),
    ).where(F.col("__ri") <= max_cluster)
    right = ranked.select(
        F.col("__cluster"),
        F.col("__rank").alias("__rj"),
        F.col(vector_col).alias("__vj"),
    ).where(F.col("__rj") <= max_cluster)
    dropped = (
        left.join(right, "__cluster")
        .where(F.col("__rj") < F.col("__ri"))
        .where(cosine_similarity(F.col("__vi"), F.col("__vj")) >= threshold)
        .select(F.col("__i").alias(id_col))
        .distinct()
    )
    out = ranked.join(dropped, id_col, "left_anti").drop("__rank")
    return out
