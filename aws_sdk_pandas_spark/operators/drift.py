"""Corpus drift detection: distribution divergence between two corpus
snapshots (this week's crawl vs last week's, a new source vs the
curated baseline) over hashed n-gram feature buckets.

The monitoring question every continuously-ingesting training pipeline
has to answer — "did the content distribution move?" — reduced to two
bounded aggregations: each corpus collapses to a ``buckets``-sized
md5-hashed gram histogram (the DSIR featurization from
`operators/sampling._hashed_grams` — md5 so ANY engine re-derives the
same buckets from gram strings), then Jensen-Shannon and PSI
contributions come from one full-outer join of the two histograms.
Corpus size only affects the two counting passes; the divergence math
runs on at most ``buckets`` rows.

Every bucket 0..buckets-1 appears in the output, including those
unobserved in both corpora: when the corpora differ in SIZE the
smoothed probabilities of an empty bucket differ too
(alpha/(Ta+alpha*B) vs alpha/(Tb+alpha*B)), so empty buckets carry
real divergence mass — dropping them would bias the JS/PSI totals
low exactly when one snapshot is much larger than the other.

Reference parity: aws-sdk-pandas has no drift surface; this extends its
data-quality family (`wr.data_quality`, reference
awswrangler/data_quality/_create.py) from per-column rule checks to
corpus-level distribution monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.operators.sampling import _hashed_grams


def gram_bucket_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    ngrams: tuple = (1, 2),
    buckets: int = 512,
) -> DataFrame:
    """Corpus gram histogram: ``bucket, n`` — one explode + one
    map-side-combinable count, output bounded by ``buckets``."""
    g = _hashed_grams(
        df.select(F.lit(0).alias("__rid"), F.col(text_col)),
        "__rid",
        text_col,
        ngrams,
        buckets,
    )
    return g.groupBy(F.col("__bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


def corpus_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    text_col: str = "text",
    ngrams: tuple = (1, 2),
    buckets: int = 512,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket divergence of corpus A vs corpus B: Laplace-smoothed
    probabilities and the Jensen-Shannon / PSI contributions.

    Returns ``bucket, n_a, n_b, p_a, p_b, js, psi`` (rounded; sum the
    ``js`` column for the JS divergence in nats — bounded by ln 2 — and
    ``psi`` for the population-stability index; the usual alert
    thresholds are PSI > 0.1 warn / > 0.25 act).

    Scale shape: the corpora are each read ONCE into a
    ``buckets``-row histogram; the join, window totals, and math all
    run on those bounded frames, so a 100x corpus changes only the two
    counting scans.
    """
    ca = gram_bucket_counts(df_a, text_col=text_col, ngrams=ngrams, buckets=buckets)
    cb = gram_bucket_counts(df_b, text_col=text_col, ngrams=ngrams, buckets=buckets)
    spark = df_a.sparkSession
    all_buckets = spark.range(buckets).select(F.col("id").alias("bucket"))
    j = (
        all_buckets.join(ca.withColumnRenamed("n", "n_a"), "bucket", "left")
        .join(cb.withColumnRenamed("n", "n_b"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    w = Window.partitionBy()  # bounded: at most `buckets` rows
    ta = F.sum("n_a").over(w)
    tb = F.sum("n_b").over(w)
    p = (F.col("n_a") + F.lit(alpha)) / (ta + F.lit(alpha * buckets))
    q = (F.col("n_b") + F.lit(alpha)) / (tb + F.lit(alpha * buckets))
    m = (p + q) / 2
    js = (p * F.log(p / m) + q * F.log(q / m)) / 2
    psi = (p - q) * F.log(p / q)
    return j.select(
        "bucket",
        "n_a",
        "n_b",
        F.round(p, 8).alias("p_a"),
        F.round(q, 8).alias("p_b"),
        F.round(js, 8).alias("js"),
        F.round(psi, 8).alias("psi"),
    )


def psi_numeric(
    df_base: DataFrame,
    df_new: DataFrame,
    *,
    value_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Population stability index for a NUMERIC feature between two
    snapshots — the serving-vs-training drift gate scorecard teams run
    per feature (rule of thumb: PSI < 0.1 stable, > 0.25 investigate).
    Bin edges are the BASELINE's exact interpolated quantiles (so the
    baseline lands ~uniform across bins and drift shows as mass
    imbalance in the new snapshot); returns one row per bin with
    ``bin, lo, hi, share_base, share_new, psi_contrib`` — sum
    ``psi_contrib`` for the index, read the rows to see WHERE the
    distribution moved.

    Scale shape: one exact-percentile aggregation on the baseline (all
    edges in one pass), edges collected (n_bins-1 scalars) and folded
    into a codegen bin assignment; each snapshot then reduces with one
    map-side-combinable count.  Shares are smoothed by eps=1e-6 so an
    empty bin contributes a large-but-finite term; edges are rounded
    to 6 decimals so the cut points are engine-exact.
    """
    v = F.col(value_col).cast("double")
    qs = [i / n_bins for i in range(1, n_bins)]
    edges_row = (
        df_base.where(v.isNotNull())
        .agg(F.percentile(v, F.lit(qs)).alias("e"))
        .collect()[0]["e"]
    )
    if edges_row is None:
        # percentile of zero rows is NULL — fail with the real reason,
        # not a TypeError from iterating None
        raise ValueError("psi_numeric: empty snapshot")
    edges = [round(float(e), 6) for e in edges_row]

    def binned(frame: DataFrame) -> DataFrame:
        b = F.lit(n_bins - 1)
        for i in range(len(edges) - 1, -1, -1):
            b = F.when(v <= F.lit(edges[i]), F.lit(i)).otherwise(b)
        return (
            frame.where(v.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    lo_hi = {
        i: (
            edges[i - 1] if i > 0 else None,
            edges[i] if i < len(edges) else None,
        )
        for i in range(n_bins)
    }
    spark = df_base.sparkSession
    bounds = local_frame(
        spark, [(i, lo, hi) for i, (lo, hi) in lo_hi.items()], "bin int, lo double, hi double"
    )
    base_c = binned(df_base).withColumnRenamed("c", "cb")
    new_c = binned(df_new).withColumnRenamed("c", "cn")
    tot_b = df_base.where(v.isNotNull()).count()
    tot_n = df_new.where(v.isNotNull()).count()
    if tot_b == 0 or tot_n == 0:
        raise ValueError("psi_numeric: empty snapshot")
    eps = 1e-6
    j = (
        bounds.join(base_c, "bin", "left")
        .join(new_c, "bin", "left")
        .select(
            "bin",
            "lo",
            "hi",
            (F.coalesce(F.col("cb"), F.lit(0)) / F.lit(float(tot_b))).alias("__sb"),
            (F.coalesce(F.col("cn"), F.lit(0)) / F.lit(float(tot_n))).alias("__sn"),
        )
    )
    sb = F.greatest(F.col("__sb"), F.lit(eps))
    sn = F.greatest(F.col("__sn"), F.lit(eps))
    return j.select(
        "bin",
        "lo",
        "hi",
        F.round("__sb", round_to).alias("share_base"),
        F.round("__sn", round_to).alias("share_new"),
        F.round((sn - sb) * F.log(sn / sb), round_to).alias("psi_contrib"),
    ).orderBy("bin")
