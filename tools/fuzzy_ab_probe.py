"""A/B probe for the C(L,2) deletion-variant rewrite in operators/fuzzy.py.

Builds the OLD (del1-of-del1) and NEW (direct pair-deletion) d=2 variant
expressions side by side in one session, asserts the produced arrays are
IDENTICAL (values and order) over the real part-name corpus, then times
the full fuzzy self-join candidate generation with each, interleaved
min-of-3, noop sink (guide §1.4).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from aws_sdk_pandas_spark.operators.fuzzy import deletion_variants

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _del1(s: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s))),
    )


def old_variants(col: Column) -> Column:
    v1 = _del1(col)
    out = F.array_union(F.array(col), v1)
    v2 = F.flatten(F.transform(v1, _del1))
    return F.array_union(out, F.array_distinct(v2))


def main() -> int:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("fuzzy-ab")
        .config("spark.sql.shuffle.partitions", CPUS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .select(F.col("p_name").alias("__a"))
        .where(F.col("__a").isNotNull())
        .distinct()
    )

    # 1) value identity, array-for-array (order included)
    cmp = names.select(
        "__a",
        old_variants(F.col("__a")).alias("__old"),
        deletion_variants(F.col("__a"), 2).alias("__new"),
    ).where(F.col("__old") != F.col("__new"))
    bad = cmp.count()
    # short-string edges the corpus may not cover
    edge = spark.createDataFrame([("",), ("a",), ("ab",), ("aa",)], ["__a"])
    bad_edge = (
        edge.select(
            old_variants(F.col("__a")).alias("__old"),
            deletion_variants(F.col("__a"), 2).alias("__new"),
        )
        .where(F.col("__old") != F.col("__new"))
        .count()
    )
    print(f"identity: {bad} corpus mismatches, {bad_edge} edge mismatches")
    if bad or bad_edge:
        return 1

    def pipeline(variant_fn):
        e = names.select(
            "__a", F.explode(variant_fn(F.col("__a"))).alias("__v")
        )
        eb = e.select(F.col("__a").alias("__b"), "__v")
        return (
            e.join(eb, "__v")
            .select("__a", "__b")
            .distinct()
            .where(F.col("__a") < F.col("__b"))
            .withColumn("d", F.levenshtein("__a", "__b"))
            .where(F.col("d") <= 2)
        )

    def timed(df, label):
        spark.sparkContext.setJobDescription(label)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    old_df = pipeline(old_variants)
    new_df = pipeline(lambda c: deletion_variants(c, 2))
    # warm both once, then interleave 3 measured runs
    timed(old_df, "warm-old"), timed(new_df, "warm-new")
    olds, news = [], []
    for i in range(3):
        olds.append(timed(old_df, f"old-{i}"))
        news.append(timed(new_df, f"new-{i}"))
    print(f"old del1-of-del1: runs={['%.2f' % t for t in olds]} min={min(olds):.2f}s")
    print(f"new C(L,2) pairs: runs={['%.2f' % t for t in news]} min={min(news):.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
