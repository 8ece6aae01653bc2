"""Weak-scaling probe: run the core operator families on 1x / 4x / 16x
synthetic multiples of sf0.1 and report wall-clock scaling factors.

The small-SF bench proves correctness and plan shape; this probe is the
empirical scale evidence: if an operator's time grows ~linearly in input
size (until the 32 local cores saturate), its plan has no hidden
quadratic stage, driver collection, or skew funnel — the properties that
decide whether it survives 100 TB.

Each copy of the input is PERTURBED so workload density stays constant:
  - lineitem: order keys offset per copy (join/agg key cardinality grows
    with data; group-key count for q01 stays 6).
  - documents: every word gets a per-copy prefix, so copies are NOT
    near-duplicates of each other — duplicate density (and so candidate
    volume) scales linearly, which is the honest corpus-growth model.
  - embeddings: vec_id offset + tiny per-copy vector shift.
  - events: user ids offset per copy (new users, same per-user rate).

Usage: python tools/scale_probe.py [max_mult] [sf_dir]
Prints one JSON line per (op, mult) and a final scaling summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, functions as F


def _multiply(df: DataFrame, n: int, per_copy) -> DataFrame:
    out = None
    for i in range(n):
        c = per_copy(df, i)
        out = c if out is None else out.unionByName(c)
    return out


def probe(spark, sf_dir: str, mult: int) -> dict[str, float]:
    from aws_sdk_pandas_spark.operators.asof import asof_join
    from aws_sdk_pandas_spark.operators.dedup import minhash_duplicates
    from aws_sdk_pandas_spark.operators.similarity import knn_brute_force
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.streaming import sessionize

    timings: dict[str, float] = {}

    li = _multiply(
        read_parquet(spark, f"{sf_dir}/lineitem.parquet"),
        mult,
        lambda d, i: d.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * 1_000_000_000)
        ),
    )
    t0 = time.time()
    li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    timings["agg_q01_style"] = round(time.time() - t0, 2)

    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    digits = "0123456789"

    def _rot(s: str, i: int) -> str:
        """Per-copy SEEDED PERMUTATION of a character class (copy 0 =
        identity).  A permutation is a bijection on the shingle space —
        within-copy similarity structure is exactly the original
        corpus's — and unlike the plain rotation used previously its
        effective period vastly exceeds any copy count: rotation cycles
        mod 26 (mod 10 for digits), so at 64x copies 26 apart became
        IDENTICAL and exact-match operators saw a ~50x-inflated dup load
        (measured: dedup_lines 253s under rotation vs linear-load under
        permutation)."""
        if i == 0:
            return s
        import random as _random

        chars = list(s)
        _random.Random(1000 + i).shuffle(chars)
        return "".join(chars)

    docs = _multiply(
        read_parquet(spark, f"{sf_dir}/documents.parquet"),
        mult,
        lambda d, i: d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        .withColumn(
            # per-copy rotation of every character class: a BIJECTION on
            # the shingle space, so within-copy similarity structure is
            # EXACTLY the original corpus's (duplicate density constant)
            # while cross-copy shingles diverge — the honest
            # corpus-growth model.  (A per-copy word prefix instead
            # collapses the shingle alphabet onto word-boundary patterns
            # and inflates all-pairs similarity ~16,000x; rotating only
            # lowercase leaks digit/template shingles across copies and
            # still inflates LSH candidates ~10x — both measured.)
            "text",
            F.translate(
                F.col("text"),
                lower + upper + digits,
                _rot(lower, i) + _rot(upper, i) + _rot(digits, i),
            ),
        ),
    )
    t0 = time.time()
    n_pairs = minhash_duplicates(docs, "doc_id", "text", threshold=0.5).count()
    timings["minhash_lsh"] = round(time.time() - t0, 2)

    emb = _multiply(
        read_parquet(spark, f"{sf_dir}/embeddings.parquet"),
        mult,
        lambda d, i: d.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000)),
    )
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    t0 = time.time()
    knn_brute_force(
        emb.where("vec_id <> 0"), q, k=10, id_col="vec_id", vector_col="embedding"
    ).collect()
    timings["knn_brute_force"] = round(time.time() - t0, 2)

    # embedding decontamination: eval set FIXED (100 rows — an eval set
    # does not grow with the corpus), corpus grows with mult -> time
    # should scale ~linearly in corpus size (one broadcast anti-join)
    from aws_sdk_pandas_spark.operators.similarity import decontaminate_by_embedding

    eval_df = (
        read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        .where("vec_id % 20 = 0")
        .select("embedding")
    )
    t0 = time.time()
    decontaminate_by_embedding(
        emb, eval_df, id_col="vec_id", vector_col="embedding", threshold=0.95
    ).count()
    timings["embedding_decontaminate"] = round(time.time() - t0, 2)

    ev = _multiply(
        read_parquet(spark, f"{sf_dir}/events.parquet"),
        mult,
        lambda d, i: d.withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
        .withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000)),
    )
    t0 = time.time()
    sessionize(ev, time_col="ts", gap="30 minutes", group_cols=["user_id"]).count()
    timings["sessionize"] = round(time.time() - t0, 2)

    clicks = ev.where("event_type = 'click'").select("user_id", "event_id", "ts")
    quotes = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", F.col("value").alias("q_value")
    )
    t0 = time.time()
    asof_join(clicks, quotes, on="ts", by=["user_id"], direction="backward").count()
    timings["asof_join"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.dedup import remove_repeated_passages
    from aws_sdk_pandas_spark.operators.textstats import chunk_documents

    t0 = time.time()
    remove_repeated_passages(docs, passage_words=3).select(
        F.sum("n_removed")
    ).collect()
    timings["remove_repeated_passages"] = round(time.time() - t0, 2)

    t0 = time.time()
    chunk_documents(docs, chunk_words=16, overlap_words=4).count()
    timings["chunk_documents"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.dedup import remove_repeated_spans

    # sliding-window span dedup: window fan-out is linear in token
    # volume, the dup-set aggregate combines map-side, reconstruction
    # broadcasts the (duplicate-bearing) span lists — the rotation keeps
    # per-copy duplicate density constant, so removed volume grows
    # linearly with the corpus
    t0 = time.time()
    remove_repeated_spans(docs, min_tokens=8).select(F.sum("n_removed")).collect()
    timings["remove_repeated_spans"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.dedup import dedup_lines

    # corpus-level line dedup: line fan-out linear in corpus, one
    # 128-bit-keyed aggregate, join-back proportional to the dup set
    # (constant density under the rotation) — time should track volume
    _norm = F.trim(F.regexp_replace(F.col("text"), "[ \\t\\n\\r]+", " "))
    _toks = F.split(_norm, " ")
    _nc = F.ceil(F.size(_toks) / F.lit(8.0)).cast("int")
    docs_lined = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), _nc - 1),
                lambda i: F.array_join(F.slice(_toks, i * 8 + 1, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    t0 = time.time()
    dedup_lines(docs_lined, min_count=2).select(F.sum("n_removed")).collect()
    timings["dedup_lines"] = round(time.time() - t0, 2)

    # SPARQL + closure over per-customer order chains: chain LENGTH is
    # constant (orders per customer), chain COUNT grows with the corpus,
    # so BFS/doubling round count stays flat and per-round work grows
    # linearly — the weak-scaling shape a transitive closure must have
    from pyspark.sql.window import Window as _W

    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql

    orders = _multiply(
        read_parquet(spark, f"{sf_dir}/orders.parquet"),
        mult,
        lambda d, i: d.withColumn("o_custkey", F.col("o_custkey") + F.lit(i * 10_000_000))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 1_000_000_000)),
    )
    w = _W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("s"),
        F.lit("next").alias("p"),
        F.lead(F.concat(F.lit("o"), F.col("o_orderkey").cast("string"))).over(w).alias("o"),
    ).where(F.col("o").isNotNull())
    t0 = time.time()
    execute_sparql(
        {"root": ""}, "SELECT (COUNT(*) AS ?n) WHERE { ?a <next>+ ?b }", triples=seq
    ).collect()
    timings["sparql_path_closure"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.dedup import semantic_dedup
    from aws_sdk_pandas_spark.operators.sampling import dsir_importance_weights

    # DSIR: two corpus-wide bucket aggregations + one explode->broadcast->
    # sum pass; time should track token volume linearly
    t0 = time.time()
    dsir_importance_weights(
        docs, docs.where(F.col("lang") == "en"), buckets=2048
    ).select(F.sum("log_weight")).collect()
    timings["dsir_weights"] = round(time.time() - t0, 2)

    # SemDeDup: cluster count grows with the corpus so per-cluster pair
    # work stays constant — the probe scales n_clusters with mult
    t0 = time.time()
    semantic_dedup(
        emb, id_col="vec_id", vector_col="embedding",
        n_clusters=8 * mult, threshold=0.35,
    ).count()
    timings["semantic_dedup"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.bloom import decontaminate
    from aws_sdk_pandas_spark.operators.sampling import training_order

    # Bloom decontamination: the eval side stays FIXED (benchmarks don't
    # grow) while the corpus multiplies — time should track the corpus
    # gram volume; the bloom build cost is constant
    eval_docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        "source = 'src0'"
    )
    t0 = time.time()
    decontaminate(docs, eval_docs, n=4).count()
    timings["bloom_decontaminate"] = round(time.time() - t0, 2)

    # deterministic epoch shuffle: range repartition + window + offset
    # join — nothing should funnel through one partition
    t0 = time.time()
    training_order(docs.select("doc_id"), key_col="doc_id").select(
        F.max("position")
    ).collect()
    timings["training_order"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.connectors.neptune import triangle_count

    # triangle counting: per-copy partkey offsets make copies DISJOINT
    # subgraphs, so edge and triangle volume scale linearly — the honest
    # graph-growth model (shared vertices would collapse under distinct)
    lig = _multiply(
        read_parquet(spark, f"{sf_dir}/lineitem.parquet").where("l_linenumber <= 3"),
        mult,
        lambda d, i: d.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * 1_000_000_000)
        ).withColumn("l_partkey", F.col("l_partkey") + F.lit(i * 100_000_000)),
    )
    ga = lig.select("l_orderkey", F.col("l_partkey").alias("pa"))
    gb = lig.select("l_orderkey", F.col("l_partkey").alias("pb"))
    g_edges = (
        ga.join(gb, "l_orderkey")
        .where("pa < pb")
        .select(
            F.concat_ws("-", "pa", "pb").alias("~id"),
            F.lit("co").alias("~label"),
            F.col("pa").cast("string").alias("~from"),
            F.col("pb").cast("string").alias("~to"),
        )
    )
    t0 = time.time()
    n_tri = triangle_count(g_edges).agg(F.sum("triangles")).collect()[0][0]
    timings["triangle_count"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.timeseries import ewma

    # EWMA: user count grows with mult, per-user series length constant —
    # per-row O(lookback) fold should weak-scale cleanly
    t0 = time.time()
    ewma(
        ev, ts_col="ts", value_col="value", by=["user_id"], alpha=0.3,
        lookback=60, tie_breakers=["event_id"],
    ).agg(F.sum("ewma")).collect()
    timings["ewma"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.functions.sketches import kmv_set_ops, kmv_sketch

    # KMV overlap: distinct user-day keys grow with mult; sketch work is
    # the distinct shuffle + bottom-k, set ops are O(k) per pair
    ud = ev.select(
        "event_type",
        F.concat_ws(
            "@", F.col("user_id").cast("string"), F.date_format("ts", "yyyy-MM-dd")
        ).alias("ud"),
    )
    t0 = time.time()
    kmv_set_ops(
        kmv_sketch(ud.where("event_type = 'click'"), "ud", k=256),
        kmv_sketch(ud.where("event_type = 'view'"), "ud", k=256),
        k=256,
    ).collect()
    timings["kmv_overlap"] = round(time.time() - t0, 2)

    from aws_sdk_pandas_spark.operators.evaluation import lift_curve
    from aws_sdk_pandas_spark.operators.itemsets import item_similarity
    from aws_sdk_pandas_spark.operators.stats import ks_test

    # KS drift test: raw rows grow with mult but the 2-decimal value
    # domain SATURATES, so after the first reduction cost is bounded by
    # value cardinality — time should flatten, demonstrating the
    # distinct-value-table design rather than linear growth
    t0 = time.time()
    ks_test(
        ev, value_col="value", group_col="event_type",
        group_a="click", group_b="purchase",
    ).collect()
    timings["ks_test"] = round(time.time() - t0, 2)

    # lift/gains deciles: PER-ROW global ranks via the two-phase prefix
    # sum — true linear volume growth, no single-partition window
    t0 = time.time()
    lift_curve(
        ev.select(
            "event_id", "value",
            (F.col("event_type") == "purchase").cast("int").alias("label"),
        ),
        score_col="value", label_col="label", id_col="event_id", n_buckets=10,
    ).collect()
    timings["lift_curve"] = round(time.time() - t0, 2)

    # item-item similarity: disjoint order keys per copy, SHARED part
    # space — basket count and pair volume grow linearly while item
    # marginals densify, the honest catalog-growth model
    t0 = time.time()
    item_similarity(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pairs=2
    ).count()
    timings["item_similarity"] = round(time.time() - t0, 2)

    # domain cap + canonical-URL dedup (round 4): URLs synthesized from
    # doc ids — domain cardinality grows with the corpus (disjoint id
    # spaces per copy), so per-domain density stays constant while the
    # window key space scales; both are one keyed window over a map-only
    # projection
    from aws_sdk_pandas_spark.operators.weburl import cap_domains, dedup_urls

    docs_ids = _multiply(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id"),
        mult,
        lambda d, i: d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 100_000_000)),
    ).selectExpr(
        "doc_id",
        "concat('https://', CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '' "
        "WHEN 1 THEN 'www.' ELSE 'a.b.' END, 'd', CAST(doc_id % 2000 AS STRING), "
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk' "
        "WHEN 2 THEN '.org' ELSE '.co.jp' END, '/p', CAST(doc_id % 7 AS STRING), "
        "CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x' ELSE '' END) AS url",
    )
    t0 = time.time()
    cap_domains(docs_ids, max_per_domain=20, id_col="doc_id").count()
    timings["url_cap_domains"] = round(time.time() - t0, 2)
    t0 = time.time()
    dedup_urls(docs_ids, id_col="doc_id").count()
    timings["url_dedup"] = round(time.time() - t0, 2)

    # full-PSL registered domains (round 5): the rule sets compile to
    # InSet hash-set probes (one per label depth) — map-only, no join;
    # a synthetic 1.2k-rule PSL stands in for the real ~9k-rule file
    from aws_sdk_pandas_spark.operators.weburl import load_psl, url_features

    psl_rules = (
        [f"tld{i}" for i in range(400)]
        + [f"co.tld{i}" for i in range(400)]
        + [f"*.wild{i}.tld{i % 400}" for i in range(200)]
        + [f"!ok.wild{i}.tld{i % 400}" for i in range(200)]
        + ["com", "org", "co.uk", "github.io"]
    )
    psl_obj = load_psl(psl_rules)
    t0 = time.time()
    url_features(docs_ids, psl=psl_obj).where(
        F.col("url_domain").isNotNull()
    ).select(F.count_distinct("url_domain")).collect()
    timings["url_psl_features"] = round(time.time() - t0, 2)

    # audio spectral front end (round 4): one fixed-size synthetic WAV
    # per document — decode + FFT work is strictly per-row (map-only
    # Arrow kernel), the purest linear-scaling shape in the package
    import struct as _struct
    from typing import Iterator as _Iter

    from aws_sdk_pandas_spark.operators.multimodal import (
        audio_spectral_features,
        make_test_media,
    )

    def _mk_wavs(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                vals = [((int(d) * 31 + j * 17) % 65536) - 32768 for j in range(2048)]
                payloads.append(
                    make_test_media(
                        "wav", sample_rate=8192, channels=1, bits=16,
                        data=_struct.pack(f"<{len(vals)}h", *vals),
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = docs_ids.select("doc_id").mapInPandas(
        _mk_wavs, schema="media_id string, payload binary"
    )
    t0 = time.time()
    audio_spectral_features(media).select(F.sum("n_frames")).collect()
    timings["audio_spectral"] = round(time.time() - t0, 2)

    # conversation + subtitle operators (round 4): JVM HOF screens and
    # one-explode extractions — map-only / single-window shapes
    from aws_sdk_pandas_spark.operators.conversations import (
        conversations_to_pairs,
        validate_conversations,
    )
    from aws_sdk_pandas_spark.operators.multimodal import parse_subtitles

    conv = docs_ids.selectExpr(
        "doc_id",
        "transform(sequence(1, 2 + CAST(doc_id % 6 AS INT) * 2), i -> struct("
        "CASE WHEN i % 2 = 1 THEN 'user' ELSE 'assistant' END AS role, "
        "concat('turn ', CAST(doc_id AS STRING), '-', CAST(i AS STRING), ' ', "
        "repeat('w ', 30)) AS content)) AS conversation",
    )
    t0 = time.time()
    validate_conversations(conv).where("conv_valid").count()
    timings["conv_validate"] = round(time.time() - t0, 2)
    t0 = time.time()
    conversations_to_pairs(conv).count()
    timings["conv_pairs"] = round(time.time() - t0, 2)
    srt = docs_ids.selectExpr(
        "CAST(doc_id AS STRING) AS media_id",
        "concat_ws('\\n\\n', transform(sequence(1, 1 + CAST(doc_id % 8 AS INT)), "
        "k -> concat(CAST(k AS STRING), '\\n00:00:', "
        "lpad(CAST((k * 2) AS STRING), 2, '0'), ',000 --> 00:00:', "
        "lpad(CAST((k * 2 + 1) AS STRING), 2, '0'), ',500\\ncue text ', "
        "CAST(doc_id AS STRING)))) AS text",
    )
    t0 = time.time()
    parse_subtitles(srt).count()
    timings["subtitle_cues"] = round(time.time() - t0, 2)

    timings["_minhash_pairs"] = n_pairs
    timings["_triangles"] = n_tri
    return timings


def main() -> None:
    import aws_sdk_pandas_spark as asps

    max_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = asps.get_spark(app_name="scale_probe")

    # warm: scan + python workers + write path
    from aws_sdk_pandas_spark.sources import read_parquet

    read_parquet(spark, f"{sf_dir}/lineitem.parquet").count()

    @F.pandas_udf("long")
    def _w(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(100_000).repartition(32).select(F.sum(_w(F.col("id")))).collect()

    # untimed full pass: plan/codegen/JIT warm-up must not pollute the 1x
    # measurements (first execution of each plan costs seconds of
    # driver-side work that a long-running cluster amortizes away)
    probe(spark, sf_dir, 1)

    mults = [m for m in (1, 4, 16, 64) if m <= max_mult]
    results = {}
    for m in mults:
        r = probe(spark, sf_dir, m)
        results[m] = r
        print(json.dumps({"mult": m, **r}), flush=True)

    base = results[mults[0]]
    summary = {
        op: {
            f"x{m}": round(results[m][op] / max(base[op], 0.01), 1)
            for m in mults[1:]
        }
        for op in base
        if not op.startswith("_")
    }
    print(json.dumps({"time_ratio_vs_1x (ideal <= mult)": summary}), flush=True)


if __name__ == "__main__":
    main()
