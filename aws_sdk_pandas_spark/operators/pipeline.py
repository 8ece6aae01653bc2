"""End-to-end corpus curation pipeline.

The composition a pre-training data pipeline actually runs, as ONE
operator building ONE DataFrame plan (every stage is an existing
shuffle-conscious operator; nothing collects to the driver):

  1. exact dedup on the normalized-content fingerprint (md5 — portable
     to any audit engine),
  2. language whitelist,
  3. token-count gates (too-short docs are boilerplate, too-long are
     concatenation artifacts),
  4. near-duplicate removal (word n-gram Jaccard pairs -> connected
     components -> keep the best-scoring member per cluster),
  5. per-language caps (deterministic: best score first).

Every stage is individually oracle-checked elsewhere; the composite is
hash-checked end-to-end as the ``docs_curation_pipeline`` entry.

Scale shape: stages 1-3 are one scan + one fingerprint shuffle; stage 4
shuffles only the (hot-gram-capped) posting lists and the pair set;
stage 5 is one window shuffle on the language key.  The corpus text
never moves more than once per stage that needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.functions.text import token_count
from aws_sdk_pandas_spark.operators.dedup import (
    dedup_fingerprint,
    ngram_jaccard_duplicates,
)
from aws_sdk_pandas_spark.operators.graph import dedup_keep_best


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
    langs: list[str] | None = None,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
    near_dup: bool = True,
    ngram_n: int = 3,
    jaccard_threshold: float = 0.2,
    score_col: str | None = None,
    cap_per_language: int | None = None,
) -> DataFrame:
    """Run the standard curation gauntlet; returns the surviving rows
    with all original columns plus ``n_tokens``."""
    out = dedup_fingerprint(docs, text_col, id_col=id_col)
    if langs is not None:
        if lang_col is None:
            raise ValueError("langs= requires lang_col=")
        out = out.where(F.col(lang_col).isin(list(langs)))
    out = out.withColumn("n_tokens", token_count(text_col))
    if min_tokens is not None:
        out = out.where(F.col("n_tokens") >= min_tokens)
    if max_tokens is not None:
        out = out.where(F.col("n_tokens") <= max_tokens)

    if near_dup:
        # the survivors so far feed BOTH pair generation and keep-best:
        # persist so the fingerprint window and token filters run once
        out = out.persist()
        out.count()
        pairs = ngram_jaccard_duplicates(
            out, id_col, text_col, n=ngram_n, threshold=jaccard_threshold
        )
        out = dedup_keep_best(out, pairs, id_col=id_col, score_col=score_col)

    if cap_per_language is not None:
        if lang_col is None:
            raise ValueError("cap_per_language= requires lang_col=")
        order = (
            [F.col(score_col).desc()] if score_col is not None else []
        ) + [F.col(id_col).asc()]
        # two-phase SALTED window: language partitions are few and huge
        # (the worst window-skew shape), so phase 1 caps within each
        # (lang, salt-of-id) bucket and phase 2 re-ranks the bounded
        # survivors (≤ 64 × cap per language).  Identical result: each
        # true top-cap row is within its own bucket's top cap.
        salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(64))
        w1 = Window.partitionBy(F.col(lang_col), salt).orderBy(*order)
        w2 = Window.partitionBy(lang_col).orderBy(*order)
        out = (
            out.withColumn("__rn1", F.row_number().over(w1))
            .where(F.col("__rn1") <= cap_per_language)
            .withColumn("__rn", F.row_number().over(w2))
            .where(F.col("__rn") <= cap_per_language)
            .drop("__rn1", "__rn")
        )
    return out


def build_training_corpus(
    docs: DataFrame,
    *,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
    langs: list[str] | None = None,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
    near_dup: bool = True,
    ngram_n: int = 3,
    jaccard_threshold: float = 0.2,
    score_col: str | None = None,
    cap_per_language: int | None = None,
    decontaminate_n: int = 4,
    decontaminate_fpp: float = 0.01,
    split_weights: dict | None = None,
    split_pair_threshold: float | None = None,
    split_seed: int = 42,
    seed: int = 0,
    epoch: int = 0,
    pack_budget: int | None = None,
) -> DataFrame:
    """Corpus to training-ready rows in ONE call — the full pipeline a
    pre-training run needs, each stage an existing shuffle-conscious
    operator:

    1. :func:`curate_corpus` (fingerprint dedup, language whitelist,
       token gates, near-dup keep-best, per-language caps),
    2. eval-set decontamination (``operators.bloom.decontaminate``,
       when ``eval_df`` is given),
    3. leakage-free train/val/test split: near-dup pairs are RE-MINED at
       ``split_pair_threshold`` (set it BELOW ``jaccard_threshold`` —
       docs similar enough to leak eval signal but not similar enough to
       have been deduped are exactly the ones that must not straddle
       splits),
    4. deterministic epoch order (``training_order`` — one global
       permutation; within every split the order restricted to it is
       still a uniform permutation, so trainers filter their split and
       sort by ``position``),
    5. optional sequence packing (``pack_sequences`` per split on the
       epoch order, ``pack_budget`` tokens per sequence).

    Returns the surviving rows + ``n_tokens`` [+ ``split``] +
    ``position`` [+ ``seq_id``].  Every stage is deterministic
    (md5-keyed) — the same corpus rebuilds the same shards on any
    engine.
    """
    prep_future = None
    if eval_df is not None:
        from concurrent.futures import ThreadPoolExecutor

        from aws_sdk_pandas_spark.operators.bloom import prepare_decontamination

        # the eval-gram Bloom build depends ONLY on eval_df: submit it
        # now so its jobs back-fill executors idled by the curation
        # stages' barriers (guide §2.6 — overlap independent jobs)
        # instead of serializing after the whole curation chain.
        _pool = ThreadPoolExecutor(max_workers=1)
        prep_future = _pool.submit(
            prepare_decontamination,
            eval_df,
            text_col=text_col,
            n=decontaminate_n,
            fpp=decontaminate_fpp,
        )
        _pool.shutdown(wait=False)

    out = curate_corpus(
        docs,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        langs=langs,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        near_dup=near_dup,
        ngram_n=ngram_n,
        jaccard_threshold=jaccard_threshold,
        score_col=score_col,
        cap_per_language=cap_per_language,
    )
    if eval_df is not None:
        from aws_sdk_pandas_spark.operators.bloom import decontaminate

        out = decontaminate(
            out,
            eval_df,
            id_col=id_col,
            text_col=text_col,
            n=decontaminate_n,
            fpp=decontaminate_fpp,
            prepared=prep_future.result(),
        )
    if split_weights is not None:
        from aws_sdk_pandas_spark.operators.sampling import leakage_free_split

        out = out.persist()
        out.count()
        pairs = ngram_jaccard_duplicates(
            out,
            id_col,
            text_col,
            n=ngram_n,
            threshold=(
                split_pair_threshold
                if split_pair_threshold is not None
                else jaccard_threshold
            ),
        )
        out = leakage_free_split(
            out, pairs, weights=split_weights, id_col=id_col, seed=split_seed
        )
    from aws_sdk_pandas_spark.operators.sampling import training_order

    if split_weights is None:
        # training_order's prefix sum runs two jobs over its input;
        # without the split stage's persist the whole curation +
        # decontamination chain would recompute per job
        out = out.persist()
        out.count()
    out = training_order(out, key_col=id_col, seed=seed, epoch=epoch)
    if pack_budget is not None:
        from aws_sdk_pandas_spark.operators.packing import pack_sequences

        by = ["split"] if split_weights is not None else None
        out = pack_sequences(
            out, "n_tokens", pack_budget, by=by, order_cols=["position"]
        )
    return out


def build_rag_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 64,
    overlap_words: int = 16,
    dim: int = 64,
    embed_fn=None,
    n_clusters: int = 16,
    seed: int = 42,
):
    """The RAG ingestion pipeline as one composition: sliding-window
    chunking (map-only JVM) -> batch embedding (Arrow ``mapInPandas``,
    injectable endpoint; deterministic hash embedding by default) ->
    IVF cluster assignment (distributed KMeans).  Returns
    ``(index_df, centroids)`` where ``index_df`` carries ``chunk_id,
    chunk_idx, chunk_text, embedding, __cluster`` per chunk.

    At scale: WRITE ``index_df`` partitioned by ``__cluster`` so
    ``rag_search`` probes become partition-pruned scans of
    n_probe/n_clusters of the corpus.
    """
    from aws_sdk_pandas_spark.operators.similarity import build_ivf_index
    from aws_sdk_pandas_spark.operators.textstats import chunk_documents
    from aws_sdk_pandas_spark.vectors import embed_texts

    chunks = chunk_documents(
        docs, id_col, text_col, chunk_words=chunk_words, overlap_words=overlap_words
    ).withColumn(
        "chunk_id",
        F.concat_ws("#", F.col(id_col).cast("string"), F.col("chunk_idx")),
    )
    emb = embed_texts(chunks, "chunk_text", out_col="embedding", dim=dim, embed_fn=embed_fn)
    # materialize the chunk->embed chain ONCE: KMeans fit (dim probe +
    # seeded init + iterations) and the assignment transform each
    # re-derive their input plan, so without this barrier the embedding
    # kernel runs 2-3x over the whole corpus.  localCheckpoint keeps
    # partitioning and row order, so the seeded fit (and therefore every
    # assignment) is unchanged; the storage cost equals the internal
    # persist KMeans does anyway.
    emb = emb.localCheckpoint()
    return build_ivf_index(emb, vector_col="embedding", n_clusters=n_clusters, seed=seed)


def rag_search(
    index_df: DataFrame,
    centroids,
    query_text: str,
    *,
    k: int = 8,
    n_probe: int = 4,
    dim: int = 64,
    embed_fn=None,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval over a ``build_rag_index`` output: the query is
    embedded through the SAME function as the corpus, IVF-ANN top-k
    (cluster-pruned scan) fuses with BM25 keyword top-k by reciprocal
    rank, and the fused chunks come back with their text:
    ``chunk_id, rrf_score, n_lists, chunk_text``.

    Scale shape: the ANN leg scans n_probe/n_clusters of the corpus
    (partition-pruned when the index is stored clustered); the BM25 leg
    shuffles only (chunk, query-term) hits; fusion joins two top-k-sized
    frames (broadcast)."""
    from aws_sdk_pandas_spark.operators.retrieval import bm25_scores, rrf_fuse
    from aws_sdk_pandas_spark.operators.similarity import knn_ivf
    from aws_sdk_pandas_spark.vectors import default_embedding

    qv = (embed_fn([query_text]) if embed_fn else default_embedding([query_text], dim))[0]
    vec = knn_ivf(
        index_df, centroids, qv, k=k, id_col="chunk_id",
        vector_col="embedding", n_probe=n_probe,
    )
    terms = sorted(set(query_text.lower().split()))
    bm = bm25_scores(index_df, terms, id_col="chunk_id", text_col="chunk_text", top_k=k)
    fused = rrf_fuse(
        [bm, vec], id_col="chunk_id", k=rrf_k, ascending=[False, True], top_k=k
    )
    return (
        fused.join(
            index_df.select("chunk_id", "chunk_text"), "chunk_id", "left"
        )
        .orderBy(F.col("rrf_score").desc(), F.col("chunk_id").asc())
    )


def curation_funnel(
    docs: DataFrame,
    stages: list[tuple[str, "callable"]],
    *,
    text_col: str = "text",
    count_tokens: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Run a curation pipeline WITH an attrition report — the lineage a
    100 TB training-data run needs to be auditable: after every stage,
    how many documents (and whitespace tokens) survive, and what each
    stage removed.  ``stages`` is ``[(name, df -> df), ...]``.

    Returns ``(cleaned, report)`` where ``report`` has one row per stage
    (plus the ``input`` row): ``stage, stage_idx, rows, tokens,
    rows_removed, pct_removed``.

    Cost model (explicit, because lineage is not free): each stage's
    output is persisted and counted — ONE extra count+sum aggregate per
    stage over the stage's output, with the cache guaranteeing every
    stage's transformation runs ONCE regardless of the extra action.
    The previous stage's cache is released as soon as the next stage
    materializes, so peak storage is two adjacent stage outputs.  At
    cluster scale the aggregates are map-side-combined counts — noise
    next to the stages themselves.
    """
    spark = docs.sparkSession
    tok = token_count(text_col) if count_tokens and text_col in docs.columns else F.lit(None)

    def _measure(df: DataFrame) -> tuple[int, int | None]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(tok).alias("t"),
        ).first()
        return int(r["n"]), (int(r["t"]) if r["t"] is not None else None)

    report_rows: list[tuple] = []
    cur = docs.persist()
    n_prev, t_prev = _measure(cur)
    report_rows.append(("input", 0, n_prev, t_prev, 0, 0.0))
    prev = cur
    for i, (name, fn) in enumerate(stages, start=1):
        cur = fn(cur)
        if not isinstance(cur, DataFrame):
            raise ValueError(f"stage {name!r} did not return a DataFrame")
        cur = cur.persist()
        n, t = _measure(cur)
        prev.unpersist()
        prev = cur
        removed = n_prev - n
        pct = round(100.0 * removed / n_prev, 4) if n_prev else 0.0
        report_rows.append((name, i, n, t, removed, pct))
        n_prev = n
    report = local_frame(
        spark,
        report_rows,
        "stage string, stage_idx int, rows long, tokens long, "
        "rows_removed long, pct_removed double",
    )
    return cur, report
