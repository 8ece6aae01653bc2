"""Corpus-level text statistics: benchmark-contamination checking and
TF-IDF term ranking.

Training-data pipelines must answer "does my corpus leak the eval set?"
(n-gram overlap contamination, the decontamination pass every LLM corpus
runs) and "what characterizes this document?" (TF-IDF).  Both are
compositions of the fused n-gram/token kernels with joins and windows —
shuffle-keyed by gram/term hash, never O(n^2) in documents.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.functions.text import tokens
from aws_sdk_pandas_spark.operators.dedup import _ensure_parallelism, _ngram_hash_kernel


def benchmark_contamination(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Flag corpus documents whose distinct word ``n``-grams overlap the
    eval set's gram vocabulary by at least ``threshold``.

    Returns ``id_col, n_grams, n_hit, overlap`` for flagged documents.

    Scale shape: the eval side reduces to a distinct 8-byte gram-hash set
    (tiny next to the corpus — benchmarks are small); the overlap count is
    a semi-join keyed on the gram hash, so the corpus is shuffled once by
    gram and never compared document-to-document.
    """
    kernel = _ngram_hash_kernel(n)
    corpus = (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        )
        .select("__id", F.explode(kernel(F.col("__text"))).alias("gram"))
    )
    eval_grams = (
        eval_df.select(F.explode(kernel(F.col(text_col))).alias("gram")).distinct()
    )
    # ONE pass computes totals and hits together: a left join against the
    # DISTINCT eval gram set cannot multiply corpus rows, so count(1) per
    # doc is the gram total and count(__hit) (non-NULL = matched) equals
    # the former semi-join count — the separate `totals` aggregation
    # re-ran the n-gram kernel over the whole corpus a second time.
    marked = corpus.join(
        eval_grams.withColumn("__hit", F.lit(1)), "gram", "left"
    )
    out = (
        marked.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .withColumn("overlap", F.round(F.col("n_hit") / F.col("n_grams"), 6))
        .where(F.col("overlap") >= threshold)
    )
    return out.select(F.col("__id").alias(id_col), "n_grams", "n_hit", "overlap")


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document.

    Rank is by term frequency, tie-broken by rarity (ascending document
    frequency) then term text — integer-only ordering, so the ranking is
    bit-identical across engines; the TF-IDF score ``tf * ln(N/df)`` is
    attached (rounded) as the informational weight.

    Returns ``id_col, term, tf, df, tfidf, rank``.

    Scale shape: one explode + two aggregations (term-in-doc, term-df) and
    one window partitioned by document; the document-frequency aggregate is
    map-side-combinable and the join back to terms is keyed by term.
    """
    toks = (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        )
        .select("__id", F.explode(tokens(F.col("__text"))).alias("term"))
        .where(F.length("term") > 0)
    )
    tf = toks.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    w = Window.partitionBy("__id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("__id").alias(id_col), "term", "tf", "df", "tfidf", "rank")
    )


def repetition_signals(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token-repetition quality signals (the Gopher-rules
    family: repetitious documents are low-quality training data).

    Returns ``id_col, n_tokens, n_distinct, dup_token_frac,
    top_token_frac`` where ``dup_token_frac = 1 - distinct/total`` and
    ``top_token_frac`` is the share of the single most frequent token.

    Scale shape: explode + two map-side-combinable aggregations keyed by
    ``(doc, token)`` then ``doc`` — linear in corpus size, never holds a
    whole document's vocabulary on one executor thread beyond the
    per-group aggregate state.  No Python in the plan.

    EVERY input document gets a row: NULL/empty/whitespace-only texts
    tokenize to nothing and read ``n_tokens = 0`` with NULL fractions —
    a score table missing doc_ids silently drops documents the moment a
    curation pipeline inner-joins it back onto the corpus.
    """
    per_token = (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        )
        .select("__id", F.explode(tokens(F.lower(F.col("__text")))).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("__id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = per_token.groupBy("__id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("c"), 6).alias("dup_token_frac"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_token_frac"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            "dup_token_frac",
            "top_token_frac",
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean unigram log10-probability under the corpus's own
    unigram distribution — the cheap perplexity proxy used by
    CCNet/C4-style quality filtering (docs of rare/garbled tokens score
    low, natural prose scores high) without shipping a language model.

    Two passes over the token stream, both keyed by token (uniform
    shuffle): (1) corpus token counts, (2) join scores back.  The
    frequency table is vocabulary-sized — broadcast it; the corpus text
    is scanned once per pass and never collected.

    Returns ``id_col, n_tokens, logprob``; EVERY input document gets a
    row — NULL/empty docs read ``n_tokens = 0, logprob NULL`` rather
    than vanishing from the score table.
    """
    from aws_sdk_pandas_spark.functions.text import tokens

    # persist, materialized by the single `total` count below (round 6
    # ran a second, redundant count job here).  persist, NOT a lazy
    # localCheckpoint: the checkpoint variant measured ~10% slower on
    # doc_unigram_logprob at sf0.1 (alternating A/B) — the RDD
    # materialization path does not share AQE exchange stages with the
    # downstream join.  Cache lifetime is caller-owned.
    toks = (
        df.select(F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("tok"))
    ).persist()

    total = toks.count()
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__tf"))
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .withColumn("__lp", F.log10(F.col("__tf") / F.lit(float(total))))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__lp"), round_to).alias("logprob"),
        )
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "logprob",
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_words: int = 100,
    overlap_words: int = 20,
) -> DataFrame:
    """Sliding-window document chunking (the RAG / embedding-pipeline
    splitter): word windows of ``chunk_words`` advancing by
    ``chunk_words - overlap_words``, so consecutive chunks share
    ``overlap_words`` words of context.

    Pure per-row JVM compute — split + sequence/transform/slice higher-
    order expressions, then one posexplode; no Python workers, no
    shuffle.  At 100 TB this is the map-only stage in front of the
    embedding Pandas UDF, so it chains into ``vectors.embed_texts``
    without a repartition.

    Returns ``id_col, chunk_idx, chunk_text, n_words``; a document
    shorter than ``chunk_words`` yields exactly one chunk.

    Reference parity: none (awswrangler has no text operators) —
    SURVEY.md §2.10 extension family.
    """
    if not 0 <= overlap_words < chunk_words:
        raise ValueError("need 0 <= overlap_words < chunk_words")
    stride = chunk_words - overlap_words
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    size = F.size(words)
    # one chunk when size <= chunk_words, else 1 + ceil((size-chunk)/stride)
    n_chunks = F.when(size <= chunk_words, F.lit(1)).otherwise(
        F.ceil((size - F.lit(chunk_words)) / F.lit(float(stride))) + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.slice(words, i * stride + 1, chunk_words),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "__w"),
    ).select(
        id_col,
        "chunk_idx",
        F.array_join("__w", " ").alias("chunk_text"),
        F.size("__w").alias("n_words"),
    )


def hashed_ngram_score(
    df: DataFrame,
    weights: DataFrame | dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ngrams: tuple = (1, 2),
    buckets: int = 65536,
    bias: float = 0.0,
    out_col: str = "score",
) -> DataFrame:
    """Apply a linear text classifier over hashed n-gram features — the
    fastText-style quality/domain filter (CCNet, RedPajama) at corpus
    scale.  ``score = sigmoid(bias + mean_g w[bucket(g)])`` where the
    mean runs over the document's grams (fastText's mean-of-feature
    weights for a binary head).

    ``weights`` is either a small DataFrame ``(bucket int, weight
    double)`` or a plain dict; either way it broadcasts (``buckets``
    doubles).  The apply path is the 100 TB path and is pure JVM:
    split/zip_with/explode/md5 featurization (same bucketing as
    :func:`~aws_sdk_pandas_spark.operators.sampling.dsir_importance_weights`
    — md5, engine-rederivable), one broadcast join, one sum-by-doc.
    Train the weights once with :func:`fit_hashed_ngram_classifier` or
    bring your own.
    """
    from aws_sdk_pandas_spark.operators.sampling import _hashed_grams

    spark = df.sparkSession
    if isinstance(weights, dict):
        weights = local_frame(
            spark, [(int(b), float(w)) for b, w in weights.items()], "bucket int, weight double"
        )
    wdf = weights.select(
        F.col("bucket").cast("long").alias("__bucket"), F.col("weight").alias("__w")
    )
    grams = _hashed_grams(df, id_col, text_col, ngrams, buckets)
    sums = (
        grams.join(F.broadcast(wdf), "__bucket", "left")
        .groupBy("__id")
        .agg(
            F.sum(F.coalesce(F.col("__w"), F.lit(0.0))).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            F.col("__id").alias(id_col),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(bias) + F.col("__s") / F.col("__n"))))).alias(
                out_col
            ),
        )
    )
    # empty docs score sigmoid(bias)
    return (
        df.select(F.col(id_col))
        .join(sums, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col(out_col), F.lit(1.0 / (1.0 + __import__("math").exp(-bias)))
            ).alias(out_col),
        )
    )


def fit_hashed_ngram_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    *,
    ngrams: tuple = (1, 2),
    buckets: int = 65536,
    reg_param: float = 1e-4,
    max_iter: int = 50,
) -> tuple[DataFrame, float]:
    """Train the linear head for :func:`hashed_ngram_score`: MLlib
    logistic regression over mean-normalized hashed n-gram count vectors
    (positive = target-domain sample, negative = generic sample — the
    CCNet recipe).  Training runs on SAMPLES (thousands of docs), so the
    sparse-vector assembly cost is bounded; the corpus-scale apply path
    stays JVM-only in :func:`hashed_ngram_score`.

    Returns ``(weights_df(bucket, weight), bias)`` ready to feed to
    :func:`hashed_ngram_score`.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from aws_sdk_pandas_spark.operators.sampling import _hashed_grams

    spark = positive.sparkSession

    def _featurize(df: DataFrame, label: float) -> DataFrame:
        # fully JVM featurization: bucket-count map -> dense normalized
        # array (transform over sequence, one element_at per slot) ->
        # array_to_vector.  Arrow cannot move VectorUDT through a pandas
        # UDF, and a row-wise Python UDF was the last BatchEvalPython in
        # the package; dense is fine here because training runs on
        # bounded SAMPLES (the corpus-scale apply path is
        # hashed_ngram_score, which never builds vectors at all).
        with_id = df.select(
            F.monotonically_increasing_id().alias("__mid"), F.col(text_col)
        )
        counts = (
            _hashed_grams(with_id, "__mid", text_col, ngrams, buckets)
            .groupBy("__id", "__bucket")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("__id")
            .agg(
                F.map_from_arrays(
                    F.collect_list("__bucket"), F.collect_list("__c")
                ).alias("__m"),
                F.sum("__c").alias("__tot"),
            )
        )
        arr = F.transform(
            F.sequence(F.lit(0), F.lit(buckets - 1)),
            lambda i: F.coalesce(
                F.element_at("__m", i.cast("long")).cast("double"), F.lit(0.0)
            )
            / F.col("__tot").cast("double"),
        )
        return counts.select(
            array_to_vector(arr).alias("features"), F.lit(label).alias("label")
        )

    train = _featurize(positive, 1.0).unionByName(_featurize(negative, 0.0))
    model = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, featuresCol="features", labelCol="label"
    ).fit(train)
    co = model.coefficients
    rows = [(int(i), float(co[int(i)])) for i in co.indices] if hasattr(co, "indices") else [
        (i, float(v)) for i, v in enumerate(co) if v != 0.0
    ]
    weights_df = local_frame(spark, rows or [(0, 0.0)], "bucket int, weight double")
    return weights_df, float(model.intercept)


def novelty_score(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    word ``n``-grams that appear in NO other document.  Low novelty marks
    boilerplate / template / mirrored content even when no single pair of
    documents crosses a near-dup threshold — a standard corpus-quality
    signal alongside the Gopher repetition rules (which are
    *within*-document; this is the *cross*-document complement).

    Returns ``id_col, n_grams, n_novel, novelty``; EVERY input document
    gets a row — documents shorter than ``n`` tokens have no grams and
    read ``n_grams = 0`` with NULL novelty (no evidence either way)
    instead of vanishing from the score table.

    Scale shape: the corpus is exploded to (doc, gram-hash) once, the
    corpus-wide gram document-frequency is one map-side-combinable
    aggregation keyed by the 8-byte gram hash, and the join back rides
    the SAME gram-hash partitioning before the final per-document
    aggregation — two shuffle keys total (gram, doc), nothing quadratic,
    no driver state.  The gram string never leaves the map stage: only
    its xxhash64 is shuffled.
    """
    from aws_sdk_pandas_spark.operators.bloom import _word_ngrams

    # persist the (doc, gram-hash) posting table (16 bytes/gram — the
    # same slim-posting shape ngram_jaccard_duplicates caches): the
    # document-frequency aggregation AND the join-back both consume it,
    # and unpersisted each re-shingled the whole corpus (2 full text
    # scans; tools/scan_count_audit.py).  Lifetime is caller-owned.
    grams = (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        )
        .select("__id", F.explode(_word_ngrams(F.col("__text"), n)).alias("g"))
        .select("__id", F.xxhash64("g").alias("gh"))
        .persist()
    )
    freq = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("__df"))
    out = (
        grams.join(freq, "gh")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .withColumn("novelty", F.round(F.col("n_novel") / F.col("n_grams"), 6))
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(out, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            "novelty",
        )
    )


def summarize_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    lang_col: str | None = None,
) -> DataFrame:
    """The first call on a new corpus: per-language volume, token and
    length statistics, and the exact-duplicate rate, in ONE aggregation
    pass (a ``rollup`` on the language column, so the ``__all__`` total
    rides the same shuffle as the per-language rows).

    Returns ``lang, n_docs, n_tokens, avg_chars, p50_chars,
    n_distinct_fp, n_dup_docs`` — ``n_dup_docs`` counts docs beyond the
    first per normalized-content fingerprint (the same md5 fingerprint
    ``dedup_fingerprint`` keys on, so the report predicts exactly what
    that dedup would remove).
    """
    from aws_sdk_pandas_spark.functions.text import document_fingerprint, token_count

    length = F.length(F.col(text_col))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("n_tokens"),
        F.round(F.avg(length), 2).alias("avg_chars"),
        F.expr(f"percentile(length(`{text_col}`), 0.5)").alias("p50_chars"),
        F.countDistinct(document_fingerprint(F.col(text_col))).alias("n_distinct_fp"),
    ]
    if lang_col is None:
        out = df.agg(*aggs).withColumn("lang", F.lit("__all__"))
    else:
        # GROUPING() tags the rollup total — a NULL-language group (failed
        # lang-id, common in crawls) must NOT collide with the grand total
        out = (
            df.rollup(lang_col)  # grouping() must see the RAW column, not an alias
            .agg(*aggs, F.grouping(lang_col).alias("__t"))
            .withColumn(
                "__lang",
                F.when(F.col("__t") == 1, F.lit("__all__")).otherwise(
                    F.coalesce(F.col(lang_col), F.lit("__unknown__"))
                ),
            )
            .drop("__t", lang_col)
            .withColumnRenamed("__lang", "lang")
        )
    return out.select(
        "lang",
        "n_docs",
        "n_tokens",
        "avg_chars",
        F.col("p50_chars").cast("double").alias("p50_chars"),
        "n_distinct_fp",
        (F.col("n_docs") - F.col("n_distinct_fp")).alias("n_dup_docs"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "zlib_ratio",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed bytes / raw
    utf-8 bytes) — the MassiveText/Gopher-family repetitiveness signal
    the n-gram repetition rules miss: machine-generated boilerplate
    compresses far below prose (~0.3 vs ~0.6), encrypted/binary junk
    sits near 1.0.  NULL for NULL/empty text.

    A bytes-level kernel has no JVM expression form, so this is one
    Arrow-batched pass (zlib C speed per batch); composes with
    ``repetition_signals`` and ``quality gates`` in ``curate_corpus``
    score columns.
    """
    @F.pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        import zlib

        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out, dtype="float64")

    return df.withColumn(out_col, F.round(_ratio(F.col(text_col)), 6))


def collocations(
    df: DataFrame,
    *,
    text_col: str,
    min_count: int = 5,
    top_k: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Corpus-level collocation mining: adjacent word pairs ranked by
    pointwise mutual information — the multi-word-expression detector
    ("new york", "machine learning") behind phrase-aware tokenization
    and boilerplate fingerprinting.  Returns the ``top_k`` pairs with
    ``w1, w2, n_pair, pmi`` where
    PMI = ln( (c₁₂/N_pairs) / ((c₁/N_words)·(c₂/N_words)) ).

    ``min_count`` suppresses the classic PMI pathology (a pair seen
    once between two hapaxes scores arbitrarily high).

    Scale shape: bigrams come from a zip of the token array with its
    own tail — a map-only JVM expression, no self-join; pair and
    unigram tables are map-side-combinable aggregations bounded by
    vocabulary (not corpus) size; unigram marginals join the pair
    table on the word key; final top-k is TakeOrderedAndProject.
    """
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    base = df.select(toks.alias("__t"), bigrams.alias("__b"))
    # The pair/unigram count tables are VOCABULARY-bounded; persist them
    # and derive the corpus totals from their exact integer sums instead
    # of a third full pass — the unpersisted shape re-tokenized the whole
    # corpus once per consumer (4 scans: pair, w1-marginal, w2-marginal,
    # totals; tools/scan_count_audit.py).  Σ n_pair over the UNFILTERED
    # pair table is exactly the bigram total and Σ c the word total
    # (integer sums — no float-order hazard), so two tokenize passes are
    # the floor without caching the corpus itself.  Lifetime caller-owned.
    pair_all = (
        base.select(F.explode("__b").alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .persist()
    )
    pair = pair_all.where(F.col("n_pair") >= min_count)
    uni = (
        base.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    totals = uni.agg(F.sum("c").alias("__nw")).crossJoin(
        pair_all.agg(F.sum("n_pair").alias("__nb"))
    )
    j = (
        pair.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "__c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "__c2"), "w2")
        .crossJoin(F.broadcast(totals))  # totals is ONE row
    )
    pmi = F.log(
        (F.col("n_pair") / F.col("__nb"))
        / ((F.col("__c1") / F.col("__nw")) * (F.col("__c2") / F.col("__nw")))
    )
    return (
        j.select("w1", "w2", "n_pair", F.round(pmi, round_to).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


def readability(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document — the
    classic complexity signal for audience filtering (too-simple spam
    vs too-dense OCR debris).  Returns ``id, n_words, n_sentences,
    n_syllables, flesch, fk_grade``.

    Heuristics, pure codegen (no UDF): words = whitespace tokens,
    sentences = runs of [.!?] (floored at 1), syllables = vowel-group
    runs [aeiouy]+ in the lowercased text (word boundaries break
    groups, so this is the per-word group count summed).  Empty texts
    yield NULL scores.  One map-only projection — at 100 TB this is a
    scan-speed pass.
    """
    t = F.col(text_col)
    n_words = F.size(tokens(t)).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_syl = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("bigint")
    wps = F.try_divide(n_words, n_sent)
    spw = F.try_divide(n_syl, n_words)
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.round(flesch, round_to).alias("flesch"),
        F.round(fk, round_to).alias("fk_grade"),
    )
