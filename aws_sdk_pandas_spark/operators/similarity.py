"""Similarity search over embedding columns (``array<float>``).

API shape follows the reference's S3 Vectors surface
(awswrangler/s3/_vectors/_read.py:249 ``query_vectors``: top_k, metadata
filter dict, distance metric cosine|euclidean), re-expressed as:

- ``knn_brute_force`` — exact top-k: one scan + TakeOrderedAndProject
  (no full sort; Spark's orderBy().limit(k) keeps k rows per partition
  then merges — linear scan, O(k) memory per task).  This is the
  correctness baseline at any scale where a full scan is acceptable.
- ``knn_lsh`` / ``similarity_join`` — the scale path: MLlib
  BucketedRandomProjectionLSH (euclidean; cosine via L2-normalization)
  over bucketed candidates only.
- ``query_vectors`` — the reference-compatible entry: metric + top_k +
  MongoDB-style metadata filter compiled to a Column predicate.
"""

from __future__ import annotations

from typing import Any, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument
from aws_sdk_pandas_spark.functions.vectors import (
    cosine_similarity,
    euclidean_distance,
    vector_literal,
)


def _distance(
    metric: str,
    vec_col: Column,
    query: Column,
    query_values: Sequence[float] | None = None,
) -> Column:
    if metric == "cosine":
        if query_values is not None:
            # the query vector is a CONSTANT: its L2 norm is too, but the
            # optimizer does not fold an `aggregate()` over a literal
            # array, so without this every row paid a full interpreted
            # fold over the query (one third of the per-row lambda work).
            # Replicate the JVM fold exactly — left-to-right double
            # accumulation over float32 values — so the result is
            # bit-identical to l2_norm(query_literal).
            import math

            import numpy as np

            acc = 0.0
            for v in query_values:
                d = float(np.float32(v))
                acc += d * d
            q_norm = math.sqrt(acc)
            from aws_sdk_pandas_spark.functions.vectors import dot_product, l2_norm

            return F.lit(1.0) - dot_product(vec_col, query) / (
                l2_norm(vec_col) * F.lit(q_norm)
            )
        return F.lit(1.0) - cosine_similarity(vec_col, query)
    if metric == "euclidean":
        return euclidean_distance(vec_col, query)
    raise InvalidArgument(f"unknown metric {metric!r} (cosine|euclidean)")


def knn_brute_force(
    df: DataFrame,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    id_col: str = "key",
    vector_col: str = "vector",
    metric: str = "cosine",
    where: Column | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbors to a constant query vector.

    Plan: scan -> (filter) -> per-row distance (JVM higher-order fns) ->
    TakeOrderedAndProject(k).  Returns ``id_col, distance``.
    """
    q = vector_literal(query_vector)
    out = df
    if where is not None:
        out = out.where(where)
    # NULL vectors give NULL distance, and Spark sorts NULLs FIRST
    # ascending — without this filter a dirty corpus's NULL-embedding
    # rows would silently occupy the top-k
    out = out.where(F.col(vector_col).isNotNull())
    out = out.withColumn(
        "distance",
        F.round(_distance(metric, F.col(vector_col), q, query_values=query_vector), 6),
    )
    return out.select(id_col, "distance").orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------------------
# Mongo-style metadata filter compiler
# (reference: awswrangler/s3/_vectors/_read.py metadata filter dict with
#  $eq,$ne,$gt,$gte,$lt,$lte,$in,$nin,$exists,$and,$or)
# ---------------------------------------------------------------------------

_OPS = {"$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin", "$exists"}


def compile_metadata_filter(filter_dict: dict[str, Any]) -> Column:
    """Compile the reference's MongoDB-operator filter dict into a Column
    predicate."""
    clauses: list[Column] = []
    for key, value in filter_dict.items():
        if key == "$and":
            sub = [compile_metadata_filter(v) for v in value]
            clause = sub[0]
            for s in sub[1:]:
                clause = clause & s
            clauses.append(clause)
        elif key == "$or":
            sub = [compile_metadata_filter(v) for v in value]
            clause = sub[0]
            for s in sub[1:]:
                clause = clause | s
            clauses.append(clause)
        else:
            col = F.col(key)
            if isinstance(value, dict):
                for op, operand in value.items():
                    clauses.append(_compile_op(col, op, operand))
            else:
                clauses.append(col == F.lit(value))
    if not clauses:
        return F.lit(True)
    out = clauses[0]
    for c in clauses[1:]:
        out = out & c
    return out


def _compile_op(col: Column, op: str, operand: Any) -> Column:
    if op not in _OPS:
        raise InvalidArgument(f"unsupported filter operator {op!r}")
    if op == "$eq":
        return col == F.lit(operand)
    if op == "$ne":
        return col != F.lit(operand)
    if op == "$gt":
        return col > F.lit(operand)
    if op == "$gte":
        return col >= F.lit(operand)
    if op == "$lt":
        return col < F.lit(operand)
    if op == "$lte":
        return col <= F.lit(operand)
    if op == "$in":
        return col.isin(list(operand))
    if op == "$nin":
        return ~col.isin(list(operand))
    # $exists
    return col.isNotNull() if operand else col.isNull()


def query_vectors(
    df: DataFrame,
    query_vector: Sequence[float],
    *,
    top_k: int = 10,
    metric: str = "cosine",
    metadata_filter: dict[str, Any] | None = None,
    id_col: str = "key",
    vector_col: str = "vector",
) -> DataFrame:
    """Reference-compatible ANN query (awswrangler/s3/_vectors/_read.py:249):
    top_k by vector with optional Mongo-style metadata filter."""
    where = compile_metadata_filter(metadata_filter) if metadata_filter else None
    return knn_brute_force(
        df, query_vector, k=top_k, id_col=id_col, vector_col=vector_col, metric=metric, where=where
    )


# ---------------------------------------------------------------------------
# LSH scale path (MLlib)
# ---------------------------------------------------------------------------


def _as_ml_vectors(df: DataFrame, vector_col: str, normalize: bool) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    # MLlib stages (LSH, KMeans) raise on NULL features; a dirty corpus's
    # NULL-embedding rows are excluded from index and query sides alike.
    # The filter alone is NOT enough: Catalyst merges it with MLlib's own
    # hash/distance predicates into one Filter whose common-subexpression
    # pass evaluates the vector UDFs EAGERLY, before the null conjunct —
    # so dropped rows also get a valid placeholder (zeros of the probed
    # dimension) the eager evaluation can hash without an NPE.
    df = df.where(F.col(vector_col).isNotNull())
    probe = df.select(F.size(vector_col)).first()
    dim = probe[0] if probe is not None else 1
    c = F.coalesce(
        F.col(vector_col).cast("array<double>"),
        F.array_repeat(F.lit(0.0), dim),
    )
    if normalize:
        from aws_sdk_pandas_spark.functions.vectors import l2_norm

        norm = l2_norm(c)
        c = F.when(norm > 0, F.transform(c, lambda x: x / norm)).otherwise(c)
    return df.withColumn("__vec", array_to_vector(c))


def knn_lsh(
    df: DataFrame,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    id_col: str = "key",
    vector_col: str = "vector",
    metric: str = "cosine",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH.  Cosine handled
    by L2-normalizing both sides (euclidean on the unit sphere is a
    monotone transform of cosine distance).  Returns ``id_col, distance``
    where distance is in the *requested* metric."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors

    normalize = metric == "cosine"
    ml_df = _as_ml_vectors(df, vector_col, normalize)
    model = BucketedRandomProjectionLSH(
        inputCol="__vec",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(ml_df)
    q = [float(x) for x in query_vector]
    if normalize:
        n = math.sqrt(sum(x * x for x in q)) or 1.0
        q = [x / n for x in q]
    neighbors = model.approxNearestNeighbors(ml_df, Vectors.dense(q), k)
    dist = F.col("distCol")
    if metric == "cosine":
        # ||a-b||^2 = 2(1-cos) on unit vectors -> cos_dist = d^2/2
        dist = (dist * dist) / 2.0
    return neighbors.select(F.col(id_col), F.round(dist, 6).alias("distance")).orderBy(
        "distance", id_col
    )


def similarity_join(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    threshold: float,
    id_col: str = "key",
    vector_col: str = "vector",
    metric: str = "cosine",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Approximate similarity join: pairs within ``threshold`` distance
    (requested metric).  LSH-bucketed — candidate pairs only, never the
    full cross product."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH

    normalize = metric == "cosine"
    a = _as_ml_vectors(df_a, vector_col, normalize).withColumnRenamed(id_col, "id_a")
    b = _as_ml_vectors(df_b, vector_col, normalize).withColumnRenamed(id_col, "id_b")
    model = BucketedRandomProjectionLSH(
        inputCol="__vec",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(a)
    # convert requested threshold to the euclidean threshold LSH uses
    euclid_threshold = math.sqrt(2.0 * threshold) if metric == "cosine" else threshold
    joined = model.approxSimilarityJoin(a, b, euclid_threshold, distCol="__dist")
    dist = F.col("__dist")
    if metric == "cosine":
        dist = (dist * dist) / 2.0
    return joined.select(
        F.col("datasetA.id_a").alias("id_a"),
        F.col("datasetB.id_b").alias("id_b"),
        F.round(dist, 6).alias("distance"),
    )


def build_ivf_index(
    df: DataFrame,
    *,
    vector_col: str = "vector",
    n_clusters: int = 16,
    metric: str = "cosine",
    seed: int = 42,
):
    """IVF (inverted-file) index build: distributed KMeans over the
    vectors, every row assigned to its nearest centroid.

    Returns ``(assigned_df, centroids)`` — ``assigned_df`` is the input
    plus ``__cluster`` (int); ``centroids`` is a small python list
    [(cluster_id, [floats])].  At scale, WRITE ``assigned_df``
    partitioned by ``__cluster``: queries then probe ``n_probe``
    partitions and Catalyst prunes the rest of the corpus at the file
    level — the classic IVF trade (recall vs fraction scanned).
    """
    from pyspark.ml.clustering import KMeans

    normalize = metric == "cosine"
    ml_df = _as_ml_vectors(df, vector_col, normalize)
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__vec", predictionCol="__cluster").fit(
        ml_df
    )
    assigned = model.transform(ml_df).drop("__vec")
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return assigned, centroids


def knn_ivf(
    assigned_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vector: Sequence[float],
    *,
    k: int = 10,
    id_col: str = "key",
    vector_col: str = "vector",
    metric: str = "cosine",
    n_probe: int = 4,
) -> DataFrame:
    """IVF query: rank centroids by distance to the query (driver-side —
    centroid count is tiny), scan only the ``n_probe`` nearest clusters,
    brute-force exact distances within them.  Returns ``id_col, distance``.

    With ``assigned_df`` stored partitioned by ``__cluster`` the
    ``isin`` filter becomes partition pruning: only n_probe/n_clusters
    of the corpus is read.
    """
    import math

    q = [float(x) for x in query_vector]
    if metric == "cosine":
        n = math.sqrt(sum(x * x for x in q)) or 1.0
        qn = [x / n for x in q]

        def cdist(c: list[float]) -> float:
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            return 1.0 - sum(a * b for a, b in zip(qn, c)) / cn
    else:

        def cdist(c: list[float]) -> float:
            return math.sqrt(sum((a - b) ** 2 for a, b in zip(q, c)))

    probe = [cid for cid, _ in sorted(centroids, key=lambda t: cdist(t[1]))[:n_probe]]
    return knn_brute_force(
        assigned_df.where(F.col("__cluster").isin(probe)),
        query_vector,
        k=k,
        id_col=id_col,
        vector_col=vector_col,
        metric=metric,
    )


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "key",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors for EVERY query row at once.

    Plan: corpus x broadcast(queries) — the query set is the small side by
    construction, so this is a broadcast nested-loop over |corpus| x |Q|
    with JVM-side distances, then one shuffle on query_id for the
    per-query top-k window.  For |Q| queries this replaces |Q| separate
    scans of the corpus with ONE.  Returns ``query_id, id_col, distance,
    rank``.
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_vector_col).alias("__qv")
    ).where(F.col("__qv").isNotNull())
    # NULL corpus vectors would rank first per query (NULL distance
    # sorts ahead of every real one) — exclude them up front
    paired = corpus.select(
        F.col(id_col), F.col(vector_col).alias("__cv")
    ).where(F.col("__cv").isNotNull()).crossJoin(F.broadcast(q))
    dist = _distance(metric, F.col("__cv"), F.col("__qv"))
    w = Window.partitionBy("__qid").orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        paired.withColumn("distance", F.round(dist, 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("__qid").alias(query_id_col), id_col, "distance", "rank")
    )


def _pq_kmeans(x, k: int, iters: int, seed: int):
    """Driver-side Lloyd k-means for one PQ subspace (numpy, deterministic).

    PQ codebooks train on a bounded SAMPLE by design (the FAISS recipe):
    the corpus-scale stages are encode and score, which distribute; the
    trainer sees at most ``pq_train_sample`` rows, so a driver fit is the
    right cost model and keeps the centroids bit-reproducible.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    k = min(k, len(x))
    centroids = x[rng.choice(len(x), size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                centroids[j] = pts.mean(axis=0)
    return centroids


def build_pq_index(
    df: DataFrame,
    *,
    id_col: str = "key",
    vector_col: str = "vector",
    m: int = 8,
    bits: int = 8,
    metric: str = "cosine",
    train_sample: int = 65536,
    kmeans_iters: int = 12,
    seed: int = 42,
    code_col: str = "pq_code",
):
    """Product-quantization index (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m`` subspaces, learn a ``2^bits``-centroid codebook per subspace,
    and encode every vector as ``m`` small codes — 4-32x less data
    scanned per query than raw floats, the standard billion-vector scale
    path (compose with the IVF partitioning for IVF-PQ).

    Returns ``(encoded_df, codebooks)``: ``encoded_df`` is the input plus
    ``code_col array<int>`` (len m); ``codebooks`` is a python list of m
    ``(2^bits, dim/m)`` float lists.  ``metric="cosine"`` L2-normalizes
    vectors first (inner-product ADC on normalized vectors == cosine).

    Plan shape: training samples ``train_sample`` rows to the driver
    (bounded, the FAISS recipe); encoding is ONE Arrow-batched pandas-UDF
    pass over the corpus with the codebooks broadcast in the closure —
    no shuffle at all.
    """
    import numpy as np

    if metric not in ("cosine", "euclidean"):
        raise InvalidArgument(f"unknown metric {metric!r} (cosine|euclidean)")
    # NULL vectors cannot be encoded (and would crash the trainer's
    # numpy stack) — excluded from the index like every other knn path
    df = df.where(F.col(vector_col).isNotNull())
    # ONE column-pruned job for row count + dimension (the separate
    # first() probe and count() each re-derived the input chain)
    probe = df.agg(
        F.count(F.lit(1)).alias("__n"), F.first(F.size(vector_col)).alias("__dim")
    ).first()
    n = int(probe["__n"])
    if n == 0:
        raise InvalidArgument("build_pq_index: no non-NULL vectors to index")
    dim = int(probe["__dim"])
    if dim % m:
        raise InvalidArgument(f"vector dim {dim} not divisible by m={m}")
    sub = dim // m
    k = 1 << bits
    frac = min(1.0, train_sample / max(n, 1))
    sample = df.select(vector_col) if frac >= 1.0 else df.select(vector_col).sample(frac, seed=seed)
    x = np.array(sample.toPandas()[vector_col].tolist(), dtype=np.float64)
    if metric == "cosine":
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    codebooks = [
        _pq_kmeans(x[:, i * sub : (i + 1) * sub], k, kmeans_iters, seed + i) for i in range(m)
    ]
    cb = [c.tolist() for c in codebooks]

    cbs = [np.asarray(c, dtype=np.float64) for c in cb]
    normalize = metric == "cosine"

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            a = np.asarray(v, dtype=np.float64)
            if normalize:
                a = a / max(np.linalg.norm(a), 1e-12)
            codes = [
                int(((cbs[i] - a[i * sub : (i + 1) * sub]) ** 2).sum(axis=1).argmin())
                for i in range(m)
            ]
            out.append(codes)
        return pd.Series(out)

    encoded = df.withColumn(code_col, _encode(F.col(vector_col)))
    return encoded, cb


def knn_pq(
    encoded: DataFrame,
    codebooks: list,
    query_vec,
    *,
    k: int = 10,
    id_col: str = "key",
    code_col: str = "pq_code",
    metric: str = "cosine",
    refine_vector_col: str | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """ANN top-k over a PQ-encoded corpus via asymmetric distance
    computation (ADC): the query precomputes one ``m x 2^bits`` lookup
    table of subspace distances (tiny, rides into the plan as a literal
    array), and each corpus row's distance is ``m`` table lookups — the
    scan never touches the original floats.

    With ``refine_vector_col`` the PQ top ``k*refine_factor`` candidates
    are re-ranked by exact distance on the raw vectors (re-reading only
    that sliver), the standard two-stage recall fix.  Returns
    ``id_col, distance`` (ADC distance, or exact when refined), ascending.
    """
    import numpy as np

    if metric not in ("cosine", "euclidean"):
        raise InvalidArgument(f"unknown metric {metric!r} (cosine|euclidean)")
    cbs = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m = len(cbs)
    kk = cbs[0].shape[0]
    sub = cbs[0].shape[1]
    q = np.asarray(list(query_vec), dtype=np.float64)
    if metric == "cosine":
        q = q / max(np.linalg.norm(q), 1e-12)
    # flat LUT: position i*2^bits + code  ->  subspace distance
    lut = np.concatenate(
        [((cbs[i] - q[i * sub : (i + 1) * sub]) ** 2).sum(axis=1) for i in range(m)]
    )
    lut_col = F.array(*[F.lit(float(v)) for v in lut])
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    adc = F.aggregate(
        F.transform(
            idx,
            lambda i: F.element_at(lut_col, (i * kk + F.element_at(F.col(code_col), i + 1) + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    take = k * refine_factor if refine_vector_col else k
    cand = (
        encoded.withColumn("__adc", adc)
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(take)
    )
    if not refine_vector_col:
        return cand.select(id_col, F.round("__adc", 6).alias("distance"))
    exact = _distance(metric, F.col(refine_vector_col), F.array(*[F.lit(float(v)) for v in query_vec]))
    return (
        cand.withColumn("distance", F.round(exact, 6))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "distance")
    )


def build_ivf_pq_index(
    df: DataFrame,
    *,
    id_col: str = "key",
    vector_col: str = "vector",
    n_clusters: int = 16,
    m: int = 8,
    bits: int = 8,
    metric: str = "cosine",
    seed: int = 42,
):
    """IVF-PQ: the billion-vector composition — IVF partitioning picks
    WHICH sliver of the corpus a query scans, PQ codes decide HOW CHEAP
    each scanned row is.  Returns ``(encoded_assigned_df, centroids,
    codebooks)``; write ``encoded_assigned_df`` partitioned by
    ``__cluster`` (ids + codes only — the floats can live in a separate
    refine table) and a query reads n_probe/n_clusters of a corpus
    that is itself 4-32x smaller than raw."""
    assigned, centroids = build_ivf_index(
        df, vector_col=vector_col, n_clusters=n_clusters, metric=metric, seed=seed
    )
    encoded, codebooks = build_pq_index(
        assigned, id_col=id_col, vector_col=vector_col, m=m, bits=bits,
        metric=metric, seed=seed,
    )
    return encoded, centroids, codebooks


def knn_ivf_pq(
    encoded_assigned: DataFrame,
    centroids: list,
    codebooks: list,
    query_vec,
    *,
    k: int = 10,
    id_col: str = "key",
    code_col: str = "pq_code",
    metric: str = "cosine",
    n_probe: int = 4,
    refine_vector_col: str | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """Query the IVF-PQ index: centroid ranking is driver-side (tiny),
    the n_probe cluster filter prunes partitions, and the surviving rows
    are scored by ADC table lookups (optionally exact-refined)."""
    import math

    q = [float(x) for x in query_vec]
    if metric == "cosine":
        n = math.sqrt(sum(x * x for x in q)) or 1.0
        qn = [x / n for x in q]

        def cdist(c):
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            return 1.0 - sum(a * b for a, b in zip(qn, c)) / cn
    else:

        def cdist(c):
            return math.sqrt(sum((a - b) ** 2 for a, b in zip(q, c)))

    probe = [cid for cid, c in sorted(centroids, key=lambda t: cdist(t[1]))[:n_probe]]
    return knn_pq(
        encoded_assigned.where(F.col("__cluster").isin(probe)),
        codebooks,
        query_vec,
        k=k,
        id_col=id_col,
        code_col=code_col,
        metric=metric,
        refine_vector_col=refine_vector_col,
        refine_factor=refine_factor,
    )


def decontaminate_by_embedding(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    vector_col: str = "embedding",
    eval_vector_col: str | None = None,
    threshold: float = 0.95,
    max_eval: int = 200_000,
) -> DataFrame:
    """Embedding-space eval-set decontamination: drop every corpus row
    whose cosine SIMILARITY to ANY eval-set row is ``>= threshold`` —
    the semantic complement of the exact n-gram pass
    (``operators.bloom.decontaminate``): paraphrased or lightly-edited
    test questions that share no 13-gram still sit next to their source
    in embedding space (the contamination family of Yang et al. 2023,
    "rephrased samples" evasion).

    Plan shape (100 TB corpus): the EVAL side is the small one by
    definition (an eval set is thousands of rows — ``max_eval`` guards
    the contract), so it broadcasts once and the corpus is scanned ONCE
    with a left-anti join on the similarity predicate; the distance is
    the JVM higher-order-function kernel (no Python).  Work is
    |corpus| x |eval| vectorized comparisons distributed over corpus
    partitions — the same shape as ``knn_batch``, with no shuffle of
    the corpus at all.  For eval sets beyond ``max_eval``, cluster the
    eval set first (``semantic_dedup`` / IVF) rather than raising the
    cap.

    Returns the CLEANED corpus (same schema).  Corpus rows with NULL
    vectors are kept (nothing to compare — the n-gram pass is the
    text-side guard).
    """
    from aws_sdk_pandas_spark.functions.vectors import cosine_distance

    ev_col = eval_vector_col or vector_col
    n_eval = eval_df.count()
    if n_eval > max_eval:
        raise ValueError(
            f"eval set has {n_eval} rows > max_eval={max_eval}; an eval set "
            "should be small — dedup/cluster it first (semantic_dedup) or "
            "raise max_eval explicitly if you accept |corpus| x |eval| work"
        )
    ev = (
        eval_df.where(F.col(ev_col).isNotNull())
        .select(F.col(ev_col).alias("__eval_vec"))
    )
    sim = F.lit(1.0) - cosine_distance(F.col(vector_col), F.col("__eval_vec"))
    return corpus.join(
        F.broadcast(ev),
        F.col(vector_col).isNotNull() & (sim >= F.lit(float(threshold))),
        "left_anti",
    )


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    k: int = 5,
    id_col: str = "key",
    vector_col: str = "vector",
    label_col: str | None = None,
    anchor_id_col: str = "anchor_id",
    anchor_vector_col: str = "vector",
    anchor_label_col: str | None = None,
    metric: str = "cosine",
    min_distance: float = 0.0,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each anchor, the ``k`` NEAREST corpus rows that are (a) not the
    anchor itself, (b) a different ``label_col`` when labels are given
    (same-label neighbors are positives, not negatives), and (c) at
    least ``min_distance`` away — the floor drops near-duplicates that
    would be FALSE negatives.  Returns ``anchor_id, neg_id, distance,
    rank``.

    Same scale shape as ``knn_batch`` (anchors are the training batch —
    small by construction, broadcast): ONE corpus scan with JVM-side
    distances, one shuffle on anchor_id for the per-anchor top-k.  For
    corpus-wide mining, feed anchors through in batches or swap the
    scan for ``knn_ivf`` candidates.
    """
    from pyspark.sql.window import Window

    a_cols = [
        F.col(anchor_id_col).alias("__aid"),
        F.col(anchor_vector_col).alias("__av"),
    ]
    if label_col is not None:
        a_cols.append(
            F.col(anchor_label_col or label_col).alias("__albl")
        )
    a = anchors.select(*a_cols)
    c_cols = [F.col(id_col).alias("__cid"), F.col(vector_col).alias("__cv")]
    if label_col is not None:
        c_cols.append(F.col(label_col).alias("__clbl"))
    paired = corpus.select(*c_cols).crossJoin(F.broadcast(a))
    paired = paired.where(F.col("__cid") != F.col("__aid"))
    if label_col is not None:
        paired = paired.where(F.col("__clbl") != F.col("__albl"))
    dist = F.round(_distance(metric, F.col("__cv"), F.col("__av")), 6)
    paired = paired.withColumn("distance", dist)
    if min_distance > 0:
        paired = paired.where(F.col("distance") >= min_distance)
    w = Window.partitionBy("__aid").orderBy(
        F.col("distance").asc(), F.col("__cid").asc()
    )
    return (
        paired.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__aid").alias("anchor_id"),
            F.col("__cid").alias("neg_id"),
            "distance",
            "rank",
        )
    )


def diverse_subset(
    df: DataFrame,
    k: int,
    *,
    id_col: str,
    vector_col: str = "embedding",
    metric: str = "euclidean",
    max_k: int = 256,
) -> DataFrame:
    """Greedy k-center diverse subset: ``k`` rows that maximally spread
    over the embedding space (2-approximation of the optimal max-min
    cover) — the "pick 64 REPRESENTATIVE eval documents" selector that
    uniform sampling gets wrong (it oversamples dense clusters and
    misses tails).

    Deterministic: starts from the point farthest from the corpus
    centroid (one mean + one max pass), then each round adds the point
    with the LARGEST distance to its nearest already-chosen center
    (farthest-first traversal), ties broken on ``id_col``.  Each round
    is one corpus scan with the centers folded in as codegen literals
    — k scans total, no pairwise matrix ever materializes.  Returns
    the selected rows with ``sel_order`` (0-based pick order) and
    ``sel_distance`` (distance to the nearest earlier center — the
    cover radius as k grows).

    COST BOUND: the algorithm is O(k) full corpus scans each ending in
    a driver ``limit(1).collect()`` — that is the right trade for its
    eval-set-selector role (k is tens, the corpus scan is the cheap
    part), but it is NOT a bulk sampler.  ``max_k`` (default 256)
    refuses a k that would turn it into thousands of sequential scans;
    for large diverse samples use ``operators.sampling`` (stratified /
    temperature) or KMeans cluster sampling instead.  Mirrors
    ``pareto_front.max_candidates``.
    """
    from aws_sdk_pandas_spark.functions.vectors import (
        cosine_distance,
        euclidean_distance,
        vector_literal,
    )

    if metric not in ("euclidean", "cosine"):
        raise ValueError("metric must be 'euclidean' or 'cosine'")
    if k > max_k:
        raise ValueError(
            f"diverse_subset is k sequential corpus scans and k={k} exceeds "
            f"max_k={max_k}; for large diverse samples use operators.sampling "
            "(stratified/temperature) or KMeans cluster sampling, or raise "
            "max_k explicitly if you accept the scan cost"
        )
    dist_fn = euclidean_distance if metric == "euclidean" else cosine_distance
    base = df.where(
        F.col(id_col).isNotNull() & F.col(vector_col).isNotNull()
    ).select(F.col(id_col).alias("__id"), F.col(vector_col).alias("__v"))
    first = base.first()
    if first is None:
        raise ValueError("diverse_subset: no non-null vectors")
    d = len(first["__v"])

    # seed: farthest from the centroid (deterministic, outlier-reaching)
    cent_row = base.select(
        F.array(
            *[F.avg(F.col("__v")[i]) for i in range(d)]
        ).alias("c")
    ).collect()[0]["c"]
    centroid = [float(x) for x in cent_row]

    def farthest(from_expr):
        row = (
            base.select("__id", "__v", from_expr.alias("__d"))
            .orderBy(F.col("__d").desc(), F.col("__id").asc())
            .limit(1)
            .collect()[0]
        )
        return row["__id"], [float(x) for x in row["__v"]], float(row["__d"])

    sid, svec, sdist = farthest(dist_fn(F.col("__v"), vector_literal(centroid)))
    chosen = [(sid, svec, 0.0)]  # seed's sel_distance defined as 0
    # Incremental farthest-first: carry each row's min-distance-to-chosen
    # and fold in ONE new center per round — ``least(prev, dist(v, new))``
    # associates exactly like the left-to-right least-chain the naive form
    # built, and ``least`` is exact, so every pick and sel_distance is
    # bit-identical.  The naive form re-evaluated ALL i distance folds per
    # round (O(n·k²) lambda work) and inlined i 64-float literals into one
    # expression tree, whose analysis/codegen cost grew quadratically and
    # dominated wall-clock (measured 29.7s for k=16 at sf0.01; guide §7.3:
    # giant expression trees built in loops are a driver-side bottleneck).
    #
    # Each round's frame is materialized with a LAZY ``localCheckpoint``
    # (the pick's collect is the materializing action — no extra job),
    # NOT ``persist()``: a persist chain keeps the full logical lineage,
    # so round n's pick re-analyzed/re-planned an n-deep crossJoin tree
    # and per-round wall grew superlinearly (0.35s → 4s by round 15,
    # ~15s total at sf0.01); the checkpoint truncates the plan to a
    # constant-size scan and rounds stay flat (~0.35s, total ~5.8s).
    # Fault-tolerance trade per guide §5: a lost executor cannot
    # recompute a checkpointed round — acceptable for a k-round driver
    # loop that simply re-runs on failure.
    spark = df.sparkSession
    sc = spark.sparkContext

    def _persistent_ids() -> set:
        # JavaSparkContext.getPersistentRDDs (public API) — used to free
        # each round's checkpointed blocks deterministically; the
        # DataFrame API exposes no unpersist handle for localCheckpoint.
        try:
            return set(sc._jsc.getPersistentRDDs().keySet().toArray())
        except Exception:  # pragma: no cover - cleanup is best-effort
            return set()

    def _free(ids: set) -> None:
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for i in ids:
                r = jmap.get(i)
                if r is not None:
                    r.unpersist(False)
        except Exception:  # pragma: no cover - cleanup is best-effort
            pass

    seen_ids = _persistent_ids()
    round_ids: list[set] = []  # per-round checkpoint block ids, oldest first
    cur = base.select(
        "__id", "__v", dist_fn(F.col("__v"), vector_literal(svec)).alias("__d")
    ).localCheckpoint(eager=False)
    try:
        while len(chosen) < k:
            already = [c[0] for c in chosen]
            # this pick materializes cur's checkpoint (built from the
            # predecessor's still-live blocks), so no separate count() job
            row = (
                cur.where(~F.col("__id").isin(already))
                .orderBy(F.col("__d").desc(), F.col("__id").asc())
                .limit(1)
                .collect()
            )
            # cur is now self-contained: release every older round's blocks
            now_ids = _persistent_ids()
            round_ids.append(now_ids - seen_ids)
            seen_ids = now_ids
            while len(round_ids) > 1:
                _free(round_ids.pop(0))
            if not row:
                break
            r = row[0]
            cvec = [float(x) for x in r["__v"]]
            chosen.append((r["__id"], cvec, float(r["__d"])))
            if len(chosen) >= k:
                break
            # the new center joins in as a ONE-ROW broadcast instead of 64
            # inlined literals: the distance fold's generated code is then
            # byte-identical across rounds and Spark's codegen cache hits —
            # with literals every round paid a fresh whole-stage compile
            # (~0.5s/round measured, larger than the actual 500-row scan).
            cdf = local_frame(spark, [(cvec,)], "__c array<float>")
            cur = (
                cur.crossJoin(F.broadcast(cdf))
                .select(
                    "__id",
                    "__v",
                    F.least(
                        F.col("__d"), dist_fn(F.col("__v"), F.col("__c"))
                    ).alias("__d"),
                )
                .localCheckpoint(eager=False)
            )
    finally:
        for ids in round_ids:
            _free(ids)
    sel = local_frame(
        spark,
        [(c[0], i, round(c[2], 6)) for i, c in enumerate(chosen)],
        f"__id {df.schema[id_col].dataType.simpleString()}, sel_order int, sel_distance double",
    )
    return (
        df.join(sel, F.col(id_col) == F.col("__id"))
        .drop("__id")
        .orderBy("sel_order")
    )
