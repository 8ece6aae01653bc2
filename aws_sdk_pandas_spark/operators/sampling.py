"""Sampling / capping operators for dataset curation.

Training-data pipelines constantly need "at most N documents per domain"
and "x% of each stratum" — both must be deterministic (reruns produce
the same corpus) and shuffle-minimal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_sdk_pandas_spark._types import local_frame


def cap_per_group(
    df: DataFrame,
    by: list[str],
    n: int,
    *,
    order_col: str | Column | None = None,
    seed: int = 42,
) -> DataFrame:
    """Keep at most ``n`` rows per group — the domain-capping step.

    ``order_col`` picks WHICH rows survive (e.g. a quality score,
    descending); default is a deterministic pseudo-random order derived
    from a hash of the whole row and ``seed`` (stable across reruns and
    partitionings, unlike ``rand()``).  One shuffle on the group keys.
    """
    if order_col is None:
        order = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed)).asc()
    elif isinstance(order_col, str):
        order = F.col(order_col).desc()
    else:
        order = order_col
    w = Window.partitionBy(*by).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def _md5_uniform(key_col: str | Column, seed: int) -> Column:
    """Deterministic U[0,1) from ``md5(key || ':' || seed)`` — portable:
    any engine (DuckDB, Trino, pandas) re-derives the same decision from
    the same key, so what-was-sampled is auditable cross-engine.  This
    is THE canonical hash-to-uniform for every md5-deterministic
    operator (sampling, bootstrap, conformal split) — keep one copy so
    the cross-engine oracles can never drift.  Accepts a column name or
    any Column expression (e.g. a concat of id and replicate index)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", k.cast("string"), F.lit(str(seed)))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 32))
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    *,
    temperature: float = 2.0,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled group rebalancing (the multilingual-corpus
    sampler): downsample each group so the output distribution over
    groups is proportional to ``share^(1/T)`` instead of ``share``.

    ``T=1`` keeps the natural distribution; ``T->inf`` tends to uniform.
    Keep probability per group = ``(share)^(1/T - 1)`` normalized so the
    rarest group's probability is 1 (downsample-only — no row is ever
    duplicated).  The keep decision is a pure function of
    ``md5(key, seed)`` — deterministic across reruns, repartitions and
    engines.

    Scale shape: one tiny per-group aggregate (broadcast back, no
    shuffle of the corpus) + one filter — the corpus is scanned once.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    exponent = 1.0 / temperature - 1.0
    stats = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c"))
    # groups are few (languages, domains): broadcast the weight table
    weights = stats.withColumn("__n", F.sum("__c").over(Window.partitionBy())).select(
        group_col,
        F.pow(F.col("__c") / F.col("__n"), F.lit(exponent)).alias("__raw"),
    )
    weights = weights.withColumn(
        # round: POW is the one libm call here; 12 decimals makes the
        # keep threshold reproducible bit-for-bit across engines
        "__keep_p",
        F.round(F.col("__raw") / F.max("__raw").over(Window.partitionBy()), 12),
    ).select(group_col, "__keep_p")
    u = _md5_uniform(key_col, seed)
    return (
        df.join(F.broadcast(weights), group_col)
        .where(u < F.col("__keep_p"))
        .drop("__keep_p")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    *,
    seed: int = 42,
    key_col: str | None = None,
    algo: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the seeded hash
    of the row (or of ``key_col`` when given — all rows sharing the key
    then decide together, the leak-free form) falls below the stratum's
    fraction.  Unlike ``DataFrame.sampleBy`` the decision is a pure
    function of row content — reruns and repartitions select the same
    rows.

    ``algo="md5"`` (requires ``key_col``) makes the decision re-derivable
    by any engine from ``md5(key || ':' || seed)``, for cross-engine
    audits of what was sampled.
    """
    if algo == "md5":
        if key_col is None:
            raise ValueError("algo='md5' requires key_col=")
        u = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed)))), 1, 8
            ),
            16,
            10,
        ).cast("long") / F.lit(float(1 << 32))
    elif algo == "xxhash64":
        hash_cols = [F.col(key_col)] if key_col is not None else [F.col(c) for c in df.columns]
        u = (
            F.xxhash64(*hash_cols, F.lit(seed)).bitwiseAND(
                F.lit((1 << 63) - 1)
            )
            / F.lit(float(1 << 63))
        )
    else:
        raise ValueError(f"unknown stratified_sample algo: {algo!r}")
    frac = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )[F.col(strata_col)]
    return df.where(frac.isNotNull() & (u < frac))


def weighted_sample(
    df: DataFrame,
    n: int,
    *,
    weight_col: str,
    key_col: str,
    group_cols: list[str] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES),
    deterministic: each row draws ``u`` from ``md5(key,seed)`` and is
    ranked by the exponential key ``-ln(u)/w``; the ``n`` smallest keys
    per group win.  Inclusion probability is proportional to weight, the
    decision is a pure function of row content — reruns, repartitions
    and other engines (the DuckDB oracle) re-derive the same sample.

    One shuffle (the per-group top-n window).  At 100 TB with a global
    sample (``group_cols=None``) the window would single-partition; the
    scale form is per-group (domains/languages) where each group's top-n
    is key-partitioned.  Rows with weight <= 0 are excluded (ln-key
    undefined), matching A-ES.

    The key is rounded to 12 decimals before ranking so the cross-engine
    comparison never hinges on the last ulp of libm's ``ln``; ties break
    on ``key_col``.
    """
    w = F.col(weight_col).cast("double")
    # +0.5 keeps u strictly inside (0,1): a raw u=0 would make ln(u)
    # -inf and that row would win every sample drawn at corpus scale
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    key = F.round(-F.log(u) / w, 12)
    part = [F.col(c) for c in (group_cols or [])]
    rn = F.row_number().over(
        Window.partitionBy(*part).orderBy(key.asc(), F.col(key_col).asc())
    )
    return (
        df.where(w > 0)
        .withColumn("__rn", rn)
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def _hashed_grams(df: DataFrame, id_col: str, text_col: str, ngrams: tuple, buckets: int) -> DataFrame:
    """Explode a text column into md5-hashed n-gram feature buckets.

    Words = whitespace split of the trimmed, lowercased text; n-grams are
    space-joined word windows.  Bucket = first 32 bits of md5(gram) mod
    ``buckets`` — deliberately md5 (not xxhash64) so any engine can
    re-derive the assignment from the gram's string form (DuckDB oracle,
    other runtimes).  All JVM-side: split/transform/explode/conv, no UDF.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    sz = F.size(words)
    parts = []
    for n in ngrams:
        if n == 1:
            parts.append(words)
        else:
            # n-gram windows as a fold of zip_with over n shifted slices —
            # one string concat per element, no per-element array lookups
            # (an element_at-in-transform formulation measured ~5x slower);
            # slice length sz-n+1 is 0 for short docs, so they contribute
            # an empty array without a guard
            win = F.greatest(F.lit(0), sz - n + 1)  # slice rejects negative lengths
            acc = F.slice(words, 1, win)
            for j in range(2, n + 1):
                acc = F.zip_with(
                    acc,
                    F.slice(words, j, win),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            parts.append(acc)
    all_grams = parts[0] if len(parts) == 1 else F.concat(*parts)
    return (
        df.select(F.col(id_col).alias("__id"), F.explode(all_grams).alias("__gram"))
        .where(F.col("__gram") != "")
        .withColumn(
            "__bucket",
            F.conv(F.substring(F.md5(F.col("__gram")), 1, 8), 16, 10).cast("long")
            % F.lit(buckets),
        )
    )


def dsir_importance_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ngrams: tuple = (1, 2),
    buckets: int = 8192,
    alpha: float = 1.0,
    out_col: str = "log_weight",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw-corpus document by how target-domain-like its hashed
    n-gram profile is, for importance resampling of pre-training data.

    Feature space = word {uni,bi}-grams hashed into ``buckets`` buckets.
    Bag-of-buckets distributions ``p`` (target) and ``q`` (raw) are
    estimated with add-``alpha`` smoothing; a document's log-weight is
    ``sum_k c_k(x) * (log p_k - log q_k)`` over its gram counts.

    Plan shape (100 TB): the two distribution estimates are single
    map-side-combined aggregations down to ``buckets`` rows each, the
    ratio table broadcasts (8k doubles), and scoring is one explode ->
    broadcast-join -> sum-by-id pass over the raw corpus — no shuffle
    wider than the per-id sum, nothing driver-side, no Python.  Compose
    with :func:`weighted_sample` (Efraimidis–Spirakis on
    ``exp(log_weight / T)``) for the paper's Gumbel-style resample.

    Returns ``raw_df`` columns ``(id_col, out_col)``; documents with no
    grams score 0.0.
    """
    raw_grams = _hashed_grams(raw_df, id_col, text_col, ngrams, buckets)
    tgt_grams = _hashed_grams(target_df, id_col, text_col, ngrams, buckets)

    # per-doc bucket counts, ONCE: both the q estimate and the scoring
    # pass derive from this compact table (docs x distinct-buckets rows,
    # far smaller than the exploded grams), so the raw corpus is
    # featurized a single time instead of once per consumer
    raw_counts = (
        raw_grams.groupBy("__id", "__bucket").agg(F.count("*").alias("__c")).persist()
    )
    q = raw_counts.groupBy("__bucket").agg(F.sum("__c").alias("__qc"))
    p = tgt_grams.groupBy("__bucket").agg(F.count("*").alias("__pc"))
    # outer-join the two B-row tables, smooth, take the log ratio
    ratio = (
        q.join(p, "__bucket", "full_outer")
        .select(
            "__bucket",
            (
                F.log(
                    (F.coalesce(F.col("__pc"), F.lit(0)) + F.lit(alpha))
                    / (F.sum(F.coalesce(F.col("__pc"), F.lit(0))).over(Window.partitionBy()) + F.lit(alpha * buckets))
                )
                - F.log(
                    (F.coalesce(F.col("__qc"), F.lit(0)) + F.lit(alpha))
                    / (F.sum(F.coalesce(F.col("__qc"), F.lit(0))).over(Window.partitionBy()) + F.lit(alpha * buckets))
                )
            ).alias("__logr"),
        )
    )
    scored = (
        raw_counts.join(F.broadcast(ratio), "__bucket")
        .groupBy("__id")
        .agg(F.sum(F.col("__logr") * F.col("__c")).alias(out_col))
    )
    # docs with zero grams (empty text) keep weight 0
    return (
        raw_df.select(F.col(id_col))
        .join(scored.withColumnRenamed("__id", id_col), id_col, "left")
        .select(id_col, F.coalesce(F.col(out_col), F.lit(0.0)).alias(out_col))
    )


def global_prefix_sum(
    df: DataFrame,
    value_col: str | list[str],
    order_by: list,
    *,
    out_col: str | list[str] = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered running sum WITHOUT the single-partition funnel.

    ``Window.orderBy`` with no partition key pulls every row through one
    task — the classic scale cliff.  This is the two-phase formulation:
    range-repartition on the order key (partition i holds keys entirely
    before partition i+1), window-cumsum WITHIN each partition, and add
    each partition's starting offset (the sum of all earlier partitions'
    totals — a ``num_partitions``-row table computed in one aggregation
    and broadcast back).  Every stage is bounded by partition size, so a
    100x corpus just needs more partitions.

    ``order_by`` must be a deterministic total order (include a unique
    tie-break column); ``out_col`` is the inclusive running sum.

    ``value_col``/``out_col`` accept parallel lists to produce several
    running sums over the SAME order in one pass (one range shuffle, one
    totals aggregation) — e.g. the per-sample cumulative counts a KS
    statistic needs.
    """
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError("value_col and out_col lists must have the same length")
    spark = df.sparkSession
    order = [F.col(c) if isinstance(c, str) else c for c in order_by]
    # localCheckpoint is CORRECTNESS, not cache: repartitionByRange picks
    # its boundaries by sampling with an RDD-id-dependent seed, so the
    # totals job below and the final window job would otherwise each
    # re-sample and can assign rows near a boundary to DIFFERENT
    # partitions — offsets from one assignment added to local sums from
    # another (observed: wrong KS cumulative counts at 8 partitions).
    # Materializing pins ONE assignment for both phases; the two-phase
    # algorithm reads r twice anyway, so this also saves the recompute.
    #
    # Partition count: when the caller does not pin one, leave it to AQE
    # (repartitionByRange WITHOUT an explicit count marks the shuffle as
    # coalescible) so the range shuffle is sized by bytes — few
    # partitions for a small distinct-value table, shuffle.partitions
    # for a big one — instead of a constant that over-partitions small
    # inputs and under-partitions huge ones.  AQE merges only ADJACENT
    # range partitions, so partition i's keys still all precede
    # partition i+1's and the offset arithmetic below is unchanged for
    # any total order.
    parted = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    )
    r = parted.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=True)
    # per-partition totals -> driver (n rows) -> exclusive offsets
    totals = {
        row["__pid"]: [row[f"__t{i}"] or 0 for i in range(len(value_cols))]
        for row in r.groupBy("__pid")
        .agg(*[F.sum(c).alias(f"__t{i}") for i, c in enumerate(value_cols)])
        .collect()
    }
    flt = any(isinstance(v, float) for vs in totals.values() for v in vs)
    zero = 0.0 if flt else 0
    offsets, acc = [], [zero] * len(value_cols)
    for pid in range(max(totals, default=-1) + 1):
        # a float column ships float offsets throughout (Arrow refuses
        # an int that a double cannot hold exactly)
        offsets.append((pid, *([float(a) for a in acc] if flt else acc)))
        t = totals.get(pid)
        if t:
            acc = [a + v for a, v in zip(acc, t)]
    typ = "double" if flt else "bigint"
    # ROWS frame, not the default RANGE: RANGE gives tied order keys one
    # shared inclusive sum, so duplicate keys would collapse to the same
    # running total instead of consecutive ones
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = r
    for i, c in enumerate(value_cols):
        out = out.withColumn(f"__local{i}", F.sum(c).over(w))
    if offsets and len(offsets) <= 64:
        # few partitions (the common case now that AQE sizes the range
        # shuffle): attach each partition's offset as a JVM literal-map
        # lookup, constant-folded: no broadcast exchange and no join.
        for i, oc in enumerate(out_cols):
            kv = []
            for off in offsets:
                kv += [F.lit(off[0]), F.lit(off[1 + i]).cast(typ)]
            out = out.withColumn(
                oc, F.col(f"__local{i}") + F.create_map(*kv)[F.col("__pid")]
            )
    elif offsets:
        # many partitions: a literal map would bloat the expression tree
        # (guide on giant plans), so keep the broadcast join
        schema = "__pid int, " + ", ".join(
            f"__off{i} {typ}" for i in range(len(value_cols))
        )
        off_df = local_frame(spark, offsets, schema)
        out = out.join(F.broadcast(off_df), "__pid")
        for i, oc in enumerate(out_cols):
            out = out.withColumn(oc, F.col(f"__local{i}") + F.col(f"__off{i}"))
    else:
        for i, oc in enumerate(out_cols):
            out = out.withColumn(oc, F.col(f"__local{i}"))
    drop = ["__pid"] + [f"__local{i}" for i in range(len(value_cols))] + [
        f"__off{i}" for i in range(len(value_cols))
    ]
    return out.drop(*drop)


def select_by_budget(
    df: DataFrame,
    budget: int,
    *,
    cost_col: str,
    score_col: str,
    id_col: str,
    descending: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Budget-constrained data selection: walk the corpus best-score
    first and keep every document that still fits ENTIRELY inside the
    budget of ``cost_col`` units (tokens, bytes) — the standard
    "top-quality slice under a token budget" step after scoring
    (classifier / DSIR / perplexity).

    Deterministic: order is (score desc|asc, id) — same corpus, same
    budget, same selection on any engine.  Built on
    :func:`global_prefix_sum`, so there is no single-partition sort and
    no driver-side data.  ``out_col`` keeps the running total if named.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    order = [
        F.col(score_col).desc() if descending else F.col(score_col).asc(),
        F.col(id_col).asc(),
    ]
    tot = out_col or "__running_total"
    out = global_prefix_sum(df, cost_col, order, out_col=tot)
    out = out.where(F.col(tot) <= budget)
    return out if out_col else out.drop(tot)


def materialize_mixture(
    df: DataFrame,
    domain_col: str,
    mixture: dict,
    *,
    total: int,
    key_col: str | None = None,
    score_col: str | None = None,
    cost_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Materialize an EXPLICIT target domain mixture (DoReMi-style
    reweighting, Xie et al. 2023): given ``mixture = {domain: weight}``
    (normalized internally) and a ``total`` budget, keep a deterministic
    per-domain quota.

    - ``cost_col=None``: quotas are row counts — ``round(total * w_d)``
      rows per domain.
    - ``cost_col="tokens"``: quotas are cost budgets — rows are taken
      best-first per domain while the within-domain running cost stays
      ``<= total * w_d``.

    Rank within a domain = ``score_col`` descending (quality-first) or,
    when absent, the md5(key,seed) uniform — deterministic and
    engine-rederivable either way; ties break on ``key_col``.  Domains
    absent from ``mixture`` are dropped.  One window shuffle keyed by
    domain; quotas a domain can't fill are left unfilled (no
    reallocation — callers wanting spillover re-run on the remainder).

    Complements :func:`temperature_sample` (implicit share^(1/T)
    rebalancing) when the pipeline needs to hit published mixture
    weights exactly.
    """
    if total <= 0:
        raise ValueError("total must be positive")
    if not mixture:
        raise ValueError("mixture must be non-empty")
    if key_col is None:
        raise ValueError("key_col is required (deterministic ranking + tie-break)")
    z = float(sum(mixture.values()))
    quota = {d: total * (w / z) for d, w in mixture.items()}
    qmap = F.create_map(
        *[F.lit(x) for d, q in quota.items() for x in (d, float(q))]
    )[F.col(domain_col)]
    order = (
        F.col(score_col).desc() if score_col is not None else _md5_uniform(key_col, seed).asc()
    )
    w = Window.partitionBy(domain_col).orderBy(order, F.col(key_col).asc())
    out = df.where(qmap.isNotNull())
    if cost_col is None:
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= F.round(qmap).cast("bigint"))
            .drop("__rn")
        )
    running = F.sum(F.col(cost_col)).over(w)
    return out.withColumn("__rt", running).where(F.col("__rt") <= qmap).drop("__rt")


def training_order(
    df: DataFrame,
    *,
    key_col: str,
    seed: int = 0,
    epoch: int = 0,
    out_col: str = "position",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle order for training-data delivery:
    every row gets a stable 1-based ``position`` in a pseudo-random
    permutation keyed by ``(seed, epoch, key)``.  Re-running on the same
    corpus reproduces the exact epoch order on any engine (md5-derived,
    no engine RNG); bumping ``epoch`` is a fresh permutation, which is
    how a trainer replays epoch k of a 100 TB corpus without
    materializing k shuffled copies.

    ``key_col`` must be UNIQUE per row: it is the tie-break of the total
    order, so duplicate keys would make the assignment between those
    rows partition-layout-dependent (positions stay a valid 1..N
    permutation either way, but cross-engine reproducibility needs the
    unique key).

    Scale shape: built on :func:`global_prefix_sum` — a range
    repartition on the md5 shuffle key, a within-partition window, and a
    partition-count-sized offset table.  No single-partition
    ``row_number`` funnel; writing the result sorted by ``position``
    (``.sortWithinPartitions`` after the range partition) yields
    sequential-read training shards.
    """
    shuf = F.md5(
        F.concat_ws(
            "|",
            F.lit(str(seed)),
            F.lit(str(epoch)),
            F.col(key_col).cast("string"),
        )
    )
    out = global_prefix_sum(
        df.withColumn("__shufkey", shuf).withColumn("__one", F.lit(1)),
        "__one",
        ["__shufkey", key_col],
        out_col=out_col,
        num_partitions=num_partitions,
    )
    return out.drop("__one", "__shufkey")


def leakage_free_split(
    df: DataFrame,
    dup_pairs: DataFrame,
    *,
    weights: dict,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed: int = 42,
    out_col: str = "split",
    algo: str = "md5",
) -> DataFrame:
    """Train/val/test assignment where near-duplicate documents can
    NEVER straddle splits — the eval-hygiene failure ``hash_split`` on
    the raw id cannot prevent (a test doc's near-copy in train is
    silent contamination).

    The split key is the duplicate-cluster representative: connected
    components over ``dup_pairs`` (from MinHash-LSH / n-gram Jaccard /
    SimHash), minimum reachable id as the label, singletons keyed by
    their own id.  The whole cluster then rides one hash-split decision.

    Scale shape: component labels exist only for docs that appear in a
    pair (a small fraction of any curated corpus), so the label table
    broadcasts; everything else is the one-pass deterministic
    ``hash_split`` projection.
    """
    from aws_sdk_pandas_spark.functions.hashing import hash_split
    from aws_sdk_pandas_spark.operators.graph import connected_components

    labels = connected_components(dup_pairs, id_a, id_b).withColumnRenamed("id", id_col)
    keyed = (
        df.join(F.broadcast(labels), id_col, "left")
        .withColumn("__split_key", F.coalesce("cluster_id", F.col(id_col)))
        .drop("cluster_id")
    )
    return hash_split(
        keyed, "__split_key", weights, seed=seed, out_col=out_col, algo=algo
    ).drop("__split_key")


def uniform_sample_k(
    df: DataFrame,
    k: int,
    *,
    key_col: str,
    seed: int = 0,
    keep_rank: bool = False,
) -> DataFrame:
    """EXACTLY ``k`` rows, uniformly and deterministically: the k
    smallest md5(seed||key) values.  ``df.sample(fraction)`` only hits
    the target count in expectation and changes membership with the
    partitioning; this is the fixed-size, engine-rederivable variant
    (distributed reservoir sampling without the sequential reservoir).
    ``key_col`` must be unique per row — it tie-breaks the boundary, so
    duplicate keys there would make membership layout-dependent.

    Scale shape: Catalyst compiles orderBy+limit to
    TakeOrderedAndProject — each partition keeps its local top-k heap
    and only k rows per partition reach the driver-side merge; there is
    no global sort and no full shuffle (pinned in test_plan_quality).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    key = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(key_col).cast("string")))
    out = df.withColumn("__u", key).orderBy("__u", key_col).limit(k)
    if keep_rank:
        return out.withColumnRenamed("__u", "sample_rank")
    return out.drop("__u")


def balance_classes(
    df: DataFrame,
    *,
    label_col: str,
    key_col: str,
    seed: int = 42,
    target: str = "min",
) -> DataFrame:
    """Deterministic class rebalancing by downsampling every class to
    (approximately) the rarest class's size — the imbalanced-label
    prep step (a 99:1 label ratio makes accuracy a lie and starves the
    minority gradient).  Keep decisions are md5-derived from
    ``key_col`` (auditable, rerun-stable, engine-rederivable), so the
    kept set is a deterministic function of the data — no RNG state.

    ``target="min"`` keeps ~min-class-count rows per class (keep
    probability ``min_n/n_c``; expected-size, exact for the rarest
    class which keeps everything).  Rows with a NULL label are not a
    class: they pass through UNCHANGED (never downsampled, never
    dropped) — unlabeled data is not this operator's to discard.
    Scale shape: one class-bounded count aggregation broadcast back +
    a codegen hash filter — one scan, no shuffle of the data itself.
    """
    if target != "min":
        raise ValueError("only target='min' is implemented")
    lab = F.col(label_col)
    counts = df.where(lab.isNotNull()).groupBy(lab.alias("__lab")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    mn = counts.agg(F.min("__c").alias("__mn"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "__lab", (F.col("__mn") / F.col("__c")).alias("__p")
    )
    # Left join: NULL labels never match (__p stays NULL) and are kept as-is.
    j = df.join(F.broadcast(rates), lab == F.col("__lab"), "left")
    u = _md5_uniform(key_col, seed)
    return j.where(F.col("__p").isNull() | (u < F.col("__p"))).drop("__lab", "__p")
