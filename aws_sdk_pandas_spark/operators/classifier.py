"""Trainable text-quality classifier — the fastText-style linear
model modern curation pipelines (DataComp, FineWeb, NeMo-Curator)
train on seed examples and sweep across the corpus: hashed n-gram
features + logistic regression.

Spark-first shape, no ML library:

- **Features** (:func:`hashed_text_features`): lowercase whitespace
  tokens (the corpus convention shared with ``lm_quality`` /
  ``textstats``) -> unigrams + joined bigrams -> ``xxhash64 pmod
  dim`` feature ids, distinct per document (binary features).  Whole
  plan is JVM higher-order functions + one hash per gram; no Python.
- **Training** (:func:`train_text_classifier`): full-batch logistic
  regression, driver-coordinated but executor-computed.  The corpus
  reduces ONCE to persisted ``(doc, label, feature)`` rows; each
  iteration is (a) broadcast the current weights as a (feature,
  weight) table, (b) one join + per-doc aggregation for the sigmoid
  scores, (c) one per-feature aggregation of residuals for the
  gradient, collected SPARSE (bounded by ``dim``, never by corpus
  rows).  Driver state is the O(dim) weight vector and the loop
  counter — at 100 TB the corpus-sized work stays on executors and
  the shuffles are bounded by (docs x avg distinct features) and
  ``dim`` respectively.
- **Scoring** (:func:`apply_text_classifier`): explode features, ONE
  broadcast join against the non-zero weights, one per-doc sum,
  sigmoid.  Documents with NULL/empty text keep their row with a
  NULL score (the dirty-corpus contract everywhere in this repo).

The gradient sums are floating-point reductions, so retraining under
a different partitioning reproduces the model to numerical tolerance,
not bit-exactly — documented here and pinned by a tolerance test, not
a hash gate (the driver gate for this family is rows-only plus an
invariants gate asserting the planted signal is learned).

Relationship to ``textstats.fit_hashed_ngram_classifier`` /
``hashed_ngram_score``: that pair trains an MLlib logistic head on a
BOUNDED SAMPLE (dense count-normalized vectors, thousands of docs)
and applies it JVM-only — the right tool when a small seed set
defines quality.  This module is the corpus-scale trainer for when
the labels themselves live at scale (heuristic labels over the whole
corpus, distillation from an expensive scorer): MLlib-free
distributed full-batch GD whose per-iteration cost is bounded by
``dim`` rather than by a sample budget, with an exactly-replayable
update rule (pinned against serial numpy to 1e-9) and frozen-model
persistence.  Featurization differs accordingly: binary distinct
features here (presence), count-normalized there (frequency).

Reference parity anchor: the reference has no trainable classifier
(quality filtering is Athena-UDF territory); beyond-reference, in the
same family as ``lm_quality`` (generative scorer) — this is the
discriminative sibling.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument

# the (feature, weight) table a model joins its hashed features against
_WEIGHTS = "feature bigint, weight double"


def hashed_text_features(
    text_col: Column | str, *, dim: int = 1 << 18, bigrams: bool = True
) -> Column:
    """Distinct hashed n-gram feature ids (``array<bigint>`` in
    ``[0, dim)``) for a text column; NULL text -> NULL, blank -> empty
    array.  Pure codegen: split + slices/zip for bigrams + xxhash64."""
    if dim < 2:
        raise InvalidArgument("feature dim must be >= 2")
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.regexp_replace(c, r"^\s+|\s+$", "")
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(F.lower(t), r"\s+")
    )
    grams = toks
    if bigrams:
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.arrays_zip(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                ),
                lambda p: F.concat_ws(" ", p["0"], p["1"]),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(toks, pairs)
    return F.array_distinct(
        F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(dim)))
    )


@dataclass
class TextClassifier:
    """Trained model: dense weight vector (numpy, length ``dim``),
    bias, and the featurization config needed to score consistently."""

    weights: "object"  # np.ndarray, kept loose to avoid a hard import
    bias: float
    dim: int
    bigrams: bool

    def nonzero_frame(self, spark: SparkSession) -> DataFrame:
        """The non-zero weights as a (feature, weight) DataFrame —
        the broadcast side of every scoring join."""
        import numpy as np

        idx = np.flatnonzero(self.weights)
        rows = [(int(i), float(self.weights[i])) for i in idx]
        if not rows:
            rows = [(0, 0.0)]
        return local_frame(spark, rows, _WEIGHTS)


def train_text_classifier(
    df: DataFrame,
    *,
    label_col: str = "label",
    text_col: str = "text",
    dim: int = 1 << 18,
    bigrams: bool = True,
    iterations: int = 25,
    learning_rate: float = 1.0,
    l2: float = 1e-6,
) -> TextClassifier:
    """Full-batch logistic regression over hashed n-gram features.
    ``label_col`` must be 0/1 (1 = high quality / positive class).
    Rows with NULL text or NULL label are excluded from training.
    Returns a :class:`TextClassifier`; training cost is
    ``iterations`` x (one broadcast join + two bounded aggregations).
    """
    import numpy as np

    if iterations < 1:
        raise InvalidArgument("iterations must be >= 1")
    spark = df.sparkSession
    # intercept-as-feature: every document gets sentinel feature -1 (real
    # ids are in [0, dim)), the bias rides in the weight table as the -1
    # row, and the single per-feature gradient aggregation yields the bias
    # gradient as the -1 group — ONE pass over the persisted rows and ONE
    # job per iteration, where the bias previously cost a second job that
    # recomputed the whole scoring subtree for one global sum
    feats = (
        df.select(
            F.col(label_col).cast("double").alias("__y"),
            hashed_text_features(text_col, dim=dim, bigrams=bigrams).alias("__f"),
        )
        .where(F.col("__y").isin(0.0, 1.0) & F.col("__f").isNotNull())
        .select(
            F.monotonically_increasing_id().alias("__doc"),
            "__y",
            F.concat("__f", F.array(F.lit(-1).cast("long"))).alias("__f"),
        )
        .select("__doc", "__y", F.explode("__f").alias("feature"))
        .persist()
    )
    # every doc carries exactly one sentinel row, so doc count is a plain
    # filtered count — no distinct shuffle
    n_docs = feats.where(F.col("feature") == -1).count()
    if n_docs == 0:
        feats.unpersist()
        raise InvalidArgument("no trainable rows (labels must be 0/1)")

    w = np.zeros(dim, np.float64)
    b = 0.0
    for _ in range(iterations):
        # the -1 bias row is always present so the sigmoid's +b happens
        # inside the same per-doc weight sum (every doc carries feature -1)
        wf = local_frame(
            spark,
            [(-1, float(b))] + [(int(i), float(w[i])) for i in np.flatnonzero(w)],
            _WEIGHTS,
        )
        scored = (
            feats.join(F.broadcast(wf), "feature", "left")
            .groupBy("__doc", "__y")
            .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__s"))
            .select(
                "__doc",
                "__y",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__s")))).alias("__p"),
            )
            .select("__doc", (F.col("__p") - F.col("__y")).alias("__r"))
        )
        grad_rows = (
            feats.join(scored, "__doc")
            .groupBy("feature")
            .agg(F.sum("__r").alias("g"))
            .collect()
        )
        g = np.zeros(dim, np.float64)
        bias_grad = 0.0
        for row in grad_rows:
            if row["feature"] == -1:
                bias_grad = row["g"] or 0.0
            else:
                g[row["feature"]] = row["g"]
        w -= learning_rate * (g / n_docs + l2 * w)
        b -= learning_rate * (bias_grad / n_docs)
    feats.unpersist()
    return TextClassifier(weights=w, bias=float(b), dim=dim, bigrams=bigrams)


def apply_text_classifier(
    df: DataFrame,
    model: TextClassifier,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "quality_score",
) -> DataFrame:
    """Score every document: ``sigmoid(bias + sum of feature
    weights)``.  NULL-text rows keep their row with a NULL score;
    empty-but-present text scores ``sigmoid(bias)`` (the model's
    prior).  One broadcast join + one per-doc aggregation."""
    spark = df.sparkSession
    wf = model.nonzero_frame(spark)
    base = df.select(
        F.col(id_col).alias("__id"),
        hashed_text_features(text_col, dim=model.dim, bigrams=model.bigrams)
        .alias("__f"),
    )
    sums = (
        base.where(F.col("__f").isNotNull())
        .select("__id", F.explode_outer("__f").alias("feature"))
        .join(F.broadcast(wf), "feature", "left")
        .groupBy("__id")
        .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__s"))
    )
    out = df.join(sums, F.col(id_col) == sums["__id"], "left").drop("__id")
    score = F.when(
        F.col(text_col).isNotNull(),
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.coalesce(F.col("__s"), F.lit(0.0)) + F.lit(model.bias)))),
    )
    return out.withColumn(out_col, score).drop("__s")


def save_text_classifier(model: TextClassifier, path: str) -> None:
    """Persist the model (npz: weights + scalars) for reuse across
    sessions — token-budget decisions are only comparable under a
    FROZEN scorer."""
    import numpy as np

    np.savez_compressed(
        path,
        weights=model.weights,
        bias=np.float64(model.bias),
        dim=np.int64(model.dim),
        bigrams=np.int64(1 if model.bigrams else 0),
    )


def load_text_classifier(path: str) -> TextClassifier:
    import numpy as np

    z = np.load(path if path.endswith(".npz") else path + ".npz")
    return TextClassifier(
        weights=z["weights"],
        bias=float(z["bias"]),
        dim=int(z["dim"]),
        bigrams=bool(int(z["bigrams"])),
    )
