"""Data-quality rules (reference: awswrangler/data_quality/_create.py:40
``create_ruleset``, :283 ``evaluate_ruleset`` — Glue Data Quality DQDL).

The reference ships DQDL strings to the Glue service.  Spark-first, the
rules compile to ONE aggregation pass over the table (every rule's
aggregate computed in the same job — no per-rule scans), and evaluation
returns a result frame shaped like the reference's
``evaluate_ruleset`` output (rule, parameter, expression, status).

Supported rule types (the DQDL core): RowCount, ColumnCount, Completeness,
Uniqueness, ColumnValues (min/max between), Mean, Sum, StandardDeviation,
DistinctValuesCount, ColumnExists, IsComplete, IsUnique, CustomSql.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument


@dataclass
class Rule:
    rule_type: str
    parameter: str | None
    expression: str  # e.g. "> 100", "between 1 and 9", ">= 0.95"


def _parse_expression(expr: str):
    """Compile a DQDL threshold expression to a predicate over a scalar."""
    s = expr.strip()
    m = re.match(r"^between\s+(-?[\d.]+)\s+and\s+(-?[\d.]+)$", s, re.IGNORECASE)
    if m:
        lo, hi = float(m.group(1)), float(m.group(2))
        return lambda v: v is not None and lo <= v <= hi
    m = re.match(r"^(>=|<=|>|<|=|==|!=)\s*(-?[\d.]+)$", s)
    if m:
        op, val = m.group(1), float(m.group(2))
        return {
            ">": lambda v: v is not None and v > val,
            ">=": lambda v: v is not None and v >= val,
            "<": lambda v: v is not None and v < val,
            "<=": lambda v: v is not None and v <= val,
            "=": lambda v: v is not None and v == val,
            "==": lambda v: v is not None and v == val,
            "!=": lambda v: v is not None and v != val,
        }[op]
    raise InvalidArgument(f"unsupported DQDL expression: {expr!r}")


def create_ruleset(rules: list[dict[str, Any]] | list[Rule]) -> list[Rule]:
    """Normalize a ruleset (reference: data_quality/_create.py:40 — the
    df_rules frame with rule_type/parameter/expression columns)."""
    out: list[Rule] = []
    for r in rules:
        if isinstance(r, Rule):
            out.append(r)
        else:
            out.append(
                Rule(
                    rule_type=r["rule_type"],
                    parameter=r.get("parameter"),
                    expression=r.get("expression", ""),
                )
            )
    return out


_NEEDS_PARAM = {
    "Completeness", "Uniqueness", "ColumnValues", "Mean", "Sum",
    "StandardDeviation", "DistinctValuesCount", "ColumnExists",
    "IsComplete", "IsUnique", "ColumnLength", "IsPrimaryKey",
    "Correlation", "Entropy", "UniqueValueRatio", "ColumnDataType",
}


def evaluate_ruleset(df: DataFrame, rules: list[dict[str, Any]] | list[Rule]) -> DataFrame:
    """Evaluate all rules in ONE aggregation job
    (reference: data_quality/_create.py:283 ``evaluate_ruleset``).

    Returns a DataFrame (rule_type, parameter, expression, value, passed).
    """
    ruleset = create_ruleset(rules)
    spark = df.sparkSession
    n_cols = len(df.columns)

    aggs: list = []
    slots: list[tuple[int | None, Rule]] = []  # agg index (None = no agg needed)
    for rule in ruleset:
        t, p = rule.rule_type, rule.parameter
        if t in _NEEDS_PARAM and not p:
            raise InvalidArgument(f"{t} requires a parameter (column)")
        if t in ("ColumnExists",):
            slots.append((None, rule))
            continue
        if t == "RowCount":
            aggs.append(F.count(F.lit(1)).cast("double"))
        elif t == "ColumnCount":
            slots.append((None, rule))
            continue
        elif t in ("Completeness", "IsComplete"):
            aggs.append(
                (F.count(F.col(p)) / F.greatest(F.count(F.lit(1)), F.lit(1))).cast("double")
            )
        elif t in ("Uniqueness", "IsUnique"):
            aggs.append(
                (F.count_distinct(F.col(p)) / F.greatest(F.count(F.col(p)), F.lit(1))).cast(
                    "double"
                )
            )
        elif t == "ColumnValues":
            # fraction of non-null values satisfying the expression
            pred = rule.expression.strip()
            m = re.match(r"^between\s+(-?[\d.]+)\s+and\s+(-?[\d.]+)$", pred, re.IGNORECASE)
            if m:
                cond = F.col(p).between(float(m.group(1)), float(m.group(2)))
            else:
                cond = F.expr(f"`{p}` {pred}")
            aggs.append(
                (
                    F.sum(F.when(cond, 1).otherwise(0))
                    / F.greatest(F.count(F.col(p)), F.lit(1))
                ).cast("double")
            )
        elif t == "ColumnLength":
            # fraction of non-null values whose STRING LENGTH satisfies
            # the expression; the rule passes only when ALL do
            pred = rule.expression.strip()
            lc = F.length(F.col(p).cast("string"))
            m = re.match(r"^between\s+(-?[\d.]+)\s+and\s+(-?[\d.]+)$", pred, re.IGNORECASE)
            if m:
                cond = lc.between(float(m.group(1)), float(m.group(2)))
            else:
                cond = F.expr(f"length(cast(`{p}` as string)) {pred}")
            aggs.append(
                (
                    F.sum(F.when(cond, 1).otherwise(0))
                    / F.greatest(F.count(F.col(p)), F.lit(1))
                ).cast("double")
            )
        elif t == "IsPrimaryKey":
            # distinct non-null / all rows: one NULL or one duplicate
            # drops the ratio below 1
            aggs.append(
                (F.count_distinct(F.col(p)) / F.greatest(F.count(F.lit(1)), F.lit(1))).cast(
                    "double"
                )
            )
        elif t == "Correlation":
            pa, pb = (p or "").split()
            aggs.append(F.corr(F.col(pa), F.col(pb)).cast("double"))
        elif t == "Mean":
            aggs.append(F.avg(F.col(p)).cast("double"))
        elif t == "Sum":
            aggs.append(F.sum(F.col(p)).cast("double"))
        elif t == "StandardDeviation":
            aggs.append(F.stddev_pop(F.col(p)).cast("double"))
        elif t == "DistinctValuesCount":
            aggs.append(F.count_distinct(F.col(p)).cast("double"))
        elif t == "CustomSql":
            # scalar subquery evaluated separately (still one job each)
            slots.append((None, rule))
            continue
        elif t in ("Entropy", "UniqueValueRatio"):
            # value-DISTRIBUTION rules need a per-value count table (one
            # extra keyed aggregation each — can't ride the single pass)
            slots.append((None, rule))
            continue
        elif t == "ColumnDataType":
            slots.append((None, rule))
            continue
        else:
            raise InvalidArgument(f"unsupported rule type: {rule.rule_type!r}")
        slots.append((len(aggs) - 1, rule))

    agg_row = df.agg(*[a.alias(f"v{i}") for i, a in enumerate(aggs)]).first() if aggs else None

    results: list[tuple] = []
    for idx, rule in slots:
        t, p = rule.rule_type, rule.parameter
        if t == "ColumnExists":
            value = 1.0 if p in df.columns else 0.0
            passed = value == 1.0
        elif t == "ColumnCount":
            value = float(n_cols)
            passed = _parse_expression(rule.expression)(value)
        elif t == "CustomSql":
            value = float(spark.sql(rule.expression).first()[0])
            passed = (
                _parse_expression(rule.parameter)(value) if rule.parameter else value > 0
            )
        elif t in ("IsComplete", "IsUnique", "IsPrimaryKey"):
            value = float(agg_row[f"v{idx}"])
            passed = value == 1.0
        elif t in ("ColumnValues", "ColumnLength"):
            # DQDL semantics: the rule passes iff ALL (non-null) values
            # satisfy the expression — the expression constrains the
            # VALUES, so applying it to the fraction would let a 50%-in-
            # range column "pass" a between-0-and-100 rule
            value = float(agg_row[f"v{idx}"])
            passed = value == 1.0
        elif t == "ColumnDataType":
            actual = dict(
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ).get(p)
            want = rule.expression.strip().lstrip("=").strip().strip("\"'").lower()
            value = 1.0 if (actual or "").lower() == want else 0.0
            passed = value == 1.0
        elif t == "Entropy":
            counts = (
                df.where(F.col(p).isNotNull()).groupBy(p).agg(F.count(F.lit(1)).alias("__c"))
            )
            row = counts.agg(
                F.sum("__c").alias("__n"),
                F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clogc"),
            ).first()
            import math as _math

            value = (
                float(_math.log(row["__n"]) - row["__clogc"] / row["__n"])
                if row and row["__n"] else None
            )
            passed = _parse_expression(rule.expression)(value)
        elif t == "UniqueValueRatio":
            counts = (
                df.where(F.col(p).isNotNull()).groupBy(p).agg(F.count(F.lit(1)).alias("__c"))
            )
            row = counts.agg(
                (
                    F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
                    / F.greatest(F.count(F.lit(1)), F.lit(1))
                ).cast("double").alias("__r")
            ).first()
            value = float(row["__r"]) if row and row["__r"] is not None else None
            passed = _parse_expression(rule.expression)(value)
        else:
            value = agg_row[f"v{idx}"]
            value = float(value) if value is not None else None
            passed = _parse_expression(rule.expression)(value)
        results.append(
            (t, p, rule.expression, value, bool(passed))
        )
    return local_frame(
        spark,
        results,
        "rule_type string, parameter string, expression string, value double, passed boolean",
    )


def detect_outliers(
    df: DataFrame,
    value_col: str,
    *,
    by: list[str] | None = None,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Rows whose ``value_col`` deviates more than ``z_threshold`` sample
    standard deviations from its (per-``by``-group) mean.

    One aggregation + one broadcast-joined stats row per group — the
    stats side is |groups| rows, so the big table streams through a
    broadcast hash join; no second full shuffle.  Groups with stddev
    0/NULL (constant or single-row) yield no outliers.
    """
    by = list(by or [])
    stats = df.groupBy(*by).agg(
        F.avg(value_col).alias("__mean"),
        F.stddev_samp(value_col).alias("__std"),
    )
    joined = df.join(F.broadcast(stats), by) if by else df.crossJoin(F.broadcast(stats))
    return (
        joined.where(
            F.col("__std").isNotNull()
            & (F.col("__std") > 0)
            & (F.abs(F.col(value_col) - F.col("__mean")) > z_threshold * F.col("__std"))
        )
        .withColumn("z_score", (F.col(value_col) - F.col("__mean")) / F.col("__std"))
        .drop("__mean", "__std")
    )


def detect_outliers_mad(
    df: DataFrame,
    value_col: str,
    *,
    by: list[str] | None = None,
    threshold: float = 3.0,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust (median/MAD) outlier detection: rows where
    ``|x - median| > threshold * consistency * MAD``, with MAD the median
    absolute deviation per ``by``-group.  Unlike z-scores, the cutoff
    itself is immune to the outliers it hunts (breakdown point 50%).

    Two aggregation passes (exact medians), each producing |groups| rows
    broadcast back against the big table — the data is never sorted
    globally and never shuffled beyond the per-group aggregates.  Groups
    with MAD 0/NULL yield no outliers.  ``robust_z`` is the scaled score.
    """
    by = list(by or [])
    # persist the per-group median table (bounded at |groups| rows — it
    # broadcasts anyway): j1 is referenced by BOTH the MAD aggregation
    # and the final filter, so an unpersisted med re-ran its full
    # scan+aggregation once per reference (4 scans of the input; the
    # 3 remaining passes are the algorithm's floor — median pass,
    # deviation-median pass, filter pass).  Lifetime is caller-owned.
    med = df.groupBy(*by).agg(F.median(value_col).alias("__med")).persist()
    j1 = df.join(F.broadcast(med), by) if by else df.crossJoin(F.broadcast(med))
    mad = j1.groupBy(*by).agg(
        F.median(F.abs(F.col(value_col) - F.col("__med"))).alias("__mad")
    )
    j2 = j1.join(F.broadcast(mad), by) if by else j1.crossJoin(F.broadcast(mad))
    scale = F.lit(consistency) * F.col("__mad")
    return (
        j2.where(
            F.col("__mad").isNotNull()
            & (F.col("__mad") > 0)
            & (F.abs(F.col(value_col) - F.col("__med")) > threshold * scale)
        )
        .withColumn("robust_z", (F.col(value_col) - F.col("__med")) / scale)
        .drop("__med", "__mad")
    )


# ---------------------------------------------------------------------------
# ruleset registry + recommendations
# ---------------------------------------------------------------------------

_RULESETS: dict[str, list[Rule]] = {}


def store_ruleset(name: str, rules: list[dict[str, Any]] | list[Rule]) -> list[Rule]:
    """Register a named ruleset (the Glue-side half of
    data_quality/_create.py:40 ``create_ruleset`` — the reference stores
    the DQDL under a name; evaluation is a separate call)."""
    parsed = create_ruleset(rules)
    _RULESETS[name] = parsed
    return parsed


def get_ruleset(name: str) -> list[Rule]:
    """reference: data_quality/_get.py:13 ``get_ruleset``."""
    if name not in _RULESETS:
        raise InvalidArgument(f"ruleset {name!r} is not stored")
    return list(_RULESETS[name])


def update_ruleset(
    name: str,
    rules: list[dict[str, Any]] | list[Rule],
    *,
    mode: str = "overwrite",
) -> list[Rule]:
    """reference: data_quality/_create.py:124 ``update_ruleset`` —
    ``mode='overwrite'`` replaces, ``'upsert'`` appends/replaces by
    (rule_type, parameter)."""
    parsed = create_ruleset(rules)
    if mode == "overwrite":
        _RULESETS[name] = parsed
    elif mode == "upsert":
        if name not in _RULESETS:
            raise InvalidArgument(f"ruleset {name!r} is not stored")
        merged = {(r.rule_type, r.parameter): r for r in _RULESETS[name]}
        for r in parsed:
            merged[(r.rule_type, r.parameter)] = r
        _RULESETS[name] = list(merged.values())
    else:
        raise InvalidArgument("mode must be 'overwrite' or 'upsert'")
    return list(_RULESETS[name])


def create_recommendation_ruleset(
    df: DataFrame,
    *,
    completeness_threshold: float = 0.95,
    name: str | None = None,
) -> list[Rule]:
    """reference: data_quality/_create.py:193
    ``create_recommendation_ruleset`` — profile the frame and propose
    rules, like Glue's recommendation run: a RowCount floor, IsComplete
    for near-complete columns, IsUnique for key-like columns, and
    ColumnValues ranges for numerics.  ONE aggregation job computes every
    profile statistic (no per-column scans)."""
    import math

    n = df.count()
    if n == 0:
        rules = [Rule("RowCount", None, "> 0")]
        if name:
            _RULESETS[name] = rules
        return rules

    aggs = [F.count(F.lit(1)).alias("__n")]
    numeric = set()
    for f in df.schema.fields:
        c = f.name
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
        aggs.append(F.approx_count_distinct(F.col(c)).alias(f"{c}__d"))
        if f.dataType.typeName() in (
            "byte", "short", "integer", "long", "float", "double", "decimal"
        ):
            numeric.add(c)
            aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
            aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
    row = df.agg(*aggs).collect()[0].asDict()

    rules: list[Rule] = [Rule("RowCount", None, f">= {max(1, int(n * 0.5))}")]
    for f in df.schema.fields:
        c = f.name
        nn, d = row[f"{c}__nn"], row[f"{c}__d"]
        if nn == n:
            rules.append(Rule("IsComplete", c, ">= 1.0"))
        elif nn / n >= completeness_threshold:
            rules.append(
                Rule("Completeness", c, f">= {math.floor(nn / n * 100) / 100}")
            )
        # approx_count_distinct ~2% error: treat >= 98% distinct as key-like
        if nn == n and d >= 0.98 * n:
            rules.append(Rule("IsUnique", c, ">= 1.0"))
        if c in numeric and row[f"{c}__min"] is not None:
            rules.append(
                Rule(
                    "ColumnValues",
                    c,
                    f"between {row[f'{c}__min']} and {row[f'{c}__max']}",
                )
            )
    if name:
        _RULESETS[name] = rules
    return rules


def profile_table(
    df: DataFrame,
    *,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-column data profile — the ``describe()`` of the engine, one
    row per column: ``column, dtype, n_rows, n_nonnull, completeness,
    n_distinct, min_value, max_value, avg_value, p50_value`` (numeric
    stats are NULL for non-numeric columns).

    ONE aggregation job computes every statistic for every column (the
    same single-pass shape as ``create_recommendation_ruleset``); the
    result is reshaped driver-side from one row of width O(#columns) —
    bounded by the schema, never the data.  ``exact_distinct=False``
    (default) uses ``approx_count_distinct`` (HLL, ~2% error, one pass);
    ``True`` uses exact ``countDistinct`` — portable/audit mode, but
    each distinct count is its own expand at scale.
    """
    # audit mode multiplies every row ~#distinct-aggs times through an
    # Expand before the partial aggregation — compute-dense map work that
    # must not serialize on a single input split (no-op at real scale,
    # where scans carry more partitions than cores; guide §2.5)
    if exact_distinct:
        from aws_sdk_pandas_spark.operators.dedup import _ensure_parallelism

        df = _ensure_parallelism(df)
    cols = columns or df.columns
    types = dict(df.dtypes)
    # exact names, not prefixes: 'interval day to second'.startswith('int')
    # must NOT classify an interval column as numeric
    numeric_prefixes = ("tinyint", "smallint", "bigint", "float", "double", "decimal")
    numeric = {
        c for c in cols if types[c] == "int" or types[c].startswith(numeric_prefixes)
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
        aggs.append(
            (F.countDistinct(F.col(c)) if exact_distinct else F.approx_count_distinct(F.col(c))).alias(f"{c}__d")
        )
        if c in numeric:
            aggs += [
                F.min(F.col(c)).cast("double").alias(f"{c}__min"),
                F.max(F.col(c)).cast("double").alias(f"{c}__max"),
                F.avg(F.col(c)).cast("double").alias(f"{c}__avg"),
                F.expr(f"percentile(`{c}`, 0.5)").cast("double").alias(f"{c}__p50"),
            ]
    row = df.agg(*aggs).first().asDict()
    n = row["__n"]
    out_rows = []
    for c in cols:
        out_rows.append(
            (
                c,
                types[c],
                n,
                row[f"{c}__nn"],
                round(row[f"{c}__nn"] / n, 6) if n else None,
                row[f"{c}__d"],
                row.get(f"{c}__min"),
                row.get(f"{c}__max"),
                round(row[f"{c}__avg"], 6) if row.get(f"{c}__avg") is not None else None,
                row.get(f"{c}__p50"),
            )
        )
    return local_frame(
        df.sparkSession,
        out_rows,
        "column string, dtype string, n_rows bigint, n_nonnull bigint, "
        "completeness double, n_distinct bigint, min_value double, "
        "max_value double, avg_value double, p50_value double",
    )


def suggest_keys(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    exact: bool = True,
) -> DataFrame:
    """Candidate-key discovery (the Glue-crawler-style profiling step
    the reference delegates to the service): per column ``n_rows,
    n_distinct, n_nulls, uniqueness`` and ``is_candidate_key``
    (distinct == rows and no NULLs).  ``exact=False`` swaps the
    distinct count for HLL when a 2% error is acceptable at 100 TB.

    One aggregation job for every column together (count_distinct /
    approx_count_distinct are map-side-combinable); driver reshape
    bounded by schema width — same shape as ``profile_table``.
    """
    cols = cols or [c for c, t in df.dtypes if not t.startswith(("array", "map", "struct", "binary"))]
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        d = F.countDistinct(F.col(c)) if exact else F.approx_count_distinct(c)
        aggs.append(d.alias(f"{c}__d"))
        aggs.append(F.count(c).alias(f"{c}__nn"))
    row = df.agg(*aggs).first()
    n = row["__n"]
    spark = df.sparkSession
    out = [
        (
            c,
            n,
            row[f"{c}__d"],
            n - row[f"{c}__nn"],
            round(row[f"{c}__d"] / n, 6) if n else 0.0,
            bool(n and row[f"{c}__d"] == n and row[f"{c}__nn"] == n),
        )
        for c in cols
    ]
    return local_frame(
        spark,
        out,
        "column string, n_rows bigint, n_distinct bigint, n_nulls bigint, "
        "uniqueness double, is_candidate_key boolean",
    )


def fk_containment(
    child: DataFrame,
    parent: DataFrame,
    *,
    child_col: str,
    parent_col: str,
) -> DataFrame:
    """Foreign-key containment check: what fraction of the child's
    DISTINCT non-null keys exist in the parent (1.0 = referential
    integrity holds; the discovery signal for undocumented FK edges).
    Returns one row: ``n_child_keys, n_matched, containment,
    n_orphans``.

    Both sides reduce to distinct-key tables BEFORE the join (the join
    input is bounded by key cardinality, not table size); the match is
    a semi-join — at 100 TB this is two distinct shuffles and one
    keyed join of the reduced tables, never a row-level comparison.
    """
    ck = child.select(F.col(child_col).alias("k")).where(F.col(child_col).isNotNull()).distinct()
    pk = parent.select(F.col(parent_col).alias("k")).where(F.col(parent_col).isNotNull()).distinct()
    matched = ck.join(pk, "k", "left_semi")
    n_child = ck.count()
    n_match = matched.count()
    spark = child.sparkSession
    return local_frame(
        spark,
        [
            (
                n_child,
                n_match,
                round(n_match / n_child, 6) if n_child else 1.0,
                n_child - n_match,
            )
        ],
        "n_child_keys bigint, n_matched bigint, containment double, n_orphans bigint",
    )


def k_anonymity(
    df: DataFrame,
    *,
    quasi_cols: list[str],
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Re-identification risk summary: rows grouped into equivalence
    classes by the quasi-identifier combination; ONE row ``n_rows,
    n_classes, min_class_size, n_classes_below_k, pct_rows_below_k``.
    A dataset is k-anonymous iff ``min_class_size >= k`` — every
    record hides among at least k-1 identical-looking others.  The
    release gate to run BEFORE shipping a training corpus that carries
    demographic/geographic columns (complements `redact_pii`, which
    handles free text).

    Scale shape: raw rows reduce to class sizes in one
    map-side-combinable aggregation; the summary aggregates the
    class-cardinality-bounded result.  NULL quasi values form their
    own class (SQL GROUP BY semantics — NULL patterns are themselves
    identifying).
    """
    sizes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__sz"))
    below = F.when(F.col("__sz") < k, F.col("__sz")).otherwise(F.lit(0))
    return sizes.agg(
        F.sum("__sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__sz").alias("min_class_size"),
        F.sum((F.col("__sz") < k).cast("int")).alias("n_classes_below_k"),
        F.round(F.try_divide(F.sum(below), F.sum("__sz")), round_to).alias(
            "pct_rows_below_k"
        ),
    )


def risky_classes(
    df: DataFrame,
    *,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """The actionable detail behind `k_anonymity`: every equivalence
    class smaller than ``k`` with its quasi-identifier values and
    ``class_size`` (plus ``n_sensitive`` distinct sensitive values
    when ``sensitive_col`` is given — a 1 means attribute disclosure,
    not just linkage).  Output is bounded by the number of VIOLATING
    classes; generalize or suppress exactly these combinations."""
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).alias("n_sensitive"))
    return (
        df.groupBy(*quasi_cols)
        .agg(*aggs)
        .where(F.col("class_size") < k)
        .orderBy("class_size", *quasi_cols)
    )


def l_diversity(
    df: DataFrame,
    *,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Attribute-disclosure check: k-anonymity is not enough when an
    entire equivalence class shares ONE sensitive value (the attacker
    learns it without singling anyone out).  Distinct-l-diversity: ONE
    row ``n_classes, min_diversity, n_classes_below_l,
    pct_classes_below_l`` where diversity = distinct sensitive values
    per class.  Same two-stage shape as `k_anonymity`; NULL sensitive
    values don't count toward diversity (COUNT DISTINCT semantics).
    """
    per = df.groupBy(*quasi_cols).agg(
        F.countDistinct(sensitive_col).alias("__d")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__d").alias("min_diversity"),
        F.sum((F.col("__d") < l).cast("int")).alias("n_classes_below_l"),
        F.round(
            F.try_divide(F.sum((F.col("__d") < l).cast("int")), F.count(F.lit(1))),
            round_to,
        ).alias("pct_classes_below_l"),
    )


def near_zero_variance(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    freq_ratio_cutoff: float = 19.0,
    unique_pct_cutoff: float = 10.0,
    round_to: int = 4,
) -> DataFrame:
    """Near-zero-variance feature screen (the caret recipe): a column
    is degenerate when its most common value dwarfs the runner-up
    (freq_ratio = top/second frequency > cutoff) AND distinct values
    are rare (unique_pct = 100·distinct/rows < cutoff, caret defaults 19/10) — constants and
    almost-constants that waste model capacity, break CV folds, and
    usually signal a broken upstream join.  One row per column:
    ``column, n, n_distinct, top_value, freq_ratio, unique_pct, nzv``.

    Scale shape: per column, value frequencies are one map-side
    aggregation; top-2 frequencies via TakeOrderedAndProject on the
    value-cardinality-bounded table.  NULLs count as a value (an
    all-NULL column IS degenerate).  Driver assembles the
    schema-bounded report.
    """
    spark = df.sparkSession
    use = cols or df.columns
    n_rows = df.count()
    out = []
    for c in use:
        # ONE full scan per column: the frequency table is
        # value-cardinality-bounded and localCheckpointed, then top-2,
        # distinct count and null presence all read the cached table
        freq_tbl = (
            df.groupBy(F.col(c).cast("string").alias("__v"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .localCheckpoint(eager=True)
        )
        freqs = (
            freq_tbl.orderBy(F.col("__n").desc(), F.col("__v").asc_nulls_last())
            .limit(2)
            .collect()
        )
        n_vals = freq_tbl.count()
        top = freqs[0]["__n"] if freqs else 0
        second = freqs[1]["__n"] if len(freqs) > 1 else 0
        ratio = float(top) / second if second else float("inf")
        unique_pct = 100.0 * n_vals / n_rows if n_rows else 0.0
        out.append(
            (
                c,
                n_rows,
                n_vals,
                freqs[0]["__v"] if freqs else None,
                round(ratio, round_to) if second else None,
                round(unique_pct, round_to),
                bool(second == 0 or (ratio > freq_ratio_cutoff and unique_pct < unique_pct_cutoff)),
            )
        )
    return local_frame(
        spark,
        out,
        "column string, n bigint, n_distinct bigint, top_value string, "
        "freq_ratio double, unique_pct double, nzv boolean",
    )


def volume_anomalies(
    df: DataFrame,
    *,
    ts_col: str,
    by: list[str] | None = None,
    z: float = 3.5,
    round_to: int = 4,
) -> DataFrame:
    """Ingestion-volume monitoring: daily row counts per group with
    robust median/MAD outlier flags — the "did yesterday's load drop
    90% / double-ingest" screen that catches broken upstream feeds
    before any content-level check can.  Returns ``by..., day, n_rows,
    median_n, mad_n, robust_z, anomaly``; the median/MAD baseline is
    immune to the very outliers it hunts (a mean/σ baseline lets one
    double-ingest day mask a later drop).

    Raw rows reduce to the (group, day) count table in one pass;
    median/MAD are exact percentiles of that BOUNDED table per group,
    broadcast back.  Zero-MAD groups (perfectly constant volume) flag
    any deviation.
    """
    keys = list(by or [])
    d = F.col(ts_col).cast("date")
    # persist the REDUCED (group, day) count table: it is bounded by
    # |groups| x |days| at any data scale, and the day grid, the densify
    # join, the median and the MAD subtrees all re-derived it from the
    # raw scan — 8 scans of the input in one executed plan
    # (tools/scan_count_audit.py).  One scan builds it; everything after
    # operates on bounded rows (guide §5: cache the small proxy, not the
    # payload).  Lifetime is caller-owned.
    observed = (
        df.where(d.isNotNull())
        .groupBy(*keys, d.alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .persist()
    )
    # densify: a TOTAL outage day produces no count row at all — the
    # worst anomaly this monitor exists for — so each group gets its
    # full day grid and missing days read n_rows = 0
    span = observed.groupBy(*keys).agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    grid = span.select(
        *keys, F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day")
    )
    counts = (
        grid.join(observed, keys + ["day"], "left")
        .withColumn("n_rows", F.coalesce(F.col("n_rows"), F.lit(0)))
        # read by the median agg, the MAD agg and the final projection
        .persist()
    )
    stats = counts.groupBy(*keys).agg(
        F.percentile(F.col("n_rows"), F.lit(0.5)).alias("__med")
    )
    j = (
        counts.join(F.broadcast(stats), keys)
        if keys
        else counts.crossJoin(F.broadcast(stats))
    )
    j = j.withColumn("__absdev", F.abs(F.col("n_rows") - F.col("__med")))
    mads = j.groupBy(*keys).agg(
        F.percentile(F.col("__absdev"), F.lit(0.5)).alias("__mad")
    )
    j2 = (
        j.join(F.broadcast(mads), keys)
        if keys
        else j.crossJoin(F.broadcast(mads))
    )
    # 0.6745: the MAD->sigma consistency constant for the normal
    rz = F.lit(0.6745) * (F.col("n_rows") - F.col("__med")) / F.col("__mad")
    rz = F.when(F.col("__mad") > 0, rz)
    anomaly = F.when(
        F.col("__mad") > 0, F.abs(rz) > F.lit(float(z))
    ).otherwise(F.col("n_rows") != F.col("__med"))
    return j2.select(
        *keys,
        "day",
        "n_rows",
        F.round("__med", round_to).alias("median_n"),
        F.round("__mad", round_to).alias("mad_n"),
        F.round(rz, round_to).alias("robust_z"),
        anomaly.alias("anomaly"),
    ).orderBy(*keys, "day")


def join_health(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    round_to: int = 6,
) -> DataFrame:
    """Pre-flight diagnostic for a join — the "why did my join explode
    / lose rows" report, computed WITHOUT running the join: ONE row
    ``n_left, n_right, n_keys_left, n_keys_right, n_keys_common,
    match_rate_left, match_rate_right, max_mult_left, max_mult_right,
    est_output_rows``.  ``est_output_rows`` is EXACT for an inner
    equi-join (Σ over common keys of count_l·count_r) — read it before
    committing a 100 TB shuffle; a max multiplicity in the thousands
    on both sides is the many-to-many explosion, a low match rate is
    the silent row loss.

    Both sides reduce to distinct-key count tables FIRST, so every
    stage after the two scans is bounded by key cardinality; the key
    tables join on the key.  NULL keys never match in SQL joins and
    are excluded from both key tables (their rows still count in
    n_left/n_right — the match rates expose them).
    """
    def keyed(df: DataFrame) -> DataFrame:
        # ONE raw scan per side: NULL-keyed rows ride through the same
        # aggregation as a marker group (key cols nulled, __nk=true), so
        # the total row count is a sum over the KEY-BOUNDED table and the
        # raw lineage is never recomputed; localCheckpoint pins the
        # table for its two consumers (total + join)
        anynull = F.lit(False)
        for c in on:
            anynull = anynull | F.col(c).isNull()
        return (
            df.groupBy(
                *[F.when(~anynull, F.col(c)).alias(c) for c in on],
                anynull.alias("__nk"),
            )
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint(eager=True)
        )

    lkt = keyed(left)
    rkt = keyed(right)
    n_left = lkt.agg(F.sum("__c")).collect()[0][0] or 0
    n_right = rkt.agg(F.sum("__c")).collect()[0][0] or 0
    lk = lkt.where(~F.col("__nk")).drop("__nk")
    rk = rkt.where(~F.col("__nk")).drop("__nk")
    j = lk.withColumnRenamed("__c", "__cl").join(
        rk.withColumnRenamed("__c", "__cr"), on, "full"
    )
    agg = j.agg(
        F.count(F.when(F.col("__cl").isNotNull(), 1)).alias("n_keys_left"),
        F.count(F.when(F.col("__cr").isNotNull(), 1)).alias("n_keys_right"),
        F.count(
            F.when(F.col("__cl").isNotNull() & F.col("__cr").isNotNull(), 1)
        ).alias("n_keys_common"),
        F.sum(
            F.when(F.col("__cr").isNotNull(), F.col("__cl")).otherwise(0)
        ).alias("__matched_l"),
        F.sum(
            F.when(F.col("__cl").isNotNull(), F.col("__cr")).otherwise(0)
        ).alias("__matched_r"),
        F.max("__cl").alias("max_mult_left"),
        F.max("__cr").alias("max_mult_right"),
        # try_*: an estimate that overflows bigint IS the answer ("too
        # big to count" reads as NULL) — the explosion regime must not
        # crash the very pre-flight check that exists to catch it
        F.try_sum(
            F.try_multiply(
                F.coalesce(F.col("__cl"), F.lit(0)),
                F.coalesce(F.col("__cr"), F.lit(0)),
            )
        ).alias("est_output_rows"),
    )
    return agg.select(
        F.lit(n_left).alias("n_left"),
        F.lit(n_right).alias("n_right"),
        "n_keys_left",
        "n_keys_right",
        "n_keys_common",
        F.round(F.try_divide(F.col("__matched_l"), F.lit(n_left)), round_to).alias(
            "match_rate_left"
        ),
        F.round(F.try_divide(F.col("__matched_r"), F.lit(n_right)), round_to).alias(
            "match_rate_right"
        ),
        "max_mult_left",
        "max_mult_right",
        "est_output_rows",
    )


def sequence_gaps(
    df: DataFrame,
    *,
    seq_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Missing-sequence-number audit for CDC/offset-addressed feeds: a
    change log or Kafka-offset export claiming completeness should
    cover every integer in its range — each hole is lost data.
    Returns one row per gap: ``by..., gap_start, gap_end, n_missing``
    (inclusive bounds of the missing run).  Duplicated sequence
    numbers don't produce false gaps (distinct first).

    Scale shape: distinct (group, seq) first — the volume collapse —
    then ONE keyed lag window over the deduped table; only rows whose
    predecessor is more than 1 behind emit a gap row, so output is
    bounded by the number of HOLES, not the sequence length.
    """
    from pyspark.sql import Window

    keys = list(by or [])
    s = F.col(seq_col).cast("long")
    ok = s.isNotNull()
    # NULL group keys would collapse unrelated rows into one
    # pseudo-sequence and audit meaningless gaps — excluded
    for k in keys:
        ok = ok & F.col(k).isNotNull()
    base = df.where(ok).select(*keys, s.alias("__s")).distinct()
    w = Window.partitionBy(*keys).orderBy(F.col("__s").asc())
    lagged = base.withColumn("__prev", F.lag("__s").over(w))
    gaps = lagged.where(
        F.col("__prev").isNotNull() & (F.col("__s") - F.col("__prev") > 1)
    )
    return gaps.select(
        *keys,
        (F.col("__prev") + 1).alias("gap_start"),
        (F.col("__s") - 1).alias("gap_end"),
        (F.col("__s") - F.col("__prev") - 1).alias("n_missing"),
    ).orderBy(*keys, "gap_start")
