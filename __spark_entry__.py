"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names from SURVEY.md §2 (plus the
LLM-pipeline extensions) to callables ``(spark, sf_dir) -> DataFrame``;
``oracle_sql()`` provides the DuckDB-equivalent SQL for the hash-match
correctness gate.  Ops that are not SQL-expressible (minhash/simhash LSH,
MLlib ANN, mapInPandas multimodal plumbing) have no oracle entry and get
the weaker rows-only check.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# session -> the sf_dirs whose views it holds; weak, so a session that is
# dropped takes its entry with it and a new one registers again
_LOADED: weakref.WeakKeyDictionary[SparkSession, set[str]] = weakref.WeakKeyDictionary()


def _tmpdir(prefix: str) -> str:
    """A new temp dir, removed when the interpreter exits (errors
    ignored); every entry reads its results back before then."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _load(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the SQL front door.
    Memoized per (session, sf_dir): temp views live in their session, so
    a session registers them once; ``read_parquet`` caches the schemas,
    so a later session's registration runs no Spark job."""
    from aws_sdk_pandas_spark.sources import read_parquet

    loaded = _LOADED.setdefault(spark, set())
    if sf_dir in loaded:
        return
    for t in _TABLES:
        read_parquet(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    loaded.add(sf_dir)


def _sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from aws_sdk_pandas_spark.sql import read_sql_query

    _load(spark, sf_dir)
    return read_sql_query(spark, sql)


# ---------------------------------------------------------------------------
# TPC-H-style relational queries (the reference delegates these to
# Athena/Presto — here the engine is Spark SQL; SURVEY §2.4-§2.6)
# ---------------------------------------------------------------------------

_Q01 = """
SELECT l_returnflag,
       l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)      AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE)      AS sum_charge,
       CAST(FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE)      AS avg_qty,
       CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_price,
       CAST(FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE)      AS avg_disc,
       COUNT(*)                                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_Q03 = """
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE)                          AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

_Q05 = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC
"""

_Q06 = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""

_Q10 = """
SELECT c_custkey,
       c_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,6)), 2) AS DOUBLE) AS c_acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_EVENTS_DAILY = """
SELECT CAST(ts AS DATE)          AS day,
       event_type,
       COUNT(*)                  AS n_events,
       COUNT(DISTINCT user_id)   AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
       CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY day, event_type
"""

_EVENTS_TOP_USERS = """
SELECT event_type, user_id, total_value, rnk
FROM (
    SELECT event_type,
           user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
           ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY SUM(CAST(value AS DECIMAL(18,6))) DESC, user_id
           ) AS rnk
    FROM events
    GROUP BY event_type, user_id
) t
WHERE rnk <= 3
ORDER BY event_type, rnk
"""



_ROLLUP = """
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""

_CUBE = """
SELECT o_orderpriority,
       o_orderstatus,
       COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""

_SETOPS = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY c_custkey
"""

_ANTI_JOIN = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""

_SEMI_JOIN = """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
)
ORDER BY s_suppkey
"""

_WINDOW_RUNNING = """
SELECT o_custkey,
       o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_total,
       RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rnk,
       CAST(LAG(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderkey
       ) AS DOUBLE) AS prev_price
FROM orders
WHERE o_custkey <= 100
ORDER BY o_custkey, o_orderkey
"""

_Q17_STYLE = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS small_qty_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < 0.5 * (
    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
)
"""

_Q02_MAX_SUPP = """
SELECT s_name,
       CAST(ROUND(CAST(s_acctbal AS DECIMAL(18,6)), 2) AS DOUBLE) AS s_acctbal,
       n_name
FROM supplier s
JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (
    SELECT MAX(s2.s_acctbal) FROM supplier s2 WHERE s2.s_nationkey = s.s_nationkey
)
ORDER BY n_name, s_name
"""

_Q04 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_Q07 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(CAST(volume AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n2.n_name IN ('NATION_4', 'NATION_5')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

_Q08 = """
SELECT o_year,
       CAST(FLOOR(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN vol_dec
                                ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
            / CAST(SUM(vol_dec) AS DOUBLE) * 10000 + 0.5) AS BIGINT)
           / CAST(10000 AS DOUBLE) AS mkt_share
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS vol_dec,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""

_Q09 = """
SELECT nation, o_year,
       CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS amount
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part     ON p_partkey = l_partkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%e%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

_Q11 = """
SELECT l_suppkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM lineitem
GROUP BY l_suppkey
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) > (
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) * 0.001 FROM lineitem
)
ORDER BY total_value DESC, l_suppkey
"""

_Q12 = """
SELECT l_linestatus,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                  THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                  THEN 1 END) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c.c_custkey AS c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_Q14 = """
SELECT CAST(FLOOR(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN disc_price
                                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
            / CAST(SUM(disc_price) AS DOUBLE) * 10000 + 0.5) AS BIGINT)
           / CAST(10000 AS DOUBLE) AS promo_revenue_pct
FROM (
    SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS disc_price,
           p_type
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-12-01 00:00:00'
) t
"""

_Q15 = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

_Q16 = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) AS o_totalprice,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 120
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""

_Q19 = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 5 AND l_quantity <= 35)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 10 AND l_quantity <= 50)
"""

_Q20_STYLE = """
SELECT s_name, s_suppkey
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%a%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0.011 * (
        SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
        FROM lineitem l2 JOIN part p2 ON p2.p_partkey = l2.l_partkey
        WHERE p2.p_name LIKE '%a%'
          AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l2.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
)
ORDER BY s_name
"""

_Q22 = """
SELECT cntrycode,
       COUNT(*) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
FROM (
    SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
    )
    AND (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) <= 5
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""

_SCAN_PROJECTION = """
SELECT l_orderkey, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
ORDER BY l_orderkey, l_shipdate, l_quantity
"""


def _q_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate pushdown through the dataset reader
    (SURVEY 2.3): columns= reaches ReadSchema, the filter reaches
    PushedFilters in the parquet scan."""
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_shipdate", "l_quantity"],
    )
    return li.where(F.col("l_shipdate") >= "1998-06-01").orderBy(
        "l_orderkey", "l_shipdate", "l_quantity"
    )


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1) on /root/testdata/sf0.001."""
    return _sql(spark, "/root/testdata/sf0.001", _Q01)


def _q_doc_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.functions.text import token_count
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        docs.withColumn("tc", token_count("text"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # engine-stable average: exact integer sum, pure-IEEE double ops
            # (matches the DuckDB oracle bit-for-bit; ROUND(double) differs
            # between engines at digit-boundary ties)
            (
                F.floor(
                    (F.sum("n_chars").cast("double") / F.count(F.lit(1))) * 10000
                    + F.lit(0.5)
                ).cast("long")
                / 10000.0
            ).alias("avg_chars"),
            F.sum("tc").alias("total_tokens"),
        )
        .orderBy("lang")
    )


def _q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.functions.text import token_count
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.functions.text import document_fingerprint
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", document_fingerprint("text").alias("fingerprint")
    ).orderBy("doc_id")


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.functions.text import quality_score
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", quality_score("text").alias("quality")).orderBy("doc_id")


def _q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.functions.text import language_id
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", language_id("text").alias("lang_id")).orderBy("doc_id")


def _q_doc_ngram_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.dedup import ngram_jaccard_duplicates
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    # no orderBy: the correctness gate sorts rows itself; a global sort here
    # would add a range-partitioning sample pass to the hot path
    return ngram_jaccard_duplicates(docs, "doc_id", "text", n=3, threshold=0.2)


def _q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.similarity import knn_brute_force
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    return knn_brute_force(
        emb.where("vec_id <> 0"), q, k=10, id_col="vec_id", vector_col="embedding", metric="cosine"
    )


def _q_knn_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.similarity import knn_brute_force
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    return knn_brute_force(
        emb.where("vec_id <> 0"),
        q,
        k=10,
        id_col="vec_id",
        vector_col="embedding",
        metric="euclidean",
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.dedup import dedup_exact
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    deduped = dedup_exact(li.select("l_returnflag", "l_linestatus", "l_quantity"))
    return deduped.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_distinct_qty")
    ).orderBy("l_returnflag", "l_linestatus")


# rows-only checks (not SQL-expressible in the oracle)


def _q_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.dedup import minhash_duplicates
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return minhash_duplicates(
        docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.dedup import simhash_signatures
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return simhash_signatures(docs.select("doc_id", "text")).select("doc_id", "simhash").orderBy(
        "doc_id"
    )


def _q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.similarity import knn_lsh
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    return knn_lsh(
        emb.where("vec_id <> 0"), q, k=10, id_col="vec_id", vector_col="embedding", metric="cosine"
    )


def _q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (operators/dedup.minhash_match_against): the
    last 10% of documents arrive as a 'new batch' and match against the
    prebuilt index of the first 90% — corpus text is never re-shingled.
    Rows-only (MinHash banding is not SQL-expressible)."""
    from aws_sdk_pandas_spark.operators.dedup import (
        build_minhash_index,
        minhash_match_against,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    cut = docs.selectExpr("percentile(doc_id, 0.9) AS c").first()["c"]
    # the operator's contract is a MATERIALIZED index ("WRITE this as a
    # parquet dataset once") — match_against reads it twice (band keys +
    # shingle verification), so an in-memory lazy index would re-shingle
    # the 90% corpus twice; checkpoint stands in for the stored dataset
    index = build_minhash_index(docs.where(F.col("doc_id") < cut)).localCheckpoint()
    new_docs = docs.where(F.col("doc_id") >= cut)
    return minhash_match_against(index, new_docs, threshold=0.5)


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_sdk_pandas_spark.operators.multimodal import extract_features
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = extract_features(media, dim=8, fake=True)
    return feats.select("media_id", "n_bytes", F.round(F.element_at("feature", 1), 6).alias("f0")).orderBy(
        F.col("media_id").cast("long")
    )




def _q_vectors_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index lifecycle (SURVEY 2.10): create index, put vectors
    with metadata, top-k query with a Mongo-style metadata filter."""
    from aws_sdk_pandas_spark import vectors as V
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/asps_vec_idx_{sf_tag}"
    # ONE probe job serves both the dimension and the query vector (the
    # dimension of any row equals the dimension of row 0); previously two
    # separate full-scan-shaped jobs ran back to back
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    V.create_vector_index(spark, path, dimension=len(q))
    V.put_vectors_from_df(
        emb.select(
            F.col("vec_id").cast("string").alias("key"),
            F.col("embedding").alias("vector"),
            "label",
        ),
        path,
        mode="overwrite",
    )
    return V.query_vectors(
        spark,
        path,
        q,
        top_k=10,
        metadata_filter={"$and": [{"label": {"$gte": 1}}, {"label": {"$ne": 3}}]},
    )


def _q_logs_insights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CloudWatch Logs Insights mini-language over the events table
    (SURVEY 2.1 cloudwatch row): filter | stats ... by | sort."""
    from aws_sdk_pandas_spark import logs as L
    from aws_sdk_pandas_spark.sources import read_parquet

    events = read_parquet(spark, f"{sf_dir}/events.parquet")
    return L.run_query(
        events,
        "filter value > 100 and event_type like 'c'"
        " | stats count(*) as n, min(value) as min_v, max(value) as max_v by event_type"
        " | sort event_type",
    )




def _q_ddb_read_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynamoDB read_items semantics (SURVEY 2.1): key condition + filter
    expression + projection compiled onto the scan."""
    from aws_sdk_pandas_spark.connectors import dynamodb as D
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    return D.read_items(
        spark,
        cust,
        key_condition_expression="c_mktsegment = :seg",
        filter_expression="#bal > :lo AND attribute_exists(c_name)",
        expression_attribute_values={":seg": "BUILDING", ":lo": 5000},
        expression_attribute_names={"#bal": "c_acctbal"},
        columns=["c_custkey", "c_name", "c_acctbal"],
    ).orderBy("c_custkey")


def _q_opensearch_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenSearch query-DSL compiled to Column predicates (SURVEY 2.1)."""
    from aws_sdk_pandas_spark.connectors import opensearch as O
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return O.search(
        docs,
        search_body={
            "query": {
                "bool": {
                    "must": [{"range": {"n_chars": {"gte": 200, "lt": 900}}}],
                    "should": [{"term": {"lang": "en"}}, {"term": {"lang": "de"}}],
                }
            }
        },
        filter_path=["doc_id", "lang", "n_chars"],
    ).orderBy("doc_id")


def _q_select_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-Select-style SQL over objects (SURVEY 2.1 select_query):
    filter+projection pushed to the parquet scan."""
    from aws_sdk_pandas_spark.sources import select_query

    return select_query(
        spark,
        "SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice"
        " FROM s3object s WHERE s.o_orderpriority = '1-URGENT'"
        " ORDER BY s.o_orderkey",
        f"{sf_dir}/orders.parquet",
        "Parquet",
    )


def _q_timestream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestream long-format write (date-partitioned) + SQL read-back
    (SURVEY 2.1/2.2 timestream rows).  Rows-only: writes to /tmp."""
    from aws_sdk_pandas_spark.connectors import timestream as TS
    from aws_sdk_pandas_spark.sources import read_parquet

    events = read_parquet(spark, f"{sf_dir}/events.parquet")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/asps_ts_{sf_tag}"
    TS.write(
        events.select("ts", "user_id", "event_type", "value"),
        path,
        time_col="ts",
        dimensions_cols=["user_id", "event_type"],
        measure_cols=["value"],
        mode="overwrite",
    )
    tbl = spark.read.parquet(path)
    tbl.createOrReplaceTempView("asps_ts_metrics")
    return spark.sql(
        "SELECT event_type, COUNT(*) AS n FROM asps_ts_metrics"
        " GROUP BY event_type ORDER BY event_type"
    )




def _q_dq_ruleset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality ruleset evaluated in one aggregation pass
    (SURVEY 2.11 data_quality row; DQDL -> DataFrame assertions)."""
    from aws_sdk_pandas_spark import dq
    from aws_sdk_pandas_spark.sources import read_parquet

    events = read_parquet(spark, f"{sf_dir}/events.parquet")
    return dq.evaluate_ruleset(
        events,
        [
            {"rule_type": "RowCount", "expression": "> 0"},
            {"rule_type": "ColumnCount", "expression": "= 6"},
            {"rule_type": "Completeness", "parameter": "user_id", "expression": ">= 0.5"},
            {"rule_type": "Uniqueness", "parameter": "event_id", "expression": "= 1"},
            {"rule_type": "DistinctValuesCount", "parameter": "event_type", "expression": "= 5"},
        ],
    ).orderBy("rule_type")


def _q_avi_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI/RIFF video metadata under the hash gate
    (operators/multimodal.parse_avi_py via video_metadata): per-doc AVIs
    with fps/frame-count from doc_id, so duration follows the exact
    integer chain uspf = 1e6 // fps, duration = frames * uspf / 1e6 —
    the oracle recomputes it with the same floor division."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        make_test_media,
        video_metadata,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 200")
        .select("doc_id")
    )

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                payloads.append(
                    make_test_media(
                        "avi", 64 + d % 5, 48 + d % 3,
                        frames=[b"\xff\xd8"] * (10 + d % 20),
                        fps=5 + d % 10,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        video_metadata(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "video_brand",
            "video_timescale",
            F.round("video_duration_seconds", 6).alias("video_duration_seconds"),
            "video_width",
            "video_height",
        )
        .orderBy("doc_id")
    )


def _q_subtitles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRT cue extraction under the hash gate
    (operators/multimodal.parse_subtitles — pure JVM split/HOF/regexp):
    SRT documents synthesized from doc_id with analytic cue timings, so
    the oracle recomputes cue_idx/start_ms/end_ms/text in closed form;
    a timestamp-parse error of a single millisecond hash-mismatches."""
    from aws_sdk_pandas_spark.operators.multimodal import parse_subtitles
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .selectExpr(
            "CAST(doc_id AS STRING) AS media_id",
            """
            concat_ws('\n\n', transform(
                sequence(1, 1 + CAST(doc_id % 4 AS INT)), k -> concat(
                    CAST(k AS STRING), '\n',
                    '00:00:', lpad(CAST(((k - 1) * 2000 + doc_id % 997) DIV 1000
                                   AS STRING), 2, '0'),
                    ',', lpad(CAST(((k - 1) * 2000 + doc_id % 997) % 1000
                              AS STRING), 3, '0'),
                    ' --> ',
                    '00:00:', lpad(CAST(((k - 1) * 2000 + doc_id % 997 + 1500) DIV 1000
                                   AS STRING), 2, '0'),
                    ',', lpad(CAST(((k - 1) * 2000 + doc_id % 997 + 1500) % 1000
                              AS STRING), 3, '0'),
                    '\n', 'line ', CAST(doc_id AS STRING), '-', CAST(k AS STRING)
                ))) AS text
            """,
        )
    )
    return parse_subtitles(docs).orderBy(
        F.col("media_id").cast("bigint"), "cue_idx"
    )


def _q_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window exact quantile under the hash gate
    (operators/timeseries.rolling_quantile — ONE range-frame window):
    the rolling median of event values over the trailing hour per event
    type; the oracle is DuckDB's quantile_cont over the identical
    microsecond RANGE frame (both engines interpolate)."""
    from aws_sdk_pandas_spark.operators.timeseries import rolling_quantile
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        rolling_quantile(
            ev, ts_col="ts", value_col="value", q=0.5,
            by=["event_type"], window_seconds=3600, out_col="rq",
        )
        .select("event_id", "rq")
        .orderBy("event_id")
    )


def _q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding under the hash gate
    (operators/features.target_encode): per-category
    (sum + m*prior)/(n + m) with the global prior broadcast back — the
    oracle recomputes the same shrinkage in SQL."""
    from aws_sdk_pandas_spark.operators.features import target_encode
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").withColumn(
        "is_big", (F.col("o_totalprice") > 150000).cast("int")
    )
    return (
        target_encode(
            orders, cat_col="o_orderpriority", label_col="is_big",
            smoothing=20.0, out_col="te",
        )
        .select("o_orderkey", "te")
        .orderBy("o_orderkey")
    )


def _q_frequency_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency encoding under the hash gate
    (operators/features.frequency_encode): each category's row share,
    recomputed by the oracle as a windowless count/total join."""
    from aws_sdk_pandas_spark.operators.features import frequency_encode
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return (
        frequency_encode(orders, cat_col="o_orderpriority", out_col="fe")
        .select("o_orderkey", "fe")
        .orderBy("o_orderkey")
    )


def _q_curate_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-curation gauntlet under the hash gate
    (operators/multimodal.curate_media = sniff -> size gate -> dHash
    near-dup collapse -> metadata scrub): 30 groups of byte-identical
    BMPs (4 docs each) collapse at Hamming distance 0 to the group's
    minimum doc_id — exactly MIN(doc_id) GROUP BY doc_id%30 in the
    oracle; distinct groups use pseudorandom pixel patterns whose
    dHashes were verified non-colliding at distance 0."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import curate_media, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 120")
        .select("doc_id")
    )

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                g = int(d) % 30
                px = bytes(
                    ((g * 37 + r * 11 + c * 7) * 13) % 256
                    for r in range(16) for c in range(16) for _ in range(3)
                )
                payloads.append(make_test_media("bmp", 16, 16, pixels=px))
            # zero-padded ids: the dedup keeper is the MIN STRING id, and
            # padding makes string order equal numeric order
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(int).map("{:06d}".format),
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    kept = curate_media(
        media, image_dedup_distance=0, audio_dedup_distance=None,
        scrub_metadata=False,
    )
    return (
        kept.select(F.col("media_id").cast("bigint").alias("doc_id"))
        .orderBy("doc_id")
    )


def _q_media_pipeline_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-side INTEGRATION gate (the multimodal analog of
    training_pipeline_sft): curate_media survivorship drives the
    downstream (frame, caption) pair extraction —

      synthesized media (30 byte-identical BMP groups + planted junk
      payloads) -> curate_media (sniff gate drops junk, dHash distance-0
      collapse keeps each group's min id) -> frame_sample_plan over
      per-survivor durations -> parse_subtitles over SHORT-FORM WebVTT
      (MM:SS.mmm — the round-5 optional-hours fix is load-bearing here)
      -> align_cues_to_frames (bucketed interval join) -> per-doc pair
      accounting.

    The oracle replays survivorship as MIN(doc_id) per group over
    non-junk docs and the alignment as the plain containment join — a
    sniff gate miss, a dedup keeper flip, a dropped short-form cue, or
    a bucket-boundary bug all change the accounting and hash-mismatch."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        align_cues_to_frames,
        curate_media,
        frame_sample_plan,
        make_test_media,
        parse_subtitles,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 120")
        .select("doc_id")
    )

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 13 == 0:
                    payloads.append(b"\x00" * 40)  # junk: sniff drops it
                    continue
                g = d % 30
                px = bytes(
                    ((g * 37 + r * 11 + c * 7) * 13) % 256
                    for r in range(16) for c in range(16) for _ in range(3)
                )
                payloads.append(make_test_media("bmp", 16, 16, pixels=px))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(int).map("{:06d}".format),
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    kept = curate_media(
        media, image_dedup_distance=0, audio_dedup_distance=None,
        scrub_metadata=False,
    )
    surv = kept.select(F.col("media_id").cast("bigint").alias("doc_id"))

    frames = frame_sample_plan(
        surv.selectExpr(
            "CAST(doc_id AS STRING) AS media_id",
            "CAST(4000 + 2000 * CAST(doc_id % 3 AS INT) AS BIGINT) AS duration_ms",
        ),
        every_ms=1000,
    )
    cues = parse_subtitles(
        surv.selectExpr(
            "CAST(doc_id AS STRING) AS media_id",
            """
            concat('WEBVTT\n\n', concat_ws('\n\n', transform(
                sequence(1, 2 + CAST(doc_id % 2 AS INT)), k -> concat(
                    '00:', lpad(CAST((k - 1) * 1500 DIV 1000 AS STRING), 2, '0'),
                    '.', lpad(CAST((k - 1) * 1500 % 1000 AS STRING), 3, '0'),
                    ' --> ',
                    '00:', lpad(CAST(((k - 1) * 1500 + 1000) DIV 1000 AS STRING), 2, '0'),
                    '.', lpad(CAST(((k - 1) * 1500 + 1000) % 1000 AS STRING), 3, '0'),
                    '\n', 'c', CAST(doc_id AS STRING), '-', CAST(k AS STRING)
                )))) AS text
            """,
        )
    )
    pairs = align_cues_to_frames(frames, cues, bucket_width_ms=2000)
    return (
        pairs.groupBy(F.col("media_id").cast("bigint").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("sample_ts_ms").cast("bigint").alias("ts_sum"),
            F.sum("cue_idx").cast("bigint").alias("cue_sum"),
        )
        .orderBy("doc_id")
    )


def _q_audio_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 text-frame parsing under the hash gate
    (operators/multimodal.audio_tags): tag values are formulas of
    doc_id, so the oracle re-derives title/artist/year in closed form;
    a frame-size miscount (v2.3 plain vs v2.4 syncsafe) shifts every
    following frame and hash-mismatches."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import audio_tags, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 250")
        .select("doc_id")
    )

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                payloads.append(
                    make_test_media(
                        "mp3", mp3_frames=2,
                        id3_frames={
                            "TIT2": f"track-{d}",
                            "TPE1": f"artist-{d % 12}",
                            "TYER": str(1980 + d % 40),
                        },
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        audio_tags(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "tag_title", "tag_artist", "tag_year",
        )
        .orderBy("doc_id")
    )


def _q_image_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF privacy screen under the hash gate
    (operators/multimodal.image_exif — APP1/TIFF IFD walk): JPEGs carry
    spec-built EXIF with orientation = 1 + doc%8 and a GPS IFD iff
    doc%3 = 0, so the oracle derives both in closed form — the has_gps
    flag is the signal that routes payloads to strip_image_metadata."""
    import struct
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import image_exif, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .select("doc_id")
    )

    def _app1(orientation: int, gps: bool) -> bytes:
        n = 2 if gps else 1
        ifd = struct.pack("<H", n)
        ifd += struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<H", orientation) + b"\x00\x00"
        body = b""
        if gps:
            gps_off = 8 + 2 + 12 * n + 4
            ifd += struct.pack("<HHI", 0x8825, 4, 1) + struct.pack("<I", gps_off)
            body = struct.pack("<H", 0)
        ifd += b"\x00" * 4
        tiff = b"II" + struct.pack("<HI", 42, 8) + ifd + body
        payload = b"Exif\x00\x00" + tiff
        return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                base = make_test_media("jpeg", 16, 16)
                payloads.append(
                    base[0:2] + _app1(1 + d % 8, d % 3 == 0) + base[2:]
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        image_exif(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "exif_orientation",
            "exif_has_gps",
        )
        .orderBy("doc_id")
    )


def _q_cue_frame_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-caption alignment under the hash gate
    (operators/multimodal.align_cues_to_frames = frame_sample_plan x
    parse_subtitles through the bucketed interval_join): both sides are
    analytic in doc_id, so the oracle is the plain containment join —
    a bucketing bug (a boundary frame dropped at a bucket edge)
    hash-mismatches."""
    from aws_sdk_pandas_spark.operators.multimodal import (
        align_cues_to_frames,
        frame_sample_plan,
        parse_subtitles,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    base = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 250")
    cues = parse_subtitles(
        base.selectExpr(
            "CAST(doc_id AS STRING) AS media_id",
            """
            concat_ws('\n\n', transform(
                sequence(1, 1 + CAST(doc_id % 4 AS INT)), k -> concat(
                    CAST(k AS STRING), '\n',
                    '00:00:', lpad(CAST(((k - 1) * 2000 + doc_id % 997) DIV 1000
                                   AS STRING), 2, '0'),
                    ',', lpad(CAST(((k - 1) * 2000 + doc_id % 997) % 1000
                              AS STRING), 3, '0'),
                    ' --> ',
                    '00:00:', lpad(CAST(((k - 1) * 2000 + doc_id % 997 + 1500) DIV 1000
                                   AS STRING), 2, '0'),
                    ',', lpad(CAST(((k - 1) * 2000 + doc_id % 997 + 1500) % 1000
                              AS STRING), 3, '0'),
                    '\n', 'line ', CAST(doc_id AS STRING), '-', CAST(k AS STRING)
                ))) AS text
            """,
        )
    )
    frames = frame_sample_plan(
        base.selectExpr(
            "CAST(doc_id AS STRING) AS media_id",
            "CAST(10000 AS BIGINT) AS duration_ms",
        ),
        every_ms=1000,
    )
    return (
        align_cues_to_frames(frames, cues, bucket_width_ms=2000)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "sample_ts_ms", "cue_idx", "text",
        )
        .orderBy("doc_id", "sample_ts_ms", "cue_idx")
    )


def _q_dq_ruleset_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended DQDL rule types under the hash gate (dq.evaluate_ruleset
    round-4 additions): ColumnLength / IsPrimaryKey ride the single
    aggregation pass, Entropy / UniqueValueRatio each add one bounded
    value-count aggregation, Correlation is a co-moment in the main
    pass, ColumnDataType reads the schema — the oracle recomputes every
    value AND its pass verdict from the same definitions."""
    from aws_sdk_pandas_spark import dq
    from aws_sdk_pandas_spark.sources import read_parquet

    events = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        dq.evaluate_ruleset(
            events,
            [
                {"rule_type": "ColumnLength", "parameter": "event_type",
                 "expression": "between 1 and 30"},
                {"rule_type": "IsPrimaryKey", "parameter": "event_id"},
                {"rule_type": "Entropy", "parameter": "event_type",
                 "expression": "> 0.5"},
                {"rule_type": "UniqueValueRatio", "parameter": "user_id",
                 "expression": "between 0 and 1"},
                {"rule_type": "Correlation", "parameter": "user_id value",
                 "expression": "between -1 and 1"},
            ],
        )
        .withColumn("value", F.round("value", 6))
        .orderBy("rule_type")
    )


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH self-join (rows-only:
    MLlib LSH is not SQL-expressible)."""
    from aws_sdk_pandas_spark.operators.dedup import embedding_duplicates
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return embedding_duplicates(emb, threshold=0.6, num_hash_tables=6)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click joined to the user's latest prior purchase
    (union + one window shuffle, no non-equi join; operators/asof.py).
    Oracle: DuckDB native ASOF LEFT JOIN.

    Single-scan split (asof_join_split): the two-frame form planned TWO
    FileScans over events (clicks + purchases filters) — a doubled read
    of the largest table at scale (guide §6)."""
    from aws_sdk_pandas_spark.operators.asof import asof_join_split
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    j = asof_join_split(
        ev,
        on="ts",
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        right_cols=["user_id", "ts", "value"],
        by=["user_id"],
    )
    return j.select(
        "event_id",
        "ts",
        "user_id",
        F.col("ts_right").alias("prior_ts"),
        F.round(F.col("value_right").cast("decimal(18,6)"), 4)
        .cast("double")
        .alias("prior_value"),
    ).orderBy("event_id")


def _q_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type — Spark ``percentile``
    == DuckDB ``quantile_cont`` (both type-R7 linear interpolation)."""
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(
            *[
                F.round(F.expr(f"percentile(value, {q})"), 4).alias(f"p{int(q * 100)}")
                for q in (0.25, 0.5, 0.75)
            ]
        )
        .orderBy("event_type")
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via native ``session_window`` (same plan
    runs batch and streaming; streaming/__init__.py sessionize).
    Oracle: lag + cumulative-sum session ids in plain SQL."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.streaming import sessionize

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return sessionize(
        ev, time_col="ts", gap="30 minutes", group_cols=["user_id"]
    ).orderBy("user_id", "session_start")


def _q_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-level upsert (anti-join + union), the reference's
    DELETE USING + INSERT SELECT semantics (operators/merge.py).
    Updates flag every 97th order, inserts clones keyed +1e9."""
    from aws_sdk_pandas_spark.operators.merge import upsert_dataframe
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    updates = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    inserts = orders.where(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", (F.col("o_orderkey") + F.lit(1_000_000_000)).cast("bigint")
    )
    # persist the update/insert delta: upsert_dataframe reads its source
    # twice (anti-join build + inserted rows), so the unpersisted chain
    # scanned orders 5x in one executed plan (tools/scan_count_audit.py);
    # caching the (small) delta leaves 3 scans — the two delta filters
    # and the anti-join's target pass.  Lifetime is caller-owned.
    src = updates.unionByName(inserts).persist()
    merged = upsert_dataframe(orders, src, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice").cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    ).orderBy("o_orderkey")


def _q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot operator: daily event counts, one column per event type
    (groupBy().pivot() — map-side partial agg, one shuffle)."""
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .orderBy("day")
    )


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (get_json_object ≈ reference's opensearch
    json_path / read_json surface): sum of props.k per event type."""
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("k", F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count("k").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks inside the 30-minute window before each
    purchase, same user.  Bucketed equi-join rewrite (operators/
    rangejoin.py) — a raw BETWEEN join would plan as a nested loop.
    Oracle: the plain non-equi join."""
    from aws_sdk_pandas_spark.operators.rangejoin import interval_join
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    windows = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("lo"),
        F.col("ts").alias("hi"),
    )
    return (
        interval_join(
            clicks, windows, point_col="ts", start_col="lo", end_col="hi",
            by=["user_id"], bucket_width="30 minutes",
        )
        .select("user_id", "event_id", "p_id")
        .orderBy("user_id", "event_id", "p_id")
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> cluster labels
    (operators/graph.py min-label propagation; SURVEY P5 MinHashLSH +
    connected components).  Oracle: recursive-CTE transitive closure over
    the same SQL-expressible n-gram pair set."""
    from aws_sdk_pandas_spark.operators.dedup import ngram_jaccard_duplicates
    from aws_sdk_pandas_spark.operators.graph import dedup_clusters
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_duplicates(docs, "doc_id", "text", n=3, threshold=0.2)
    return dedup_clusters(pairs).orderBy("id")


def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (rows-only: KMeans centroids are not SQL-expressible):
    build the inverted-file index, probe the 4 nearest of 8 clusters,
    exact distances within (operators/similarity.py build_ivf_index/knn_ivf)."""
    from aws_sdk_pandas_spark.operators.similarity import build_ivf_index, knn_ivf
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    corpus = emb.where("vec_id <> 0")
    assigned, centroids = build_ivf_index(corpus, vector_col="embedding", n_clusters=8)
    return knn_ivf(
        assigned, centroids, q, k=10, id_col="vec_id", vector_col="embedding", n_probe=4
    )


def _q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation — native ``F.window`` with
    slide < duration; each event lands in two overlapping windows.
    Oracle: unnest the two computed window starts."""
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "n_events", "sum_value")
        .orderBy("wstart")
    )


def _q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type (dq.detect_outliers:
    one agg + broadcast stats join).  Oracle: window-function stats."""
    from aws_sdk_pandas_spark.dq import detect_outliers
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        detect_outliers(ev, "value", by=["event_type"], z_threshold=2.5)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("decimal(18,6)"), 4)
            .cast("double")
            .alias("value"),
            F.round("z_score", 4).alias("z_score"),
        )
        .orderBy("event_id")
    )


def _q_semantic_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline composition (rows-only): embed documents via
    the Arrow-batched embed_texts plumbing, then top-k nearest documents
    to doc 0 — the train-data retrieval pattern at query depth one."""
    from aws_sdk_pandas_spark.operators.similarity import knn_brute_force
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.vectors import embed_texts

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    embedded = embed_texts(docs, dim=32)
    q = embedded.where("doc_id = 0").select("embedding").first()[0]
    return knn_brute_force(
        embedded.where("doc_id <> 0"), q, k=10, id_col="doc_id", vector_col="embedding"
    )


def _q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact k-NN: top-3 neighbors for five query vectors in ONE
    corpus scan (operators/similarity.knn_batch).  Oracle: cross join +
    row_number in SQL."""
    from aws_sdk_pandas_spark.operators.similarity import knn_batch
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    corpus = emb.where("vec_id >= 5")
    return knn_batch(
        corpus, queries, k=3, id_col="vec_id", vector_col="embedding",
        query_id_col="query_id", query_vector_col="embedding",
    ).orderBy("query_id", "rank")


def _q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to hourly buckets + forward fill
    (operators/timeseries.resample_locf — the hypertable-rollup/gap-fill
    pattern).  Oracle: generate_series grid + IGNORE NULLS last_value."""
    from aws_sdk_pandas_spark.operators.timeseries import resample_locf
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet").where("user_id < 10")
    out = resample_locf(ev, time_col="ts", value_col="value", by=["user_id"], step="1 hour")
    return out.select(
        "user_id", "bucket", F.round("value", 4).alias("value")
    ).orderBy("user_id", "bucket")


def _q_cap_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: keep the 5 longest documents per language
    (operators/sampling.cap_per_group).  Oracle: two-key row_number."""
    from aws_sdk_pandas_spark.operators.sampling import cap_per_group
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    capped = cap_per_group(
        docs, ["lang"], 5, order_col=F.struct("n_chars", "doc_id").desc()
    )
    return capped.select("lang", "doc_id", "n_chars").orderBy("lang", "doc_id")


_RANK_IN_SEGMENT = """
SELECT c_mktsegment, o_orderkey, rn
FROM (
    SELECT c_mktsegment, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    JOIN customer ON o_custkey = c_custkey
) t
WHERE rn <= 3
ORDER BY c_mktsegment, rn
"""

# q21's shape (the waiting-supplier double-correlated EXISTS / NOT EXISTS)
# over the slim schema: l_shipdate stands in for the receipt/commit pair the
# driver's lineitem lacks — "the supplier whose shipment is the latest in a
# multi-supplier order of a finished order"
_Q21_STYLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""

_GROUPING_SETS = """
SELECT CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
       CAST(GROUPING(o_orderstatus) AS INT)   AS g_status,
       o_orderpriority,
       o_orderstatus,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus), ())
ORDER BY g_pri, g_status, o_orderpriority, o_orderstatus
"""

_STATS_SUMMARY = """
SELECT CAST(ROUND(CORR(l_quantity, l_extendedprice), 4) AS DOUBLE)        AS corr_qty_price,
       CAST(ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS DOUBLE)  AS covar_qty_price,
       CAST(ROUND(STDDEV_SAMP(l_discount), 6) AS DOUBLE)                  AS std_discount,
       CAST(ROUND(AVG(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE)   AS avg_qty,
       COUNT(*) AS n
FROM lineitem
"""

_HISTOGRAM_EVENTS = """
SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(ROUND(MIN(value), 2) AS DOUBLE) AS min_v,
       CAST(ROUND(MAX(value), 2) AS DOUBLE) AS max_v
FROM events
GROUP BY CAST(FLOOR(value / 25.0) AS BIGINT)
ORDER BY bucket
"""


def _q_cdc_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: newest order per customer
    (operators/merge.latest_snapshot; reference precombine semantics,
    redshift/_utils.py:186-199)."""
    from aws_sdk_pandas_spark.operators.merge import latest_snapshot
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return latest_snapshot(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    ).orderBy("o_custkey")


def _q_scd2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history of each customer's order priority over the order
    log (operators/scd.scd2_from_changes)."""
    from aws_sdk_pandas_spark.operators.scd import scd2_from_changes
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    hist = scd2_from_changes(
        orders,
        keys=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        track_cols=["o_orderpriority"],
    )
    return hist.orderBy("o_custkey", "valid_from")


def _q_doc_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word frequency top-k (explode + aggregate; the
    distributed word count every text pipeline starts from)."""
    from aws_sdk_pandas_spark.functions.text import tokens
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


def _q_doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: deterministic synthetic PII is appended
    per document (the synthetic corpus has none) and redacted with
    functions/text.redact_pii; the md5 of the redacted text is the
    hash-checkable witness."""
    from aws_sdk_pandas_spark.functions.text import redact_pii
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" or 555-123-4567 / (555) 987-6543 at 192.168.0.1"),
        F.lit(" card 4111 1111 1111 1111 ssn 123-45-6789"),
    )
    red = redact_pii(aug)
    return docs.select(
        "doc_id",
        F.md5(red).alias("redacted_md5"),
        F.length(red).alias("redacted_len"),
    ).orderBy("doc_id")


def _q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (partkey, suppkey) — the data-skipping
    sort key functions/zorder.write_zordered writes with; checked
    value-exact against the unrolled bit-interleave SQL."""
    from aws_sdk_pandas_spark.functions.zorder import zorder_key
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    key = zorder_key(
        [F.pmod(F.col("l_partkey"), F.lit(1024)), F.pmod(F.col("l_suppkey"), F.lit(1024))],
        bits=10,
    )
    return li.select(
        "l_orderkey", "l_linenumber", key.alias("zval")
    ).orderBy("l_orderkey", "l_linenumber")


def _zorder_oracle_sql() -> str:
    """The unrolled bit-interleave as portable SQL (same formula the Spark
    expression builds — functions/zorder.zorder_key_sql)."""
    from aws_sdk_pandas_spark.functions.zorder import zorder_key_sql

    z = zorder_key_sql(["(l_partkey % 1024)", "(l_suppkey % 1024)"], bits=10)
    return f"""
        SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS zval
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber
    """


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag corpus docs whose 3-gram vocabulary
    overlaps the 'src0' documents' gram set by >= 0.5
    (operators/textstats.benchmark_contamination)."""
    from aws_sdk_pandas_spark.operators.textstats import benchmark_contamination
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return benchmark_contamination(
        docs.where("source <> 'src0'"),
        docs.where("source = 'src0'"),
        n=3,
        threshold=0.5,
    ).orderBy("doc_id")


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document
    (operators/textstats.tfidf_top_terms; integer-only ranking so the
    order is engine-exact, TF-IDF weight attached)."""
    from aws_sdk_pandas_spark.operators.textstats import tfidf_top_terms
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


def _q_asof_forward_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: each click joined to the user's NEXT
    purchase within 24h (operators/asof.py direction='forward',
    tolerance).  Oracle: DuckDB ASOF with <= plus an interval guard.
    Single-scan split — see _q_asof_join."""
    from aws_sdk_pandas_spark.operators.asof import asof_join_split
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    j = asof_join_split(
        ev,
        on="ts",
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        right_cols=["user_id", "ts", "value"],
        by=["user_id"],
        direction="forward",
        tolerance="INTERVAL 24 HOURS",
    )
    return j.select(
        "event_id",
        "ts",
        "user_id",
        F.col("ts_right").alias("next_ts"),
        F.round(F.col("value_right").cast("decimal(18,6)"), 4)
        .cast("double")
        .alias("next_value"),
    ).orderBy("event_id")


# conversion funnel: first-touch ordering per user (view -> click ->
# purchase), conditional-min + count aggregates — one shuffle on user_id
_EVENTS_FUNNEL = """
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_view,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS n_full_funnel
FROM firsts
"""


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity date, counted per
    day offset they return.  Two user-keyed aggregations + one join —
    classic warehouse analytics the reference ships to Athena."""
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .withColumn("day_offset", F.datediff(F.col("d"), F.col("cohort")))
        .groupBy("cohort", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort", "day_offset")
    )


def _q_unload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write path under the hash gate: UNLOAD a filtered projection as
    a partitioned parquet dataset (sql.unload -> sources._write.write_dataset),
    read it back with a partition filter (pruning path), aggregate.  The
    oracle aggregates the source table directly, so any write/read
    corruption (schema drift, partition-value mangling, lost rows)
    hash-mismatches."""
    from aws_sdk_pandas_spark import sql as asql
    from aws_sdk_pandas_spark.sources import read_parquet

    _load(spark, sf_dir)
    out = _tmpdir("asps-unload-") + "/orders_ds"
    asql.unload(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders",
        out,
        partitioned_by=["o_orderpriority"],
    )
    back = read_parquet(
        spark,
        out,
        dataset=True,
        partition_filter=lambda p: p["o_orderpriority"] in ("1-URGENT", "2-HIGH"),
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source under the hash gate (sources/orc.py): partitioned
    ORC dataset write, read back, aggregate; oracle aggregates the source
    parquet directly."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.orc import read_orc, to_orc

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    out = _tmpdir("asps-orc-") + "/orders_orc"
    to_orc(orders, out, dataset=True, partition_cols=["o_orderstatus"], mode="overwrite")
    back = read_orc(spark, out, dataset=True)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source under the hash gate (sources/text.py): header'd CSV
    dataset write, schema'd read-back (no inference drift), aggregate."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.text import read_csv, to_csv

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    out = _tmpdir("asps-csv-") + "/customer_csv"
    to_csv(cust, out, dataset=True, mode="overwrite", header=True)
    back = read_csv(
        spark,
        out,
        header=True,
        infer_schema=False,
        schema="c_custkey bigint, c_acctbal double, c_mktsegment string",
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def _q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style token-repetition quality signals per document
    (operators/textstats.repetition_signals).  Oracle: unnest + two-level
    aggregation in DuckDB."""
    from aws_sdk_pandas_spark.operators.textstats import repetition_signals
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return repetition_signals(docs).orderBy("doc_id")


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leak-free train/val/test split in portable md5 mode
    (functions/hashing.hash_split) — every row's assignment is a pure
    function of its key, reproducible by any engine.  Weights
    0.75/0.125/0.125 keep the cumulative cutoffs exact binary doubles."""
    from aws_sdk_pandas_spark.functions.hashing import hash_split
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    out = hash_split(
        docs, "doc_id", {"train": 0.75, "val": 0.125, "test": 0.125}, seed=42, algo="md5"
    )
    return (
        out.groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "split")
    )


def _q_time_between_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics (LAG window over per-user-and-type
    ordered streams): avg/max seconds between consecutive events."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from pyspark.sql.window import Window

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ cannot cast straight to DOUBLE in Spark 4; go through
    # epoch microseconds (exact integers, so the LAG difference is exact too).
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gaps = ev.withColumn(
        "gap_s", (ts_us - F.lag(ts_us).over(w)) / F.lit(1_000_000.0)
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
            F.round(F.max("gap_s"), 4).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


def _q_ntile_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / PERCENT_RANK / CUME_DIST distribution windows per brand
    over part retail prices — the remaining ranking-window family."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from pyspark.sql.window import Window

    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return (
        part.select(
            "p_partkey",
            "p_brand",
            F.ntile(4).over(w).alias("price_band"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("p_brand", "p_partkey")
    )


def _q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source under the hash gate (sources/text.py):
    partitioned dataset write, schema'd read-back, aggregate."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.text import read_json, to_json

    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    out = _tmpdir("asps-json-") + "/events_json"
    to_json(ev, out, dataset=True, mode="overwrite", partition_cols=["event_type"])
    back = read_json(
        spark, out, dataset=True, schema="event_id bigint, value double, event_type string"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


def _q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outliers per event type (dq.detect_outliers_mad:
    two broadcast-stat aggregation passes, no global sort).  Oracle:
    nested median CTEs."""
    from aws_sdk_pandas_spark.dq import detect_outliers_mad
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        detect_outliers_mad(ev, "value", by=["event_type"], threshold=3.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.min("value"), 4).alias("min_val"),
            F.round(F.max("value"), 4).alias("max_val"),
        )
        .orderBy("event_type")
    )


def _q_fwf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width-file source under the hash gate (sources/text.read_fwf:
    spark.read.text + substring projection — no native Spark reader).
    The entry first renders nation as fixed-width text, then parses it
    back with declared widths and dtypes."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.text import read_fwf

    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    out = _tmpdir("asps-fwf-") + "/nation_fwf"
    (
        nation.select(
            F.concat(
                F.rpad(F.col("n_nationkey").cast("string"), 6, " "),
                F.rpad(F.col("n_name"), 20, " "),
                F.rpad(F.col("n_regionkey").cast("string"), 6, " "),
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(out)
    )
    back = read_fwf(
        spark,
        out,
        widths=[6, 20, 6],
        names=["n_nationkey", "n_name", "n_regionkey"],
        dtype={"n_nationkey": "bigint", "n_regionkey": "bigint"},
    )
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


def _q_merge_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-prefix merge under the hash gate (sources/copy.py:
    merge_datasets append mode — reference s3/_copy.py:75): two disjoint
    partitioned writes merged into one prefix, read back whole."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.copy import merge_datasets
    from aws_sdk_pandas_spark.sources.parquet import to_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    root = _tmpdir("asps-merge-")
    src, dst = f"{root}/src", f"{root}/dst"
    to_parquet(
        orders.where("o_orderstatus = 'F'").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        dst,
        dataset=True,
        mode="overwrite",
    )
    to_parquet(
        orders.where("o_orderstatus <> 'F'").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        src,
        dataset=True,
        mode="overwrite",
    )
    merge_datasets(spark, src, dst, mode="append")
    back = read_parquet(spark, dst)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free per-stratum sampling in portable md5 mode
    (operators/sampling.stratified_sample with key_col): the keep
    decision is re-derivable from md5(doc_id).  Fractions are exact
    binary doubles so the cutoffs compare identically everywhere."""
    from aws_sdk_pandas_spark.operators.sampling import stratified_sample
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    out = stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125},
        seed=42,
        key_col="doc_id",
        algo="md5",
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing per language shard
    (operators/packing.pack_sequences: distributed prefix-sum chunking).
    Oracle: window cumulative sum in SQL."""
    from aws_sdk_pandas_spark.functions.text import token_count
    from aws_sdk_pandas_spark.operators.packing import pack_sequences
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", token_count("text").alias("n_tokens"))
    )
    packed = pack_sequences(
        docs, "n_tokens", 2000, by=["lang"], order_cols=["doc_id"], out_col="seq_id"
    )
    return (
        packed.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy("lang", "seq_id")
    )


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup deliverable (operators/graph.dedup_keep_best):
    n-gram near-dup pairs -> connected components -> keep the longest
    (n_chars, tie: min doc_id) member per cluster + all unpaired docs.
    Oracle: recursive-CTE closure + window argmax."""
    from aws_sdk_pandas_spark.operators.dedup import ngram_jaccard_duplicates
    from aws_sdk_pandas_spark.operators.graph import dedup_keep_best
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_duplicates(docs, "doc_id", "text", n=3, threshold=0.2)
    kept = dedup_keep_best(docs, pairs, id_col="doc_id", score_col="n_chars")
    return kept.select("doc_id", "lang", "n_chars").orderBy("doc_id")


_MARKOV = """
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM (SELECT event_type,
                 LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_type
          FROM events)
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
"""


def _q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantile (operators/aggregates.weighted_quantile):
    char-count-weighted median order value per priority — the
    quality-weighted cutoff primitive.  Oracle: the same cum-weight
    window in SQL."""
    from aws_sdk_pandas_spark.operators.aggregates import weighted_quantile
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    rows = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice").cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("price"),
        (F.col("o_orderkey") % 10 + 1).cast("double").alias("w"),
    )
    return weighted_quantile(
        rows, ["o_orderpriority"], "price", "w", 0.5, out_col="wmedian_price"
    ).orderBy("o_orderpriority")


def _q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resample (operators/timeseries.
    resample_interpolate — Timestream INTERPOLATE_LINEAR, SURVEY 2.5):
    hourly grid per event type, gaps blended between neighbors."""
    from aws_sdk_pandas_spark.operators.timeseries import resample_interpolate
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = resample_interpolate(
        ev, by=["event_type"], step="1 hour", time_col="ts", value_col="value"
    )
    return out.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_s"),
        "value",
    ).orderBy("event_type", "bucket_s")


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style perplexity proxy (operators/textstats.
    unigram_logprob_score): mean log10 unigram probability per document
    under the corpus's own distribution."""
    from aws_sdk_pandas_spark.operators.textstats import unigram_logprob_score
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return unigram_logprob_score(docs).orderBy("doc_id")


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation gauntlet as ONE operator (operators/pipeline.
    curate_corpus): fingerprint dedup -> language whitelist -> token
    gates -> n-gram near-dup keep-best -> per-language caps.  Oracle:
    the same stages composed as CTEs."""
    from aws_sdk_pandas_spark.operators.pipeline import curate_corpus
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    kept = curate_corpus(
        docs,
        lang_col="lang",
        langs=["en", "de", "fr", "es"],
        min_tokens=15,
        max_tokens=90,
        near_dup=True,
        ngram_n=3,
        jaccard_threshold=0.2,
        score_col="n_chars",
        cap_per_language=60,
    )
    return kept.select("doc_id", "lang", "n_chars", "n_tokens").orderBy("doc_id")


def _q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (operators/sampling.
    temperature_sample, T=2): downsample common languages toward
    share^(1/T).  Keep decision = md5(doc_id) so the oracle re-derives
    the exact same corpus."""
    from aws_sdk_pandas_spark.operators.sampling import temperature_sample
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    kept = temperature_sample(docs, "lang", temperature=2.0, key_col="doc_id", seed=42)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")


def _q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-graph degree analytics (connectors/neptune.degrees over
    the two-DataFrame graph model, SURVEY 2.2 neptune row): events as
    user -> event_type edges, per-vertex in/out degree."""
    from aws_sdk_pandas_spark.connectors.neptune import degrees
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    edges = ev.select(
        F.col("event_id").cast("string").alias("~id"),
        F.lit("did").alias("~label"),
        F.col("user_id").cast("string").alias("~from"),
        F.col("event_type").alias("~to"),
    )
    return degrees(edges).orderBy("~id")


_RANGE_WINDOW = """
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS avg_1h,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h
    FROM (SELECT event_id, user_id, value,
                 unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS epoch_us
          FROM events)
    ORDER BY event_id
"""


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew mitigation (operators/skew.salted_join): lineitem x
    orders with the orders side replicated per salt so a hot orderkey
    spreads over 8 tasks.  Semantics identical to the unsalted join, so
    the oracle is the plain SQL join + aggregate."""
    from aws_sdk_pandas_spark.operators.skew import salted_join
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, ["l_orderkey"], num_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def _q_two_stage_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) as two uniformly-keyed shuffles (operators/
    skew.two_stage_distinct) — a hot supplier's parts spread over the
    cluster in the dedup stage instead of funneling through one task.
    Oracle: the direct COUNT(DISTINCT)."""
    from aws_sdk_pandas_spark.operators.skew import two_stage_distinct
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        two_stage_distinct(li, ["l_suppkey"], "l_partkey")
        .orderBy("l_suppkey")
    )


def _q_flatten_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-property flattening (connectors/neptune.flatten_nested_df,
    reference neptune/_neptune.py:632): pack customer attributes into a
    nested struct, flatten recursively back to scalar columns.  Oracle:
    select the scalars directly."""
    from aws_sdk_pandas_spark.connectors.neptune import flatten_nested_df
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.struct(
                F.col("c_acctbal").alias("acctbal"),
                F.col("c_mktsegment").alias("segment"),
            ).alias("account"),
        ).alias("props"),
    )
    flat = flatten_nested_df(cust)
    return flat.select(
        "c_custkey",
        F.col("props_name").alias("name"),
        F.col("props_account_acctbal").alias("acctbal"),
        F.col("props_account_segment").alias("segment"),
    ).orderBy("c_custkey")


def _q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the hash gate (sources/compaction.
    compact_dataset): write documents as a lang-partitioned dataset
    fragmented into many small files, compact each leaf to one file, read
    back and aggregate.  Oracle aggregates the source table — lost or
    duplicated rows hash-mismatch."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.compaction import compact_dataset
    from aws_sdk_pandas_spark.sources.parquet import to_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = _tmpdir("asps-compact-") + "/docs_ds"
    to_parquet(
        docs.repartition(16),
        out,
        dataset=True,
        partition_cols=["lang"],
        mode="overwrite",
    )
    compact_dataset(spark, out, target_file_bytes=1 << 30)
    back = read_parquet(spark, out, dataset=True)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def _q_chunked_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-row chunked iteration (sources/parquet.read_parquet
    chunked=int, reference s3/_read_parquet.py:259-282 carry-over
    slicing): every chunk has exactly 10_000 rows except the last.
    Returns (chunk_id, n_rows); the oracle reproduces the boundaries with
    a row_number window — any chunking drift (short chunks, lost rows)
    mismatches."""
    import pandas as pd

    from aws_sdk_pandas_spark.sources import read_parquet

    chunks = read_parquet(spark, f"{sf_dir}/orders.parquet", chunked=10_000)
    sizes = [(i, len(pdf)) for i, pdf in enumerate(chunks)]
    return spark.createDataFrame(
        pd.DataFrame(sizes, columns=["chunk_id", "n_rows"])
    ).orderBy("chunk_id")


def _q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (functions/sketches.py): HyperLogLog++ distinct
    users and GK approximate median value per event type — the
    bounded-memory scale path for distinct/percentile at 100 TB.
    Approximate by nature -> rows-only check (accuracy bounds are pinned
    in tests/test_sketches.py)."""
    from aws_sdk_pandas_spark.functions.sketches import (
        approx_distinct,
        approx_percentile_col,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(
            approx_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.round(approx_percentile_col("value", 0.5), 4).alias("approx_median_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def _q_remove_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-passage removal (operators/dedup.py
    remove_repeated_passages): the MassiveText/RefinedWeb 'drop passages
    duplicated across documents' step.  3-word windows so the synthetic
    corpus actually has cross-document repeats at sf0.01."""
    from aws_sdk_pandas_spark.operators.dedup import remove_repeated_passages
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        remove_repeated_passages(docs, passage_words=3, min_count=2)
        .select(
            "doc_id",
            F.col("text").alias("text_clean"),
            "n_passages",
            F.col("n_removed").cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


def _q_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style data skipping (sources/stats.py): write a
    shipdate-sorted multi-file dataset, harvest per-file min/max from the
    footers (distributed mapInPandas), prune the file list with a range
    predicate, scan only survivors.  The oracle filters the source table
    directly, so a pruning bug that drops a needed file hash-mismatches."""
    from aws_sdk_pandas_spark.sources import read_parquet, read_parquet_pruned

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    out = _tmpdir("asps-skip-") + "/li_sorted"
    (
        li.select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .orderBy("l_shipdate")
        .coalesce(1)
        .write.option("maxRecordsPerFile", 4000)
        .parquet(out)
    )
    from datetime import datetime

    lo, hi = datetime(1996, 1, 1), datetime(1997, 6, 30)
    pruned = read_parquet_pruned(spark, out, {"l_shipdate": (lo, hi)})
    return (
        pruned.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("ship_month")
    )


def _q_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_stream_join run on batch frames (the watermark is
    a no-op in batch, so the SAME definition that powers the live
    watermarked stream-stream join is hash-checked here): per-user clicks
    attributed to the views they followed within 30 minutes."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.streaming import stream_stream_join

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value"
    )
    out = stream_stream_join(
        views, clicks, ["user_id"], within="30 minutes", watermark="1 hour"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.round(F.sum("right_value"), 4).alias("attributed_value"),
            F.min("view_id").alias("first_view_id"),
        )
        .orderBy("user_id")
    )


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample, Efraimidis–Spirakis keys from
    md5 uniforms): 7 orders per priority, inclusion odds proportional to
    o_totalprice.  The DuckDB oracle re-derives the exact same sample."""
    from aws_sdk_pandas_spark.operators.sampling import weighted_sample
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return (
        weighted_sample(
            orders,
            7,
            weight_col="o_totalprice",
            key_col="o_orderkey",
            group_cols=["o_orderpriority"],
        )
        .select("o_orderpriority", "o_orderkey")
        .orderBy("o_orderpriority", "o_orderkey")
    )


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking (operators/textstats.py
    chunk_documents): 16-word chunks, 4-word overlap, map-only JVM plan."""
    from aws_sdk_pandas_spark.operators.textstats import chunk_documents
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        chunk_documents(docs, chunk_words=16, overlap_words=4)
        .select("doc_id", "chunk_idx", F.md5("chunk_text").alias("chunk_md5"), "n_words")
        .orderBy("doc_id", "chunk_idx")
    )


def _q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable aggregation state (operators/aggregates.py): orders
    arrive as three independent batches, each partially aggregated, the
    states merged and finalized — the oracle aggregates the whole table
    in one pass, so a broken merge algebra hash-mismatches."""
    from aws_sdk_pandas_spark.operators.aggregates import (
        finalize_aggregates,
        merge_aggregates,
        partial_aggregate,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    metrics = {"o_totalprice": ["sum", "avg", "min", "max"]}
    batches = [orders.where(F.col("o_orderkey") % 3 == k) for k in range(3)]
    states = [partial_aggregate(b, ["o_orderpriority"], metrics) for b in batches]
    out = finalize_aggregates(
        merge_aggregates(states, ["o_orderpriority"]), metrics, ["o_orderpriority"]
    )
    return out.select(
        "o_orderpriority",
        "n",
        F.round("o_totalprice_sum", 2).alias("price_sum"),
        F.round("o_totalprice_avg", 4).alias("price_avg"),
        F.round("o_totalprice_min", 2).alias("price_min"),
        F.round("o_totalprice_max", 2).alias("price_max"),
    ).orderBy("o_orderpriority")


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/sampling.dsir_importance_weights,
    arXiv:2302.03169): hashed {uni,bi}-gram bucket distributions, target =
    the English slice of the corpus, raw = the whole corpus; log-weight =
    sum of per-gram log(p/q).  md5 bucketing makes the DuckDB oracle
    re-derive the exact same buckets."""
    from aws_sdk_pandas_spark.operators.sampling import dsir_importance_weights
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    target = docs.where(F.col("lang") == "en")
    return (
        dsir_importance_weights(docs, target, buckets=512, alpha=1.0)
        .select("doc_id", F.round("log_weight", 6).alias("log_weight"))
        .orderBy("doc_id")
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.semantic_dedup, arXiv:2303.09540):
    KMeans clusters + within-cluster cosine dominance pruning.  Rows-only
    gate (KMeans is not SQL-expressible); survivors at threshold 0.35 on
    the synthetic embeddings."""
    from aws_sdk_pandas_spark.operators.dedup import semantic_dedup
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return (
        semantic_dedup(emb, id_col="vec_id", vector_col="embedding", n_clusters=8, threshold=0.35)
        .select("vec_id")
        .orderBy("vec_id")
    )


def _q_filter_log_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CloudWatch filter_log_events semantics (logs.filter_log_events)
    over the events table: stream prefix + filter-pattern (must-term and
    exclusion over the props payload) + inclusive time bounds, all as
    Column predicates."""
    from aws_sdk_pandas_spark import logs as L
    from aws_sdk_pandas_spark.sources import read_parquet

    events = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        L.filter_log_events(
            events,
            log_stream_name_prefix="c",
            filter_pattern='"k" -9',
            start_time="2024-01-08 00:00:00",
            end_time="2024-01-28 00:00:00",
            stream_col="event_type",
            message_col="props",
        )
        .select("event_id", "event_type", "ts")
        .orderBy("event_id")
    )


def _q_select_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained selection (operators/sampling.select_by_budget):
    keep the largest documents best-first until a 100k-char budget; the
    running total is a range-partitioned two-phase prefix sum (no
    single-partition global window)."""
    from aws_sdk_pandas_spark.operators.sampling import select_by_budget
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        select_by_budget(
            docs, 100_000, cost_col="n_chars", score_col="n_chars", id_col="doc_id"
        )
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


def _q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear classifier apply (operators/textstats.
    hashed_ngram_score) with a fixed synthetic weight table (weight =
    ((bucket*37) mod 13 - 6)/10): JVM featurize -> broadcast join ->
    sigmoid(mean).  The DuckDB oracle re-derives buckets and weights."""
    from aws_sdk_pandas_spark.operators.textstats import hashed_ngram_score
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    weights = {b: ((b * 37) % 13 - 6) / 10.0 for b in range(512)}
    return (
        hashed_ngram_score(docs, weights, buckets=512, bias=0.1)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy("doc_id")
    )


def _q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.build_pq_index +
    knn_pq, Jégou 2011): 8x6-bit codes, ADC lookup-table scan, exact
    refine of the top-k*8 sliver.  Rows-only gate (k-means codebooks are
    not SQL-expressible); recall vs brute force pinned in test_ivf.py."""
    from aws_sdk_pandas_spark.operators.similarity import build_pq_index, knn_pq
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 7").select("embedding").first()[0]
    corpus = emb.where("vec_id <> 7")
    enc, cb = build_pq_index(corpus, id_col="vec_id", vector_col="embedding", m=8, bits=6)
    return knn_pq(
        enc, cb, q, k=10, id_col="vec_id",
        refine_vector_col="embedding", refine_factor=8,
    )


def _q_materialize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit target-mixture materialization (operators/sampling.
    materialize_mixture, DoReMi-style): 50/30/20 en/fr/de over 600 docs,
    quality-first (n_chars desc) within each language; one window
    shuffle keyed by language."""
    from aws_sdk_pandas_spark.operators.sampling import materialize_mixture
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        materialize_mixture(
            docs,
            "lang",
            {"en": 0.5, "fr": 0.3, "de": 0.2},
            total=600,
            key_col="doc_id",
            score_col="n_chars",
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
        .orderBy("lang")
    )


def _q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (operators/similarity.build_ivf_pq_index):
    cluster-pruned ADC scan + exact refine.  Rows-only gate."""
    from aws_sdk_pandas_spark.operators.similarity import (
        build_ivf_pq_index,
        knn_ivf_pq,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 11").select("embedding").first()[0]
    corpus = emb.where("vec_id <> 11")
    enc, cents, cbs = build_ivf_pq_index(
        corpus, id_col="vec_id", vector_col="embedding", n_clusters=8, m=8, bits=6
    )
    return knn_ivf_pq(
        enc, cents, cbs, q, k=10, id_col="vec_id", n_probe=8,
        refine_vector_col="embedding", refine_factor=8,
    )


def _q_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent ordered event chains per user (operators/itemsets.
    sequential_patterns, MLlib PrefixSpan, length <= 2): support counts
    users containing the subsequence; oracle = DISTINCT-user ordered
    pair counting under PrefixSpan's ceil(s*n) threshold."""
    from aws_sdk_pandas_spark.operators.itemsets import sequential_patterns
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = sequential_patterns(
        ev, sequence_col="user_id", item_col="event_type", order_col="ts",
        min_support=0.3, max_pattern_length=2,
    )
    return out.select(
        F.element_at("pattern", 1).alias("item_a"),
        F.when(F.col("length") == 2, F.element_at("pattern", 2)).alias("item_b"),
        "freq",
        "support",
    ).orderBy("item_a", "item_b")


def _q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (functions/hashing.kfold_split,
    md5 mode): engine-rederivable fold per doc, stable across
    partitionings."""
    from aws_sdk_pandas_spark.functions.hashing import kfold_split
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        kfold_split(docs, "doc_id", 5)
        .select("doc_id", "fold")
        .orderBy("doc_id")
    )


def _q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution (operators/asof.
    attribute_conversions): every purchase credits its user's clicks in
    the trailing 24h with 1/n each — bucketed interval join, one
    conversion-keyed window."""
    from aws_sdk_pandas_spark.operators.asof import attribute_conversions
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return attribute_conversions(ev, lookback="24 hours", model="linear").orderBy(
        "conversion_id", "touch_id"
    )


def _q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley change-point statistic per user (operators/
    timeseries.page_hinkley): running cumsum of mean deviations minus
    its running min — two windows, one shuffle, exactly
    SQL-recomputable."""
    from aws_sdk_pandas_spark.operators.timeseries import page_hinkley
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        page_hinkley(ev, ts_col="ts", value_col="value", by=["user_id"])
        .select("event_id", "ph_stat")
        .orderBy("event_id")
    )


def _q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample comparison of every event type against the
    'view' baseline (operators/stats.ab_test): one groupBy over the
    metric table, one-row baseline broadcast, engine-checkable
    arithmetic."""
    from aws_sdk_pandas_spark.operators.stats import ab_test
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return ab_test(
        ev, group_col="event_type", metric_col="value", baseline="view"
    ).orderBy("group")


def _q_normalize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (operators/features.
    normalize_columns with by=): each event type's values scaled by its
    OWN statistics via one window shuffle — the cross-scorer
    calibration step before any global selection."""
    from aws_sdk_pandas_spark.operators.features import normalize_columns
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        normalize_columns(ev, ["value"], by=["event_type"])
        .select("event_id", F.round("value_norm", 6).alias("value_z"))
        .orderBy("event_id")
    )


def _q_resolve_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on part names (operators/fuzzy.
    resolve_entities): SymSpell fuzzy pairs -> connected components ->
    canonical (min reachable) name per record.  Oracle: brute-force
    levenshtein pairs + recursive-CTE closure."""
    from aws_sdk_pandas_spark.operators.fuzzy import resolve_entities
    from aws_sdk_pandas_spark.sources import read_parquet

    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    return (
        resolve_entities(part, name_col="p_name", max_distance=2)
        .select("p_partkey", "p_name", "entity")
        .orderBy("p_partkey")
    )


def _q_itemsets_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (operators/itemsets.frequent_itemsets, MLlib
    FP-Growth): part-name itemsets of size <= 2 across orders, flattened
    to columns for the co-occurrence self-join oracle (FP-Growth's
    minCount = ceil(s*n) semantics replicated in SQL)."""
    from aws_sdk_pandas_spark.operators.itemsets import frequent_itemsets
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    df = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_name"
    )
    out = frequent_itemsets(
        df, basket_col="l_orderkey", item_col="p_name",
        min_support=0.002, max_size=2,
    )
    return out.select(
        F.element_at("items", 1).alias("item_a"),
        F.when(F.col("size") == 2, F.element_at("items", 2)).alias("item_b"),
        "freq",
        "support",
    ).orderBy("item_a", "item_b")


def _q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (dq.profile_table, exact-distinct audit
    mode): one aggregation job computes every column's statistics; the
    reshape is driver-side and bounded by the schema width."""
    from aws_sdk_pandas_spark.dq import profile_table
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return profile_table(li, exact_distinct=True).orderBy("column")


def _q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus report (operators/textstats.summarize_corpus):
    per-language volume/token/length stats + exact-duplicate rate via a
    rollup — the __all__ total rides the same shuffle."""
    from aws_sdk_pandas_spark.operators.textstats import summarize_corpus
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return summarize_corpus(docs, lang_col="lang").orderBy("lang")


def _q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user -> event_type property graph
    (connectors/neptune.pagerank: one shuffle per iteration, dangling
    mass redistributed, localCheckpoint keeps plans bounded).
    Rows-only gate; numpy power-iteration exactness pinned in
    test_graph.py."""
    from aws_sdk_pandas_spark.connectors.neptune import pagerank
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    edges = ev.select(
        F.col("event_id").cast("string").alias("~id"),
        F.lit("did").alias("~label"),
        F.col("user_id").cast("string").alias("~from"),
        F.col("event_type").alias("~to"),
    )
    return (
        pagerank(edges, max_iter=5)
        .select(F.col("~id").alias("vertex"), F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "vertex")
        .limit(50)
    )


def _q_pagerank_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank under a REAL hash oracle: the symmetrized customer <->
    nation <-> region graph has no dangling nodes (every vertex gets a
    reverse edge), so the power iteration is the pure recursion
    r' = (1-d)/n + d * sum(r_in/deg_in) with zero dangling mass, and a
    DuckDB RECURSIVE CTE replays exactly 4 rounds (tol=0.0 disables the
    engine's early stop).  Companion to the rows-only graph_pagerank
    entry, which keeps exercising dangling-mass redistribution."""
    from aws_sdk_pandas_spark.connectors.neptune import pagerank
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    cn = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("a"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("b"),
    )
    nr = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("a"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("b"),
    )
    und = cn.unionByName(nr)
    edges = (
        und.select(F.col("a").alias("~from"), F.col("b").alias("~to"))
        .unionByName(und.select(F.col("b").alias("~from"), F.col("a").alias("~to")))
        .select(
            F.concat_ws("-", "~from", "~to").alias("~id"),
            F.lit("adj").alias("~label"),
            "~from",
            "~to",
        )
    )
    return (
        pagerank(edges, damping=0.85, max_iter=4, tol=0.0)
        .select(F.col("~id").alias("vertex"), F.round("rank", 6).alias("rank"))
        .orderBy("vertex")
    )


def _q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance self-join on part names (operators/fuzzy.
    fuzzy_match_join): SymSpell deletion-neighborhood equi-join + real
    levenshtein verify — complete blocking, so the oracle is the plain
    brute-force all-pairs definition."""
    from aws_sdk_pandas_spark.operators.fuzzy import fuzzy_match_join
    from aws_sdk_pandas_spark.sources import read_parquet

    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    return fuzzy_match_join(
        part, part, "p_name", max_distance=2, self_pairs=True
    ).orderBy("p_name_a", "p_name_b")


def _q_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection (operators/timeseries.
    detect_anomalies_rolling): per-user 1-hour trailing baseline,
    current row excluded, z>2 flags — one range-frame window shuffle."""
    from aws_sdk_pandas_spark.operators.timeseries import detect_anomalies_rolling
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = detect_anomalies_rolling(
        ev, ts_col="ts", value_col="value", by=["user_id"], z=2.0, min_points=3
    )
    return out.select(
        "event_id", "anomaly_n_prior", "anomaly_zscore", "anomaly_flag"
    ).orderBy("event_id")


def _q_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.diff_frames): orders 'last week'
    (keys % 7 != 0) vs 'this week' (keys % 11 != 0, priority rewritten
    on % 5 == 0) — added/removed/changed via one key-shuffled full-outer
    join over portable md5 row hashes."""
    from aws_sdk_pandas_spark.operators.diff import diff_frames
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    a = orders.where("o_orderkey % 7 != 0")
    b = orders.where("o_orderkey % 11 != 0").withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X-MOD")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return diff_frames(
        a, b, keys=["o_orderkey"], compare_cols=["o_orderpriority", "o_orderstatus"]
    ).orderBy("o_orderkey")


def _q_discretize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quantile discretization (operators/features.
    discretize_quantiles): event values into 4 equal-population buckets
    from interpolated quartile cut points — value-property boundaries,
    engine-rederivable (unlike ntile's rank-property ones)."""
    from aws_sdk_pandas_spark.operators.features import discretize_quantiles
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        discretize_quantiles(ev, "value", 4)
        .select("event_id", "value_bucket")
        .orderBy("event_id")
    )


def _q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup (operators/scd.scd2_lookup): each order
    resolves the customer's priority version valid at its order date —
    key-shuffled join, validity predicate rides the join condition
    (non-overlapping versions guarantee at most one match)."""
    from aws_sdk_pandas_spark.operators.scd import scd2_from_changes, scd2_lookup
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    hist = scd2_from_changes(
        orders,
        keys=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        track_cols=["o_orderpriority"],
    )
    facts = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    return (
        scd2_lookup(facts, hist, keys=["o_custkey"], ts_col="o_orderdate")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey")
    )


def _q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift (operators/drift.corpus_divergence): per-bucket
    Jensen-Shannon + PSI contributions between the en and fr document
    sets over md5-hashed {1,2}-gram buckets — each corpus reduces to a
    512-row histogram before any cross-corpus math."""
    from aws_sdk_pandas_spark.operators.drift import corpus_divergence
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return corpus_divergence(
        docs.where("lang = 'en'"), docs.where("lang = 'fr'"), buckets=512
    ).orderBy("bucket")


def _q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pre-training data pipeline as one call (operators/
    pipeline.build_training_corpus): curation gauntlet -> 4-gram
    eval-set decontamination -> leakage-free split (pairs re-mined at
    0.15, below the 0.2 dedup threshold) -> deterministic epoch order ->
    64-token sequence packing.  Oracle: every stage as CTEs, including
    BOTH transitive closures and the packing prefix sum."""
    from aws_sdk_pandas_spark.operators.pipeline import build_training_corpus
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = build_training_corpus(
        docs.where("source <> 'src0'"),
        eval_df=docs.where("source = 'src0'"),
        lang_col="lang",
        langs=["en", "de", "fr", "es"],
        min_tokens=15,
        max_tokens=90,
        near_dup=True,
        ngram_n=3,
        jaccard_threshold=0.2,
        score_col="n_chars",
        cap_per_language=60,
        decontaminate_n=4,
        split_weights={"train": 0.8, "val": 0.1, "test": 0.1},
        split_pair_threshold=0.15,
        pack_budget=64,
    )
    return out.select(
        "doc_id", "lang", "n_tokens", "split", "position", "seq_id"
    ).orderBy("doc_id")


def _q_uniform_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic uniform sample (operators/sampling.
    uniform_sample_k): the 100 smallest md5(seed||doc_id) — compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    from aws_sdk_pandas_spark.operators.sampling import uniform_sample_k
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        uniform_sample_k(docs, 100, key_col="doc_id", seed=9)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _q_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split (operators/sampling.
    leakage_free_split): near-dup clusters (3-gram Jaccard >= 0.2 ->
    connected components) ride ONE md5 hash-split decision keyed by the
    cluster representative, so a test doc's near-copy can never sit in
    train.  Oracle: recursive-CTE transitive closure + the same md5
    assignment."""
    from aws_sdk_pandas_spark.operators.dedup import ngram_jaccard_duplicates
    from aws_sdk_pandas_spark.operators.sampling import leakage_free_split
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_duplicates(docs, "doc_id", "text", n=3, threshold=0.2)
    return (
        leakage_free_split(
            docs, pairs, weights={"train": 0.8, "val": 0.1, "test": 0.1}
        )
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _q_normalize_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) feature scaling of the event values
    (operators/features.normalize_columns): one aggregation for the
    statistics, constants folded into a pure-codegen projection —
    outlier-immune, unlike z-score."""
    from aws_sdk_pandas_spark.operators.features import normalize_columns
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        normalize_columns(ev, ["value"], method="robust")
        .select("event_id", F.round("value_norm", 6).alias("value_robust"))
        .orderBy("event_id")
    )


def _q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass distributed PCA over the embedding column
    (operators/features.fit_pca: per-partition (n, sum, X^T X) partials,
    driver-side d x d eigh, broadcast projection).  Rows-only gate;
    numpy-exactness and partitioning invariance pinned in
    test_features.py."""
    from aws_sdk_pandas_spark.operators.features import apply_pca, fit_pca
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    model = fit_pca(emb, k=8)
    return (
        apply_pca(emb, model)
        .select("vec_id", F.size("pca").alias("pca_dim"))
        .orderBy("vec_id")
    )


def _q_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA under a (partially) REAL hash oracle: fitting the FULL
    spectrum (k = d = 64) makes trace(cov) = sum of eigenvalues = sum of
    per-coordinate sample variances — which DuckDB recomputes directly
    from the embeddings table, cross-checking the mean pass, centered
    Gram, and eigendecomposition end to end.  The spectral properties no
    SQL can state (orthonormality of the component rows, descending
    eigenvalues, projected-coordinate variance == eigenvalue) ride along
    as engine-verified booleans the oracle expects TRUE."""
    import numpy as np

    from aws_sdk_pandas_spark.operators.features import apply_pca, fit_pca
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    model = fit_pca(emb, k=64)
    comps = np.array(model["components"])
    ev = np.array(model["explained_variance"])
    orthonormal_ok = bool(
        np.max(np.abs(comps @ comps.T - np.eye(comps.shape[0]))) < 1e-8
    )
    desc_ok = bool(np.all(np.diff(ev) <= 1e-12))
    proj_stats = (
        apply_pca(emb, model)
        .select(F.posexplode("pca").alias("j", "val"))
        .groupBy("j")
        .agg(F.var_samp("val").alias("v"))
        .collect()
    )
    proj_var_ok = all(
        abs(r.v - ev[r.j]) <= 1e-3 * max(abs(ev[r.j]), 1e-9) for r in proj_stats
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(64, 64, float(round(ev.sum(), 6)), orthonormal_ok, desc_ok, bool(proj_var_ok))], 1
        ),
        "d int, k int, total_var double, orthonormal_ok boolean, "
        "variance_desc_ok boolean, proj_var_ok boolean",
    )


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer trained on the corpus's own word-frequency table
    (operators/bpe.train_bpe, Sennrich 2016) then applied in one
    Arrow-batched pass: per-doc real-token counts for budget accounting.
    Rows-only gate (merge learning is not SQL-expressible); exactness vs
    an independent reference implementation is pinned in test_bpe.py."""
    from aws_sdk_pandas_spark.operators.bpe import apply_bpe, train_bpe
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, n_merges=40, max_words=8_000)
    return (
        apply_bpe(docs, merges)
        .select("doc_id", F.size("bpe_tokens").alias("n_bpe_tokens"))
        .orderBy("doc_id")
    )


def _q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram novelty (operators/textstats.novelty_score):
    per-doc fraction of distinct 3-grams unique to that doc — flags
    boilerplate/template content no pairwise near-dup threshold
    catches.  Gram doc-frequency is one hash-keyed aggregation; only the
    8-byte gram hash is shuffled."""
    from aws_sdk_pandas_spark.operators.textstats import novelty_score
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return novelty_score(docs, n=3).orderBy("doc_id")


def _q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.training_order):
    every doc gets a stable 1-based position in the (seed=1, epoch=2)
    permutation via the two-phase global prefix sum — no
    single-partition row_number funnel."""
    from aws_sdk_pandas_spark.operators.sampling import training_order
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        training_order(docs.select("doc_id"), key_col="doc_id", seed=1, epoch=2)
        .orderBy("position")
    )


def _q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source under the hash gate (sources/avro + the stdlib OCF
    codec): orders split across TWO container files, read back
    DISTRIBUTED (one task per file) and aggregated.  A codec, union,
    or schema-mapping bug changes values and hash-mismatches against
    DuckDB on the parquet directly."""
    import os

    from aws_sdk_pandas_spark.sources import read_avro, read_parquet, to_avro

    orders = (
        read_parquet(spark, f"{sf_dir}/orders.parquet")
        .where("o_orderkey <= 800")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    d = _tmpdir("asps-avro-")
    os.makedirs(d, exist_ok=True)
    to_avro(orders.where("o_orderkey % 2 = 0"), f"{d}/even.avro")
    to_avro(orders.where("o_orderkey % 2 = 1"), f"{d}/odd.avro")
    back = read_avro(spark, d)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def _q_excel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel I/O under the hash gate (sources/excel + the stdlib
    SpreadsheetML codec xlsx_lite — no openpyxl in this container): the
    first 200 orders write to a REAL .xlsx and read back, then aggregate
    by status.  A cell-type, escaping, reference, or header bug in the
    codec changes values and hash-mismatches against DuckDB running the
    same aggregate on the parquet directly."""
    from aws_sdk_pandas_spark.sources import read_parquet, read_excel, to_excel

    orders = (
        read_parquet(spark, f"{sf_dir}/orders.parquet")
        .where("o_orderkey <= 800")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )
    path = _tmpdir("asps-xlsx-") + "/orders.xlsx"
    to_excel(orders.coalesce(1).orderBy("o_orderkey"), path, index=False)
    back = read_excel(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
            F.count_distinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("o_orderstatus")
    )


def _q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline attrition report under the hash gate
    (operators/pipeline.curation_funnel): three curation stages over the
    documents table (language filter, length floor, text-prefix exact
    dedup keeping the lowest doc_id) with per-stage surviving rows,
    whitespace-token sums, and removal percentages.  The oracle rebuilds
    every stage relationally and derives the attrition columns with a
    LAG window — a stage that silently recomputes, drops, or
    double-counts rows hash-mismatches."""
    from aws_sdk_pandas_spark.operators.dedup import dedup_exact
    from aws_sdk_pandas_spark.operators.pipeline import curation_funnel
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")

    def _prefix_dedup(d: DataFrame) -> DataFrame:
        return dedup_exact(
            d.withColumn("__pfx", F.substring("text", 1, 100)),
            ["__pfx"], keep="first", order_col="doc_id",
        ).drop("__pfx")

    _cleaned, report = curation_funnel(
        docs,
        [
            ("lang_en", lambda d: d.where("lang = 'en'")),
            ("min_chars", lambda d: d.where("n_chars >= 200")),
            ("prefix_dedup", _prefix_dedup),
        ],
    )
    return report.orderBy("stage_idx")


def _q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered eval-set decontamination (operators/bloom.
    decontaminate): drop corpus docs sharing any exact word 4-gram with
    the 'src0' eval docs.  The eval gram set becomes a broadcast Bloom
    filter (~10 bits/gram, no false negatives); corpus grams are tested
    map-side and only the bloom-positive sliver is shuffled into the
    exact verify join — the result equals the plain gram anti-join for
    any hash function, which is exactly what the DuckDB oracle checks."""
    from aws_sdk_pandas_spark.operators.bloom import decontaminate
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = decontaminate(
        docs.where("source <> 'src0'"), docs.where("source = 'src0'"), n=4
    )
    return out.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


def _q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (connectors/neptune.triangle_count,
    the degree-oriented Suri-Vassilvitskii MapReduce recipe: oriented
    out-degrees are O(sqrt(E))-bounded so hub vertices never explode
    the wedge join) on the part co-purchase graph — parts linked when
    they ship in the same order (first 3 line numbers keep the gate
    graph sparse)."""
    from aws_sdk_pandas_spark.connectors.neptune import triangle_count
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").where("l_linenumber <= 3")
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "l_orderkey")
        .where("pa < pb")
        .select(
            F.concat_ws("-", "pa", "pb").alias("~id"),
            F.lit("co").alias("~label"),
            F.col("pa").cast("string").alias("~from"),
            F.col("pb").cast("string").alias("~to"),
        )
    )
    return (
        triangle_count(edges)
        .select(F.col("~id").alias("vertex"), "triangles")
        .orderBy(F.col("vertex").cast("long"))
    )


def _q_graph_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (connectors/neptune.k_hop_neighbors — the
    Gremlin repeat(out()).times(k) traversal as k frontier-joins, each
    one keyed shuffle, visited set via anti-join) on the undirected
    user<->event_type bipartite graph: hop 1 = users who clicked,
    hop 2 = everything those users did."""
    from aws_sdk_pandas_spark.connectors.neptune import k_hop_neighbors
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    edges = ev.select(
        F.col("event_id").cast("string").alias("~id"),
        F.lit("did").alias("~label"),
        F.col("user_id").cast("string").alias("~from"),
        F.col("event_type").alias("~to"),
    )
    return (
        k_hop_neighbors(edges, ["click"], k=2, direction="both")
        .select(F.col("~id").alias("vertex"), "hops")
        .orderBy("vertex")
    )


def _q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user
    (operators/timeseries.ewma): the non-associative recursion rides a
    BOUNDED rows-frame JVM fold — per-row work O(lookback), independent
    of series length.  The explicit lookback=60 makes the frame cap
    part of the definition, so the DuckDB weighted-sum oracle computes
    the algebraically identical quantity."""
    from aws_sdk_pandas_spark.operators.timeseries import ewma
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ewma(
            ev,
            ts_col="ts",
            value_col="value",
            by=["user_id"],
            alpha=0.3,
            lookback=60,
            tie_breakers=["event_id"],
        )
        .select("event_id", "user_id", F.round("ewma", 6).alias("ewma_value"))
        .orderBy("event_id")
    )


def _q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation at lags 1 and 7 per event_type
    (operators/timeseries.autocorr): one window shuffle computes every
    lag column, one aggregate per (group, lag); corr from guarded
    moments so degenerate spreads yield NULL, not ANSI errors."""
    from aws_sdk_pandas_spark.operators.timeseries import autocorr
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        autocorr(
            ev,
            ts_col="ts",
            value_col="value",
            by=["event_type"],
            lags=[1, 7],
            tie_breakers=["event_id"],
        )
        .orderBy("event_type", "lag")
    )


def _q_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image-header parsing (operators/multimodal.image_dimensions):
    PNG IHDR dimensions are fixed-offset big-endian, so BOTH the synth
    (hex -> lpad -> unhex byte packing) and the parse (substring -> hex
    -> conv) are pure codegen — the whole round trip never leaves the
    JVM.  The oracle recomputes the width/height arithmetic directly:
    synth -> byte-level parse must be the identity."""
    from aws_sdk_pandas_spark.operators.multimodal import image_dimensions
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")

    def be4(col):  # 4 big-endian bytes of an int, JVM-side
        return F.unhex(F.lpad(F.hex(col), 8, "0"))

    w = F.col("doc_id") % 1920 + 1
    h = F.col("doc_id") % 1080 + 1
    payload = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"), be4(F.lit(13)), F.lit(b"IHDR"), be4(w), be4(h)
    )
    media = docs.select("doc_id", payload.alias("payload"))
    return (
        image_dimensions(media, jpeg=False)
        .select("doc_id", "img_format", "img_width", "img_height")
        .orderBy("doc_id")
    )


def _q_sketch_distinct_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ under a (partially) REAL hash oracle — companion to the
    rows-only sketch_distinct_stats: the EXACT distinct-user count per
    event type is recomputed by DuckDB, and the sketch estimate rides
    along as an engine-verified error-bound boolean (|approx - exact| <=
    5 * rsd * exact; Spark's HLL++ guarantees rsd as the expected
    relative standard deviation, so 5 sigma is a deterministic-in-
    practice bound the suite also pins in test_sketches.py)."""
    from aws_sdk_pandas_spark.functions.sketches import approx_distinct
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            approx_distinct("user_id", rsd=0.02).alias("__approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).alias("rel_err_ok"),
        )
        .orderBy("event_type")
    )


def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window exact-substring dedup (operators/dedup.
    remove_repeated_spans, the Lee et al. 2022 suffix-array dedup
    restated Spark-shaped) under a FULL hash oracle: DuckDB replays
    normalize -> 8-token sliding windows (string keys where the engine
    uses xxhash64 — identical modulo 2^-64 collisions) -> count>=2 with
    the min-(doc_id,start) canonical exemption -> per-doc island merge
    -> token-level reconstruction, and the cleaned text is compared by
    md5.  Every stage of the operator is pinned, including interval
    merging and keep-first semantics."""
    from aws_sdk_pandas_spark.operators.dedup import remove_repeated_spans
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        remove_repeated_spans(docs, min_tokens=8, keep="first")
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "n_removed",
            F.md5(F.col("text")).alias("text_md5"),
        )
        .orderBy("doc_id")
    )


def _q_minhash_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH under a (partially) REAL hash oracle — companion to
    the rows-only dedup_minhash_lsh: on a bounded sample (doc_id < 400)
    the BRUTE-FORCE duplicate-pair count at Jaccard >= 0.6 over raw
    5-char shingle sets is computed with plain JVM string/array ops that
    DuckDB replays exactly (same [ \\t\\n\\r]+ whitespace class on both
    sides — Java's \\s and RE2's \\s disagree on \\x0B), and the LSH
    path's recall/precision against that truth ride along as
    engine-verified booleans (recall >= 0.7 is conservative: 16 bands x
    4 rows catches a 0.6-Jaccard pair w.p. ~0.89 and the planted
    near-dups are far above the threshold; precision uses hashed-shingle
    Jaccard, so it is checked with a 0.55 margin against the char-based
    truth).  The bounded all-pairs join is the POINT here — brute force
    is the oracle, LSH is the scale path."""
    from aws_sdk_pandas_spark.operators.dedup import minhash_duplicates
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 400")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "[ \\t\\n\\r]+", " ")))
    sh = (
        docs.select("doc_id", norm.alias("t"))
        .where(F.length("t") > 0)
        .select(
            "doc_id",
            F.when(
                F.length("t") >= 5,
                F.expr("array_distinct(transform(sequence(1, length(t) - 4), i -> substring(t, i, 5)))"),
            )
            .otherwise(F.array(F.col("t")))
            .alias("s"),
        )
    )
    # carry |s| so pairs can be pre-filtered on the PROVABLE size bound
    # below before any set op runs.  Persist: the shingle derivation
    # (sequence/transform/array_distinct over every doc) is consumed by
    # FOUR lineages below (brute stream + broadcast sides, precision's
    # two attach joins) and re-ran for each — one cached copy of 400
    # small arrays serves them all (guide §5, intra-query reuse).
    szd = sh.select("doc_id", "s", F.size("s").alias("n")).persist()
    a = szd.select(
        F.col("doc_id").alias("id_a"), F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = szd.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    # ``s`` arrays are sets (array_distinct / single element), so
    # |A∪B| = |A| + |B| − |A∩B| exactly — the arithmetic replaces a
    # per-pair array_union materialization over ~2.5k-string arrays.
    shared = F.size(F.array_intersect("sa", "sb"))
    jac = shared / (F.col("na") + F.col("nb") - shared)
    # implied predicate: j = |∩|/|∪| <= min(|A|,|B|)/max(|A|,|B|), so a
    # pair can only reach j >= 0.6 when least(na,nb) >= 0.6*greatest —
    # filtering on sizes FIRST skips the expensive intersect for the
    # vast majority of pairs without changing the surviving set (it is
    # exactly the pairs the j >= 0.6 filter would drop anyway).  The
    # brute-force ORACLE semantics are untouched: every size-compatible
    # pair still gets the exact char-shingle set arithmetic the DuckDB
    # side replays.
    size_ok = F.least("na", "nb") >= F.lit(0.6) * F.greatest("na", "nb")
    # the bounded all-pairs join plans as a broadcast nested loop whose
    # parallelism is the STREAM side's partition count — a single-split
    # sample file would run all ~80k set intersections on one core, so
    # spread the stream side over the cluster (sample is bounded at 400
    # docs by construction, so the broadcast side is bounded too)
    brute = (
        a.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(b))
        .where((F.col("id_a") < F.col("id_b")) & size_ok)
        .select("id_a", "id_b", jac.alias("j"))
        .where(F.col("j") >= 0.6)
        .persist()
    )
    lsh = minhash_duplicates(docs, threshold=0.6).persist()
    # the brute-force oracle and the LSH path are INDEPENDENT until the
    # recall join: materialize both concurrently (guide §2.6 — two jobs
    # in flight back-fill each other's stage tails) instead of the old
    # brute.count() -> lsh-join-count serial chain
    from concurrent.futures import ThreadPoolExecutor

    def _count_brute() -> int:
        spark.sparkContext.setJobDescription("minhash_selfcheck: brute oracle")
        return brute.count()

    def _mat_lsh() -> int:
        spark.sparkContext.setJobDescription("minhash_selfcheck: lsh path")
        return lsh.count()

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fb, _fl = _pool.submit(_count_brute), _pool.submit(_mat_lsh)
        n_brute = _fb.result()
        _fl.result()
    # precision with margin: LSH verifies on hashed byte-shingles, the
    # truth is char-shingles — identical on this ASCII sample except at
    # the threshold boundary.  jc is only consumed for pairs LSH
    # reported, so attach shingle sets to THOSE pairs (two broadcast
    # joins over |lsh| rows) instead of re-running the full cross join.
    # The recall intersection rides the SAME frame as a left-join flag
    # (both sides are distinct (id_a,id_b) pairs, so the flag join has
    # multiplicity 1 and sum(flag) == the old inner-join count): one
    # aggregation returns n_common and n_imprecise together instead of
    # two sequential count() actions.
    agg_row = (
        lsh.select("id_a", "id_b")
        .join(a.select("id_a", "sa", "na"), "id_a")
        .join(b.select("id_b", "sb", "nb"), "id_b")
        .join(
            brute.select("id_a", "id_b", F.lit(1).alias("__in_brute")),
            ["id_a", "id_b"],
            "left",
        )
        .select(jac.alias("jc"), "__in_brute")
        .agg(
            F.sum(F.when(F.col("__in_brute").isNotNull(), 1).otherwise(0)).alias(
                "nc"
            ),
            F.sum(F.when(F.col("jc") < 0.55, 1).otherwise(0)).alias("ni"),
        )
        .collect()[0]
    )
    n_common = int(agg_row["nc"] or 0)
    n_imprecise = int(agg_row["ni"] or 0)
    recall_ok = (n_brute == 0) or (n_common / n_brute >= 0.7)
    brute.unpersist()
    lsh.unpersist()
    szd.unpersist()
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(int(n_brute), bool(recall_ok), bool(n_imprecise == 0))], 1
        ),
        "n_brute_pairs bigint, recall_ok boolean, precision_ok boolean",
    )


def _q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketch set operations (functions/sketches): distinct
    user-day audience of 'click' vs 'view' — counts, union, intersection
    and Jaccard estimated from two 256-hash sketches (the raw key sets
    never meet; the join ships ~2 KB per side).  md5-derived hashes are
    engine-rederivable, so DuckDB recomputes the IDENTICAL sketch and
    arithmetic — a deterministic gate on an approximate operator."""
    from aws_sdk_pandas_spark.functions.sketches import kmv_set_ops, kmv_sketch
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_type",
        F.concat_ws(
            "@", F.col("user_id").cast("string"), F.date_format("ts", "yyyy-MM-dd")
        ).alias("ud"),
    )
    sa = kmv_sketch(base.where("event_type = 'click'"), "ud", k=256)
    sb = kmv_sketch(base.where("event_type = 'view'"), "ud", k=256)
    return kmv_set_ops(sa, sb, k=256).select(
        F.round("est_a", 4).alias("est_click"),
        F.round("est_b", 4).alias("est_view"),
        F.round("est_union", 4).alias("est_union"),
        F.round("est_intersection", 4).alias("est_intersection"),
        F.round("est_jaccard", 6).alias("est_jaccard"),
    )


_BM25_TERMS = ["spark", "table", "merge"]


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.bm25_scores): tokens
    filtered to the query terms MAP-SIDE so the shuffle carries only
    (doc, query-term) hits; doc-frequency and corpus stats broadcast
    back; top-k compiles to TakeOrderedAndProject.  Ranking runs on the
    round-6 score so the cut is engine-reproducible."""
    from aws_sdk_pandas_spark.operators.retrieval import bm25_scores
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return bm25_scores(docs, _BM25_TERMS, top_k=25)


def _q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword+vector retrieval (operators/retrieval.rrf_fuse):
    BM25 top-20 fused with exact-cosine top-20 by reciprocal-rank —
    no score calibration across modalities, ranks derived from rounded
    scores with id tie-breaks so both engines agree."""
    from aws_sdk_pandas_spark.operators.retrieval import bm25_scores, rrf_fuse
    from aws_sdk_pandas_spark.operators.similarity import knn_brute_force
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    bm = bm25_scores(docs, _BM25_TERMS, top_k=20)
    qv = emb.where("vec_id = 0").select("embedding").first()[0]
    kn = knn_brute_force(
        emb, qv, k=20, id_col="vec_id", vector_col="embedding", metric="cosine"
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse([bm, kn], ascending=[False, True], top_k=15)


def _q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (operators/timeseries.
    seasonal_decompose) of the daily event value per type, weekly
    period: one (group, time) window shuffle carries row number +
    centered MA, phase means are a groups x 7 broadcast join.  The
    daily mean uses decimal-exact summation so both engines bucket
    identically before the float window math."""
    from aws_sdk_pandas_spark.operators.timeseries import seasonal_decompose
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    return (
        seasonal_decompose(daily, ts_col="day", value_col="v", period=7, by=["event_type"])
        .select(
            "event_type",
            F.col("day").cast("date").alias("day"),
            "sd_phase",
            "sd_trend",
            "sd_seasonal",
            "sd_residual",
        )
        .orderBy("event_type", "day")
    )


def _q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile winsorization (operators/features.winsorize): one
    aggregation for the exact interpolated cut points, clip folded into
    a codegen least/greatest projection — no second shuffle."""
    from aws_sdk_pandas_spark.operators.features import winsorize
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        winsorize(li, ["l_extendedprice"], lower=0.01, upper=0.99)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice_w", 6).alias("price_w"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def _q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation (operators/timeseries.cross_corr): does
    yesterday's purchase volume predict today's clicks?  One window
    shuffle for all lag columns, corr from guarded moments."""
    from aws_sdk_pandas_spark.operators.timeseries import cross_corr
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
    )
    return cross_corr(
        daily, ts_col="day", x_col="clicks", y_col="purchases", lags=[0, 1]
    ).orderBy("lag")


def _q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (operators/timeseries.holt_smoothing):
    daily click volume per event type with a 7-step-ahead forecast —
    the coupled level/trend recursion folds a bounded rows-frame
    through a struct accumulator (pure JVM).  Rows-only gate (the fold
    has no SQL equivalent); exactness vs the serial recursion is pinned
    in test_timeseries.py."""
    from aws_sdk_pandas_spark.operators.timeseries import holt_smoothing
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        holt_smoothing(
            daily, ts_col="day", value_col="n", by=["event_type"],
            alpha=0.4, beta=0.2, horizon=7,
        )
        .select(
            "event_type", "day",
            F.round("holt_level", 6).alias("level"),
            F.round("holt_trend", 6).alias("trend"),
            F.round("holt_forecast", 6).alias("forecast_7d"),
        )
        .orderBy("event_type", "day")
    )


def _q_holt_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt smoothing under a REAL hash oracle: the first 90 days of
    each series keep the full recursion inside holt_smoothing's
    lookback window (512), so the DuckDB RECURSIVE CTE replays the
    exact level/trend recursion (same seed level_1=x_1, trend_1=0,
    same double arithmetic) — the companion to the rows-only
    events_holt_forecast entry, which exercises the truncated-lookback
    path no finite SQL recursion can express."""
    from pyspark.sql import Window

    from aws_sdk_pandas_spark.operators.timeseries import holt_smoothing
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w0 = Window.partitionBy("event_type")
    bounded = (
        daily.withColumn("__d0", F.min("day").over(w0))
        .where(F.col("day") < F.date_add(F.col("__d0"), 90))
        .drop("__d0")
    )
    return (
        holt_smoothing(
            bounded, ts_col="day", value_col="n", by=["event_type"],
            alpha=0.4, beta=0.2, horizon=7,
        )
        .select(
            "event_type", "day",
            F.round("holt_level", 6).alias("level"),
            F.round("holt_trend", 6).alias("trend"),
            F.round("holt_forecast", 6).alias("forecast_7d"),
        )
        .orderBy("event_type", "day")
    )


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (connectors/neptune.label_propagation):
    synchronous LPA with deterministic min-label tie-breaks over the
    part co-purchase graph.  Rows-only gate (iterative argmax has no
    SQL form); determinism across repartitionings pinned in
    test_graph.py."""
    from aws_sdk_pandas_spark.connectors.neptune import label_propagation
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").where("l_linenumber <= 2")
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "l_orderkey")
        .where("pa < pb")
        .select(
            F.concat_ws("-", "pa", "pb").alias("~id"),
            F.lit("co").alias("~label"),
            F.col("pa").cast("string").alias("~from"),
            F.col("pb").cast("string").alias("~to"),
        )
    )
    return (
        label_propagation(edges, max_iter=5)
        .select(F.col("~id").alias("vertex"), "community")
        .orderBy(F.col("vertex").cast("long"))
    )


def _q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour rolling median per user (operators/timeseries.
    rolling_quantile): exact interpolated percentile over ONE
    range-frame window — the robust baseline that pairs with the
    z-score anomaly detector on heavy-tailed metrics."""
    from aws_sdk_pandas_spark.operators.timeseries import rolling_quantile
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        rolling_quantile(
            ev, ts_col="ts", value_col="value", by=["user_id"], window_seconds=3600
        )
        .select("event_id", "user_id", "rq_0_5")
        .orderBy("event_id")
    )


def _q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational surface: UNPIVOT/melt (native Spark ``unpivot`` —
    wide metric columns to long (metric, val) rows, the inverse of the
    pivot gate; map-only, no shuffle)."""
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "metric",
            "val",
        )
        .orderBy("l_orderkey", "l_linenumber", "metric")
    )


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (operators/
    similarity.mine_hard_negatives): for each of 20 anchor embeddings,
    the 3 nearest DIFFERENT-label rows — one broadcast corpus scan +
    one anchor-keyed top-k window; same-label neighbors (positives)
    and the anchor itself never appear."""
    from aws_sdk_pandas_spark.operators.similarity import mine_hard_negatives
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    anchors = emb.where("vec_id < 20").select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("vector"), "label"
    )
    return mine_hard_negatives(
        emb,
        anchors,
        k=3,
        id_col="vec_id",
        vector_col="embedding",
        label_col="label",
        metric="cosine",
    ).orderBy("anchor_id", "rank")


def _q_rag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG pipeline end-to-end (operators/pipeline.build_rag_index +
    rag_search): chunk -> deterministic-hash embed -> IVF cluster ->
    hybrid BM25+ANN query fused by reciprocal rank.  Rows-only gate
    (KMeans assignment has no SQL form); end-to-end relevance and
    determinism pinned in test_curation_ops.py."""
    from aws_sdk_pandas_spark.operators.pipeline import build_rag_index, rag_search
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    idx, cents = build_rag_index(
        docs, chunk_words=32, overlap_words=8, dim=32, n_clusters=8
    )
    idx = idx.localCheckpoint()
    return rag_search(idx, cents, "spark table merge", k=10, dim=32).select(
        "chunk_id", "rrf_score", "n_lists"
    )


def _q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event type (operators/timeseries.
    time_weighted_avg — Timestream's avg(time_weight()) family): each
    observation weighted by how long it was current (LOCF step
    integral), the correct gauge aggregate under irregular sampling.
    One lead window + one keyed aggregate."""
    from aws_sdk_pandas_spark.operators.timeseries import time_weighted_avg
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return time_weighted_avg(
        ev, ts_col="ts", value_col="value", by=["event_type"],
        tie_breakers=["event_id"],
    ).orderBy("event_type")


def _q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type (operators/timeseries.
    resample_ohlc): open/close via min_by/max_by on the (time, id)
    struct — ONE keyed aggregation, no window pass, partitioning-
    invariant tie order."""
    from aws_sdk_pandas_spark.operators.timeseries import resample_ohlc
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        resample_ohlc(
            ev, time_col="ts", value_col="value", by=["event_type"],
            step="1 hour", tie_breakers=["event_id"],
        )
        .orderBy("event_type", "bucket")
    )


def _q_rate_of_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete derivative per user series (operators/timeseries.
    rate_of_change — Timestream rate/derivative): per-minute rate of
    the value gauge, one (group, time) window shuffle."""
    from aws_sdk_pandas_spark.operators.timeseries import rate_of_change
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        rate_of_change(
            ev, ts_col="ts", value_col="value", by=["user_id"],
            tie_breakers=["event_id"], per_seconds=60.0,
        )
        .select("event_id", "user_id", "rate")
        .orderBy("event_id")
    )


def _q_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (operators/stats.linear_fit): drift of the
    value gauge in units/day per event type — regr_* moment aggregates,
    one map-side-combinable pass, O(1) state per group."""
    from aws_sdk_pandas_spark.operators.stats import linear_fit
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    x = (
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).cast("double") / 86400e6
    ).alias("day_x")
    return (
        linear_fit(
            ev.select("event_type", x, "value"),
            x_col="day_x",
            y_col="value",
            by=["event_type"],
        )
        .orderBy("event_type")
    )


def _q_key_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest-key diagnostic (operators/skew.key_distribution): the
    top-10 l_suppkey values with their shuffle shares — the direct
    input to a salting-factor choice before a big join."""
    from aws_sdk_pandas_spark.operators.skew import key_distribution
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return key_distribution(li, "l_suppkey", top_k=10)


def _q_skew_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution summary per candidate column (operators/skew.
    skew_metrics): max_share bounds the straggler task, entropy_norm
    (H = ln N - sum n ln n / N, pure aggregates — no window) says
    whether salting pays off."""
    from aws_sdk_pandas_spark.operators.skew import skew_metrics
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return skew_metrics(li, ["l_suppkey", "l_returnflag"]).orderBy("column")


def _q_url_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for crawl curation (functions/urls.
    url_components — try_parse_url, pure codegen): synth URLs from
    doc_id arithmetic (three host families incl. a co.uk two-label
    public suffix), parse back scheme/host/registrable-domain/path/
    depth/query; the oracle recomputes every part from the same
    arithmetic, so synth -> parse must be the identity."""
    from aws_sdk_pandas_spark.functions.urls import url_components
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    host = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("www.site"), F.col("doc_id") % 7, F.lit(".com")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("news.portal"), F.col("doc_id") % 5, F.lit(".co.uk")),
        )
        .otherwise(F.concat(F.lit("cdn.img"), F.col("doc_id") % 4, F.lit(".org")))
    )
    path = F.repeat(F.lit("/p"), (F.col("doc_id") % 4).cast("int"))
    query = F.when(
        F.col("doc_id") % 2 == 1, F.concat(F.lit("?q="), F.col("doc_id"))
    ).otherwise(F.lit(""))
    urls = docs.select(
        "doc_id", F.concat(F.lit("https://"), host, path, query).alias("url")
    )
    return (
        url_components(urls)
        .select(
            "doc_id", "url_scheme", "url_host", "url_domain", "url_path",
            "url_depth", "url_query",
        )
        .orderBy("doc_id")
    )


def _q_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct via MERGEABLE HLL state (operators/
    aggregates: approx_distinct in the partial/merge/finalize algebra):
    three day-sliced partials merged with hll_union_agg answer the
    running distinct-user count without re-scanning history.  At gate
    cardinality the Datasketches sketch is still in exact
    (coupon-list) mode, so COUNT(DISTINCT) is a valid oracle — the
    point under test is the merge algebra, not the asymptotic
    estimate."""
    from aws_sdk_pandas_spark.operators.aggregates import (
        finalize_aggregates,
        merge_aggregates,
        partial_aggregate,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    metrics = {"user_id": ["approx_distinct", "count"]}
    states = [
        partial_aggregate(
            ev.where(F.dayofmonth("ts") % 3 == m), ["event_type"], metrics
        )
        for m in range(3)
    ]
    merged = merge_aggregates(states, ["event_type"])
    return (
        finalize_aggregates(merged, metrics, ["event_type"])
        .select(
            "event_type",
            F.col("user_id_approx_distinct").alias("n_users"),
            F.col("user_id_count").alias("n_events"),
        )
        .orderBy("event_type")
    )


def _q_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery (dq.suggest_keys): uniqueness profile of
    orders columns in ONE aggregation job — o_orderkey surfaces as the
    key, o_custkey and o_orderstatus don't."""
    from aws_sdk_pandas_spark.dq import suggest_keys
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return suggest_keys(
        o, ["o_orderkey", "o_custkey", "o_orderstatus"]
    ).orderBy("column")


def _q_fk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK containment (dq.fk_containment): lineitem.l_orderkey against
    orders.o_orderkey — both sides reduce to distinct-key tables BEFORE
    the semi-join, so the comparison is bounded by key cardinality, not
    table size; referential integrity holds (containment = 1.0)."""
    from aws_sdk_pandas_spark.dq import fk_containment
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return fk_containment(li, o, child_col="l_orderkey", parent_col="o_orderkey")


def _q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib repetitiveness signal (operators/textstats.
    compression_ratio — the MassiveText/Gopher boilerplate detector):
    one Arrow-batched pass.  Rows-only gate (no SQL zlib); value
    exactness vs direct zlib pinned in test_textstats.py."""
    from aws_sdk_pandas_spark.operators.textstats import compression_ratio
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return compression_ratio(docs).select("doc_id", "zlib_ratio").orderBy("doc_id")


def _q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier distance (operators/features.fit/apply_
    mahalanobis): correlation-aware distance over (value, event time)
    — the d x d inverse covariance folds into codegen literals, no UDF.
    For d=2 the inverse has a closed form, so the oracle recomputes the
    identical quadratic form from VAR_SAMP/COVAR_SAMP."""
    from aws_sdk_pandas_spark.operators.features import (
        apply_mahalanobis,
        fit_mahalanobis,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_id",
        F.col("value").cast("double").alias("x"),
        (F.unix_micros(F.col("ts").cast("timestamp_ltz")).cast("double") / 1e6).alias(
            "y"
        ),
    )
    model = fit_mahalanobis(base, ["x", "y"])
    return (
        apply_mahalanobis(base, model)
        .select("event_id", "mahalanobis")
        .orderBy("event_id")
    )


def _q_ks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test (operators/stats.
    ks_test): exact sup|F_a - F_b| between the click and purchase value
    distributions.  Raw rows reduce to a distinct-value count table,
    then the two cumulative counts ride ONE range-partitioned two-phase
    prefix sum — no single-partition window.  Oracle recomputes the
    same CDFs with a SQL window (valid at gate cardinalities)."""
    from aws_sdk_pandas_spark.operators.stats import ks_test
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return ks_test(
        ev, value_col="value", group_col="event_type",
        group_a="click", group_b="purchase",
    )


def _q_mwu_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum test (operators/stats.mann_whitney_u):
    nonparametric click-vs-view comparison, robust to the heavy tails
    that distort Welch's z.  Same distinct-value + two-phase prefix-sum
    shape as ks_test; tie-corrected normal approximation."""
    from aws_sdk_pandas_spark.operators.stats import mann_whitney_u
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return mann_whitney_u(
        ev, value_col="value", group_col="event_type",
        group_a="click", group_b="view",
    )


def _q_chisq_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence + Cramer's V (operators/stats.
    chi_square_test) between order status and priority: the raw table
    reduces to the contingency table in one map-side-combinable pass;
    marginals are aggregations OF that bounded table, broadcast back."""
    from aws_sdk_pandas_spark.operators.stats import chi_square_test
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return chi_square_test(o, col_a="o_orderstatus", col_b="o_orderpriority")


def _q_anova_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (operators/stats.anova_oneway): does the event
    value's MEAN differ across ANY event type — the k-group screen run
    before pairwise drill-down.  ONE map-side-combinable aggregation to
    k rows of (n, mean, var_samp); SSB from means centered on the
    broadcast grand mean (no sum-of-squares cancellation)."""
    from aws_sdk_pandas_spark.operators.stats import anova_oneway
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return anova_oneway(ev, value_col="value", group_col="event_type")


def _q_kruskal_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (operators/stats.kruskal_wallis): the k-group
    rank test — mann_whitney_u generalized past two cohorts, robust to
    the heavy tails that distort ANOVA.  Distinct-value reduction + ONE
    two-phase prefix sum for midranks; H from the k-row rank-sum table,
    tie-corrected."""
    from aws_sdk_pandas_spark.operators.stats import kruskal_wallis
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return kruskal_wallis(ev, value_col="value", group_col="event_type")


def _q_spearman_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (operators/stats.spearman_corr)
    between quantity and extended price: Pearson on average ranks —
    monotone association that survives outliers.  Midranks via two
    distinct-value prefix sums joined back on the value keys; final
    pass is the stable covar/stddev form (try_divide: zero-variance
    reads NULL, not an ANSI error)."""
    from aws_sdk_pandas_spark.operators.stats import spearman_corr
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return spearman_corr(
        li, x_col="l_quantity", y_col="l_extendedprice", round_to=4
    )


def _q_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (operators/evaluation.cohen_kappa) between the
    engine's n-gram language_id prediction and the labeled lang column
    — the chance-corrected weak-label-vs-gold agreement score (percent
    agreement flatters any skewed label mix).  One scan computes both
    labelings row-local, one map-side-combinable pass reduces to the
    label-pair confusion table; marginals/diagonal aggregate that
    bounded table.  Exact-integer-count ratios: DuckDB reproduces the
    arithmetic digit-for-digit."""
    from aws_sdk_pandas_spark.functions.text import language_id
    from aws_sdk_pandas_spark.operators.evaluation import cohen_kappa
    from aws_sdk_pandas_spark.sources import read_parquet

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pred = d.select(
        language_id("text").alias("pred"), F.col("lang").alias("label")
    )
    return cohen_kappa(pred, col_a="pred", col_b="label")


def _q_source_lang_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (operators/evaluation.krippendorff_alpha)
    with unit=source, value=lang: chance-corrected within-source label
    homogeneity — "are each source's language labels consistent beyond
    what the corpus mix predicts", the mixed-language-source detector.
    One raw pass to the (source, lang) count table; D_o/D_e aggregate
    bounded tables; singly-documented sources are unpairable and
    excluded from both terms."""
    from aws_sdk_pandas_spark.operators.evaluation import krippendorff_alpha
    from aws_sdk_pandas_spark.sources import read_parquet

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return krippendorff_alpha(d, unit_col="source", value_col="lang")


def _q_benford_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (operators/stats.benford_test) on
    extended price — the fabricated-numbers detector for ingested
    financial columns; ONE aggregation, pure-codegen digit extraction."""
    from aws_sdk_pandas_spark.operators.stats import benford_test
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return benford_test(li, value_col="l_extendedprice")


def _q_gini_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per priority class (operators/stats.
    gini_coefficient): exact sorted-formulation Gini, ranks from one
    keyed window shuffle (ungrouped mode uses the two-phase prefix-sum
    rank instead — no global-order funnel)."""
    from aws_sdk_pandas_spark.operators.stats import gini_coefficient
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return gini_coefficient(
        o, value_col="o_totalprice", by=["o_orderpriority"]
    ).orderBy("o_orderpriority")


def _q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curve (operators/behavior.survival_curve):
    per-user lifetime = first-to-last event gap, churned iff the last
    event predates the dataset horizon by >7 days (otherwise CENSORED
    — the still-active correction naive churn rates get wrong).  Raw
    events reduce to per-(duration) counts before any window."""
    from aws_sdk_pandas_spark.operators.behavior import survival_curve
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    d = F.col("ts").cast("date")
    mx = ev.agg(F.max(d).alias("__mx"))
    per = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(d), F.min(d)).alias("dur"),
            F.when(F.datediff(F.max("__mx"), F.max(d)) > 7, 1)
            .otherwise(0)
            .alias("ev"),
        )
    )
    return survival_curve(per, duration_col="dur", event_col="ev")


def _q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov matrix (operators/behavior.
    event_transitions): P(next event type | current) from one keyed
    lead window + a pair-keyed aggregation; conditionals come from a
    src-marginal aggregation of the bounded pair table broadcast
    back."""
    from aws_sdk_pandas_spark.operators.behavior import event_transitions
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return event_transitions(
        ev, key_col="user_id", state_col="event_type",
        order_by=["ts", "event_id"],
    )


def _q_rfm_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of customers by order history (operators/
    behavior.rfm_segments): rank-quintile scores per metric WITHOUT a
    global ntile window — three two-phase prefix-sum ranking passes
    over the already-reduced one-row-per-customer table."""
    from aws_sdk_pandas_spark.operators.behavior import rfm_segments
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return rfm_segments(
        o,
        key_col="o_custkey",
        ts_col="o_orderdate",
        amount_col="o_totalprice",
        monetary_round=2,
    ).orderBy("o_custkey")


def _eval_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scored frame for the evaluation gates: the engine's own
    quality_score as the classifier score, lang='en' as the label —
    exactly the 'trust the filter before sweeping 100 TB' setup."""
    from aws_sdk_pandas_spark.functions.text import quality_score
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        quality_score("text").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )


def _q_eval_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC/log-loss/Brier summary (operators/evaluation.
    binary_metrics): tie-aware rank-sum AUC over the distinct-score
    count table + one two-phase prefix sum; losses in one raw-row
    aggregation."""
    from aws_sdk_pandas_spark.operators.evaluation import binary_metrics

    return binary_metrics(
        _eval_scored(spark, sf_dir), score_col="score", label_col="label"
    )


def _q_eval_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC + PR operating points (operators/evaluation.roc_curve): one
    row per distinct score, cumulative counts from ONE descending
    prefix sum — the threshold-picking table for corpus filtering."""
    from aws_sdk_pandas_spark.operators.evaluation import roc_curve

    return roc_curve(
        _eval_scored(spark, sf_dir), score_col="score", label_col="label"
    )


def _q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (operators/evaluation.calibration_curve):
    fixed-width score bins, mean score vs positive fraction, ONE
    map-side-combinable aggregation."""
    from aws_sdk_pandas_spark.operators.evaluation import calibration_curve

    return calibration_curve(
        _eval_scored(spark, sf_dir), score_col="score", label_col="label", n_bins=10
    )


def _q_eval_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift / gains deciles (operators/evaluation.lift_curve):
    best-score-first global rank via the two-phase prefix sum (doc_id
    tie-break), equal-population buckets, cumulative positive capture."""
    from aws_sdk_pandas_spark.operators.evaluation import lift_curve

    return lift_curve(
        _eval_scored(spark, sf_dir),
        score_col="score",
        label_col="label",
        id_col="doc_id",
        n_buckets=10,
    )


def _q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (operators/textstats.collocations):
    bigrams from a map-only zip of each token array with its own tail
    (no self-join), vocabulary-bounded pair/unigram aggregations,
    top-k by PMI with min_count guarding the hapax pathology."""
    from aws_sdk_pandas_spark.operators.textstats import collocations
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return collocations(docs, text_col="text", min_count=5, top_k=100)


def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch-Kincaid readability (operators/textstats.
    readability): pure-codegen word/sentence/vowel-group counts, one
    map-only projection — scan-speed at any scale."""
    from aws_sdk_pandas_spark.operators.textstats import readability

    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return readability(docs, id_col="doc_id", text_col="text").orderBy("doc_id")


def _q_eval_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (operators/evaluation.fit_isotonic /
    apply_isotonic): distributed PAVA via MLlib over the scored docs
    frame, JVM-side piecewise-linear apply.  Rows-only: the pooled
    violator blocks have no SQL equivalent (test_evaluation.py pins
    the fit against an independent numpy PAVA instead)."""
    from aws_sdk_pandas_spark.operators.evaluation import (
        apply_isotonic,
        fit_isotonic,
    )

    scored = _eval_scored(spark, sf_dir)
    model = fit_isotonic(scored, score_col="score", label_col="label")
    return (
        apply_isotonic(scored, model, score_col="score")
        .select("doc_id", "score", "calibrated")
        .orderBy("doc_id")
    )


def _q_eval_isotonic_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration under a REAL hash oracle — companion to the
    rows-only eval_isotonic_calibrated: scores round to 4 decimals so
    the tie-block structure is bit-robust across engines, and DuckDB
    computes the UNIQUE isotonic L2 solution from the minimax
    characterization fitted[i] = max_{j<=i} min_{k>=i} wmean(y[j..k])
    (prefix sums + one suffix-min + one group-max over the O(n^2) pair
    grid — n is DISTINCT rounded scores, bounded by 10^4+1 regardless
    of corpus size).  MLlib's distributed PAVA must land on the same
    block values; prediction at a training score is the block value
    exactly (interpolating between equal boundary predictions)."""
    from aws_sdk_pandas_spark.operators.evaluation import (
        apply_isotonic,
        fit_isotonic,
    )

    # BINARY quantization floor(x*4096+0.5)/4096 instead of decimal
    # round(): the corpus scores are decimal-ish rationals that land
    # EXACTLY on .00005 decimal midpoints, where Spark's HALF_UP,
    # DuckDB's ROUND, and 1-ulp raw-bit differences all disagree
    # (observed, 3 docs at sf0.01); power-of-two scaling is exact in
    # floating point and its midpoints (odd multiples of 2^-13) never
    # coincide with decimal-valued data
    scored = _eval_scored(spark, sf_dir).select(
        "doc_id",
        (F.floor(F.col("score") * 4096 + F.lit(0.5)) / 4096.0).alias("score"),
        "label",
    )
    model = fit_isotonic(scored, score_col="score", label_col="label")
    return (
        apply_isotonic(scored, model, score_col="score")
        .select("doc_id", "score", F.round("calibrated", 6).alias("calibrated"))
        .orderBy("doc_id")
    )


def _q_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval evaluation (operators/retrieval.ranking_metrics):
    per-source ranked lists (rank = doc_id order, top 10) scored
    against graded judgments (doc_id % 4 -> rel 2/1/0/0) — the oracle
    replays precision/recall/MRR/nDCG@10 closed-form with DuckDB
    windows."""
    from pyspark.sql.window import Window

    from aws_sdk_pandas_spark.operators.retrieval import ranking_metrics
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 400")
        .select("doc_id", "source")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    results = (
        docs.select(
            F.col("source").alias("query_id"),
            F.col("doc_id"),
            F.row_number().over(w).alias("rank"),
        )
        .where("rank <= 10")
    )
    qrels = docs.select(
        F.col("source").alias("query_id"),
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, 2.0)
        .when(F.col("doc_id") % 4 == 1, 1.0)
        .alias("rel"),
    ).where("rel > 0")
    return ranking_metrics(results, qrels, k=10).orderBy("query_id")


def _q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk gate (dq.k_anonymity): equivalence
    classes over (nation, segment) quasi-identifiers in one map-side
    aggregation; the summary aggregates the class-bounded result."""
    from aws_sdk_pandas_spark.dq import k_anonymity
    from aws_sdk_pandas_spark.sources import read_parquet

    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    return k_anonymity(c, quasi_cols=["c_nationkey", "c_mktsegment"], k=10)


def _q_risky_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actionable k-anonymity detail (dq.risky_classes): every
    violating quasi-identifier combination with its class size and
    distinct sensitive values — output bounded by violators."""
    from aws_sdk_pandas_spark.dq import risky_classes
    from aws_sdk_pandas_spark.sources import read_parquet

    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    return risky_classes(
        c,
        quasi_cols=["c_nationkey", "c_mktsegment"],
        k=10,
        sensitive_col="c_acctbal",
    )


def _q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-disclosure check (dq.l_diversity): distinct market
    segments per nation class — k-anonymity's blind spot when a whole
    class shares one sensitive value."""
    from aws_sdk_pandas_spark.dq import l_diversity
    from aws_sdk_pandas_spark.sources import read_parquet

    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    return l_diversity(
        c, quasi_cols=["c_nationkey"], sensitive_col="c_mktsegment", l=5
    )


def _q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (operators/itemsets.
    item_similarity): the bought-X-also-bought-Y table over order
    baskets — both join sides are the DEDUPED (basket, item) table so
    the one self-join shuffle is bounded by basket sizes; marginals
    join back on the item key; min_pairs drops the noise tail."""
    from aws_sdk_pandas_spark.operators.itemsets import item_similarity
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return item_similarity(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pairs=2
    )


def _q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical encoders (operators/features.target_encode /
    frequency_encode): smoothed mean-label, leave-one-out (train-time
    leakage block), and popularity-share encodings of order priority
    against the 'finished' label — each one category-bounded
    aggregation broadcast back, the one-row prior crossJoined."""
    from aws_sdk_pandas_spark.operators.features import (
        frequency_encode,
        target_encode,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    # persist the 3-column base: each chained encoder derives its stats
    # AND prior subtrees from its INPUT plan, so the unpersisted chain
    # re-planned the whole upstream per subtree — 15 parquet scans of
    # orders in the executed plan (tools/scan_count_audit.py); one narrow
    # cache collapses them to one scan at any scale (guide §5/§6).
    # Lifetime is caller-owned (returned plan scans it lazily).
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("__y"),
    ).persist()
    out = target_encode(
        base, cat_col="o_orderpriority", label_col="__y",
        smoothing=10.0, out_col="te",
    )
    out = target_encode(
        out, cat_col="o_orderpriority", label_col="__y",
        smoothing=10.0, leave_one_out=True, out_col="te_loo",
    )
    out = frequency_encode(out, cat_col="o_orderpriority", out_col="freq")
    return out.select("o_orderkey", "te", "te_loo", "freq").orderBy("o_orderkey")


def _q_ols_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple regression by distributed normal equations (operators/
    stats.fit_ols): price ~ quantity + discount, two schema-bounded
    CENTERED aggregations + a driver 2x2 solve.  Oracle recomputes the
    closed-form two-feature solution from VAR_SAMP/COVAR_SAMP (the
    covariance scaling cancels in the solve)."""
    from aws_sdk_pandas_spark.operators.stats import fit_ols
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    m = fit_ols(li, x_cols=["l_quantity", "l_discount"], y_col="l_extendedprice")
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (
                    round(m["coef"][0], 6),
                    round(m["coef"][1], 6),
                    round(m["intercept"], 6),
                    round(m["r2"], 6),
                    m["n"],
                )
            ],
            1,
        ),
        "coef_quantity double, coef_discount double, intercept double, "
        "r2 double, n bigint",
    )


def _q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant user journeys (operators/behavior.top_paths): per-user
    first-5-event path strings built inside ONE aggregation
    (sort_array over collected structs), counted in a second
    path-bounded aggregation, deterministic top-k."""
    from aws_sdk_pandas_spark.operators.behavior import top_paths
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return top_paths(
        ev, key_col="user_id", state_col="event_type",
        order_by=["ts", "event_id"], max_len=5, top_k=20,
    )


def _q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple smoothing (operators/timeseries.
    holt_winters): weekly-seasonal daily-revenue forecast per event
    type — the bounded rows-frame JVM struct fold with O(period)
    seasonal state.  Rows-only: the array-state fold has no SQL
    equivalent (test_timeseries.py pins it against the serial
    recursion exactly instead)."""
    from aws_sdk_pandas_spark.operators.timeseries import holt_winters
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum("value").alias("v"))
    return (
        holt_winters(
            daily, ts_col="d", value_col="v", period=7,
            by=["event_type"], alpha=0.4, beta=0.1, gamma=0.3, horizon=7,
        )
        .select(
            "event_type",
            "d",
            F.round("hw_level", 4).alias("level"),
            F.round("hw_trend", 4).alias("trend"),
            F.round("hw_seasonal", 4).alias("seasonal"),
            F.round("hw_forecast", 4).alias("forecast_7d"),
        )
        .orderBy("event_type", "d")
    )


def _q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean extended price (operators/stats.
    bootstrap_ci): md5-deterministic Poisson(1) weights per (row,
    replicate), map-side partial aggregation bounds shuffle volume at
    replicates x partitions.  The oracle re-derives the IDENTICAL
    weights from the same md5 stream."""
    from aws_sdk_pandas_spark.operators.stats import bootstrap_ci
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        "l_extendedprice",
    )
    return bootstrap_ci(
        li, value_col="l_extendedprice", id_col="rid",
        n_replicates=100, conf=0.95, seed=42,
    )


def _q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel depth (operators/behavior.
    window_funnel, ClickHouse windowFunnel semantics): deepest
    view->click->purchase prefix completed within 24h of its step-1
    event, per user — the greedy chain DP as a pure-JVM array fold.
    Rows-only: the stateful DP has no SQL equivalent
    (test_behavior.py pins it against a serial replication)."""
    from aws_sdk_pandas_spark.operators.behavior import window_funnel
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        window_funnel(
            ev, key_col="user_id", ts_col="ts", state_col="event_type",
            steps=["view", "click", "purchase"], window_seconds=86400.0,
        )
        .orderBy("user_id")
    )


def _q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (operators/stats.diff_in_diff):
    click-vs-view value shift across the mid-January boundary — all
    four cells' n/mean/variance in ONE conditional aggregation, ATT
    strips the shared time trend."""
    from aws_sdk_pandas_spark.operators.stats import diff_in_diff
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_type",
        "value",
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
        .cast("int")
        .alias("post"),
    )
    return diff_in_diff(
        base, group_col="event_type", period_col="post", metric_col="value",
        treat_value="click", post_value=1, control_value="view",
    )


def _q_cuped_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (operators/stats.cuped_adjust):
    extended price adjusted by the quantity covariate — one moment
    aggregation broadcast back, codegen projection."""
    from aws_sdk_pandas_spark.operators.stats import cuped_adjust
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        cuped_adjust(
            li, metric_col="l_extendedprice", covariate_col="l_quantity",
            out_col="price_cuped", round_to=4,
        )
        .select("l_orderkey", "l_linenumber", "price_cuped")
        .orderBy("l_orderkey", "l_linenumber")
    )


def _q_psi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature PSI (operators/drift.psi_numeric): price drift
    between early and late ship-date cohorts — baseline-quantile bin
    edges (one exact-percentile pass, rounded engine-exact), each
    snapshot reduces with one map-side count."""
    from aws_sdk_pandas_spark.operators.drift import psi_numeric
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    cut = F.lit("1998-05-24").cast("timestamp")
    return psi_numeric(
        li.where(F.col("l_shipdate") < cut),
        li.where(F.col("l_shipdate") >= cut),
        value_col="l_extendedprice",
        n_bins=10,
    )


def _q_woe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE / information value (operators/features.woe_iv): how much
    order priority separates the 'finished' label — one
    category-bounded aggregation, Laplace-smoothed so pure categories
    stay finite."""
    from aws_sdk_pandas_spark.operators.features import woe_iv
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    base = o.select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("__y"),
    )
    return woe_iv(base, cat_col="o_orderpriority", label_col="__y")


def _q_conformal_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration (operators/stats.fit_conformal):
    md5-deterministic calibration split, centered-normal-equation OLS
    on the rest, conformal radius = exact k-th order statistic of
    calibration |residuals| via prefix-sum rank (never a driver sort
    of 30%% of the corpus).  The oracle re-derives the whole chain:
    split, closed-form 2-feature OLS, ROW_NUMBER order statistic."""
    from aws_sdk_pandas_spark.operators.stats import fit_conformal
    from aws_sdk_pandas_spark.sources import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        "l_quantity", "l_discount", "l_extendedprice",
    )
    m = fit_conformal(
        li, x_cols=["l_quantity", "l_discount"], y_col="l_extendedprice",
        id_col="rid", alpha=0.1, calib_frac=0.3, seed=42,
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(round(m["q"], 4), m["alpha"], m["n_train"], m["n_calib"])], 1
        ),
        "q double, alpha double, n_train bigint, n_calib bigint",
    )


def _q_collapse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc consecutive-duplicate-line collapse (functions/text.
    collapse_repeated_lines): docs are newline-ized (space->\\n) so
    repeated-word runs become repeated lines, then collapsed — a pure
    JVM index-aware array filter, scan-speed."""
    from aws_sdk_pandas_spark.functions.text import collapse_repeated_lines
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    lined = docs.select(
        "doc_id", F.replace(F.col("text"), F.lit(" "), F.lit("\n")).alias("t")
    )
    return lined.select(
        "doc_id", collapse_repeated_lines("t").alias("collapsed")
    ).orderBy("doc_id")


def _q_encoding_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-damage screen (functions/text.
    encoding_issues): replacement-char, control-char, and
    UTF-8-as-Latin-1 artifact counts as pure codegen regexp counts."""
    from aws_sdk_pandas_spark.functions.text import encoding_issues
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    e = encoding_issues("text")
    return docs.select(
        "doc_id",
        e["n_replacement"].alias("n_replacement"),
        e["n_control"].alias("n_control"),
        e["n_mojibake"].alias("n_mojibake"),
        e["suspect"].alias("suspect"),
    ).orderBy("doc_id")


def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostics (operators/bpe.vocab_stats): fertility
    and char-token (OOV-fragmentation) rate of the corpus-trained BPE
    vocab over the corpus itself — distinct-word reduction first, one
    Arrow-batched merge walk per DISTINCT word, frequency-weighted
    sums.  Rows-only (BPE machinery; exactness pinned in test_bpe.py
    against a serial recompute)."""
    from aws_sdk_pandas_spark.operators.bpe import train_bpe, vocab_stats
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, n_merges=40, max_words=8_000)
    return vocab_stats(docs, merges)


def _q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order status and priority (operators/
    stats.mutual_information): the association strength chi-square's
    p-value can't express at corpus n — contingency reduction, bounded
    marginals broadcast, entropy folds."""
    from aws_sdk_pandas_spark.operators.stats import mutual_information
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return mutual_information(o, col_a="o_orderstatus", col_b="o_orderpriority")


def _q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query (operators/skyline.pareto_front): biggest-part-
    for-least-money front — per-partition Arrow local fronts (a
    globally-non-dominated point survives every subset), then one
    exact pass over the survivor sliver.  Oracle is the O(n²)
    NOT-EXISTS dominance check, valid at gate cardinality."""
    from aws_sdk_pandas_spark.operators.skyline import pareto_front
    from aws_sdk_pandas_spark.sources import read_parquet

    p = read_parquet(spark, f"{sf_dir}/part.parquet")
    return (
        pareto_front(p, maximize=["p_size"], minimize=["p_retailprice"])
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


def _q_balance_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing (operators/sampling.
    balance_classes): every status class downsampled toward the rarest
    via md5 keep decisions — one class-bounded aggregation broadcast
    back, codegen hash filter, engine-rederivable."""
    from aws_sdk_pandas_spark.operators.sampling import balance_classes
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return (
        balance_classes(o, label_col="o_orderstatus", key_col="o_orderkey")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def _q_diverse_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diverse representatives (operators/similarity.
    diverse_subset): farthest-first traversal, one codegen scan per
    pick — the eval-set selector uniform sampling gets wrong.
    Rows-only (iterative; serial-greedy equality pinned in
    test_vectors_logs.py)."""
    from aws_sdk_pandas_spark.operators.similarity import diverse_subset
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return diverse_subset(emb, 16, id_col="vec_id").select(
        "vec_id", "sel_order", "sel_distance"
    )


def _q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU (operators/behavior.rolling_active_users): events
    dedupe to (day, user) pairs, each pair contributes FORWARD to the
    w report days it covers — the explode-the-deduped-table inversion
    that avoids a per-day range join over raw events."""
    from aws_sdk_pandas_spark.operators.behavior import rolling_active_users
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return rolling_active_users(
        ev, ts_col="ts", user_col="user_id", windows=[1, 7]
    )


def _q_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error-rate control chart (operators/timeseries.p_chart):
    binomial 3-sigma bands around the overall rate, widening as
    1/sqrt(n) for thin days — ONE aggregation to the period table,
    one-row overall rate broadcast back."""
    from aws_sdk_pandas_spark.operators.timeseries import p_chart
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    base = ev.select(
        F.col("ts").cast("date").alias("day"),
        # when/otherwise (not a bare ==): a NULL event_type must count
        # as 0 exactly like the oracle's CASE, not drop the row
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    return p_chart(base, time_col="day", flag_col="is_err")


def _q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves (operators/behavior.cohort_ltv): first-touch
    cohorts x days-since-first-touch cumulative revenue per user —
    first-touch collapse, bounded (cohort, offset) revenue table,
    cohort-keyed cumulative window, sizes broadcast back."""
    from aws_sdk_pandas_spark.operators.behavior import cohort_ltv
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return cohort_ltv(
        o, key_col="o_custkey", ts_col="o_orderdate",
        amount_col="o_totalprice", round_to=4,
    )


def _q_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency (operators/behavior.step_latency): first
    view -> first subsequent purchase per user — first-step collapse,
    conditional-min against the bounded table, no raw-event window."""
    from aws_sdk_pandas_spark.operators.behavior import step_latency
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return step_latency(
        ev, key_col="user_id", ts_col="ts", state_col="event_type",
        from_state="view", to_state="purchase",
    )


def _q_title_body_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column coherence (functions/text.token_jaccard): each
    doc's first-5-word 'title' against its full text — pure JVM token
    set ops, scan-speed."""
    from aws_sdk_pandas_spark.functions.text import token_jaccard, tokens
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    titled = docs.select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 5), " ").alias("title"),
        "text",
    )
    return titled.select(
        "doc_id",
        F.round(token_jaccard("title", "text"), 6).alias("coherence"),
    ).orderBy("doc_id")


def _q_nzv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero-variance screen (dq.near_zero_variance, caret
    recipe): degenerate-column report over order status/priority —
    value-cardinality-bounded frequency aggregations per column."""
    from aws_sdk_pandas_spark.dq import near_zero_variance
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return near_zero_variance(
        o, ["o_orderstatus", "o_orderpriority"]
    ).orderBy("column")


def _q_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (operators/stats.fdr_correct)
    over a deterministic md5-derived p-value table (the operator under
    test is the step-up correction itself — p provenance is upstream's
    job): rank, monotone q-values, rejection set."""
    from aws_sdk_pandas_spark.operators.sampling import _md5_uniform
    from aws_sdk_pandas_spark.operators.stats import fdr_correct
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    tests = (
        o.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(300)
        .withColumn("p", F.round(F.pow(_md5_uniform("o_orderkey", 11), 2), 8))
    )
    return fdr_correct(tests, p_col="p", alpha=0.05).orderBy("o_orderkey")


def _q_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast evaluation (operators/timeseries.forecast_accuracy):
    persistence (lag-1) forecast of event values per user, scored per
    event type — MAE/RMSE/sMAPE plus MASE against the in-sample naive
    benchmark (season=1), NULL-lag rows excluded."""
    from aws_sdk_pandas_spark.operators.timeseries import forecast_accuracy
    from aws_sdk_pandas_spark.sources import read_parquet
    from pyspark.sql import Window

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.withColumn("fcst", F.lag("value").over(w)).where(
        F.col("fcst").isNotNull()
    )
    return forecast_accuracy(
        base, actual_col="value", forecast_col="fcst",
        by=["event_type"], ts_col="ts", season=1, tie_breakers=["event_id"],
    )


def _q_burst_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scan-statistic burst profile (operators/timeseries.
    burst_detect): per user, the max events in ANY trailing hour plus
    when it peaked — one keyed range-frame window, state bounded by
    the window span."""
    from aws_sdk_pandas_spark.operators.timeseries import burst_detect
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return burst_detect(
        ev, ts_col="ts", by=["user_id"], window="1 hour", threshold=20
    )


def _q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness per user (operators/timeseries.
    burstiness): inter-event-time dispersion separating scripted
    cadence (B=-1) from organic (B~0) and bursty (B->1) traffic."""
    from aws_sdk_pandas_spark.operators.timeseries import burstiness
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return burstiness(ev, ts_col="ts", by=["user_id"], tie_breakers=["event_id"])


def _q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-DQ gate (vectors.embedding_health): NULL/NaN/zero/mixed-
    dim counts + norm percentiles in ONE aggregation — run before any
    index build on a fresh embedding batch."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.vectors import embedding_health

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return embedding_health(emb, vector_col="embedding")


def _q_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-volume monitor (dq.volume_anomalies): per-type daily
    counts with robust median/MAD flags — the broken-feed screen whose
    baseline is immune to the outliers it hunts."""
    from aws_sdk_pandas_spark.dq import volume_anomalies
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return volume_anomalies(ev, ts_col="ts", by=["event_type"])


def _q_join_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join diagnostic (dq.join_health): orders-vs-customer
    match rates, key multiplicities, and the EXACT inner-join output
    size — computed from distinct-key count tables without running the
    join."""
    from aws_sdk_pandas_spark.dq import join_health
    from aws_sdk_pandas_spark.sources import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet").withColumnRenamed(
        "o_custkey", "custkey"
    )
    c = read_parquet(spark, f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "custkey"
    )
    return join_health(o, c, ["custkey"])


def _q_ratio_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric test (operators/stats.ratio_ab_test):
    per-user purchase-per-view rate across an md5-deterministic split
    — the CORRECT variance for a ratio of correlated sums; one moment
    aggregation per group."""
    from aws_sdk_pandas_spark.operators.stats import ratio_ab_test
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    per_user = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("purchases"),
        F.sum((F.col("event_type") == "view").cast("int")).alias("views"),
    ).withColumn(
        "grp",
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
    )
    return ratio_ab_test(
        per_user, group_col="grp", num_col="purchases", den_col="views",
        baseline="even",
    )


def _q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/offset completeness audit (dq.sequence_gaps): holes in the
    per-user event_id sequence — distinct collapse then one keyed lag,
    output bounded by the number of HOLES."""
    from aws_sdk_pandas_spark.dq import sequence_gaps
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return sequence_gaps(ev, seq_col="event_id", by=["user_id"])


def _q_ess_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size (operators/stats.
    effective_sample_size) of the DSIR importance weights per language
    — the honest n after weighting toward the English target."""
    from aws_sdk_pandas_spark.operators.sampling import dsir_importance_weights
    from aws_sdk_pandas_spark.operators.stats import effective_sample_size
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    weighted = dsir_importance_weights(
        docs, docs.where(F.col("lang") == "en"), buckets=512
    ).withColumn(
        # exp of the ROUNDED log-weight: the oracle re-derives weights
        # from the 6-decimal form, and exp amplifies any mismatch
        "w", F.exp(F.round(F.col("log_weight"), 6))
    )
    labeled = weighted.join(docs.select("doc_id", "lang"), "doc_id")
    return effective_sample_size(labeled, weight_col="w", by=["lang"])


def _q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window metric coupling (operators/timeseries.
    rolling_corr): value vs its square over a 1h window per event type
    — one range-frame window carrying all five co-moment sums."""
    from aws_sdk_pandas_spark.operators.timeseries import rolling_corr
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_id", "event_type", "ts",
        F.col("value").alias("x"),
        (F.col("value") * F.col("value")).alias("y"),
    )
    return (
        rolling_corr(
            base, ts_col="ts", x_col="x", y_col="y", by=["event_type"],
            window_seconds=3600, min_points=5,
        )
        .select("event_id", "rolling_corr")
        .orderBy("event_id")
    )


def _q_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex + latency SLO summary (operators/stats.apdex): the
    industry-standard satisfaction collapse with its percentiles, one
    aggregation per event type (T=10)."""
    from aws_sdk_pandas_spark.operators.stats import apdex
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return apdex(ev, latency_col="value", threshold=10.0, by=["event_type"])


def _q_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics under the hash gate (lakehouse.to_deltalake +
    lakehouse_shim.merge, reference: athena/_write_iceberg.py:297-420):
    orders written as a versioned lakelite table, a derived source batch
    of updates (+1000.0 on price, status 'U', every 10th key) and inserts
    (shifted keys, status 'N') merged with file-level copy-on-write, the
    post-merge snapshot aggregated.  The oracle recomputes the upsert
    relationally, so a lost insert, an unapplied update, or a duplicated
    carried-over file hash-mismatches."""
    from aws_sdk_pandas_spark import lakehouse, lakehouse_shim

    _load(spark, sf_dir)
    path = _tmpdir("asps-lakelite-") + "/orders_tbl"
    base = spark.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders"
    )
    lakehouse.to_deltalake(base.repartition(8, "o_orderkey"), path, mode="overwrite")
    updates = spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               o_totalprice + 1000.0 AS o_totalprice,
               'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 10 = 0
        """
    )
    inserts = spark.sql(
        """
        SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice,
               'N' AS o_orderstatus
        FROM orders WHERE o_orderkey % 1000 = 0
        """
    )
    lakehouse_shim.merge(spark, updates.unionByName(inserts), path, ["o_orderkey"])
    back = lakehouse.read_deltalake(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def _q_lakehouse_iceberg_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jar-free Iceberg metadata chain under the hash gate
    (iceberg_meta.export_snapshot/read_iceberg_meta, reference:
    athena/_write_iceberg.py:411 writes real Iceberg): orders written as
    a lakelite table PARTITIONED BY o_orderstatus (so the partition
    column is NOT in the data files), converted to Iceberg v2 metadata
    (pure-Python Avro manifests + metadata.json), then every snapshot is
    read back through version-hint -> metadata.json -> manifest list ->
    manifests with partition values reconstructed from the manifest
    partition structs.  A wrong Avro encode/decode, a mis-built
    manifest diff (ADDED vs EXISTING), or a lost partition constant
    hash-mismatches against the relational oracle."""
    from aws_sdk_pandas_spark import iceberg_meta, lakehouse, lakehouse_shim

    _load(spark, sf_dir)
    path = _tmpdir("asps-iceberg-") + "/orders_ice"
    o = spark.sql("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders")
    lakehouse_shim.write(
        o.where("o_orderstatus = 'F'").repartition(4), path,
        mode="overwrite", partition_cols=["o_orderstatus"],
    )
    lakehouse_shim.write(
        o.where("o_orderstatus = 'O'").repartition(4), path,
        mode="append", partition_cols=["o_orderstatus"],
    )
    lakehouse.convert_to_iceberg(path)
    snaps = iceberg_meta._load_metadata(path)["snapshots"]
    parts = []
    for v, snap in enumerate(snaps):
        back = iceberg_meta.read_iceberg_meta(
            spark, path, snapshot_id=snap["snapshot-id"]
        )
        parts.append(
            back.groupBy("o_orderstatus").agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("total_price"),
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.select("version", "o_orderstatus", "n", "total_price").orderBy(
        "version", "o_orderstatus"
    )


def _q_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned reads under the hash gate (lakehouse.read_deltalake
    version=, reference: s3/_read_deltalake.py:38): three commits by
    order status, each historical snapshot aggregated — version 0 must
    still see ONLY the first commit after two appends."""
    from aws_sdk_pandas_spark import lakehouse

    _load(spark, sf_dir)
    path = _tmpdir("asps-lakelite-") + "/orders_tt"
    o = spark.sql("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders")
    lakehouse.to_deltalake(o.where("o_orderstatus = 'F'"), path, mode="overwrite")
    lakehouse.to_deltalake(o.where("o_orderstatus = 'O'"), path, mode="append")
    lakehouse.to_deltalake(o.where("o_orderstatus NOT IN ('F','O')"), path, mode="append")
    parts = []
    for v in (0, 1, 2):
        parts.append(
            lakehouse.read_deltalake(spark, path, version=v)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("total_price"),
            )
            .select(F.lit(v).alias("version"), "n", "total_price")
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2]).orderBy("version")


def _q_lakehouse_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-by-key with file-level CoW under the hash gate
    (lakehouse_shim.delete, reference: athena/_write_iceberg.py:715):
    customer written versioned, one segment's keys deleted, the surviving
    snapshot aggregated against a relational anti-filter oracle."""
    from aws_sdk_pandas_spark import lakehouse, lakehouse_shim

    _load(spark, sf_dir)
    path = _tmpdir("asps-lakelite-") + "/customer_tbl"
    c = spark.sql("SELECT c_custkey, c_mktsegment, c_acctbal FROM customer")
    lakehouse.to_deltalake(c.repartition(8, "c_custkey"), path, mode="overwrite")
    victims = c.where("c_mktsegment = 'BUILDING'").select("c_custkey")
    lakehouse_shim.delete(spark, victims, path, ["c_custkey"])
    back = lakehouse.read_deltalake(spark, path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def _q_lakehouse_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via DELETION VECTORS under the hash gate
    (lakehouse_shim.delete(use_deletion_vectors=True) — round-5 writer
    side of the Delta DV protocol): customer written versioned, one
    segment's keys deleted as roaring-bitmap DVs (zero data rewrite),
    then read back through the FOREIGN Delta-log reader path
    (delta_log.read_delta_log: protocol 3 readerFeatures
    deletionVectors, z85+roaring decode, broadcast anti-join on
    _metadata.row_index) — so the gate pins the DV encode, the log
    export, AND the protocol-correct read, end to end against the same
    relational anti-filter oracle as the CoW gate."""
    from aws_sdk_pandas_spark import delta_log, lakehouse, lakehouse_shim

    _load(spark, sf_dir)
    path = _tmpdir("asps-lakelite-dv-") + "/customer_tbl"
    c = spark.sql("SELECT c_custkey, c_mktsegment, c_acctbal FROM customer")
    lakehouse.to_deltalake(c.repartition(8, "c_custkey"), path, mode="overwrite")
    victims = c.where("c_mktsegment = 'MACHINERY'").select("c_custkey")
    lakehouse_shim.delete(
        spark, victims, path, ["c_custkey"], use_deletion_vectors=True
    )
    back = delta_log.read_delta_log(spark, path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def _q_knn_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF under the FULL hash gate (verdict item 5): with n_probe ==
    n_clusters every cluster is scanned, so knn_ivf provably equals
    brute force regardless of where KMeans put the centroids — which
    gives the IVF code path (index build, centroid ranking, cluster
    filter, within-cluster exact distances) a DuckDB-recomputable
    oracle: the brute-force cosine top-k SQL."""
    from aws_sdk_pandas_spark.operators.similarity import build_ivf_index, knn_ivf
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    corpus = emb.where("vec_id <> 0")
    assigned, centroids = build_ivf_index(corpus, vector_col="embedding", n_clusters=8)
    return knn_ivf(
        assigned, centroids, q, k=10, id_col="vec_id", vector_col="embedding", n_probe=8
    )


def _q_knn_ivf_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking IVF probe invariants (verdict item 5): the probe
    candidate sets nest (probe=2 ⊆ probe=4 ⊆ probe=8), so recall against
    brute force must be monotone non-decreasing in n_probe, and the
    full probe must match brute force EXACTLY (ids and distances).  The
    booleans are recomputed from scratch every run — a regression in
    centroid ranking, cluster filtering, or distance math flips them,
    and the oracle is the literal expected row."""
    from aws_sdk_pandas_spark.operators.similarity import (
        build_ivf_index,
        knn_brute_force,
        knn_ivf,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    corpus = emb.where("vec_id <> 0")
    assigned, centroids = build_ivf_index(corpus, vector_col="embedding", n_clusters=8)
    # four consumers below (brute + three probes): materialize the KMeans
    # assignment chain once — checkpoint preserves values and order, so
    # every probe result is unchanged
    assigned = assigned.localCheckpoint()
    brute = [
        (r[0], r[1])
        for r in knn_brute_force(
            corpus, q, k=10, id_col="vec_id", vector_col="embedding"
        ).collect()
    ]
    brute_ids = {t[0] for t in brute}
    got = {}
    for n_probe in (2, 4, 8):
        got[n_probe] = [
            (r[0], r[1])
            for r in knn_ivf(
                assigned, centroids, q, k=10,
                id_col="vec_id", vector_col="embedding", n_probe=n_probe,
            ).collect()
        ]
    recall = {p: len({t[0] for t in rows} & brute_ids) / 10.0 for p, rows in got.items()}
    mono_ok = recall[2] <= recall[4] <= recall[8]
    fullprobe_exact = got[8] == brute
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(10, bool(mono_ok), bool(fullprobe_exact))], 1
        ),
        "k int, recall_monotone_ok boolean, fullprobe_exact_ok boolean",
    )


def _q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs under the FULL hash gate (verdict
    item 5): on a bounded corpus slice the LSH-bucketed pair generator
    (operators/dedup.embedding_duplicates, seeded) is compared pair-for-
    pair against DuckDB's exact O(n^2) self-join — ids AND distances.
    Distances are recomputed here in double precision from the raw
    embeddings (not taken from the LSH distCol) so both engines evaluate
    the same expression; the nearest pair to the 0.6 threshold sits
    ~2e-3 away at every SF, so cross-engine float drift (~1e-7) cannot
    flip membership.  A recall loss in the banding would hash-mismatch."""
    from aws_sdk_pandas_spark.operators.dedup import embedding_duplicates
    from aws_sdk_pandas_spark.sources import read_parquet

    # the bounded 400-vector slice feeds the LSH pair generator AND both
    # distance-recompute sides — persist so the (pushdown-filtered) scan
    # runs once instead of 4x (tools/scan_count_audit.py)
    sl = read_parquet(spark, f"{sf_dir}/embeddings.parquet").where("vec_id < 400").persist()
    cand = embedding_duplicates(sl, threshold=0.6, num_hash_tables=6).select("id_a", "id_b")
    va = sl.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va")
    )
    vb = sl.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb")
    )
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(F.lit(1.0) - dot / (na * nb), 5).alias("distance"))
        .orderBy("id_a", "id_b")
    )


def _q_decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination (operators/similarity.
    decontaminate_by_embedding — the semantic complement of the exact
    n-gram pass `docs_decontaminate_bloom`, catching rephrased eval
    samples that share no gram): eval set = the vec_id % 97 == 0 slice,
    so every eval member sits in the corpus at sim 1.0 and must be
    removed.  The gate returns the REMOVED ids (corpus anti-join the
    cleaned output) so a recall loss in the broadcast anti-join
    hash-mismatches against DuckDB's exact EXISTS oracle.  Boundary
    safety: at every SF the nearest non-removed row sits below 0.51
    similarity vs the 0.95 threshold — cross-engine float drift
    (~1e-15 in double) cannot flip membership."""
    from aws_sdk_pandas_spark.operators.similarity import decontaminate_by_embedding
    from aws_sdk_pandas_spark.sources import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    eval_df = emb.where(F.col("vec_id") % 97 == 0).select("embedding")
    cleaned = decontaminate_by_embedding(
        emb, eval_df, id_col="vec_id", vector_col="embedding", threshold=0.95
    )
    return (
        emb.select("vec_id")
        .join(cleaned.select("vec_id"), "vec_id", "left_anti")
        .orderBy("vec_id")
    )


def _q_semantic_knn_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking semantic-retrieval pipeline (verdict item 5):
    embed_texts must be DETERMINISTIC (two independent plans over the
    documents produce bit-identical vectors — the property that makes
    every downstream dedup/knn gate reproducible), and the batched
    one-scan knn_batch path must return exactly the per-query brute
    force result.  Oracle = the literal expected row."""
    from aws_sdk_pandas_spark.operators.similarity import knn_batch, knn_brute_force
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.vectors import embed_texts

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # e1 is persisted so the mapInPandas embed kernel runs ONCE for its plan;
    # the determinism check still compares two INDEPENDENT evaluations (the
    # cached e1 vs the freshly-planned e2).  Without the cache every consumer
    # below (mismatch join, query probe, brute, batch) re-ran the kernel over
    # the full corpus — ~4 evaluations for a 2-evaluation contract (guide §5).
    e1 = embed_texts(docs, dim=32).persist()
    e2 = embed_texts(docs, dim=32)
    mismatch = (
        e1.alias("a")
        .join(e2.alias("b"), "doc_id")
        .where(F.expr("a.embedding <> b.embedding"))
        .count()
    )
    q = e1.where("doc_id = 0").select("embedding").first()[0]
    corpus = e1.where("doc_id <> 0")
    brute = [
        (r[0], r[1])
        for r in knn_brute_force(
            corpus, q, k=10, id_col="doc_id", vector_col="embedding"
        ).collect()
    ]
    queries_df = e1.where("doc_id = 0").select(
        F.col("doc_id").alias("query_id"), F.col("embedding")
    )
    batched = [
        (r["doc_id"], r["distance"])
        for r in knn_batch(
            corpus, queries_df, k=10, id_col="doc_id", vector_col="embedding",
            query_vector_col="embedding",
        )
        .orderBy("rank")
        .collect()
    ]
    e1.unpersist()  # every consumer has collected; the returned frame is literal
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(10, bool(mismatch == 0), bool(batched == brute))], 1
        ),
        "k int, embed_deterministic_ok boolean, batch_equals_brute_ok boolean",
    )


def _gremlin_graph(spark: SparkSession, sf_dir: str):
    """events as a property graph: user vertices --did--> event-type
    vertices, edge property = the event value."""
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    # ONE scan for both vertex classes: the union-of-two-distincts form
    # read events twice (guide §6); exploding both candidate vertices per
    # row and deduping in one pass yields the identical (~id, ~label) set
    # (the arms can never collide across labels, so per-arm distinct ==
    # combined distinct here).
    vertices = (
        ev.select(
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("~id"),
                        F.lit("user").alias("~label"),
                    ),
                    F.struct(
                        F.col("event_type").alias("~id"), F.lit("etype").alias("~label")
                    ),
                )
            ).alias("v")
        )
        .select("v.*")
        .distinct()
    )
    edges = ev.select(
        F.col("event_id").cast("string").alias("~id"),
        F.lit("did").alias("~label"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("~from"),
        F.col("event_type").alias("~to"),
        F.col("value").alias("value"),
    )
    return vertices, edges


def _q_gremlin_out_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin traversal execution under the hash gate (verdict item 6,
    connectors/gremlin.py compile_gremlin via neptune.execute_gremlin,
    reference: neptune/_neptune.py:126): hasLabel -> out-hop -> grouped
    traverser count, bag semantics — the oracle is the per-event-type
    COUNT(*) the hop multiplicity must reproduce."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_gremlin(
        {"root": ""},
        "g.V().hasLabel('user').out('did').groupCount().by('~id')",
        vertices=vertices,
        edges=edges,
    )


def _q_gremlin_edge_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin edge-step chain under the hash gate: vertex -> inE with a
    property predicate -> outV -> dedup -> count; the oracle is the
    distinct-user count over the same value filter."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_gremlin(
        {"root": ""},
        "g.V().hasLabel('etype').inE('did').has('value', gt(50)).outV().dedup().count()",
        vertices=vertices,
        edges=edges,
    )


def _q_gremlin_until_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repeat().until() iterated to FIXPOINT (round 6,
    connectors/gremlin.py _repeat_until — TinkerPop's unbounded until,
    a driver loop with per-level emptiness probes and a max-depth-32
    guard, the connected_components pattern): over the customer ->
    nation -> region containment DAG, ``until(hasLabel('region'))``
    checked BEFORE each body run exits region vertices at level 0,
    nations after one hop, customers after two — the loop converges
    when the frontier empties, with no times() bound anywhere.  The
    exit multiset is per-region (customers + nations + the region
    itself), which the oracle recomputes relationally."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    cid = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    nid = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    rid = F.concat(F.lit("r"), F.col("r_regionkey").cast("string"))
    vertices = (
        cust.select(cid.alias("~id")).withColumn("~label", F.lit("customer"))
        .unionByName(
            nat.select(nid.alias("~id")).withColumn("~label", F.lit("nation"))
        )
        .unionByName(
            reg.select(rid.alias("~id")).withColumn("~label", F.lit("region"))
        )
    )
    edges = cust.select(
        F.concat(F.lit("ec"), F.col("c_custkey").cast("string")).alias("~id"),
        F.lit("in").alias("~label"),
        cid.alias("~from"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("~to"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("en"), F.col("n_nationkey").cast("string")).alias("~id"),
            F.lit("in").alias("~label"),
            nid.alias("~from"),
            F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("~to"),
        )
    )
    return execute_gremlin(
        {"root": ""},
        "g.V().until(hasLabel('region')).repeat(out('in')).groupCount().by('~id')",
        vertices=vertices,
        edges=edges,
    )


def _q_lakehouse_convert_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAME-column-mapped Delta adoption under the hash gate (round 6,
    delta_log.convert_from_delta mode 'name' + the lakelite boundary
    translation): a foreign table whose parquet carries PHYSICAL
    col-* names (reader 2 / writer 5, the delta-rs/Spark default for
    new tables) is built from the nation table, adopted for writes,
    MERGEd through lakelite with a LOGICAL-named source (two updates +
    one insert), and read back through the FOREIGN reader
    (read_delta_log resolves the mapping from the v0 metaData the
    continued log preserves).  The oracle replays the merge
    relationally over the same nation parquet."""
    import json
    import os as _os

    from aws_sdk_pandas_spark import delta_log, lakehouse_shim
    from aws_sdk_pandas_spark.sources import read_parquet

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    base = _tmpdir("asps-mapped-") + "/nation_tbl"
    _os.makedirs(_os.path.join(base, "_delta_log"))
    phys = {"n_nationkey": "col-k1", "n_name": "col-k2", "n_regionkey": "col-k3"}
    nat.select(
        F.col("n_nationkey").cast("long").alias(phys["n_nationkey"]),
        F.col("n_name").alias(phys["n_name"]),
        F.col("n_regionkey").cast("long").alias(phys["n_regionkey"]),
    ).coalesce(1).write.parquet(_os.path.join(base, "d0"))
    f0 = "d0/" + next(
        x for x in _os.listdir(_os.path.join(base, "d0")) if x.endswith(".parquet")
    )
    fields = [
        {
            "name": n,
            "type": "long" if n != "n_name" else "string",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": phys[n],
            },
        }
        for i, n in enumerate(["n_nationkey", "n_name", "n_regionkey"])
    ]
    with open(_os.path.join(base, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "gate-mapped",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            },
            {
                "add": {
                    "path": f0,
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ]:
            fh.write(json.dumps(a) + "\n")
    delta_log.convert_from_delta(base)
    src = nat.where("n_nationkey < 2").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.concat(F.lit("UPD_"), F.col("n_name")).alias("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    ).unionByName(
        spark.createDataFrame(
            spark.sparkContext.parallelize([(99, "ZZZ_NEW", 0)], 1),
            "n_nationkey long, n_name string, n_regionkey long",
        )
    )
    lakehouse_shim.merge(spark, src, base, ["n_nationkey"])
    back = delta_log.read_delta_log(spark, base)
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_name").alias("min_name"),
            F.max("n_name").alias("max_name"),
        )
        .orderBy("n_regionkey")
    )


def _q_docs_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard sink/source under the hash gate (round 6,
    sources/webdataset.py): documents write as one tar per
    content-deterministic shard (txt + cls members per sample, stdlib
    tarfile, byte-deterministic), read back through the
    partition-per-tar source with the sample pivot, and re-aggregate —
    the tar layer must cancel exactly, so the oracle is the DIRECT
    relational aggregate over the same documents table."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.webdataset import (
        read_webdataset,
        to_webdataset,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = _tmpdir("asps-wds-") + "/wds"
    to_webdataset(
        docs.select(
            F.col("doc_id").alias("key"),
            F.col("text"),
            F.col("lang").alias("cls"),
        ),
        out,
        key_col="key",
        columns={"txt": "text", "cls": "cls"},
        n_shards=8,
    )
    back = read_webdataset(spark, out, samples=True)
    return (
        back.select(
            F.col("key").cast("long").alias("doc_id"),
            F.decode(F.element_at("parts", "cls"), "utf-8").alias("lang"),
            F.length(F.decode(F.element_at("parts", "txt"), "utf-8")).alias("__len"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__len").alias("total_chars"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("lang")
    )


def _q_docs_megatron_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Megatron indexed-dataset sink/source under the hash gate (round
    6, sources/megatron.py — the MMIDIDX .bin/.idx trainer format):
    token sequences synthesized ANALYTICALLY from doc_id (length
    doc_id%7+1, values doc_id%1000+i, uint16-encodable by construction)
    write as one bin/idx pair per content-deterministic shard, read
    back through the partition-per-shard source, and re-aggregate —
    the binary layer must cancel exactly against the closed-form
    oracle."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.megatron import (
        read_megatron,
        to_megatron,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.expr(
            "transform(sequence(0, CAST(doc_id % 7 AS INT)), "
            "i -> CAST(doc_id % 1000 + i AS INT))"
        ).alias("tokens"),
    )
    out = _tmpdir("asps-mmidx-") + "/mm"
    to_megatron(toks, out, key_col="key", dtype="uint16", n_shards=8)
    back = read_megatron(spark, out)
    return (
        back.select(
            F.size("tokens").alias("len"),
            F.expr(
                "aggregate(tokens, CAST(0 AS BIGINT), (a, t) -> a + t)"
            ).alias("__s"),
        )
        .groupBy("len")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("__s").alias("sum_tokens"),
        )
        .orderBy("len")
    )


def _q_training_pipeline_megatron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parquet->trainer tail end to end under ONE hash gate (round
    6): analytic per-doc token arrays -> ``pack_sequences`` (budget-64
    running-sum packing, unsharded global order for oracle determinism
    — the ``by=`` shard keys are the documented scale path) -> per-
    sequence concatenation in doc order -> ``to_megatron`` shard pairs
    -> read back through the MMIDIDX source -> per-sequence stats.  The
    oracle replays the window, the concatenation and the closed-form
    token sums relationally; the binary trainer format must cancel
    exactly."""
    from aws_sdk_pandas_spark.operators.packing import pack_sequences
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.megatron import (
        read_megatron,
        to_megatron,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.expr("CAST(doc_id % 7 + 1 AS BIGINT)").alias("n_tok"),
        F.expr(
            "transform(sequence(0, CAST(doc_id % 7 AS INT)), "
            "i -> CAST(doc_id % 1000 + i AS INT))"
        ).alias("tokens"),
    )
    packed = pack_sequences(docs, "n_tok", 64, order_cols=["doc_id"])
    seqs = packed.groupBy("seq_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tokens"))),
                lambda x: x["tokens"],
            )
        ).alias("tokens")
    )
    out = _tmpdir("asps-mmpipe-") + "/mm"
    to_megatron(
        seqs.select(F.col("seq_id").cast("string").alias("key"), "tokens"),
        out,
        key_col="key",
        dtype="uint16",
        n_shards=4,
    )
    back = read_megatron(spark, out)
    return (
        back.select(
            F.size("tokens").alias("seq_len"),
            F.expr(
                "aggregate(tokens, CAST(0 AS BIGINT), (a, t) -> a + t)"
            ).alias("__s"),
        )
        .groupBy("seq_len")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("__s").alias("total_tokens"),
        )
        .orderBy("seq_len")
    )


def _q_media_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal payloads THROUGH the WebDataset wire format under the
    hash gate (round 6): analytic PNG headers + JSON sidecar metadata
    per sample write as tar shards (binary member + text member per
    key), read back through the samples pivot, decode dimensions with
    the REAL header parser (multimodal.image_dimensions), and
    cross-check the JSON sidecar against the decoded width — the tar
    layer and the byte-level parse must both cancel against the
    closed-form oracle."""
    from aws_sdk_pandas_spark.operators.multimodal import image_dimensions
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sources.webdataset import (
        read_webdataset,
        to_webdataset,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")

    def be4(col):  # 4 big-endian bytes of an int, JVM-side
        return F.unhex(F.lpad(F.hex(col), 8, "0"))

    w = F.col("doc_id") % 1920 + 1
    h = F.col("doc_id") % 1080 + 1
    payload = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"), be4(F.lit(13)), F.lit(b"IHDR"), be4(w), be4(h)
    )
    meta = F.concat(F.lit('{"w": '), w.cast("string"), F.lit("}"))
    media = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        payload.alias("img"),
        meta.alias("meta"),
    )
    out = _tmpdir("asps-wdsmedia-") + "/wds"
    to_webdataset(
        media, out, key_col="key", columns={"png": "img", "json": "meta"},
        n_shards=8,
    )
    back = read_webdataset(spark, out, samples=True)
    frames = back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.element_at("parts", "png").alias("payload"),
        F.get_json_object(
            F.decode(F.element_at("parts", "json"), "utf-8"), "$.w"
        ).cast("long").alias("__meta_w"),
    )
    return (
        image_dimensions(frames, jpeg=False)
        .groupBy("img_format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("img_width").alias("sum_w"),
            F.sum("img_height").alias("sum_h"),
            F.sum(
                F.when(F.col("__meta_w") == F.col("img_width"), 1).otherwise(0)
            ).alias("meta_matches"),
        )
        .orderBy("img_format")
    )


def _q_docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality scoring under the hash gate
    (round 6, operators/lm_quality.py): a smoothed bigram LM trains on
    the 80% reference slice (doc_id % 10 < 8) with BINDING top-k caps
    (400 unigrams / 1500 bigrams, count-desc token-asc ties), every
    document scores exp(-avg ln P(w2|w1)) through two broadcast joins,
    and the gate hashes per-language doc counts, mean cross-entropy
    (rounded; numerically tame) and total scored bigrams.  The oracle
    replays the ENTIRE train->cap->score pipeline relationally."""
    from aws_sdk_pandas_spark.operators.lm_quality import (
        perplexity,
        train_bigram_lm,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(
        docs.where("doc_id % 10 < 8"),
        "text",
        top_k_unigrams=400,
        top_k_bigrams=1500,
        alpha=0.1,
    )
    scored = perplexity(docs, lm)
    return (
        scored.where(F.col("ppl_xent").isNotNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ppl_xent"), 4).alias("avg_xent"),
            F.sum("ppl_n_bigrams").alias("n_bigrams"),
        )
        .orderBy("lang")
    )


def _q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup under the hash gate (operators/dedup.py
    dedup_lines — the CCNet/RefinedWeb boilerplate pass: a line occurring
    2+ times across the corpus is cut everywhere but its globally-first
    position).  The documents table is single-line, so the gate first
    renders each doc as deterministic 8-token lines (same chunking
    replayed in the oracle); the planted full-duplicate docs then
    guarantee cross-document duplicate lines.  The oracle replays
    chunking, corpus-wide counting, keep-first exemption, and the
    rebuild, down to md5 of the cleaned text."""
    from aws_sdk_pandas_spark.operators.dedup import dedup_lines
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    norm = F.trim(F.regexp_replace(F.col("text"), "[ \\t\\n\\r]+", " "))
    toks = F.split(norm, " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    lined = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = dedup_lines(lined, min_count=2)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_lines", "n_removed"
    ).orderBy("doc_id")


def _q_sparql_path_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path SEQUENCE under the hash gate
    (connectors/sparql.py — ``p1/p2/p3`` compiles to chained equi-joins
    on anonymous midpoints, bag semantics): customers to their region
    name through in_nation/partof/name in ONE pattern; the oracle is the
    3-way relational join."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    n_id = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    r_id = F.concat(F.lit("r"), F.col("r_regionkey").cast("string"))
    triples = (
        cust.select(c_id.alias("s"), F.lit("in_nation").alias("p"),
                    F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"))
        .unionByName(nat.select(n_id.alias("s"), F.lit("partof").alias("p"),
                                F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("o")))
        .unionByName(nat.select(n_id.alias("s"), F.lit("name").alias("p"),
                                F.col("n_name").alias("o")))
        .unionByName(reg.select(r_id.alias("s"), F.lit("name").alias("p"),
                                F.col("r_name").alias("o")))
    )
    q = """
        SELECT ?rname (COUNT(?c) AS ?n_customers)
        WHERE { ?c <in_nation>/<partof>/<name> ?rname . }
        GROUP BY ?rname
        ORDER BY ?rname
    """
    return execute_sparql({"root": ""}, q, triples=triples)


def _q_sparql_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``+`` closure under the hash gate (connectors/sparql.py —
    var-to-var one-or-more compiles to iterative-doubling transitive
    closure, log2(chain) rounds, SET semantics per the spec): each
    customer's orders chained chronologically with <next> triples, so
    the distinct (earlier, later) pairs number exactly sum-over-
    customers C(k, 2) — which the oracle recomputes arithmetically."""
    from pyspark.sql.window import Window

    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("oid"),
        F.lead(F.concat(F.lit("o"), F.col("o_orderkey").cast("string"))).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    triples = seq.select(
        F.col("oid").alias("s"), F.lit("next").alias("p"), F.col("nxt").alias("o")
    )
    q = "SELECT (COUNT(*) AS ?n_pairs) WHERE { ?a <next>+ ?b }"
    return execute_sparql({"root": ""}, q, triples=triples)


def _q_cypher_with_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openCypher WITH pipeline under the hash gate
    (connectors/opencypher.py — WITH aggregates per user, its WHERE is
    the HAVING over the aggregate, and the carried node variable joins
    the follow-up MATCH): active users (66+ events) and their purchase
    counts; the oracle is the HAVING subquery joined to the per-user
    purchase aggregate."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_opencypher(
        {"root": ""},
        "MATCH (u:user)-[r:did]->(t:etype) "
        "WITH u, count(r) AS n_events WHERE n_events >= 66 "
        "MATCH (u)-[r2:did]->(p:etype {id: 'purchase'}) "
        "RETURN u AS uid, n_events, count(r2) AS n_purchases ORDER BY uid",
        vertices=vertices,
        edges=edges,
    )


def _q_cypher_with_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openCypher WITH ... ORDER BY ... LIMIT under the hash gate
    (connectors/opencypher.py — the WITH modifiers run in Cypher's
    order DISTINCT/ORDER BY/SKIP/LIMIT before the trailing WHERE, and
    the ORDER+LIMIT pipeline stage compiles to Spark's
    TakeOrderedAndProject): top-5 users by event volume, expanded back
    to their purchase counts; the oracle is the ORDER/LIMIT subquery
    joined to the per-user purchase aggregate."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_opencypher(
        {"root": ""},
        "MATCH (u:user)-[r:did]->(t:etype) "
        "WITH u, count(r) AS n_events ORDER BY n_events DESC, u ASC LIMIT 5 "
        "MATCH (u)-[r2:did]->(p:etype {id: 'purchase'}) "
        "RETURN u AS uid, n_events, count(r2) AS n_purchases ORDER BY uid",
        vertices=vertices,
        edges=edges,
    )


def _q_cypher_optional_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openCypher OPTIONAL MATCH under the hash gate
    (connectors/opencypher.py — the optional clause left-joins on the
    shared variable, and its WHERE participates in the MATCHING, so
    users with no qualifying purchase keep a null row and count 0; a
    post-filter WHERE would drop them, which is exactly the semantic
    difference this gate pins): per-user count of big purchases over
    the events property graph."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_opencypher(
        {"root": ""},
        "MATCH (u:user) "
        "OPTIONAL MATCH (u)-[r:did]->(t:etype {id: 'purchase'}) WHERE r.value > 250 "
        "RETURN u AS uid, count(r.value) AS n_big ORDER BY uid",
        vertices=vertices,
        edges=edges,
    )


def _q_gremlin_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin as()/select() pattern projection under the hash gate
    (connectors/gremlin.py — step labels survive hops as carried ~id
    columns, select joins each labeled element back to its frame for the
    by() property, TinkerPop's round-robin by rule): user --did--> etype
    with an edge predicate, projecting (user id, edge value, etype); the
    oracle is the flat filtered projection of the events table."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_gremlin(
        {"root": ""},
        "g.V().hasLabel('user').as('u').outE('did').has('value', gt(80))"
        ".as('e').inV().as('t').select('u', 'e', 't')"
        ".by('~id').by('value').by('~id').order()",
        vertices=vertices,
        edges=edges,
    )


def _q_gremlin_branch_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-traverser branch scope under the hash gate
    (connectors/gremlin.py — limit/range inside union/coalesce bound
    each SOURCE's results via a window over the carried source id, with
    the deterministic ascending-~id pick): per user, the smallest and
    second-smallest event-type targets; the oracle is a ROW_NUMBER over
    (user, event_type).  A global (stream-wide) limit would collapse the
    whole result to one or two rows and hash-mismatch."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_gremlin(
        {"root": ""},
        "g.V().hasLabel('user')"
        ".union(out('did').limit(1), out('did').range(1, 2))"
        ".groupCount().by('~id')",
        vertices=vertices,
        edges=edges,
    )


def _q_trino_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino/Athena dialect translation under the hash gate
    (sql_dialect.trino_to_spark_sql via read_sql_query(dialect='trino'),
    reference: athena/_read.py — Athena's engine IS Trino, so this is
    the SQL a reference user actually has): double-quoted identifiers,
    date_diff('day', ...), TRY(CAST(..)), and strpos all rewritten and
    executed; the oracle recomputes complete-day spans from epoch
    arithmetic (DuckDB's own date_diff counts boundary crossings, not
    complete periods — deliberately NOT used)."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sql import read_sql_query

    read_parquet(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "trino_gate_events"
    )
    q = """
        SELECT "event_type",
               date_diff('day', MIN(ts), MAX(ts)) AS span_days,
               TRY(CAST("event_type" AS BIGINT)) AS not_a_number,
               SUM(strpos("event_type", 'i')) AS i_positions,
               COUNT(*) AS n
        FROM trino_gate_events
        GROUP BY "event_type"
        ORDER BY "event_type"
    """
    return read_sql_query(spark, q, dialect="trino")


def _q_cypher_unwind_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openCypher collect -> UNWIND round trip under the hash gate
    (connectors/opencypher.py — collect(DISTINCT ..) builds the sorted
    list per user, UNWIND explodes it back): semantically SELECT
    DISTINCT (user, event_type), which is exactly the oracle; a
    multiplicity bug in either half breaks the hash."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_opencypher(
        {"root": ""},
        "MATCH (u:user)-[r:did]->(t:etype) "
        "WITH u, collect(DISTINCT t) AS ts "
        "UNWIND ts AS one "
        "RETURN u AS uid, one ORDER BY uid, one",
        vertices=vertices,
        edges=edges,
    )


def _q_gremlin_simple_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin simplePath under the hash gate (connectors/gremlin.py —
    path tracking carries the ~id history, simplePath drops traversers
    that revisit an element): 2-hop both() walks over the high-value
    event subgraph return to a DIFFERENT user, so the count is exactly
    sum-per-etype n^2 minus sum-per-(etype,user) m^2, which the oracle
    computes from grouped counts."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin

    vertices, edges = _gremlin_graph(spark, sf_dir)
    high = edges.where(F.col("value") > 300)
    return execute_gremlin(
        {"root": ""},
        "g.V().hasLabel('user').both('did').both('did').simplePath().count()",
        vertices=vertices,
        edges=high,
    )


def _q_sparql_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP_CONCAT/SAMPLE under the hash gate
    (connectors/sparql.py — concatenation order is unspecified in the
    spec, so the compiler sorts for determinism, which is exactly what
    makes this oracle-able): per-user sorted distinct event types among
    high-value events, plus the traverser count."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    triples = ev.where(F.col("value") > 280).select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.lit("did_high").alias("p"),
        F.col("event_type").alias("o"),
    )
    q = """
        SELECT ?u (GROUP_CONCAT(DISTINCT ?t; SEPARATOR=',') AS ?types)
               (COUNT(?t) AS ?n)
        WHERE { ?u <did_high> ?t }
        GROUP BY ?u
        ORDER BY ?u
    """
    return execute_sparql({"root": ""}, q, triples=triples)


def _q_cypher_pattern_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openCypher pattern predicate under the hash gate
    (connectors/opencypher.py — WHERE NOT (c)-[:placed]->(:ord {pri:..})
    compiles to ONE left-anti join on the shared variable; semi-join
    semantics mean no row multiplication for multi-match customers):
    per-segment counts of customers who never placed a 1-URGENT order
    (~200 such customers at sf0.01 — a real split, never vacuous)."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    o_id = F.concat(F.lit("o"), F.col("o_orderkey").cast("string"))
    vertices = cust.select(
        c_id.alias("~id"), F.lit("cust").alias("~label"),
        F.col("c_mktsegment").alias("segment"), F.lit(None).cast("string").alias("pri"),
    ).unionByName(
        orders.select(
            o_id.alias("~id"), F.lit("ord").alias("~label"),
            F.lit(None).cast("string").alias("segment"),
            F.col("o_orderpriority").alias("pri"),
        )
    )
    edges = orders.select(
        F.concat(F.lit("e"), F.col("o_orderkey").cast("string")).alias("~id"),
        F.lit("placed").alias("~label"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("~from"),
        o_id.alias("~to"),
    )
    return execute_opencypher(
        {"root": ""},
        "MATCH (c:cust) WHERE NOT (c)-[:placed]->(:ord {pri: '1-URGENT'}) "
        "RETURN c.segment AS segment, count(*) AS n ORDER BY segment",
        vertices=vertices,
        edges=edges,
    )


def _q_gremlin_not_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gremlin not(<traversal>) under the hash gate
    (connectors/gremlin.py — sub-traversal existence compiles to ONE
    left-anti join on the surviving source ids): users with NO event
    above 250, then their per-user event counts; the oracle is the
    NOT-IN subquery aggregate."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_gremlin

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_gremlin(
        {"root": ""},
        "g.V().hasLabel('user').not(outE('did').has('value', gt(250)))"
        ".outE('did').groupCount().by('~from')",
        vertices=vertices,
        edges=edges,
    )


def _q_trino_dialect_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino scalar-semantics rewrites under the hash gate
    (sql_dialect.trino_to_spark_sql): the constructs whose Spark
    same-names MEAN something different — literal-delimiter split (regex
    in Spark), date_parse MySQL tokens, ARRAY[..] literals, bare VARCHAR
    casts, starts_with, FETCH FIRST — all executed; the oracle is
    DuckDB's native spelling of each (string_split is literal, strptime
    shares the %-tokens)."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sql import read_sql_query

    read_parquet(spark, f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "trino_gate_orders"
    )
    q = """
        SELECT CAST(o_orderkey AS VARCHAR) AS okey,
               element_at(split(o_orderpriority, '-'), 1) AS prio_num,
               array_join(ARRAY[o_orderpriority, o_orderstatus], ',') AS tags,
               date_parse(CAST(o_orderdate AS VARCHAR), '%Y-%m-%d %H:%i:%s') AS od
        FROM trino_gate_orders
        WHERE starts_with(o_orderpriority, '1') OR starts_with(o_orderpriority, '3')
        ORDER BY okey
        FETCH FIRST 500 ROWS ONLY
    """
    return read_sql_query(spark, q, dialect="trino")


def _q_trino_dialect_tier3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino tier-3 rewrites under the hash gate
    (sql_dialect.trino_to_spark_sql): 1-based subscript a[i] ->
    element_at, TRY(a / b) -> try_divide (NULL on the zero-divisor rows,
    never an error), and multi-array CROSS JOIN UNNEST -> inline(
    arrays_zip(..)) with Trino's NULL-padded positional zip.  The oracle
    spells each natively in DuckDB (1-based list subscript, nullif
    divisor, UNION ALL expansion of the zip)."""
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.sql import read_sql_query

    read_parquet(spark, f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "trino3_gate_orders"
    )
    q = """
        SELECT CAST(o_orderkey AS VARCHAR) AS okey,
               split(o_orderpriority, '-')[2] AS prio_word,
               TRY(o_totalprice / (o_orderkey % 3)) AS safe_ratio,
               x, y
        FROM trino3_gate_orders
        CROSS JOIN UNNEST(ARRAY[o_orderstatus, o_orderpriority],
                          ARRAY['s', 'p', 'z']) AS u (x, y)
        WHERE o_orderkey <= 1000
        ORDER BY okey, y
    """
    return read_sql_query(spark, q, dialect="trino")


def _q_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION under the hash gate: two segment branches fused by
    unionByName then joined to the nation hop — the oracle is the
    relational IN-filter join, so branch duplication/NULL-fill bugs in
    the union path hash-mismatch."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    triples = cust.select(
        c_id.alias("s"), F.lit("in_nation").alias("p"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"),
    ).unionByName(
        cust.select(c_id.alias("s"), F.lit("segment").alias("p"),
                    F.col("c_mktsegment").alias("o"))
    )
    q = """
        SELECT ?n (COUNT(?c) AS ?n_customers)
        WHERE {
            { ?c <segment> "BUILDING" } UNION { ?c <segment> "MACHINERY" }
            . ?c <in_nation> ?n .
        }
        GROUP BY ?n
        ORDER BY ?n
    """
    return execute_sparql({"root": ""}, q, triples=triples)


def _q_sparql_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL negation under the hash gate: customers who never placed
    a 1-URGENT order (a real split in this testdata: ~200 such
    customers at sf0.01, so the gate is never vacuous), counted per
    nation — FILTER NOT EXISTS compiles to a left-anti join; the oracle
    is the relational NOT EXISTS.  An anti-join that leaks matches or
    drops multiplicities hash-mismatches."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    triples = cust.select(
        c_id.alias("s"), F.lit("in_nation").alias("p"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"),
    ).unionByName(
        orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("s"),
            F.lit("ordered_urgent").alias("p"),
            F.col("o_orderkey").cast("string").alias("o"),
        )
    )
    q = """
        SELECT ?n (COUNT(?c) AS ?n_customers)
        WHERE {
            ?c <in_nation> ?n .
            FILTER NOT EXISTS { ?c <ordered_urgent> ?o }
        }
        GROUP BY ?n
        ORDER BY ?n
    """
    return execute_sparql({"root": ""}, q, triples=triples)


def _q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT under the hash gate: a two-triple template over
    the segment BGP materializes a new graph with SET semantics — the
    oracle rebuilds the same triple set relationally (UNION of two
    projections, DISTINCT), so template projection, constant literals,
    and the dedup all pin."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    triples = cust.select(
        c_id.alias("s"), F.lit("segment").alias("p"), F.col("c_mktsegment").alias("o")
    )
    q = """
        CONSTRUCT { ?c <tagged> ?seg . ?seg a <Segment> }
        WHERE { ?c <segment> ?seg }
    """
    return execute_sparql({"root": ""}, q, triples=triples).orderBy("s", "p", "o")


def _q_emr_spark_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMR step execution under the hash gate (emr.py submit_spark_step,
    reference: emr.py:1093): a spark-submit step script — built by
    build_spark_step with the reference's exact HadoopJarStep argv — runs
    on the local cluster, aggregates orders by priority, and lands
    parquet the gate reads back; the oracle recomputes the aggregation.
    An argv-parsing, step-state, or in-process-runner bug breaks the
    round trip."""
    from aws_sdk_pandas_spark import emr

    workdir = _tmpdir("emr_gate_")
    script = f"{workdir}/job.py"
    out = f"{workdir}/out.parquet"
    with open(script, "w") as fh:
        fh.write(
            "import sys\n"
            "from pyspark.sql import SparkSession, functions as F\n"
            "spark = SparkSession.builder.getOrCreate()\n"
            "src, out = sys.argv[1], sys.argv[2]\n"
            "(spark.read.parquet(src)\n"
            " .groupBy('o_orderpriority')\n"
            " .agg(F.count(F.lit(1)).alias('n_orders'),\n"
            "      F.round(F.sum(F.col('o_totalprice').cast('decimal(18,6)')), 2)\n"
            "        .cast('double').alias('total_price'))\n"
            " .write.mode('overwrite').parquet(out))\n"
        )
    cluster_id = emr.create_cluster(cluster_name="gate-cluster")
    step_id = emr.submit_spark_step(
        cluster_id, script, args=[f"{sf_dir}/orders.parquet", out]
    )
    if emr.get_step_state(cluster_id, step_id) != "COMPLETED":
        raise RuntimeError(emr.describe_step(cluster_id, step_id)["stderr"])
    return spark.read.parquet(out).orderBy("o_orderpriority")


def _q_sparql_undef_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL unbound-compatible VALUES join under the hash gate
    (connectors/sparql.py round-4 distribution path): a 3-row binding
    table with UNDEF holes — (GERMANY, UNDEF) matches every segment of
    one nation, (UNDEF, BUILDING) every nation of one segment, and an
    exact pair — against the customer->nation triples.  The oracle is
    the UNION ALL of the three per-mask equi-joins, so a dropped mask
    group, a mis-grouped row, or doubled multiplicities hash-mismatch."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    n_id = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    triples = (
        cust.select(c_id.alias("s"), F.lit("in_nation").alias("p"),
                    F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"))
        .unionByName(cust.select(c_id.alias("s"), F.lit("segment").alias("p"),
                                 F.col("c_mktsegment").alias("o")))
        .unionByName(nat.select(n_id.alias("s"), F.lit("name").alias("p"),
                                F.col("n_name").alias("o")))
    )
    q = """
        SELECT ?nname ?seg (COUNT(?c) AS ?cnt)
        WHERE {
            ?c <in_nation> ?n ; <segment> ?seg .
            ?n <name> ?nname .
            VALUES (?nname ?seg) {
                ("GERMANY" UNDEF) (UNDEF "BUILDING") ("FRANCE" "MACHINERY")
            }
        }
        GROUP BY ?nname ?seg
        ORDER BY ?nname ?seg
    """
    return execute_sparql({"root": ""}, q, triples=triples).select(
        "nname", "seg", F.col("cnt").cast("long").alias("cnt")
    )


def _q_sparql_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL execution under the hash gate (connectors/sparql.py via
    neptune.execute_sparql, reference: neptune/_neptune.py:84): the
    customer->nation->region hierarchy rendered as RDF triples, queried
    with a 4-pattern basic graph pattern + GROUP BY aggregation; the
    oracle is the equivalent relational join.  A join-ordering, shared-
    variable, or constant-pushdown bug in the compiler changes the
    binding multiplicities and hash-mismatches."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_sparql
    from aws_sdk_pandas_spark.sources import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    n_id = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    r_id = F.concat(F.lit("r"), F.col("r_regionkey").cast("string"))
    triples = (
        cust.select(c_id.alias("s"), F.lit("in_nation").alias("p"),
                    F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"))
        .unionByName(cust.select(c_id.alias("s"), F.lit("segment").alias("p"),
                                 F.col("c_mktsegment").alias("o")))
        .unionByName(nat.select(n_id.alias("s"), F.lit("partof").alias("p"),
                                F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("o")))
        .unionByName(nat.select(n_id.alias("s"), F.lit("name").alias("p"),
                                F.col("n_name").alias("o")))
        .unionByName(reg.select(r_id.alias("s"), F.lit("name").alias("p"),
                                F.col("r_name").alias("o")))
    )
    q = """
        SELECT ?seg ?rname (COUNT(?c) AS ?n_customers)
        WHERE {
            ?c <in_nation> ?n ; <segment> ?seg .
            ?n <partof> ?r .
            ?r <name> ?rname .
        }
        GROUP BY ?seg ?rname
        ORDER BY ?seg ?rname
    """
    return execute_sparql({"root": ""}, q, triples=triples)


def _q_image_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup under the hash gate
    (operators/multimodal.dedup_images_dhash): a deterministic 9x8
    grayscale BMP is synthesized per document — pixel p of doc d has
    value ((d%25)*11 + p*5 + 16*[d even and p%9==0]) % 256 on all three
    channels — run through the REAL BMP decoder, dHash (horizontal
    gradient bits), and the pigeonhole-banded Hamming join; the oracle
    recomputes the same gradient bits arithmetically in DuckDB and
    brute-forces all pairs, so the gate pins decoder pixel ORDER,
    grayscale, bit packing, AND banding == brute force at once."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        dedup_images_dhash,
        make_test_media,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                px = bytes(
                    v
                    for p in range(72)
                    for v in [
                        ((d % 25) * 11 + p * 5 + (16 if d % 2 == 0 and p % 9 == 0 else 0)) % 256
                    ] * 3
                )
                payloads.append(make_test_media("bmp", 9, 8, pixels=px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = ids.mapInPandas(_mk, schema="doc_id long, payload binary")
    return (
        dedup_images_dhash(media, id_col="doc_id", max_distance=8)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _q_gif_animation_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-media frame decode under the hash gate
    (operators/multimodal.decode_gif_frames through
    decode_video_frames): per document a REAL 2-frame 4x4 animated GIF
    is synthesized — frame f's pixels all use palette index
    (doc_id + f) % 4 of a palette whose color i is (i*60, i*50, i*40)
    — LZW-decoded, composited and mean-reduced by the real kernel, and
    the per-frame channel means recomputed closed-form by DuckDB.  A
    compositing, palette, frame-order, or LZW bug shifts the means."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        decode_video_frames,
        make_test_media,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 120").select("doc_id")
    pal = bytes(v for i in range(4) for v in (i * 60, i * 50, i * 40))

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                payloads.append(
                    make_test_media(
                        "gif", 4, 4, palette=pal,
                        frames=[[(d + f) % 4] * 16 for f in range(2)],
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        decode_video_frames(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "frame_idx",
            "width",
            "height",
            "mean_r",
            "mean_g",
            "mean_b",
        )
        .orderBy("doc_id", "frame_idx")
    )


def _q_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual-hash dedup under the hash gate
    (operators/multimodal.dedup_images_phash): per document one of 5
    deterministic 24x24 stripe patterns (group = doc_id % 5, pixel p
    value = (g*37 + p*(2g+3)) % 256 on all channels) — byte-identical
    within a group, >=24 pHash bits apart across groups (verified), so
    with max_distance=4 the EXACT pair set is every same-group pair at
    hamming 0; the oracle enumerates it in closed form.  Pins decode,
    the 32-point DCT basis, median thresholding, bit packing AND the
    banded Hamming join at once (a drift in any produces nonzero
    hammings or missing pairs)."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        dedup_images_phash,
        make_test_media,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 60").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                g = int(d) % 5
                px = bytes(
                    v
                    for p in range(576)
                    for v in [((g * 37) + p * (2 * g + 3)) % 256] * 3
                )
                payloads.append(make_test_media("bmp", 24, 24, pixels=px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = ids.mapInPandas(_mk, schema="doc_id long, payload binary")
    return (
        dedup_images_phash(media, id_col="doc_id", max_distance=4)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _q_lakelite_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python-DataSource streaming SOURCE over a lakelite table under the
    hash gate (streaming/lakelite_source.py — manifest versions are the
    stream offsets, one input partition per added file, hive partition
    values injected as typed Arrow constants): three commits of the
    events slice stream through availableNow into a memory sink; the
    oracle is the same slice as plain SQL, so a lost commit, duplicated
    batch, or mis-injected partition value hash-mismatches."""
    from aws_sdk_pandas_spark import lakehouse_shim as shim
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.streaming.lakelite_source import (
        LakeliteStreamDataSource,
    )

    ev = (
        read_parquet(spark, f"{sf_dir}/events.parquet")
        .where("event_id < 2000")
        .select("event_id", "user_id", "event_type", "value")
    )
    path = _tmpdir("lakelite_stream_gate_")
    # three commits, partitioned by event_type (exercises value injection)
    shim.write(ev.where("event_id < 700"), path, mode="overwrite",
               partition_cols=["event_type"])
    shim.write(ev.where("event_id >= 700 AND event_id < 1400"), path)
    shim.write(ev.where("event_id >= 1400"), path)

    spark.dataSource.register(LakeliteStreamDataSource)
    q = (
        spark.readStream.format("lakelite_stream").option("path", path).load()
        .writeStream.format("memory").queryName("lakelite_stream_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        "SELECT event_id, user_id, event_type, value "
        "FROM lakelite_stream_gate ORDER BY event_id"
    )


def _q_audio_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup under the hash gate
    (operators/multimodal.dedup_audio_dhash): a deterministic 130-frame
    16-bit PCM WAV is synthesized per document — sample j of doc d is
    ((d%25)*31 + j*17 + 7*[d even and j%13==0]) % 65536 - 32768 — run
    through the REAL WAV decoder, the 65-window energy-envelope hash,
    and the banded Hamming join; the oracle recomputes the window
    energies arithmetically in DuckDB (int16/32768 and its square are
    exact in float64, so the comparison is bit-for-bit) and brute-forces
    all pairs."""
    import struct
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        dedup_audio_dhash,
        make_test_media,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                vals = [
                    ((d % 25) * 31 + j * 17 + (7 if d % 2 == 0 and j % 13 == 0 else 0))
                    % 65536
                    - 32768
                    for j in range(130)
                ]
                payloads.append(
                    make_test_media(
                        "wav", sample_rate=16000, channels=1, bits=16,
                        data=struct.pack(f"<{len(vals)}h", *vals),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = ids.mapInPandas(_mk, schema="doc_id long, payload binary")
    return (
        dedup_audio_dhash(media, id_col="doc_id", max_distance=8)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _q_multimodal_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the hash gate (verdict item 8,
    operators/multimodal.decode_bmp): a deterministic 4x4 24-bit BMP is
    SYNTHESIZED per document — pixel byte i of doc d is (d*7 + i*13) %
    256 — run through the real decoder and pixel-stats kernel, and the
    mean pixel value is recomputed by DuckDB from the same arithmetic.
    A channel-order, padding, row-flip, or normalization bug in the
    decoder shifts the mean and hash-mismatches."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import image_pixel_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "payload": [
                        make_test_media(
                            "bmp", 4, 4,
                            pixels=bytes((int(d) * 7 + i * 13) % 256 for i in range(48)),
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        image_pixel_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "width",
            "height",
            F.round("mean_pixel", 6).alias("mean_pixel"),
        )
        .orderBy("doc_id")
    )


def _q_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode under the hash gate
    (operators/multimodal.decode_png — stdlib zlib inflate + scanline
    unfiltering): a deterministic 4x4 REAL PNG is synthesized per
    document with pixel byte i of doc d = (d*11 + i*17) % 256, decoded
    by the pure-python decoder, and the mean recomputed by DuckDB from
    the same arithmetic.  PNG is lossless, so any inflate, filter, or
    channel-order bug shifts the mean exactly."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import image_pixel_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "payload": [
                        make_test_media(
                            "png", 4, 4,
                            pixels=bytes((int(d) * 11 + i * 17) % 256 for i in range(48)),
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        image_pixel_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "width",
            "height",
            F.round("mean_pixel", 6).alias("mean_pixel"),
        )
        .orderBy("doc_id")
    )


def _q_suppress_small_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity enforcement (operators/privacy.suppress_small_classes):
    rows in quasi classes (o_orderpriority, o_custkey % 997) smaller
    than 5 are dropped; the oracle recomputes the kept set with a
    HAVING semi-join."""
    from aws_sdk_pandas_spark.operators.privacy import suppress_small_classes
    from aws_sdk_pandas_spark.sources import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_custkey") % 997).alias("cust_bucket"),
    )
    return (
        suppress_small_classes(orders, ["o_orderpriority", "cust_bucket"], k=5)
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


def _q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private aggregate release
    (operators/privacy.dp_aggregate): per-event-type noisy SUM(value)
    with md5-deterministic Laplace noise (sensitivity 10, epsilon 2,
    seed 42) — the oracle re-derives the identical noise from the same
    md5 stream, closing the loop on reproducible DP releases."""
    from aws_sdk_pandas_spark.operators.privacy import dp_aggregate
    from aws_sdk_pandas_spark.sources import read_parquet

    events = read_parquet(spark, f"{sf_dir}/events.parquet")
    return dp_aggregate(
        events, ["event_type"], "value", agg="sum",
        epsilon=2.0, sensitivity=10.0, seed=42,
    ).orderBy("event_type")


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable fastText-style quality classifier
    (operators/classifier.py): train on the even-doc_id half of the
    documents table with label = "the token 'spark' appears", score
    the held-out odd half — the classifier must DISCOVER the
    discriminative token among the shared vocabulary.  Rows-only (the optimizer is float-summation iterative — not
    SQL-replayable); the hash-checked companion is
    ``docs_quality_classifier_invariants``."""
    from aws_sdk_pandas_spark.operators.classifier import (
        apply_text_classifier,
        train_text_classifier,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 600")
        .select(
            "doc_id",
            "text",
            F.array_contains(F.split(F.lower("text"), r"\s+"), "spark")
            .alias("has_tok"),
        )
    )
    train = docs.where("doc_id % 2 = 0").withColumn(
        "label", F.col("has_tok").cast("int")
    )
    model = train_text_classifier(
        train, dim=1 << 13, iterations=12, learning_rate=2.0
    )
    held = docs.where("doc_id % 2 = 1")
    return (
        apply_text_classifier(held, model)
        .select("doc_id", F.round("quality_score", 6).alias("quality_score"))
        .orderBy("doc_id")
    )


def _q_quality_classifier_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion for the trainable classifier: the planted
    token signal must be LEARNED — held-out documents containing the
    token score higher on average than those without (with margin),
    held-out accuracy at the 0.5 threshold beats 0.75, and every score
    is a valid probability.  Recomputed from scratch each run; a
    featurization or optimizer regression flips the booleans and the
    oracle is the literal expected row."""
    from aws_sdk_pandas_spark.operators.classifier import (
        apply_text_classifier,
        train_text_classifier,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 600")
        .select(
            "doc_id",
            "text",
            F.array_contains(F.split(F.lower("text"), r"\s+"), "spark")
            .alias("has_tok"),
        )
    )
    train = docs.where("doc_id % 2 = 0").withColumn(
        "label", F.col("has_tok").cast("int")
    )
    model = train_text_classifier(
        train, dim=1 << 13, iterations=12, learning_rate=2.0
    )
    held = docs.where("doc_id % 2 = 1")
    row = (
        apply_text_classifier(held, model)
        .agg(
            F.avg(F.when(F.col("has_tok"), F.col("quality_score"))).alias("p_en"),
            F.avg(F.when(~F.col("has_tok"), F.col("quality_score"))).alias("p_other"),
            F.avg(
                (
                    (F.col("quality_score") > 0.5) == F.col("has_tok")
                ).cast("double")
            ).alias("acc"),
            F.min("quality_score").alias("lo"),
            F.max("quality_score").alias("hi"),
        )
        .first()
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(
                bool(row["p_en"] > row["p_other"] + 0.2),
                bool(row["acc"] > 0.75),
                bool(0.0 <= row["lo"] and row["hi"] <= 1.0),
            )],
            1,
        ),
        "separation_ok boolean, accuracy_ok boolean, scores_valid boolean",
    )


def _q_multimodal_tiff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode under the hash gate
    (operators/tiff_lite.decode_tiff — IFD walk, strip assembly): a
    deterministic 4x4 uncompressed little-endian RGB TIFF is
    SYNTHESIZED per document — pixel byte i of doc d is
    (d*13 + i*23) % 256 — run through the real decoder and pixel-stats
    kernel, and the mean recomputed by DuckDB from the same
    arithmetic.  An IFD-offset, strip, sample-order, or photometric
    bug in the decoder shifts the mean and hash-mismatches."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import image_pixel_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "payload": [
                        make_test_media(
                            "tiff", 4, 4,
                            pixels=bytes((int(d) * 13 + i * 23) % 256 for i in range(48)),
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        image_pixel_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "width",
            "height",
            F.round("mean_pixel", 6).alias("mean_pixel"),
        )
        .orderBy("doc_id")
    )


def _q_multimodal_webp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless decode under the hash gate
    (operators/webp_lite.decode_webp — VP8L bit reader, simple prefix
    codes, literal pixel decode): a deterministic 4x4 VP8L file is
    SYNTHESIZED per document — each channel draws from two values
    selected by per-pixel bits (green: i%2 of {(d*3)%256,
    (d*3+91)%256}; red: (i//2)%2 of {(d*5)%256, (d*5+47)%256}; blue:
    (i//4)%2 of {(d*7)%256, (d*7+123)%256}) — decoded by the real
    decoder, mean recomputed by DuckDB from the same arithmetic.
    WebP lossless is exact, so any bit-order, prefix-code, or channel
    bug shifts the mean and hash-mismatches."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import image_pixel_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")
    selectors = [(i % 2, (i // 2) % 2, (i // 4) % 2) for i in range(16)]

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "payload": [
                        make_test_media(
                            "webp", 4, 4,
                            greens=((int(d) * 3) % 256, (int(d) * 3 + 91) % 256),
                            reds=((int(d) * 5) % 256, (int(d) * 5 + 47) % 256),
                            blues=((int(d) * 7) % 256, (int(d) * 7 + 123) % 256),
                            selectors=selectors,
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        image_pixel_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "width",
            "height",
            F.round("mean_pixel", 6).alias("mean_pixel"),
        )
        .orderBy("doc_id")
    )


def _q_multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF (LZW) decode under the hash gate
    (operators/multimodal.decode_gif): a deterministic 4x4 REAL GIF is
    synthesized per document — palette byte j = (j*29 + 5) % 256, pixel
    index i = (d*3 + i*7) % 4 — LZW-decoded by the pure-python decoder,
    and the mean pixel recomputed by DuckDB from the same arithmetic.
    GIF is lossless, so any LZW, color-table, or packing bug shifts the
    mean exactly."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import image_pixel_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")
    palette = bytes((j * 29 + 5) % 256 for j in range(12))

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "payload": [
                        make_test_media(
                            "gif", 4, 4, palette=palette,
                            indexes=[(int(d) * 3 + i * 7) % 4 for i in range(16)],
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        image_pixel_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "width",
            "height",
            F.round("mean_pixel", 6).alias("mean_pixel"),
        )
        .orderBy("doc_id")
    )


def _q_multimodal_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container parsing under the hash gate
    (operators/multimodal.video_metadata): a deterministic MP4 is
    SYNTHESIZED per document — duration d*40+400 units at timescale
    d%3*400+600, video track of (320+(d%4)*160) x (180+(d%4)*90) — run
    through the real ISO-BMFF box walker, and every parsed field is
    recomputed by DuckDB from the same arithmetic.  A box-offset,
    fixed-point, or version-handling bug in the parser shifts a value
    and hash-mismatches."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import make_test_media, video_metadata
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "payload": [
                        make_test_media(
                            "mp4",
                            320 + (int(d) % 4) * 160,
                            180 + (int(d) % 4) * 90,
                            timescale=(int(d) % 3) * 400 + 600,
                            duration=int(d) * 40 + 400,
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        video_metadata(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            F.round("video_duration_seconds", 6).alias("duration_s"),
            F.col("video_timescale").alias("timescale"),
            F.col("video_n_tracks").alias("n_tracks"),
            F.col("video_width").alias("width"),
            F.col("video_height").alias("height"),
            F.col("video_brand").alias("brand"),
        )
        .orderBy("doc_id")
    )


def _q_multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM decode under the hash gate (verdict item 8,
    operators/multimodal.decode_wav + audio_pcm_stats): a deterministic
    64-frame 16-bit mono WAV per document — sample j of doc d is
    ((d*31 + j*17) % 65536) - 32768 — decoded, normalized, and its RMS
    recomputed by DuckDB in double precision from the same formula.
    int16/32768 is exact in float32 and the kernel reduces in float64,
    so both engines evaluate identical arithmetic."""
    import struct
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import audio_pcm_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                vals = [((int(d) * 31 + j * 17) % 65536) - 32768 for j in range(64)]
                payloads.append(
                    make_test_media(
                        "wav", sample_rate=16000, channels=1, bits=16,
                        data=struct.pack(f"<{len(vals)}h", *vals),
                    )
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str), "payload": payloads})

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        audio_pcm_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "channels",
            "sample_rate",
            "n_frames",
            F.round("rms", 6).alias("rms"),
        )
        .orderBy("doc_id")
    )


def _q_multimodal_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode under the hash gate
    (operators/flac_lite.decode_flac + audio_pcm_stats): a
    deterministic 64-frame 16-bit mono FLAC per document — sample j of
    doc d is ((d*29 + j*23) % 65536) - 32768, carried in a VERBATIM
    subframe with real header CRC-8 / frame CRC-16 — decoded by the
    native FLAC decoder, normalized, and its RMS recomputed by DuckDB
    in double precision from the same formula.  A bit-reader, subframe,
    or CRC bug shifts the stats and hash-mismatches."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import audio_pcm_stats, make_test_media
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = read_parquet(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200").select("doc_id")

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                vals = [((int(d) * 29 + j * 23) % 65536) - 32768 for j in range(64)]
                payloads.append(
                    make_test_media("flac", sample_rate=16000, samples=vals)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str), "payload": payloads})

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        audio_pcm_stats(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "channels",
            "sample_rate",
            "n_frames",
            F.round("rms", 6).alias("rms"),
        )
        .orderBy("doc_id")
    )


_URL_SYNTH = """
    concat('https://',
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ''
                WHEN 1 THEN 'www.' ELSE 'a.b.' END,
           CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'alpha.com'
                WHEN 1 THEN 'beta.co.uk'
                WHEN 2 THEN 'gamma.org' ELSE 'delta.co.jp' END,
           '/p', CAST(doc_id % 5 AS STRING),
           CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x' ELSE '' END)
"""


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL provenance features under the hash gate
    (operators/weburl.url_features — try_parse_url + PSL-lite registered
    domain, pure codegen): URLs synthesized from doc_id land on known
    domains/subdomain depths/tracking flags, so the oracle re-derives
    every feature in closed form; a wrong suffix rule (beta.co.uk
    splitting to co.uk) or a host-vs-domain mixup hash-mismatches."""
    from aws_sdk_pandas_spark.operators.weburl import url_features
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 400")
        .selectExpr("doc_id", f"{_URL_SYNTH} AS url")
    )
    return (
        url_features(docs)
        .select(
            "doc_id", "url_domain", "url_subdomain_depth",
            "url_path_depth", "url_has_tracking",
        )
        .orderBy("doc_id")
    )


def _q_url_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain corpus cap under the hash gate
    (operators/weburl.cap_domains — the C4/RefinedWeb anti-monoculture
    step): the md5-keyed pick is engine-rederivable, so the oracle
    reproduces the EXACT kept set with ROW_NUMBER over the same key; a
    different ordering, an off-by-one cap, or a NULL-domain funnel all
    hash-mismatch."""
    from aws_sdk_pandas_spark.operators.weburl import cap_domains
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .selectExpr("doc_id", f"{_URL_SYNTH} AS url")
    )
    return (
        cap_domains(docs, max_per_domain=25, id_col="doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    )


def _q_training_pipeline_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star INTEGRATION gate: the training-data families composed
    into ONE flow, hash-checked end-to-end against a closed-form DuckDB
    replay of the whole funnel —

      lakelite table (2 append commits) -> lakelite STREAMING source
      (Python DataSource, availableNow, version-offset micro-batches)
      -> curate_corpus (fingerprint dedup + language whitelist + token
      gates) -> cap_domains (registered-domain anti-monoculture cap,
      md5-deterministic pick) -> render_conversations (chatml) ->
      whitespace token accounting -> training_order (md5 epoch
      permutation) -> pack_sequences (48-token prefix-sum packing).

    Every per-stage operator is oracle-checked elsewhere; THIS gate pins
    the composition: the final (doc_id, sft_tokens, position, seq_id)
    accounting is only right if the stream delivered exactly the
    committed rows, the curation kept exactly the oracle's survivors,
    the cap picked the oracle's md5 winners, the chatml rendering
    produced the analytic token count (contents are space-free, so
    tokens = 2 per turn), and the permutation + running-sum packing
    agree bit-for-bit."""
    from aws_sdk_pandas_spark import lakehouse_shim as shim
    from aws_sdk_pandas_spark.functions.text import token_count
    from aws_sdk_pandas_spark.operators.conversations import render_conversations
    from aws_sdk_pandas_spark.operators.packing import pack_sequences
    from aws_sdk_pandas_spark.operators.pipeline import curate_corpus
    from aws_sdk_pandas_spark.operators.sampling import training_order
    from aws_sdk_pandas_spark.operators.weburl import cap_domains
    from aws_sdk_pandas_spark.sources import read_parquet
    from aws_sdk_pandas_spark.streaming.lakelite_source import (
        LakeliteStreamDataSource,
    )

    base = _tmpdir("asps-pipe-")
    tbl, ck, out_dir = f"{base}/t", f"{base}/ck", f"{base}/out"
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    # two commits -> two stream micro-batches through the version offsets
    shim.write(docs.where("doc_id % 2 = 0"), tbl, mode="overwrite")
    shim.write(docs.where("doc_id % 2 = 1"), tbl)
    try:
        spark.dataSource.register(LakeliteStreamDataSource)
    except Exception:
        pass  # already registered in this session
    q = (
        spark.readStream.format("lakelite_stream").option("path", tbl).load()
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = spark.read.parquet(out_dir)

    enriched = streamed.selectExpr(
        "doc_id", "lang", "text",
        f"{_URL_SYNTH} AS url",
        f"{_CONV_SYNTH} AS conversation",
    )
    curated = curate_corpus(
        enriched,
        lang_col="lang",
        langs=["en", "de", "fr"],
        min_tokens=10,
        max_tokens=120,
        near_dup=False,
    )
    capped = cap_domains(curated, max_per_domain=40, id_col="doc_id")
    rendered = render_conversations(capped, out_col="__sft_text")
    with_tok = rendered.withColumn("sft_tokens", token_count("__sft_text"))
    ordered = training_order(with_tok, key_col="doc_id", seed=7, epoch=1)
    packed = pack_sequences(ordered, "sft_tokens", 48, order_cols=["position"])
    return packed.select(
        "doc_id",
        "sft_tokens",
        F.col("position").cast("bigint").alias("position"),
        F.col("seq_id").cast("bigint").alias("seq_id"),
    ).orderBy("doc_id")


def _q_url_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Public Suffix List registered domains under the hash gate
    (operators/weburl.load_psl + the longest-match algorithm as map-only
    InSet codegen): six URL families synthesized from doc_id exercise
    private-domain rules (user sites under github.io stay separate),
    longest-match (co.uk over uk), wildcard rules (*.kawasaki.jp, *.ck),
    an exception rule (!city.kawasaki.jp) and trailing-dot FQDN
    normalization — the oracle re-derives every registered domain and
    subdomain depth in closed form, so a wrong precedence order, a
    wildcard off-by-one-label, or a dot-stripping miss hash-mismatches."""
    from aws_sdk_pandas_spark.operators.weburl import load_psl, url_features
    from aws_sdk_pandas_spark.sources import read_parquet

    psl = load_psl(
        [
            "// ===BEGIN ICANN DOMAINS===",
            "com", "org", "io", "uk", "co.uk", "jp",
            "kawasaki.jp", "*.kawasaki.jp", "!city.kawasaki.jp",
            "ck", "*.ck", "!www.ck",
            "// ===END ICANN DOMAINS===",
            "// ===BEGIN PRIVATE DOMAINS===",
            "github.io",
            "// ===END PRIVATE DOMAINS===",
        ]
    )
    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 600")
        .selectExpr(
            "doc_id",
            """
            CASE CAST(doc_id % 6 AS INT)
              WHEN 0 THEN concat('https://u', CAST(doc_id % 9 AS STRING),
                                 '.github.io/p')
              WHEN 1 THEN concat('https://news.site', CAST(doc_id % 7 AS STRING),
                                 '.co.uk/x')
              WHEN 2 THEN 'https://a.b.kawasaki.jp/x'
              WHEN 3 THEN 'https://www.city.kawasaki.jp/x'
              WHEN 4 THEN concat('https://www.ex', CAST(doc_id % 7 AS STRING),
                                 '.com./x')
              ELSE 'https://shop.example.ck/x'
            END AS url
            """,
        )
    )
    return (
        url_features(docs, psl=psl)
        .select("doc_id", "url_domain", "url_subdomain_depth")
        .orderBy("doc_id")
    )


_CONV_SYNTH = """
    transform(sequence(1, 2 + CAST(doc_id % 3 AS INT) * 2), i -> struct(
        CASE WHEN i % 2 = 1 OR (doc_id % 7 = 0 AND i = 2)
             THEN 'user' ELSE 'assistant' END AS role,
        CASE WHEN doc_id % 11 = 0 AND i = 1 THEN ''
             WHEN i % 2 = 1
             THEN concat('q', CAST(doc_id AS STRING), '-', CAST(i AS STRING))
             ELSE concat('a', CAST(doc_id AS STRING), '-', CAST(i AS STRING))
        END AS content))
"""


def _q_audio_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3/FLAC/Ogg container metadata under the hash gate
    (operators/multimodal.audio_metadata — ID3v2 skip + MPEG frame
    header + CBR duration, FLAC STREAMINFO bit unpack, Ogg Opus granule
    duration): every synthesized parameter is integer arithmetic on
    doc_id, so the oracle re-derives codec/channels/rate/duration in
    closed form — including the MP3 frame-length -> byte-count -> CBR
    duration chain."""
    from typing import Iterator

    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        audio_metadata,
        make_test_media,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 240")
        .select("doc_id")
    )

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                kind = d % 3
                if kind == 0:
                    payloads.append(
                        make_test_media(
                            "mp3", sample_rate=44100,
                            bitrate_kbps=64 + 32 * (d % 3 + d // 3 % 2),
                            channels=1 + d % 2, mp3_frames=4,
                            id3_size=(100 if d % 5 == 0 else None),
                        )
                    )
                elif kind == 1:
                    payloads.append(
                        make_test_media(
                            "flac", sample_rate=48000, channels=1 + d % 2,
                            bits=16 + 8 * (d % 2),
                            total_samples=48000 * (1 + d % 5),
                        )
                    )
                else:
                    payloads.append(
                        make_test_media(
                            "ogg", codec="opus", channels=1 + d % 2,
                            sample_rate=48000, pre_skip=312,
                            granule=312 + 48000 * (1 + d % 3),
                        )
                    )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        audio_metadata(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "audio_codec", "audio_channels", "audio_sample_rate",
            "audio_duration_ms",
        )
        .orderBy("doc_id")
    )


def _q_preference_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/preference-pair screening under the hash gate
    (operators/conversations.preference_stats): chosen/rejected strings
    synthesized by formula, so identical-pair flags, length ratios and
    token-jaccard are all closed-form in the oracle."""
    from aws_sdk_pandas_spark.operators.conversations import preference_stats
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 400")
        .selectExpr(
            "doc_id",
            "repeat('a', 5 + CAST(doc_id % 7 AS INT)) AS chosen",
            "CASE WHEN doc_id % 6 = 0 THEN repeat('a', 5 + CAST(doc_id % 7 AS INT)) "
            "ELSE repeat('b', 3 + CAST(doc_id % 5 AS INT)) END AS rejected",
        )
    )
    return (
        preference_stats(docs)
        .select(
            "doc_id", "pref_identical", "pref_len_ratio", "pref_token_jaccard"
        )
        .orderBy("doc_id")
    )


def _q_conv_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat/SFT validation under the hash gate
    (operators/conversations.validate_conversations — JVM HOF rule
    screen): conversations synthesized from doc_id carry analytically
    planted defects (doc%7: a doubled user turn breaks alternation;
    doc%11: an empty first content), so the oracle derives the exact
    error-label list per row in closed form."""
    from aws_sdk_pandas_spark.operators.conversations import validate_conversations
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 500")
        .selectExpr("doc_id", f"{_CONV_SYNTH} AS conversation")
    )
    return (
        validate_conversations(docs)
        .select(
            "doc_id",
            "conv_valid",
            F.array_join("conv_errors", ",").alias("errors"),
        )
        .orderBy("doc_id")
    )


def _q_conv_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair extraction under the hash gate
    (operators/conversations.conversations_to_pairs): one row per
    assistant turn with the FULL rendered context — the oracle rebuilds
    role/content/context per position with list_transform, so a wrong
    slice bound, a missed assistant turn, or a template drift all
    hash-mismatch."""
    from aws_sdk_pandas_spark.operators.conversations import conversations_to_pairs
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .selectExpr("doc_id", f"{_CONV_SYNTH} AS conversation")
    )
    return conversations_to_pairs(docs).orderBy("doc_id", "turn_idx")


def _q_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML page-metadata extraction under the hash gate
    (operators/weburl.extract_page_meta): title/description/canonical/
    og fields synthesized from doc_id (reversed attribute order on even
    docs exercises both regexp directions); closed-form oracle."""
    from aws_sdk_pandas_spark.operators.weburl import extract_page_meta
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .selectExpr(
            "doc_id",
            """
            concat('<html lang="', CASE WHEN doc_id % 3 = 0 THEN 'en'
                                        WHEN doc_id % 3 = 1 THEN 'de'
                                        ELSE 'fr' END,
                   '"><head><title>Doc ', CAST(doc_id AS STRING), '</title>',
                   CASE WHEN doc_id % 2 = 0
                        THEN concat('<meta content="og ', CAST(doc_id AS STRING),
                                    '" property="og:title">')
                        ELSE concat('<meta property="og:title" content="og ',
                                    CAST(doc_id AS STRING), '">') END,
                   '<link rel="canonical" href="https://c.com/',
                   CAST(doc_id % 50 AS STRING), '"></head></html>') AS html
            """,
        )
    )
    return (
        extract_page_meta(docs)
        .select("doc_id", "page_title", "page_og_title", "page_canonical", "page_lang")
        .orderBy("doc_id")
    )


def _q_parse_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing under the hash gate
    (operators/weburl.parse_robots — REP group semantics via two
    windows): a '*' group with doc-keyed rules plus a bot-specific
    group, both re-derived in closed form by the oracle."""
    from aws_sdk_pandas_spark.operators.weburl import parse_robots
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .selectExpr(
            "doc_id",
            """
            concat('User-agent: *\n',
                   concat_ws('\n', transform(
                       sequence(1, 1 + CAST(doc_id % 3 AS INT)), j -> concat(
                           CASE WHEN j % 2 = 1 THEN 'Disallow: /p'
                                ELSE 'Allow: /p' END,
                           CAST(doc_id AS STRING), '/', CAST(j AS STRING)))),
                   '\n\nUser-agent: bot', CAST(doc_id % 5 AS STRING),
                   '\nDisallow: /all', CAST(doc_id AS STRING)) AS text
            """,
        )
    )
    return parse_robots(docs, text_col="text", id_col="doc_id").orderBy(
        "doc_id", "user_agent", "rule_idx"
    )


def _q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML link extraction under the hash gate
    (operators/weburl.extract_links — positional zip of two group
    extractions): anchors and hrefs are formulas of doc_id, with inner
    tags in odd-position anchors to exercise the strip."""
    from aws_sdk_pandas_spark.operators.weburl import extract_links
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .selectExpr(
            "doc_id",
            """
            concat('<html>', concat_ws(' ', transform(
                sequence(1, 1 + CAST(doc_id % 4 AS INT)), j -> concat(
                    '<a href="https://l.com/', CAST(doc_id AS STRING), '/',
                    CAST(j AS STRING),
                    CASE WHEN j % 3 = 0 THEN '?x=1&amp;y=2' ELSE '' END,
                    '">',
                    CASE WHEN j % 2 = 1
                         THEN concat('text <b>', CAST(j AS STRING), '</b>')
                         ELSE concat('plain ', CAST(j AS STRING)) END,
                    '</a>'))), '</html>') AS html
            """,
        )
    )
    return extract_links(docs, html_col="html", id_col="doc_id").orderBy(
        "doc_id", "link_idx"
    )


def _q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap frontier extraction under the hash gate
    (operators/weburl.extract_sitemap_urls — JVM regexp + posexplode):
    urlset XML synthesized from doc_id with lastmod on even positions,
    so the oracle re-derives every (loc_idx, url, lastmod) row."""
    from aws_sdk_pandas_spark.operators.weburl import extract_sitemap_urls
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 300")
        .selectExpr(
            "doc_id",
            """
            concat('<urlset>', concat_ws('', transform(
                sequence(1, 1 + CAST(doc_id % 5 AS INT)), j -> concat(
                    '<url><loc>',
                    CASE WHEN j % 4 = 0 THEN '<![CDATA[' ELSE '' END,
                    'https://s.com/p', CAST(doc_id AS STRING),
                    '-', CAST(j AS STRING),
                    CASE WHEN j % 3 = 0 THEN '?a=1&amp;b=2' ELSE '' END,
                    CASE WHEN j % 4 = 0 THEN ']]>' ELSE '' END,
                    '</loc>',
                    CASE WHEN j % 2 = 0
                         THEN concat('<lastmod>2024-0', CAST(1 + j % 9 AS STRING),
                                     '-01</lastmod>')
                         ELSE '' END,
                    '</url>'))), '</urlset>') AS xml
            """,
        )
    )
    return extract_sitemap_urls(docs, xml_col="xml", id_col="doc_id").orderBy(
        "doc_id", "loc_idx"
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup under the hash gate
    (operators/weburl.normalize_urls + dedup_urls): four synthetic
    variants of each of 50 logical URLs — host-case, default-port +
    tracking params, fragment — must all normalize to one key, so the
    kept set is exactly MIN(doc_id) per doc_id%50; a normalization miss
    (a variant forming its own group) adds rows and hash-mismatches."""
    from aws_sdk_pandas_spark.operators.weburl import dedup_urls
    from aws_sdk_pandas_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        """
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN concat('https://www.site.com/page', CAST(doc_id % 50 AS STRING))
          WHEN 1 THEN concat('HTTPS://WWW.Site.COM/page', CAST(doc_id % 50 AS STRING))
          WHEN 2 THEN concat('https://www.site.com:443/page',
                             CAST(doc_id % 50 AS STRING), '?utm_source=x&gclid=1')
          ELSE concat('https://www.site.com/page',
                      CAST(doc_id % 50 AS STRING), '#section')
        END AS url
        """,
    )
    return dedup_urls(docs, id_col="doc_id").select("doc_id").orderBy("doc_id")


def _q_multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FFT front end under the hash gate
    (operators/multimodal.audio_spectral_features): each document gets a
    pure int16 sine placed EXACTLY on an FFT bin — freq(d) = 8*(10 +
    d%40) Hz at sr=8192 with frame_len=1024 gives 8 Hz bins — so the
    Hann-windowed mean power spectrum provably peaks at that bin and
    ``dominant_freq_hz`` equals the analytic bin frequency, which the
    oracle recomputes in closed form without decoding anything.  A wrong
    window, an off-by-one bin index, or a broken decode all
    hash-mismatch."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from aws_sdk_pandas_spark.operators.multimodal import (
        audio_spectral_features,
        make_test_media,
    )
    from aws_sdk_pandas_spark.sources import read_parquet

    ids = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .where("doc_id < 150")
        .select("doc_id")
    )

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(2048, dtype=np.float64)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                freq = 8.0 * (10 + int(d) % 40)
                pcm = np.round(
                    0.5 * 32767.0 * np.sin(2.0 * np.pi * freq * t / 8192.0)
                ).astype(np.int16)
                payloads.append(
                    make_test_media(
                        "wav", sample_rate=8192, channels=1, bits=16,
                        data=pcm.tobytes(),
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": payloads}
            )

    media = ids.mapInPandas(_mk, schema="media_id string, payload binary")
    return (
        audio_spectral_features(media)
        .select(
            F.col("media_id").cast("bigint").alias("doc_id"),
            "sample_rate",
            "n_frames",
            F.round("dominant_freq_hz", 6).alias("dominant_freq_hz"),
        )
        .orderBy("doc_id")
    )


def _q_lakehouse_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed under the hash gate (lakehouse_shim.table_changes,
    the Delta CDF analog): orders v0 -> MERGE of derived updates+inserts,
    then the keyed snapshot diff grouped by change type — the oracle
    recomputes each class (insert / update pre/post image) from the same
    derivation, so a missed update, phantom insert, or wrong image
    hash-mismatches."""
    from aws_sdk_pandas_spark import lakehouse, lakehouse_shim

    _load(spark, sf_dir)
    path = _tmpdir("asps-cdf-") + "/orders_tbl"
    base = spark.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders"
    )
    lakehouse.to_deltalake(base.repartition(8, "o_orderkey"), path, mode="overwrite")
    updates = spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               o_totalprice + 1000.0 AS o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 10 = 0
        """
    )
    inserts = spark.sql(
        """
        SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 1000 = 0
        """
    )
    lakehouse_shim.merge(spark, updates.unionByName(inserts), path, ["o_orderkey"])
    changes = lakehouse_shim.table_changes(spark, path, ["o_orderkey"], from_version=0)
    return (
        changes.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("_change_type")
    )


def _q_lakehouse_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping under the hash gate (lakehouse_shim stats_cols +
    predicates — the Delta min/max skipping analog): orders lands
    range-clustered with per-file o_orderkey stats, a quarter-range
    predicate read must PRUNE most files (asserted in-row as a boolean
    the oracle expects TRUE) and still aggregate exactly."""
    from aws_sdk_pandas_spark import lakehouse_shim
    from aws_sdk_pandas_spark.sources import read_parquet

    _load(spark, sf_dir)
    path = _tmpdir("asps-skip-") + "/orders_tbl"
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    lakehouse_shim.write(
        orders.repartitionByRange(8, "o_orderkey"),
        path,
        mode="overwrite",
        stats_cols=["o_orderkey"],
    )
    cutoff = orders.agg(F.max("o_orderkey")).first()[0] // 4
    kept, total = lakehouse_shim.files_scanned(path, [("o_orderkey", "<", cutoff)])
    pruned = lakehouse_shim.read(
        spark, path, predicates=[("o_orderkey", "<", cutoff)]
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_price"),
    ).select(F.lit(bool(kept < total)).alias("files_pruned_ok"), "n", "total_price")


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-bucketed co-located join under the hash gate
    (sources.to_parquet_table bucketBy): orders and customer land as
    catalog tables bucketed on custkey with the same bucket count, then
    join WITHOUT any Exchange (Catalyst proves the bucket partitioning —
    the plan property is pinned in test_plan_quality.py; this gate pins
    the VALUES surviving the bucketed write+read+join round-trip)."""
    from aws_sdk_pandas_spark.sources import read_parquet, to_parquet_table

    root = _tmpdir("asps-bucketed-")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    to_parquet_table(orders, "gate_bq_orders", bucketing_info=(["o_custkey"], 8),
                     path=f"{root}/o")
    to_parquet_table(customer.withColumnRenamed("c_custkey", "o_custkey"),
                     "gate_bq_customer", bucketing_info=(["o_custkey"], 8),
                     path=f"{root}/c")
    joined = spark.table("gate_bq_orders").join(spark.table("gate_bq_customer"), "o_custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


def _q_quicksight_spice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QuickSight dataset pipeline under the hash gate (quicksight.py,
    reference: quicksight/_create.py:272,449): dataset defined over
    customer with logical-table rename + decimal cast, imported into
    SPICE (real parquet snapshot), read back from the snapshot and
    aggregated; the oracle recomputes from the raw table, so a
    transformation or materialization bug hash-mismatches."""
    from aws_sdk_pandas_spark import quicksight as qs

    _load(spark, sf_dir)
    qs.SPICE_ROOT = _tmpdir("asps-spice-")
    name = "gate_customers"
    for ds_id in qs.get_dataset_ids(name):
        qs.delete_dataset(dataset_id=ds_id)
    qs.create_athena_dataset(
        name,
        sql="SELECT c_custkey, c_mktsegment, c_acctbal FROM customer",
        rename_columns={"c_mktsegment": "segment"},
        cast_columns_types={"c_acctbal": "decimal(18,6)"},
        import_mode="SPICE",
    )
    qs.create_ingestion(dataset_name=name, spark=spark)
    df = qs.read_dataset(name, spark=spark)
    return (
        df.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).cast("double").alias("total_bal"),
        )
        .orderBy("segment")
    )


def _q_cypher_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openCypher execution under the hash gate
    (connectors/opencypher.compile_opencypher via
    neptune.execute_opencypher, reference: neptune/_neptune.py:225): a
    directed MATCH with an edge-property WHERE and Cypher's implicit
    aggregation grouping; the oracle recomputes the grouped counts from
    the flat events table."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_opencypher(
        {"root": ""},
        "MATCH (u:user)-[r:did]->(t:etype) WHERE r.value > 20 "
        "RETURN t AS etype, count(*) AS n, count(DISTINCT u) AS n_users "
        "ORDER BY etype",
        vertices=vertices,
        edges=edges,
    )


def _q_cypher_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle patterns under the hash gate (connectors/opencypher.py —
    a repeated node variable closes the chain back on its first binding
    via alias + id-equality): (u)-[:did]->(t)<-[:did]-(u) counts ordered
    pairs of DISTINCT events a user did of the same type (relationship
    uniqueness excludes re-using one edge both ways), so the oracle is
    sum(c*(c-1)) over the per-(user, type) count table."""
    from aws_sdk_pandas_spark.connectors.neptune import execute_opencypher

    vertices, edges = _gremlin_graph(spark, sf_dir)
    return execute_opencypher(
        {"root": ""},
        "MATCH (u:user)-[:did]->(t:etype)<-[:did]-(u) "
        "RETURN t AS etype, count(*) AS n ORDER BY etype",
        vertices=vertices,
        edges=edges,
    )


def _q_cleanrooms_protected_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean Rooms protected aggregation under the hash gate
    (cleanrooms.read_sql_query, reference: cleanrooms/_read.py:29): a
    segment x nation rollup runs under an AGGREGATION analysis rule —
    plan must aggregate, and groups below the k-threshold are SUPPRESSED.
    The oracle applies the same HAVING, so both the aggregation and the
    suppression semantics are hash-pinned."""
    from aws_sdk_pandas_spark import cleanrooms

    _load(spark, sf_dir)
    return cleanrooms.read_sql_query(
        spark,
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
        FROM customer
        GROUP BY c_mktsegment, c_nationkey
        """,
        analysis_rule={
            "type": "AGGREGATION",
            "k_threshold": 8,
            "count_column": "n",
            "allowed_columns": ["c_mktsegment", "c_nationkey", "total_bal"],
        },
    ).orderBy("c_mktsegment", "c_nationkey")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + extensions."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "q01_pricing_summary": lambda s, d: _sql(s, d, _Q01),
        "q17_small_qty_revenue": lambda s, d: _sql(s, d, _Q17_STYLE),
        "agg_rollup": lambda s, d: _sql(s, d, _ROLLUP),
        "agg_cube": lambda s, d: _sql(s, d, _CUBE),
        "setops_customers": lambda s, d: _sql(s, d, _SETOPS),
        "join_anti_customers": lambda s, d: _sql(s, d, _ANTI_JOIN),
        "join_semi_suppliers": lambda s, d: _sql(s, d, _SEMI_JOIN),
        "window_running_total": lambda s, d: _sql(s, d, _WINDOW_RUNNING),
        "scan_projection_pushdown": _q_scan_projection,
        "vectors_query_filtered": _q_vectors_filtered,
        "logs_insights_stats": _q_logs_insights,
        "ddb_read_items": _q_ddb_read_items,
        "opensearch_dsl_search": _q_opensearch_dsl,
        "select_query_pushdown": _q_select_query,
        "timestream_roundtrip": _q_timestream_roundtrip,
        "dq_ruleset_events": _q_dq_ruleset,
        "dedup_embedding_cosine": _q_dedup_embedding,
        "asof_join_events": _q_asof_join,
        "event_value_quantiles": _q_event_value_quantiles,
        "sessionize_events": _q_sessionize,
        "upsert_orders": _q_upsert_orders,
        "pivot_event_type_daily": _q_pivot_events,
        "json_extract_props": _q_json_props,
        "rank_orders_in_segment": lambda s, d: _sql(s, d, _RANK_IN_SEGMENT),
        "interval_join_purchases": _q_interval_join,
        "dedup_cluster_labels": _q_dedup_clusters,
        "emb_knn_ivf": _q_knn_ivf,
        "emb_knn_ivf_fullprobe": _q_knn_ivf_fullprobe,
        "emb_knn_ivf_invariants": _q_knn_ivf_invariants,
        "dedup_embedding_pairs_exact": _q_dedup_embedding_pairs,
        "docs_decontaminate_embedding": _q_decontaminate_embedding,
        "doc_semantic_knn_selfcheck": _q_semantic_knn_selfcheck,
        "hopping_window_stats": _q_hopping_window,
        "dq_outliers_zscore": _q_outliers,
        "doc_semantic_knn": _q_semantic_knn,
        "emb_knn_batch": _q_knn_batch,
        "ts_resample_gapfill": _q_resample_locf,
        "docs_cap_per_lang": _q_cap_per_lang,
        "q02_max_acctbal_supplier": lambda s, d: _sql(s, d, _Q02_MAX_SUPP),
        "q03_shipping_priority": lambda s, d: _sql(s, d, _Q03),
        "q04_order_priority_exists": lambda s, d: _sql(s, d, _Q04),
        "q05_local_supplier_volume": lambda s, d: _sql(s, d, _Q05),
        "q06_revenue_forecast": lambda s, d: _sql(s, d, _Q06),
        "q07_volume_shipping": lambda s, d: _sql(s, d, _Q07),
        "q08_market_share": lambda s, d: _sql(s, d, _Q08),
        "q09_product_profit": lambda s, d: _sql(s, d, _Q09),
        "q10_returned_items": lambda s, d: _sql(s, d, _Q10),
        "q11_important_suppliers": lambda s, d: _sql(s, d, _Q11),
        "q12_priority_shipping": lambda s, d: _sql(s, d, _Q12),
        "q13_customer_distribution": lambda s, d: _sql(s, d, _Q13),
        "q14_promo_revenue": lambda s, d: _sql(s, d, _Q14),
        "q15_top_supplier": lambda s, d: _sql(s, d, _Q15),
        "q16_supplier_part_cnt": lambda s, d: _sql(s, d, _Q16),
        "q18_large_volume_customer": lambda s, d: _sql(s, d, _Q18),
        "q19_disjunctive_filter": lambda s, d: _sql(s, d, _Q19),
        "q20_top_share_suppliers": lambda s, d: _sql(s, d, _Q20_STYLE),
        "q22_sales_opportunity": lambda s, d: _sql(s, d, _Q22),
        "events_daily_stats": lambda s, d: _sql(s, d, _EVENTS_DAILY),
        "events_top_users": lambda s, d: _sql(s, d, _EVENTS_TOP_USERS),
        "doc_lang_stats": _q_doc_lang_stats,
        "doc_token_counts": _q_doc_tokens,
        "doc_fingerprints": _q_doc_fingerprint,
        "doc_quality_scores": _q_doc_quality,
        "doc_language_id": _q_doc_langid,
        "doc_ngram_jaccard_dups": _q_doc_ngram_dups,
        "emb_knn_cosine": _q_knn_cosine,
        "emb_knn_euclidean": _q_knn_euclidean,
        "dedup_exact_lineitem": _q_dedup_exact,
        "q21_blocking_supplier": lambda s, d: _sql(s, d, _Q21_STYLE),
        "agg_grouping_sets": lambda s, d: _sql(s, d, _GROUPING_SETS),
        "stats_summary_lineitem": lambda s, d: _sql(s, d, _STATS_SUMMARY),
        "histogram_event_values": lambda s, d: _sql(s, d, _HISTOGRAM_EVENTS),
        "cdc_latest_order": _q_cdc_latest_order,
        "scd2_order_priority": _q_scd2_priority,
        "doc_word_topk": _q_doc_word_topk,
        "doc_pii_redaction": _q_doc_pii_redaction,
        "zorder_clustering_key": _q_zorder_values,
        "doc_contamination_check": _q_contamination,
        "doc_tfidf_top_terms": _q_tfidf_top_terms,
        "unload_partitioned_roundtrip": _q_unload_roundtrip,
        "lakehouse_merge_roundtrip": _q_lakehouse_merge,
        "lakehouse_iceberg_snapshots": _q_lakehouse_iceberg_snapshots,
        "graph_gremlin_out_counts": _q_gremlin_out_counts,
        "graph_gremlin_until_fixpoint": _q_gremlin_until_fixpoint,
        "lakehouse_convert_mapped": _q_lakehouse_convert_mapped,
        "docs_lm_perplexity": _q_docs_lm_perplexity,
        "docs_webdataset_roundtrip": _q_docs_webdataset_roundtrip,
        "docs_megatron_roundtrip": _q_docs_megatron_roundtrip,
        "training_pipeline_megatron": _q_training_pipeline_megatron,
        "media_webdataset_roundtrip": _q_media_webdataset_roundtrip,
        "multimodal_bmp_pixel_stats": _q_multimodal_bmp_stats,
        "docs_ranking_metrics": _q_ranking_metrics,
        "orders_suppress_small_classes": _q_suppress_small_classes,
        "events_dp_release": _q_dp_release,
        "docs_quality_classifier": _q_quality_classifier,
        "docs_quality_classifier_invariants": _q_quality_classifier_invariants,
        "multimodal_tiff_pixel_stats": _q_multimodal_tiff_stats,
        "multimodal_webp_pixel_stats": _q_multimodal_webp_stats,
        "multimodal_mp4_metadata": _q_multimodal_mp4_metadata,
        "multimodal_png_pixel_stats": _q_multimodal_png_stats,
        "multimodal_gif_pixel_stats": _q_multimodal_gif_stats,
        "multimodal_image_dhash_dups": _q_image_dhash_dups,
        "multimodal_image_phash_dups": _q_image_phash_dups,
        "multimodal_gif_animation_frames": _q_gif_animation_frames,
        "lakelite_stream_source": _q_lakelite_stream_source,
        "multimodal_audio_dhash_dups": _q_audio_dhash_dups,
        "cleanrooms_protected_agg": _q_cleanrooms_protected_agg,
        "graph_cypher_agg": _q_cypher_agg,
        "quicksight_spice_roundtrip": _q_quicksight_spice,
        "bucketed_join_colocated": _q_bucketed_join,
        "lakehouse_skipping_pruned_agg": _q_lakehouse_skipping,
        "lakehouse_cdf_changes": _q_lakehouse_cdf,
        "multimodal_wav_pcm_stats": _q_multimodal_wav_stats,
        "multimodal_flac_pcm_stats": _q_multimodal_flac_stats,
        "multimodal_audio_spectral": _q_multimodal_audio_spectral,
        "docs_url_features": _q_url_features,
        "docs_url_psl_domains": _q_url_psl_domains,
        "training_pipeline_sft": _q_training_pipeline_sft,
        "docs_url_domain_caps": _q_url_domain_caps,
        "docs_url_dedup": _q_url_dedup,
        "docs_sitemap_urls": _q_sitemap_urls,
        "docs_extract_links": _q_extract_links,
        "docs_parse_robots": _q_parse_robots,
        "docs_page_meta": _q_page_meta,
        "multimodal_audio_containers": _q_audio_containers,
        "dq_ruleset_extended": _q_dq_ruleset_extended,
        "multimodal_avi_metadata": _q_avi_metadata,
        "docs_subtitle_cues": _q_subtitles,
        "multimodal_cue_frame_align": _q_cue_frame_align,
        "multimodal_image_exif": _q_image_exif,
        "multimodal_audio_tags": _q_audio_tags,
        "multimodal_curate_media": _q_curate_media,
        "media_pipeline_pairs": _q_media_pipeline_pairs,
        "events_rolling_quantile": _q_rolling_quantile,
        "orders_target_encode": _q_target_encode,
        "orders_frequency_encode": _q_frequency_encode,
        "docs_conv_validate": _q_conv_validate,
        "docs_conv_pairs": _q_conv_pairs,
        "docs_preference_screen": _q_preference_screen,
        "graph_gremlin_edge_filter": _q_gremlin_edge_filter,
        "graph_gremlin_branch_limit": _q_gremlin_branch_limit,
        "graph_cypher_cycle": _q_cypher_cycle,
        "graph_gremlin_select": _q_gremlin_select,
        "graph_cypher_optional_match": _q_cypher_optional_match,
        "graph_cypher_with_pipeline": _q_cypher_with_pipeline,
        "graph_cypher_with_topk": _q_cypher_with_topk,
        "trino_dialect_scalars": _q_trino_dialect_scalars,
        "trino_dialect_tier3": _q_trino_dialect_tier3,
        "graph_gremlin_not_filter": _q_gremlin_not_filter,
        "graph_cypher_pattern_predicate": _q_cypher_pattern_predicate,
        "graph_sparql_group_concat": _q_sparql_group_concat,
        "graph_gremlin_simple_path": _q_gremlin_simple_path,
        "graph_cypher_unwind_roundtrip": _q_cypher_unwind_roundtrip,
        "graph_sparql_path_seq": _q_sparql_path_seq,
        "dedup_lines_corpus": _q_dedup_lines,
        "graph_sparql_path_closure": _q_sparql_path_closure,
        "graph_sparql_bgp": _q_sparql_bgp,
        "graph_sparql_undef_join": _q_sparql_undef_join,
        "graph_sparql_union": _q_sparql_union,
        "graph_sparql_not_exists": _q_sparql_not_exists,
        "graph_sparql_construct": _q_sparql_construct,
        "emr_spark_step_agg": _q_emr_spark_step,
        "athena_trino_dialect": _q_trino_dialect,
        "lakehouse_time_travel": _q_lakehouse_time_travel,
        "lakehouse_delete_cow": _q_lakehouse_delete,
        "lakehouse_delete_dv": _q_lakehouse_delete_dv,
        "events_funnel": lambda s, d: _sql(s, d, _EVENTS_FUNNEL),
        "events_retention_cohorts": _q_retention_cohorts,
        "asof_join_forward_tol": _q_asof_forward_tol,
        "orc_partitioned_roundtrip": _q_orc_roundtrip,
        "csv_dataset_roundtrip": _q_csv_roundtrip,
        "doc_repetition_signals": _q_repetition_signals,
        "docs_hash_split": _q_hash_split,
        "events_time_between": _q_time_between_events,
        "window_ntile_price_bands": _q_ntile_price_bands,
        "json_dataset_roundtrip": _q_json_roundtrip,
        "dq_outliers_mad": _q_outliers_mad,
        "fwf_roundtrip": _q_fwf_roundtrip,
        "merge_datasets_append": _q_merge_datasets,
        "docs_stratified_sample": _q_stratified_sample,
        "docs_pack_sequences": _q_pack_sequences,
        "salted_join_priority_revenue": _q_salted_join,
        "skew_two_stage_distinct": _q_two_stage_distinct,
        "docs_temperature_sample": _q_temperature_sample,
        "graph_user_degrees": _q_graph_degrees,
        "events_sliding_time_window": lambda s, d: _sql(s, d, _RANGE_WINDOW),
        "dedup_keep_best_doc": _q_dedup_keep_best,
        "events_markov_transitions": lambda s, d: _sql(s, d, _MARKOV),
        "docs_curation_pipeline": _q_curation_pipeline,
        "doc_unigram_logprob": _q_unigram_logprob,
        "ts_resample_interpolate": _q_resample_interpolate,
        "weighted_median_price": _q_weighted_median,
        "flatten_nested_props": _q_flatten_struct,
        "compaction_roundtrip": _q_compaction_roundtrip,
        "chunked_read_exact_rows": _q_chunked_read,
        "docs_remove_repeated_passages": _q_remove_passages,
        "stats_pruned_scan": _q_stats_pruned_scan,
        "stream_join_attribution": _q_stream_join_attribution,
        "docs_weighted_sample": _q_weighted_sample,
        "docs_chunk_sliding": _q_chunk_documents,
        "orders_incremental_agg": _q_incremental_agg,
        "docs_dsir_weights": _q_dsir_weights,
        "logs_filter_events": _q_filter_log_events,
        "docs_select_by_budget": _q_select_by_budget,
        "doc_classifier_score": _q_classifier_score,
        "docs_materialize_mixture": _q_materialize_mixture,
        "docs_decontaminate_bloom": _q_decontaminate_bloom,
        "docs_curation_funnel": _q_curation_funnel,
        "excel_roundtrip": _q_excel_roundtrip,
        "avro_roundtrip": _q_avro_roundtrip,
        "doc_novelty_scores": _q_novelty_scores,
        "docs_training_order": _q_training_order,
        "events_normalize_robust": _q_normalize_robust,
        "docs_leakage_free_split": _q_leakage_free_split,
        "docs_uniform_sample_k": _q_uniform_sample_k,
        "docs_training_corpus": _q_training_corpus,
        "docs_corpus_drift": _q_corpus_drift,
        "scd2_priority_lookup": _q_scd2_lookup,
        "diff_orders_snapshots": _q_diff_snapshots,
        "events_discretize_quartiles": _q_discretize_values,
        "events_rolling_anomalies": _q_rolling_anomalies,
        "fuzzy_part_names": _q_fuzzy_part_names,
        "docs_corpus_summary": _q_corpus_summary,
        "profile_lineitem": _q_profile_lineitem,
        "itemsets_part_names": _q_itemsets_parts,
        "entities_part_names": _q_resolve_entities,
        "events_ab_test": _q_ab_test,
        "events_normalize_by_group": _q_normalize_by_group,
        "events_page_hinkley": _q_page_hinkley,
        "events_attribution_linear": _q_attribution_linear,
        "docs_kfold_split": _q_kfold_split,
        "events_sequential_patterns": _q_sequential_patterns,
        "graph_triangle_counts": _q_triangle_counts,
        "graph_k_hop": _q_graph_k_hop,
        "events_ewma": _q_events_ewma,
        "events_autocorr": _q_events_autocorr,
        "multimodal_image_dims": _q_image_dims,
        "sketch_user_overlap": _q_sketch_overlap,
        "docs_bm25_search": _q_bm25_search,
        "docs_hybrid_rrf": _q_hybrid_rrf,
        "events_seasonal_decompose": _q_seasonal_decompose,
        "lineitem_winsorized": _q_winsorize_prices,
        "events_cross_corr": _q_cross_corr,
        "events_holt_forecast": _q_holt_forecast,
        "graph_communities_lpa": _q_label_propagation,
        "events_rolling_median": _q_rolling_median,
        "lineitem_unpivot": _q_unpivot_lineitem,
        "emb_hard_negatives": _q_hard_negatives,
        "docs_rag_search": _q_rag_search,
        "events_time_weighted_avg": _q_time_weighted_avg,
        "events_ohlc_hourly": _q_ohlc_hourly,
        "events_rate_of_change": _q_rate_of_change,
        "events_value_trend_ols": _q_linear_fit,
        "lineitem_key_distribution": _q_key_distribution,
        "lineitem_skew_metrics": _q_skew_metrics,
        "docs_url_components": _q_url_components,
        "events_incremental_distinct": _q_incremental_distinct,
        "orders_key_discovery": _q_key_discovery,
        "orders_fk_containment": _q_fk_containment,
        "doc_compression_ratio": _q_compression_ratio,
        "events_mahalanobis": _q_mahalanobis,
        "stats_ks_events": _q_ks_events,
        "stats_mwu_events": _q_mwu_events,
        "stats_chisq_orders": _q_chisq_orders,
        "stats_anova_events": _q_anova_events,
        "stats_kruskal_events": _q_kruskal_events,
        "stats_spearman_lineitem": _q_spearman_lineitem,
        "docs_langid_kappa": _q_langid_kappa,
        "docs_source_lang_alpha": _q_source_lang_alpha,
        "dq_benford_lineitem": _q_benford_lineitem,
        "stats_gini_orders": _q_gini_orders,
        "events_survival_curve": _q_survival_curve,
        "events_transition_matrix": _q_transition_matrix,
        "orders_rfm_segments": _q_rfm_orders,
        "eval_binary_metrics": _q_eval_binary,
        "eval_roc_points": _q_eval_roc,
        "eval_calibration": _q_eval_calibration,
        "eval_lift_gains": _q_eval_lift,
        "docs_collocations_pmi": _q_collocations,
        "docs_readability": _q_readability,
        "customer_k_anonymity": _q_k_anonymity,
        "customer_risky_classes": _q_risky_classes,
        "customer_l_diversity": _q_l_diversity,
        "lineitem_item_similarity": _q_item_similarity,
        "orders_target_encoding": _q_target_encoding,
        "lineitem_ols_price": _q_ols_lineitem,
        "events_top_paths": _q_top_paths,
        "lineitem_bootstrap_ci": _q_bootstrap_ci,
        "events_diff_in_diff": _q_diff_in_diff,
        "lineitem_cuped": _q_cuped_lineitem,
        "lineitem_psi_priceshift": _q_psi_lineitem,
        "orders_woe_priority": _q_woe_orders,
        "lineitem_conformal_band": _q_conformal_lineitem,
        "docs_collapse_lines": _q_collapse_lines,
        "docs_encoding_screen": _q_encoding_screen,
        "orders_mutual_information": _q_mutual_info,
        "part_pareto_front": _q_pareto_parts,
        "orders_balanced_classes": _q_balance_orders,
        "events_rolling_active_users": _q_rolling_active,
        "events_error_pchart": _q_error_pchart,
        "orders_cohort_ltv": _q_cohort_ltv,
        "events_step_latency": _q_step_latency,
        "docs_title_body_jaccard": _q_title_body_jaccard,
        "orders_nzv_screen": _q_nzv_orders,
        "orders_fdr_screen": _q_fdr_screen,
        "events_forecast_accuracy": _q_forecast_accuracy,
        "events_burst_profile": _q_burst_profile,
        "events_burstiness": _q_burstiness,
        "emb_health_report": _q_embedding_health,
        "events_volume_anomalies": _q_volume_anomalies,
        "orders_join_health": _q_join_health,
        "events_ratio_ab_test": _q_ratio_ab,
        "events_sequence_gaps": _q_sequence_gaps,
        "docs_dsir_ess": _q_ess_dsir,
        "events_rolling_corr": _q_rolling_corr,
        "events_apdex": _q_apdex,
        # rows-only (no SQL-expressible oracle):
        "emb_diverse_subset": _q_diverse_subset,
        "docs_vocab_stats": _q_vocab_stats,
        "events_window_funnel": _q_window_funnel,
        "events_holt_winters": _q_holt_winters,
        "events_holt_bounded": _q_holt_bounded,
        "eval_isotonic_calibrated": _q_eval_isotonic,
        "eval_isotonic_oracle": _q_eval_isotonic_oracle,
        "dedup_semantic": _q_semantic_dedup,
        "emb_knn_pq": _q_knn_pq,
        "emb_knn_ivf_pq": _q_knn_ivf_pq,
        "sketch_distinct_stats": _q_sketch_stats,
        "sketch_distinct_selfcheck": _q_sketch_distinct_selfcheck,
        "dedup_minhash_selfcheck": _q_minhash_selfcheck,
        "dedup_repeated_spans": _q_repeated_spans,
        "dedup_minhash_lsh": _q_minhash_dups,
        "dedup_minhash_incremental": _q_minhash_incremental,
        "simhash_signatures": _q_simhash,
        "emb_knn_lsh_ann": _q_knn_lsh,
        "multimodal_features": _q_multimodal_features,
        "graph_pagerank": _q_graph_pagerank,
        "graph_pagerank_oracle": _q_pagerank_oracle,
        "docs_bpe_tokens": _q_bpe_tokens,
        "emb_pca_project": _q_pca_project,
        "emb_pca_invariants": _q_pca_invariants,
    }
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable equivalents (tables pre-registered as views)."""
    stop_en = "['the','and','of','to','in','is','that','it','was','for']"
    stop_es = "['el','la','de','que','y','en','un','los','se','por']"
    stop_fr = "['le','la','de','et','les','des','un','une','du','est']"
    stop_de = "['der','die','und','das','von','zu','mit','den','ist','ein']"

    toks = "list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t))"

    # shared scored frame for the evaluation gates: quality_score as the
    # classifier score (same CTE as doc_quality_scores), lang='en' label
    eval_scored = f"""
            qbase AS (
                SELECT doc_id, lang,
                       length(text) AS n,
                       length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
                       {toks} AS toks
                FROM documents
            ), qfeat AS (
                SELECT doc_id, lang,
                       LEAST(n / 500.0, 1.0) AS length_score,
                       1.0 - LEAST((CASE WHEN n > 0 THEN n_punct / CAST(n AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
                       LEAST((CASE WHEN len(toks) > 0
                              THEN len(list_filter(toks, t -> list_contains({stop_en}, t))) / CAST(len(toks) AS DOUBLE)
                              ELSE 0.0 END) * 5.0, 1.0) AS stop_score,
                       CASE WHEN len(toks) > 0
                            THEN list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE)
                            ELSE 0.0 END AS mwl
                FROM qbase
            ), scored AS (
                SELECT doc_id,
                       ROUND(length_score * 0.3 + punct_score * 0.2 + stop_score * 0.3 +
                             (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS score,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
                FROM qfeat
            )"""

    return {
        "q01_pricing_summary": _Q01,
        "q17_small_qty_revenue": _Q17_STYLE,
        "agg_rollup": _ROLLUP,
        "agg_cube": _CUBE,
        "setops_customers": _SETOPS,
        "join_anti_customers": _ANTI_JOIN,
        "join_semi_suppliers": _SEMI_JOIN,
        "window_running_total": _WINDOW_RUNNING,
        "scan_projection_pushdown": _SCAN_PROJECTION,
        "ddb_read_items": """
            SELECT c_custkey, c_name, c_acctbal
            FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000 AND c_name IS NOT NULL
            ORDER BY c_custkey
        """,
        "opensearch_dsl_search": """
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE n_chars >= 200 AND n_chars < 900 AND (lang = 'en' OR lang = 'de')
            ORDER BY doc_id
        """,
        "select_query_pushdown": """
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
            ORDER BY o_orderkey
        """,
        "dq_ruleset_events": """
            SELECT * FROM (
                SELECT 'RowCount' AS rule_type, NULL AS parameter, '> 0' AS expression,
                       CAST(COUNT(*) AS DOUBLE) AS value, COUNT(*) > 0 AS passed FROM events
                UNION ALL
                SELECT 'ColumnCount', NULL, '= 6', 6.0, TRUE FROM (SELECT 1)
                UNION ALL
                SELECT 'Completeness', 'user_id', '>= 0.5',
                       COUNT(user_id) / CAST(GREATEST(COUNT(*), 1) AS DOUBLE),
                       COUNT(user_id) / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) >= 0.5 FROM events
                UNION ALL
                SELECT 'Uniqueness', 'event_id', '= 1',
                       COUNT(DISTINCT event_id) / CAST(GREATEST(COUNT(event_id), 1) AS DOUBLE),
                       COUNT(DISTINCT event_id) / CAST(GREATEST(COUNT(event_id), 1) AS DOUBLE) = 1 FROM events
                UNION ALL
                SELECT 'DistinctValuesCount', 'event_type', '= 5',
                       CAST(COUNT(DISTINCT event_type) AS DOUBLE),
                       COUNT(DISTINCT event_type) = 5 FROM events
            ) t
            ORDER BY rule_type
        """,
        "docs_subtitle_cues": """
            WITH cues AS (
                SELECT CAST(doc_id AS VARCHAR) AS media_id, doc_id,
                       CAST(unnest(range(1, 2 + CAST(doc_id % 4 AS INT))) AS INT) AS k
                FROM documents WHERE doc_id < 300
            )
            SELECT media_id, k AS cue_idx,
                   CAST((k - 1) * 2000 + doc_id % 997 AS BIGINT) AS start_ms,
                   CAST((k - 1) * 2000 + doc_id % 997 + 1500 AS BIGINT) AS end_ms,
                   'line ' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
                       AS text
            FROM cues
            ORDER BY doc_id, cue_idx
        """,
        "events_rolling_quantile": """
            SELECT event_id,
                   CAST(ROUND(quantile_cont(value, 0.5) OVER (
                       PARTITION BY event_type
                       ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
                   ), 6) AS DOUBLE) AS rq
            FROM events
            ORDER BY event_id
        """,
        "orders_frequency_encode": """
            WITH cat AS (
                SELECT o_orderpriority, COUNT(*) AS n FROM orders
                WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority
            ), tot AS (
                SELECT COUNT(*) AS t FROM orders WHERE o_orderpriority IS NOT NULL
            )
            SELECT o.o_orderkey,
                   CAST(ROUND(c.n / CAST(tt.t AS DOUBLE), 6) AS DOUBLE) AS fe
            FROM orders o LEFT JOIN cat c USING (o_orderpriority), tot tt
            ORDER BY o.o_orderkey
        """,
        "orders_target_encode": """
            WITH lab AS (
                SELECT o_orderkey, o_orderpriority,
                       CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
                FROM orders
            ), prior AS (SELECT AVG(y) AS p FROM lab),
            cat AS (
                SELECT o_orderpriority, SUM(y) AS s, COUNT(*) AS n
                FROM lab GROUP BY o_orderpriority
            )
            SELECT l.o_orderkey,
                   CAST(ROUND((c.s + 20.0 * pr.p) / (c.n + 20.0), 6) AS DOUBLE) AS te
            FROM lab l JOIN cat c USING (o_orderpriority), prior pr
            ORDER BY l.o_orderkey
        """,
        "media_pipeline_pairs": """
            WITH surv AS (
                SELECT MIN(doc_id) AS doc_id
                FROM documents
                WHERE doc_id < 120 AND doc_id % 13 <> 0
                GROUP BY doc_id % 30
            ), ts AS (
                SELECT doc_id,
                       unnest(range(0, 4000 + 2000 * CAST(doc_id % 3 AS INT) + 1,
                                    1000)) AS sample_ts_ms
                FROM surv
            ), ks AS (
                SELECT doc_id,
                       unnest(range(1, 3 + CAST(doc_id % 2 AS INT))) AS k
                FROM surv
            ), spans AS (
                SELECT doc_id, CAST(k AS INT) AS cue_idx,
                       (k - 1) * 1500 AS st, (k - 1) * 1500 + 1000 AS en
                FROM ks
            )
            SELECT t.doc_id,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(t.sample_ts_ms) AS BIGINT) AS ts_sum,
                   CAST(SUM(sp.cue_idx) AS BIGINT) AS cue_sum
            FROM ts t JOIN spans sp
              ON t.doc_id = sp.doc_id
             AND t.sample_ts_ms BETWEEN sp.st AND sp.en
            GROUP BY t.doc_id
            ORDER BY t.doc_id
        """,
        "multimodal_curate_media": """
            SELECT MIN(doc_id) AS doc_id
            FROM documents
            WHERE doc_id < 120
            GROUP BY doc_id % 30
            ORDER BY doc_id
        """,
        "multimodal_audio_tags": """
            SELECT doc_id,
                   'track-' || CAST(doc_id AS VARCHAR) AS tag_title,
                   'artist-' || CAST(doc_id % 12 AS VARCHAR) AS tag_artist,
                   CAST(1980 + doc_id % 40 AS VARCHAR) AS tag_year
            FROM documents
            WHERE doc_id < 250
            ORDER BY doc_id
        """,
        "multimodal_image_exif": """
            SELECT doc_id,
                   CAST(1 + doc_id % 8 AS INT) AS exif_orientation,
                   (doc_id % 3 = 0) AS exif_has_gps
            FROM documents
            WHERE doc_id < 300
            ORDER BY doc_id
        """,
        "multimodal_cue_frame_align": """
            WITH cues AS (
                SELECT doc_id,
                       CAST(unnest(range(1, 2 + CAST(doc_id % 4 AS INT))) AS INT) AS cue_idx
                FROM documents WHERE doc_id < 250
            ), spans AS (
                SELECT doc_id, cue_idx,
                       (cue_idx - 1) * 2000 + doc_id % 997 AS s,
                       (cue_idx - 1) * 2000 + doc_id % 997 + 1500 AS e
                FROM cues
            ), ts AS (
                SELECT doc_id, unnest(range(0, 10001, 1000)) AS sample_ts_ms
                FROM documents WHERE doc_id < 250
            )
            SELECT t.doc_id, t.sample_ts_ms, sp.cue_idx,
                   'line ' || CAST(t.doc_id AS VARCHAR) || '-'
                           || CAST(sp.cue_idx AS VARCHAR) AS text
            FROM ts t JOIN spans sp
              ON t.doc_id = sp.doc_id
             AND t.sample_ts_ms BETWEEN sp.s AND sp.e
            ORDER BY t.doc_id, t.sample_ts_ms, sp.cue_idx
        """,
        "multimodal_avi_metadata": """
            SELECT doc_id,
                   'AVI ' AS video_brand,
                   CAST(1000000 // (1000000 // (5 + doc_id % 10)) AS BIGINT)
                       AS video_timescale,
                   CAST(ROUND((10 + doc_id % 20)
                              * (1000000 // (5 + doc_id % 10)) / 1000000.0, 6)
                        AS DOUBLE) AS video_duration_seconds,
                   CAST(64 + doc_id % 5 AS INT) AS video_width,
                   CAST(48 + doc_id % 3 AS INT) AS video_height
            FROM documents
            WHERE doc_id < 200
            ORDER BY doc_id
        """,
        "dq_ruleset_extended": """
            SELECT * FROM (
                SELECT 'ColumnLength' AS rule_type, 'event_type' AS parameter,
                       'between 1 and 30' AS expression,
                       ROUND(SUM(CASE WHEN length(event_type) BETWEEN 1 AND 30
                                 THEN 1 ELSE 0 END)
                             / CAST(GREATEST(COUNT(event_type), 1) AS DOUBLE), 6) AS value,
                       SUM(CASE WHEN length(event_type) BETWEEN 1 AND 30
                           THEN 1 ELSE 0 END) = COUNT(event_type) AS passed
                FROM events
                UNION ALL
                SELECT 'IsPrimaryKey', 'event_id', '',
                       ROUND(COUNT(DISTINCT event_id)
                             / CAST(GREATEST(COUNT(*), 1) AS DOUBLE), 6),
                       COUNT(DISTINCT event_id) = COUNT(*)
                FROM events
                UNION ALL
                SELECT 'Entropy', 'event_type', '> 0.5',
                       ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6),
                       (LN(SUM(c)) - SUM(c * LN(c)) / SUM(c)) > 0.5
                FROM (SELECT COUNT(*) AS c FROM events
                      WHERE event_type IS NOT NULL GROUP BY event_type)
                UNION ALL
                SELECT 'UniqueValueRatio', 'user_id', 'between 0 and 1',
                       ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                             / CAST(GREATEST(COUNT(*), 1) AS DOUBLE), 6),
                       (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        / CAST(GREATEST(COUNT(*), 1) AS DOUBLE)) BETWEEN 0 AND 1
                FROM (SELECT COUNT(*) AS c FROM events
                      WHERE user_id IS NOT NULL GROUP BY user_id)
                UNION ALL
                SELECT 'Correlation', 'user_id value', 'between -1 and 1',
                       ROUND(CORR(user_id, value), 6),
                       CORR(user_id, value) BETWEEN -1 AND 1
                FROM events
            ) t
            ORDER BY rule_type
        """,
        "timestream_roundtrip": """
            SELECT event_type, COUNT(*) AS n FROM events
            GROUP BY event_type ORDER BY event_type
        """,
        "vectors_query_filtered": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT CAST(vec_id AS VARCHAR) AS key,
                   ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 6) AS distance
            FROM embeddings, q
            WHERE label >= 1 AND label <> 3
            ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) ASC, CAST(vec_id AS VARCHAR) ASC
            LIMIT 10
        """,
        "logs_insights_stats": """
            SELECT event_type,
                   COUNT(*) AS n,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v
            FROM events
            WHERE value > 100 AND event_type LIKE '%c%'
            GROUP BY event_type
            ORDER BY event_type
        """,
        "asof_join_events": """
            SELECT l.event_id, l.ts, l.user_id,
                   r.ts AS prior_ts,
                   CAST(ROUND(CAST(r.value AS DECIMAL(18,6)), 4) AS DOUBLE) AS prior_value
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.event_id
        """,
        "upsert_orders": """
            WITH src AS (
                SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 97 = 0
                UNION ALL
                SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
                       o_totalprice, o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 101 = 0
            ),
            merged AS (
                SELECT * FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = o.o_orderkey)
                UNION ALL
                SELECT * FROM src
            )
            SELECT o_orderkey, o_orderstatus,
                   CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) AS o_totalprice
            FROM merged
            ORDER BY o_orderkey
        """,
        "pivot_event_type_daily": """
            SELECT CAST(ts AS DATE) AS day,
                   COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
                   COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
                   COUNT(*) FILTER (WHERE event_type = 'error')    AS error
            FROM events
            GROUP BY CAST(ts AS DATE)
            ORDER BY day
        """,
        "json_extract_props": """
            SELECT event_type,
                   CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "rank_orders_in_segment": _RANK_IN_SEGMENT,
        "dedup_cluster_labels": """
            WITH RECURSIVE words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words
            ), exploded AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            ), cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded a JOIN exploded b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            ), pairs AS (
                SELECT id_a, id_b FROM cand
                WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.2
            ), nodes AS (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
                )
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT id AS src, id AS dst FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT src AS id, MIN(dst) AS cluster_id,
                   (src = MIN(dst)) AS is_representative
            FROM reach GROUP BY src ORDER BY id
        """,
        "dq_outliers_zscore": """
            WITH stats AS (
                SELECT event_id, event_type, value,
                       AVG(value) OVER (PARTITION BY event_type) AS m,
                       STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS s
                FROM events
            )
            SELECT event_id, event_type,
                   CAST(ROUND(CAST(value AS DECIMAL(18,6)), 4) AS DOUBLE) AS value,
                   ROUND((value - m) / s, 4) AS z_score
            FROM stats
            WHERE s IS NOT NULL AND s > 0 AND ABS(value - m) > 2.5 * s
            ORDER BY event_id
        """,
        "docs_cap_per_lang": """
            SELECT lang, doc_id, n_chars
            FROM (
                SELECT lang, doc_id, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id DESC) AS rn
                FROM documents
            ) t
            WHERE rn <= 5
            ORDER BY lang, doc_id
        """,
        "ts_resample_gapfill": """
            WITH agg AS (
                SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS tb,
                       CAST(SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*) AS DOUBLE) AS v
                FROM events WHERE user_id < 10
                GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
            ), b AS (
                SELECT user_id, MIN(tb) AS lo, MAX(tb) AS hi FROM agg GROUP BY user_id
            ), grid AS (
                SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tb FROM b
            ), j AS (
                SELECT g.user_id, g.tb, a.v FROM grid g LEFT JOIN agg a USING (user_id, tb)
            )
            SELECT user_id, tb AS bucket,
                   ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY tb ROWS UNBOUNDED PRECEDING), 4) AS value
            FROM j ORDER BY user_id, bucket
        """,
        "emb_knn_batch": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 5
            ), c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id >= 5
            ), d AS (
                SELECT q.query_id, c.vec_id,
                       ROUND(1.0 - list_cosine_similarity(c.cv, q.qv), 6) AS distance,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY ROUND(1.0 - list_cosine_similarity(c.cv, q.qv), 6) ASC,
                                    c.vec_id ASC
                       ) AS rank
                FROM c, q
            )
            SELECT query_id, vec_id, distance, rank
            FROM d WHERE rank <= 3
            ORDER BY query_id, rank
        """,
        "hopping_window_stats": """
            SELECT wstart, COUNT(*) AS n_events,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
            FROM (
                SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                               time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                           AS wstart,
                       value
                FROM events
            )
            GROUP BY wstart ORDER BY wstart
        """,
        "interval_join_purchases": """
            SELECT c.user_id, c.event_id, p.event_id AS p_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 30 MINUTE
             AND c.ts <= p.ts
            ORDER BY c.user_id, c.event_id, p_id
        """,
        "sessionize_events": """
            WITH marked AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS newsess
                FROM events
            ), sess AS (
                SELECT user_id, ts,
                       SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            )
            SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
                   COUNT(*) AS n_events
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "event_value_quantiles": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.25), 4) AS p25,
                   ROUND(quantile_cont(value, 0.50), 4) AS p50,
                   ROUND(quantile_cont(value, 0.75), 4) AS p75
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "q02_max_acctbal_supplier": _Q02_MAX_SUPP,
        "q03_shipping_priority": _Q03,
        "q04_order_priority_exists": _Q04,
        "q05_local_supplier_volume": _Q05,
        "q06_revenue_forecast": _Q06,
        "q07_volume_shipping": _Q07,
        "q08_market_share": _Q08,
        "q09_product_profit": _Q09,
        "q10_returned_items": _Q10,
        "q11_important_suppliers": _Q11,
        "q12_priority_shipping": _Q12,
        "q13_customer_distribution": _Q13,
        "q14_promo_revenue": _Q14,
        "q15_top_supplier": _Q15,
        "q16_supplier_part_cnt": _Q16,
        "q18_large_volume_customer": _Q18,
        "q19_disjunctive_filter": _Q19,
        "q20_top_share_suppliers": _Q20_STYLE,
        "q22_sales_opportunity": _Q22,
        "events_daily_stats": _EVENTS_DAILY,
        "events_top_users": _EVENTS_TOP_USERS,
        "doc_lang_stats": f"""
            SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(FLOOR(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_chars,
                   SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END) AS total_tokens
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        "doc_token_counts": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   length(text) AS n_chars_actual
            FROM documents
            ORDER BY doc_id
        """,
        "doc_fingerprints": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
            ORDER BY doc_id
        """,
        "doc_quality_scores": f"""
            WITH base AS (
                SELECT doc_id,
                       length(text) AS n,
                       length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
                       {toks} AS toks
                FROM documents
            ), feat AS (
                SELECT doc_id,
                       LEAST(n / 500.0, 1.0) AS length_score,
                       1.0 - LEAST((CASE WHEN n > 0 THEN n_punct / CAST(n AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
                       LEAST((CASE WHEN len(toks) > 0
                              THEN len(list_filter(toks, t -> list_contains({stop_en}, t))) / CAST(len(toks) AS DOUBLE)
                              ELSE 0.0 END) * 5.0, 1.0) AS stop_score,
                       CASE WHEN len(toks) > 0
                            THEN list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE)
                            ELSE 0.0 END AS mwl
                FROM base
            )
            SELECT doc_id,
                   ROUND(length_score * 0.3 + punct_score * 0.2 + stop_score * 0.3 +
                         (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality
            FROM feat
            ORDER BY doc_id
        """,
        # the unique isotonic L2 solution from the minimax formula
        # fitted[i] = max_{{j<=i}} min_{{k>=i}} wmean(y[j..k]) over the
        # distinct-rounded-score blocks — prefix sums make each pair
        # mean one exact ratio, a suffix-min and a group-max finish it;
        # MLlib's distributed PAVA must land on the same block values
        "eval_isotonic_oracle": f"""
            WITH base AS (
                SELECT doc_id, lang,
                       length(text) AS n,
                       length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
                       {toks} AS toks
                FROM documents
            ), feat AS (
                SELECT doc_id, lang,
                       LEAST(n / 500.0, 1.0) AS length_score,
                       1.0 - LEAST((CASE WHEN n > 0 THEN n_punct / CAST(n AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
                       LEAST((CASE WHEN len(toks) > 0
                              THEN len(list_filter(toks, t -> list_contains({stop_en}, t))) / CAST(len(toks) AS DOUBLE)
                              ELSE 0.0 END) * 5.0, 1.0) AS stop_score,
                       CASE WHEN len(toks) > 0
                            THEN list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE)
                            ELSE 0.0 END AS mwl
                FROM base
            ), scored AS (
                SELECT doc_id,
                       -- quality_score itself rounds to 6 decimals in the
                       -- engine; mirror before the binary quantization
                       FLOOR(ROUND(length_score * 0.3 + punct_score * 0.2 + stop_score * 0.3 +
                              (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2, 6)
                             * 4096 + 0.5) / 4096.0 AS score,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
                FROM feat
            ), blocks AS (
                SELECT score, CAST(SUM(label) AS DOUBLE) AS sy,
                       CAST(COUNT(*) AS DOUBLE) AS w
                FROM scored GROUP BY score
            ), pre AS (
                SELECT score, sy, w,
                       ROW_NUMBER() OVER (ORDER BY score) AS rn,
                       SUM(sy) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cs,
                       SUM(w) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cw
                FROM blocks
            ), pairs AS (
                SELECT j.rn AS jr, k.rn AS kr,
                       (k.cs - j.cs + j.sy) / (k.cw - j.cw + j.w) AS a
                FROM pre j JOIN pre k ON k.rn >= j.rn
            ), sufmin AS (
                SELECT jr, kr,
                       MIN(a) OVER (PARTITION BY jr ORDER BY kr DESC
                                    ROWS UNBOUNDED PRECEDING) AS b
                FROM pairs
            ), fitted AS (
                SELECT kr AS rn, MAX(b) AS f FROM sufmin GROUP BY kr
            )
            SELECT s.doc_id, s.score, ROUND(f.f, 6) AS calibrated
            FROM scored s
            JOIN pre p ON p.score = s.score
            JOIN fitted f ON f.rn = p.rn
            ORDER BY s.doc_id
        """,
        "doc_language_id": f"""
            WITH tok AS (
                SELECT doc_id, {toks} AS toks FROM documents
            ), hits AS (
                SELECT doc_id, l.lang,
                       len(list_filter(toks, t -> list_contains(l.words, t))) AS hits
                FROM tok
                CROSS JOIN (VALUES ('en', {stop_en}), ('es', {stop_es}),
                                   ('fr', {stop_fr}), ('de', {stop_de})) AS l(lang, words)
            ), best AS (
                SELECT doc_id, lang, hits,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
                FROM hits
            )
            SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_id
            FROM best WHERE rn = 1
            ORDER BY doc_id
        """,
        "docs_langid_kappa": f"""
            WITH tok AS (
                SELECT doc_id, lang AS label, {toks} AS toks FROM documents
            ), hits AS (
                SELECT doc_id, label, l.lang,
                       len(list_filter(toks, t -> list_contains(l.words, t))) AS hits
                FROM tok
                CROSS JOIN (VALUES ('en', {stop_en}), ('es', {stop_es}),
                                   ('fr', {stop_fr}), ('de', {stop_de})) AS l(lang, words)
            ), best AS (
                SELECT doc_id, label, lang, hits,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
                FROM hits
            ), pairs AS (
                SELECT CASE WHEN hits > 0 THEN lang ELSE 'und' END AS a, label AS b
                FROM best WHERE rn = 1
            ), obs AS (
                SELECT a, b, COUNT(*) AS o FROM pairs
                WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2
            ), rm AS (SELECT a, SUM(o) AS ra FROM obs GROUP BY 1),
            cm AS (SELECT b, SUM(o) AS cb FROM obs GROUP BY 1),
            tot AS (
                SELECT CAST(SUM(o) AS BIGINT) AS n,
                       SUM(CASE WHEN a = b THEN o ELSE 0 END) AS diag
                FROM obs
            ), pex AS (
                SELECT SUM(CAST(rm.ra AS DOUBLE) * cm.cb) AS pesum
                FROM rm JOIN cm ON rm.a = cm.b
            ), k AS (
                SELECT COALESCE(diag, 0) / CAST(n AS DOUBLE) AS po,
                       COALESCE(pesum, 0) / (CAST(n AS DOUBLE) * n) AS pe,
                       n
                FROM tot CROSS JOIN pex
            )
            SELECT CAST(ROUND((po - pe) / (1 - pe), 6) AS DOUBLE) AS kappa,
                   CAST(ROUND(po, 6) AS DOUBLE) AS po,
                   CAST(ROUND(pe, 6) AS DOUBLE) AS pe,
                   n
            FROM k
        """,
        "doc_ngram_jaccard_dups": """
            WITH words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words
            ), exploded AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded a JOIN exploded b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            )
            SELECT id_a, id_b,
                   ROUND(shared / CAST(na + nb - shared AS DOUBLE), 6) AS jaccard
            FROM pairs
            WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.2
            ORDER BY id_a, id_b
        """,
        "emb_knn_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 6) AS distance
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) ASC, vec_id ASC
            LIMIT 10
        """,
        "emb_knn_ivf_fullprobe": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 6) AS distance
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) ASC, vec_id ASC
            LIMIT 10
        """,
        "emb_knn_ivf_invariants": """
            SELECT 10 AS k, TRUE AS recall_monotone_ok, TRUE AS fullprobe_exact_ok
        """,
        "dedup_embedding_pairs_exact": """
            WITH sl AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id < 400
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(1.0 - list_cosine_similarity(a.v, b.v), 5) AS distance
            FROM sl a JOIN sl b ON a.vec_id < b.vec_id
            WHERE 1.0 - list_cosine_similarity(a.v, b.v) <= 0.6
            ORDER BY id_a, id_b
        """,
        "doc_semantic_knn_selfcheck": """
            SELECT 10 AS k, TRUE AS embed_deterministic_ok, TRUE AS batch_equals_brute_ok
        """,
        "docs_decontaminate_embedding": """
            WITH ev AS (
                SELECT CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
                WHERE vec_id % 97 = 0 AND embedding IS NOT NULL
            )
            SELECT c.vec_id
            FROM embeddings c
            WHERE c.embedding IS NOT NULL AND EXISTS (
                SELECT 1 FROM ev
                WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), ev.v) >= 0.95
            )
            ORDER BY c.vec_id
        """,
        "emb_knn_euclidean": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                        i -> (CAST(embedding[i] AS DOUBLE) - qv[i]) * (CAST(embedding[i] AS DOUBLE) - qv[i])))), 6) AS distance
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                        i -> (CAST(embedding[i] AS DOUBLE) - qv[i]) * (CAST(embedding[i] AS DOUBLE) - qv[i])))) ASC, vec_id ASC
            LIMIT 10
        """,
        "dedup_exact_lineitem": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n_distinct_qty
            FROM (SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem)
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q21_blocking_supplier": _Q21_STYLE,
        "agg_grouping_sets": _GROUPING_SETS,
        "stats_summary_lineitem": _STATS_SUMMARY,
        "histogram_event_values": _HISTOGRAM_EVENTS,
        "cdc_latest_order": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders
            ) t
            WHERE rn = 1
            ORDER BY o_custkey
        """,
        "scd2_order_priority": """
            WITH ordered AS (
                SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
                       LAG(o_orderpriority) OVER w AS prev,
                       ROW_NUMBER() OVER w AS rn
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ), changes AS (
                SELECT * FROM ordered
                WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
            )
            SELECT o_custkey, o_orderpriority,
                   o_orderdate AS valid_from,
                   LEAD(o_orderdate) OVER w2 AS valid_to,
                   LEAD(o_orderdate) OVER w2 IS NULL AS is_current
            FROM changes
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, valid_from
        """,
        "doc_word_topk": r"""
            SELECT w AS word, COUNT(*) AS n
            FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
                  FROM documents)
            WHERE w <> ''
            GROUP BY w
            ORDER BY n DESC, word
            LIMIT 20
        """,
        "doc_pii_redaction": r"""
            SELECT doc_id, md5(redacted) AS redacted_md5,
                   CAST(length(redacted) AS INT) AS redacted_len
            FROM (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(
                           text || ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com via https://ex.com/d/'
                                || CAST(doc_id AS VARCHAR)
                                || ' or 555-123-4567 / (555) 987-6543 at 192.168.0.1'
                                || ' card 4111 1111 1111 1111 ssn 123-45-6789',
                           'https?://[^\s]+', '<URL>', 'g'),
                           '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\b\d(?:[ -]?\d){12,15}\b', '<CREDIT_CARD>', 'g'),
                           '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                           '(?:\(\d{3}\)[ ]?|\b\d{3}[-.])\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')
                       AS redacted
                FROM documents
            ) t
            ORDER BY doc_id
        """,
        "zorder_clustering_key": _zorder_oracle_sql(),
        "doc_contamination_check": r"""
            WITH toks AS (
                SELECT doc_id, source,
                       string_split_regex(trim(text), '\s+') AS t
                FROM documents
            ), gr AS (
                SELECT DISTINCT doc_id, source,
                       unnest(list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
                FROM toks
            ), ev AS (
                SELECT DISTINCT g FROM gr WHERE source = 'src0'
            ), corpus AS (
                SELECT doc_id, g FROM gr WHERE source <> 'src0'
            )
            SELECT corpus.doc_id, COUNT(*) AS n_grams, COUNT(ev.g) AS n_hit,
                   CAST(ROUND(COUNT(ev.g) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS overlap
            FROM corpus LEFT JOIN ev ON corpus.g = ev.g
            GROUP BY corpus.doc_id
            HAVING CAST(ROUND(COUNT(ev.g) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) >= 0.5
            ORDER BY doc_id
        """,
        "doc_novelty_scores": r"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM documents
            ), gr AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
                FROM toks
                WHERE len(t) >= 3
            ), freq AS (
                SELECT g, COUNT(*) AS c FROM gr GROUP BY g
            )
            , sc AS (
                SELECT gr.doc_id, COUNT(*) AS n_grams,
                       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                       CAST(ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS novelty
                FROM gr JOIN freq USING (g)
                GROUP BY gr.doc_id
            )
            SELECT d.doc_id, COALESCE(sc.n_grams, 0) AS n_grams,
                   COALESCE(sc.n_novel, 0) AS n_novel, sc.novelty
            FROM documents d LEFT JOIN sc USING (doc_id)
            ORDER BY d.doc_id
        """,
        "docs_training_order": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                        ORDER BY md5('1|2|' || CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS position
            FROM documents
            ORDER BY position
        """,
        "events_sequential_patterns": """
            WITH n AS (SELECT COUNT(DISTINCT user_id) AS c FROM events),
            singles AS (
                SELECT event_type AS item_a, CAST(NULL AS VARCHAR) AS item_b,
                       COUNT(DISTINCT user_id) AS freq
                FROM events GROUP BY event_type
            ), pairs AS (
                SELECT a.event_type AS item_a, b.event_type AS item_b,
                       COUNT(DISTINCT a.user_id) AS freq
                FROM events a JOIN events b
                  ON a.user_id = b.user_id AND a.ts < b.ts
                GROUP BY a.event_type, b.event_type
            )
            SELECT item_a, item_b, freq,
                   CAST(ROUND(freq / CAST((SELECT c FROM n) AS DOUBLE), 6) AS DOUBLE)
                       AS support
            FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs) t
            WHERE freq >= CAST(CEIL(0.3 * (SELECT c FROM n)) AS BIGINT)
            ORDER BY item_a, item_b
        """,
        "docs_kfold_split": """
            SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::BIGINT
                        % 5 AS INT) AS fold
            FROM documents
            ORDER BY doc_id
        """,
        "events_attribution_linear": """
            WITH t AS (
                SELECT event_id AS touch_id, user_id, ts
                FROM events WHERE event_type = 'click'
            ), c AS (
                SELECT event_id AS conversion_id, user_id, ts
                FROM events WHERE event_type = 'purchase'
            ), pairs AS (
                SELECT c.conversion_id, t.touch_id
                FROM c JOIN t ON c.user_id = t.user_id
                 AND t.ts <= c.ts AND t.ts > c.ts - INTERVAL 24 HOURS
            )
            SELECT conversion_id, touch_id,
                   CAST(ROUND(1.0 / COUNT(*) OVER (PARTITION BY conversion_id), 6)
                        AS DOUBLE) AS weight
            FROM pairs
            ORDER BY conversion_id, touch_id
        """,
        "events_page_hinkley": """
            WITH d AS (
                SELECT event_id, user_id, ts,
                       value - AVG(value) OVER (PARTITION BY user_id) AS dev
                FROM events
            ), c AS (
                SELECT event_id, user_id, ts,
                       SUM(dev) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
                FROM d
            )
            SELECT event_id,
                   CAST(ROUND(m - LEAST(0, MIN(m) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                        AS DOUBLE) AS ph_stat
            FROM c
            ORDER BY event_id
        """,
        "events_ab_test": """
            WITH stats AS (
                SELECT event_type AS grp, COUNT(value) AS n,
                       AVG(value) AS m, VAR_SAMP(value) AS v
                FROM events GROUP BY 1
            ), base AS (
                SELECT n AS n_base, m AS m_base, v AS v_base
                FROM stats WHERE grp = 'view'
            )
            SELECT grp AS "group", n_base, n AS n_treat,
                   CAST(ROUND(m_base, 6) AS DOUBLE) AS mean_base,
                   CAST(ROUND(m, 6) AS DOUBLE) AS mean_treat,
                   CAST(ROUND(m - m_base, 6) AS DOUBLE) AS diff,
                   CAST(ROUND(sqrt(v_base / n_base + v / n), 6) AS DOUBLE) AS se,
                   CAST(ROUND((m - m_base) / sqrt(v_base / n_base + v / n), 4) AS DOUBLE)
                       AS z_score
            FROM stats, base
            WHERE grp <> 'view'
            ORDER BY "group"
        """,
        "events_normalize_by_group": """
            SELECT event_id,
                   CAST(ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                        / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6)
                        AS DOUBLE) AS value_z
            FROM events
            ORDER BY event_id
        """,
        "entities_part_names": """
            WITH RECURSIVE names AS (
                SELECT DISTINCT p_name FROM part
            ), pairs AS (
                SELECT a.p_name AS na, b.p_name AS nb
                FROM names a JOIN names b ON a.p_name < b.p_name
                WHERE levenshtein(a.p_name, b.p_name) <= 2
            ), nodes AS (
                SELECT DISTINCT n FROM (
                    SELECT na AS n FROM pairs UNION SELECT nb FROM pairs
                ) t
            ), edges AS (
                SELECT na AS a, nb AS b FROM pairs
                UNION SELECT nb, na FROM pairs
            ), reach AS (
                SELECT n AS src, n AS dst FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ), labels AS (
                SELECT src AS p_name, MIN(dst) AS canon FROM reach GROUP BY src
            )
            SELECT p.p_partkey, p.p_name, COALESCE(l.canon, p.p_name) AS entity
            FROM part p LEFT JOIN labels l USING (p_name)
            ORDER BY p.p_partkey
        """,
        "itemsets_part_names": """
            WITH baskets AS (
                SELECT DISTINCT l.l_orderkey AS b, p.p_name AS i
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ), nb AS (
                SELECT COUNT(DISTINCT b) AS n FROM baskets
            ), singles AS (
                SELECT i AS item_a, CAST(NULL AS VARCHAR) AS item_b,
                       COUNT(*) AS freq
                FROM baskets GROUP BY i
            ), pairs AS (
                SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS freq
                FROM baskets a JOIN baskets b ON a.b = b.b AND a.i < b.i
                GROUP BY a.i, b.i
            )
            SELECT item_a, item_b, freq,
                   CAST(ROUND(freq / CAST((SELECT n FROM nb) AS DOUBLE), 6) AS DOUBLE)
                       AS support
            FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs) t
            WHERE freq >= CAST(CEIL(0.002 * (SELECT n FROM nb)) AS BIGINT)
            ORDER BY item_a, item_b
        """,
        "profile_lineitem": """
            SELECT * FROM (
                SELECT 'l_orderkey' AS "column", 'bigint' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_orderkey) AS n_nonnull,
                       CAST(ROUND(COUNT(l_orderkey) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_orderkey) AS n_distinct,
                       CAST(MIN(l_orderkey) AS DOUBLE) AS min_value,
                       CAST(MAX(l_orderkey) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_orderkey), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_orderkey, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_partkey' AS "column", 'bigint' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_partkey) AS n_nonnull,
                       CAST(ROUND(COUNT(l_partkey) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_partkey) AS n_distinct,
                       CAST(MIN(l_partkey) AS DOUBLE) AS min_value,
                       CAST(MAX(l_partkey) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_partkey), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_partkey, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_suppkey' AS "column", 'bigint' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_suppkey) AS n_nonnull,
                       CAST(ROUND(COUNT(l_suppkey) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_suppkey) AS n_distinct,
                       CAST(MIN(l_suppkey) AS DOUBLE) AS min_value,
                       CAST(MAX(l_suppkey) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_suppkey), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_suppkey, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_linenumber' AS "column", 'int' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_linenumber) AS n_nonnull,
                       CAST(ROUND(COUNT(l_linenumber) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_linenumber) AS n_distinct,
                       CAST(MIN(l_linenumber) AS DOUBLE) AS min_value,
                       CAST(MAX(l_linenumber) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_linenumber), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_linenumber, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_quantity' AS "column", 'double' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_quantity) AS n_nonnull,
                       CAST(ROUND(COUNT(l_quantity) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_quantity) AS n_distinct,
                       CAST(MIN(l_quantity) AS DOUBLE) AS min_value,
                       CAST(MAX(l_quantity) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_quantity), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice' AS "column", 'double' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_extendedprice) AS n_nonnull,
                       CAST(ROUND(COUNT(l_extendedprice) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_extendedprice) AS n_distinct,
                       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_value,
                       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_extendedprice), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_discount' AS "column", 'double' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_discount) AS n_nonnull,
                       CAST(ROUND(COUNT(l_discount) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_discount) AS n_distinct,
                       CAST(MIN(l_discount) AS DOUBLE) AS min_value,
                       CAST(MAX(l_discount) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_discount), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_discount, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_tax' AS "column", 'double' AS dtype, COUNT(*) AS n_rows,
                       COUNT(l_tax) AS n_nonnull,
                       CAST(ROUND(COUNT(l_tax) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS completeness,
                       COUNT(DISTINCT l_tax) AS n_distinct,
                       CAST(MIN(l_tax) AS DOUBLE) AS min_value,
                       CAST(MAX(l_tax) AS DOUBLE) AS max_value,
                       CAST(ROUND(AVG(l_tax), 6) AS DOUBLE) AS avg_value,
                       CAST(quantile_cont(l_tax, 0.5) AS DOUBLE) AS p50_value
                FROM lineitem
                UNION ALL
                SELECT 'l_returnflag', 'string', COUNT(*), COUNT(l_returnflag),
                       CAST(ROUND(COUNT(l_returnflag) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE),
                       COUNT(DISTINCT l_returnflag),
                       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
                FROM lineitem
                UNION ALL
                SELECT 'l_linestatus', 'string', COUNT(*), COUNT(l_linestatus),
                       CAST(ROUND(COUNT(l_linestatus) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE),
                       COUNT(DISTINCT l_linestatus),
                       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
                FROM lineitem
                UNION ALL
                SELECT 'l_shipdate', 'timestamp_ntz', COUNT(*), COUNT(l_shipdate),
                       CAST(ROUND(COUNT(l_shipdate) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE),
                       COUNT(DISTINCT l_shipdate),
                       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
                FROM lineitem
            ) t ORDER BY "column"
        """,
        "docs_corpus_summary": r"""
            SELECT CASE WHEN GROUPING(lang) = 1 THEN '__all__'
                        ELSE COALESCE(lang, '__unknown__') END AS lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END)
                        AS BIGINT) AS n_tokens,
                   CAST(ROUND(AVG(length(text)), 2) AS DOUBLE) AS avg_chars,
                   CAST(quantile_cont(length(text), 0.5) AS DOUBLE) AS p50_chars,
                   COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
                       AS n_distinct_fp,
                   COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
                       AS n_dup_docs
            FROM documents
            GROUP BY ROLLUP(lang)
            ORDER BY lang
        """,
        "fuzzy_part_names": """
            WITH n AS (SELECT DISTINCT p_name FROM part)
            SELECT a.p_name AS p_name_a, b.p_name AS p_name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
            FROM n a JOIN n b ON a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            ORDER BY p_name_a, p_name_b
        """,
        "events_rolling_anomalies": """
            WITH stats AS (
                SELECT event_id, value,
                       COUNT(value) OVER w AS n_prior,
                       AVG(value) OVER w AS m,
                       STDDEV_SAMP(value) OVER w AS s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_id,
                   n_prior AS anomaly_n_prior,
                   CAST(ROUND(CASE WHEN n_prior >= 3 AND s IS NOT NULL AND s > 0
                                   THEN (value - m) / s END, 4) AS DOUBLE)
                       AS anomaly_zscore,
                   COALESCE(abs(CASE WHEN n_prior >= 3 AND s IS NOT NULL AND s > 0
                                     THEN (value - m) / s END) > 2.0, FALSE)
                       AS anomaly_flag
            FROM stats
            ORDER BY event_id
        """,
        "diff_orders_snapshots": """
            WITH a AS (
                SELECT o_orderkey, o_orderpriority, o_orderstatus
                FROM orders WHERE o_orderkey % 7 <> 0
            ), b AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 5 = 0 THEN 'X-MOD'
                            ELSE o_orderpriority END AS o_orderpriority,
                       o_orderstatus
                FROM orders WHERE o_orderkey % 11 <> 0
            )
            SELECT o_orderkey, change_type FROM (
                SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                       CASE WHEN a.o_orderkey IS NULL THEN 'added'
                            WHEN b.o_orderkey IS NULL THEN 'removed'
                            WHEN a.o_orderpriority <> b.o_orderpriority
                              OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                       END AS change_type
                FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
            ) t
            WHERE change_type IS NOT NULL
            ORDER BY o_orderkey
        """,
        "events_discretize_quartiles": """
            WITH cuts AS (
                SELECT quantile_cont(value, 0.25) AS c1,
                       quantile_cont(value, 0.5)  AS c2,
                       quantile_cont(value, 0.75) AS c3
                FROM events
            )
            SELECT event_id,
                   CAST((value >= c1)::INT + (value >= c2)::INT
                        + (value >= c3)::INT AS INT) AS value_bucket
            FROM events, cuts
            ORDER BY event_id
        """,
        "scd2_priority_lookup": """
            WITH ordered AS (
                SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
                       LAG(o_orderpriority) OVER w AS prev,
                       ROW_NUMBER() OVER w AS rn
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ), changes AS (
                SELECT * FROM ordered
                WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
            ), hist AS (
                SELECT o_custkey, o_orderpriority,
                       o_orderdate AS valid_from,
                       LEAD(o_orderdate) OVER w2 AS valid_to
                FROM changes
                WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            )
            SELECT f.o_orderkey, f.o_custkey, f.o_orderdate, h.o_orderpriority
            FROM orders f
            LEFT JOIN hist h
              ON f.o_custkey = h.o_custkey
             AND f.o_orderdate >= h.valid_from
             AND (h.valid_to IS NULL OR f.o_orderdate < h.valid_to)
            ORDER BY f.o_orderkey
        """,
        "docs_corpus_drift": """
            WITH ra AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
                        FROM documents WHERE lang = 'en'),
            ga AS (SELECT g FROM (
                       SELECT unnest(ws) AS g FROM ra
                       UNION ALL
                       SELECT unnest(list_transform(range(1, len(ws)),
                                                    i -> ws[i] || ' ' || ws[i+1])) AS g
                       FROM ra) t
                   WHERE g <> ''),
            ba AS (SELECT ('0x' || substring(md5(g), 1, 8))::BIGINT % 512 AS b FROM ga),
            cau AS (SELECT b, COUNT(*) AS na FROM ba GROUP BY b),
            rb2 AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
                    FROM documents WHERE lang = 'fr'),
            gb AS (SELECT g FROM (
                       SELECT unnest(ws) AS g FROM rb2
                       UNION ALL
                       SELECT unnest(list_transform(range(1, len(ws)),
                                                    i -> ws[i] || ' ' || ws[i+1])) AS g
                       FROM rb2) t
                   WHERE g <> ''),
            bb AS (SELECT ('0x' || substring(md5(g), 1, 8))::BIGINT % 512 AS b FROM gb),
            cbu AS (SELECT b, COUNT(*) AS nb FROM bb GROUP BY b),
            ta AS (SELECT SUM(na) AS t FROM cau),
            tb AS (SELECT SUM(nb) AS t FROM cbu),
            allb AS (SELECT unnest(range(512)) AS bucket),
            j AS (SELECT allb.bucket,
                         COALESCE(na, 0) AS n_a, COALESCE(nb, 0) AS n_b
                  FROM allb
                  LEFT JOIN cau ON cau.b = allb.bucket
                  LEFT JOIN cbu ON cbu.b = allb.bucket),
            probs AS (SELECT bucket, n_a, n_b,
                             (n_a + 1.0) / ((SELECT t FROM ta) + 512.0) AS p,
                             (n_b + 1.0) / ((SELECT t FROM tb) + 512.0) AS q
                      FROM j)
            SELECT bucket, n_a, n_b,
                   CAST(ROUND(p, 8) AS DOUBLE) AS p_a,
                   CAST(ROUND(q, 8) AS DOUBLE) AS p_b,
                   CAST(ROUND((p * ln(p / ((p + q) / 2))
                               + q * ln(q / ((p + q) / 2))) / 2, 8) AS DOUBLE) AS js,
                   CAST(ROUND((p - q) * ln(p / q), 8) AS DOUBLE) AS psi
            FROM probs
            ORDER BY bucket
        """,
        "docs_training_corpus": """
            WITH RECURSIVE corpus AS (
                SELECT doc_id, lang, n_chars, text FROM documents WHERE source <> 'src0'
            ), fp AS (
                SELECT doc_id, lang, n_chars, text,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                           ORDER BY doc_id) AS fp_rn
                FROM corpus
            ), surv AS (
                SELECT doc_id, lang, n_chars, text,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
                FROM fp
                WHERE fp_rn = 1 AND lang IN ('en', 'de', 'fr', 'es')
            ), gated AS (
                SELECT * FROM surv WHERE n_tokens >= 15 AND n_tokens <= 90
            ), words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM gated
            ), grams AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words
            ), exploded AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            ), cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded a JOIN exploded b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            ), pairs AS (
                SELECT id_a, id_b FROM cand
                WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.2
            ), nodes AS (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
                )
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT id AS src, id AS dst FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ), labels AS (
                SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
            ), joined AS (
                SELECT g.*, l.cluster_id FROM gated g LEFT JOIN labels l USING (doc_id)
            ), best AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           ROW_NUMBER() OVER (PARTITION BY cluster_id
                                              ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM joined WHERE cluster_id IS NOT NULL)
                WHERE rn = 1
            ), kept AS (
                SELECT doc_id, lang, n_chars, n_tokens, text FROM joined WHERE cluster_id IS NULL
                UNION ALL
                SELECT j.doc_id, j.lang, j.n_chars, j.n_tokens, j.text
                FROM joined j JOIN best USING (doc_id)
            ), capped AS (
                SELECT * FROM (
                    SELECT doc_id, lang, n_chars, n_tokens, text,
                           ROW_NUMBER() OVER (PARTITION BY lang
                                              ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM kept) t
                WHERE rn <= 60
            ), ev AS (
                SELECT DISTINCT unnest(list_transform(range(1, len(t) - 2),
                                       i -> array_to_string(t[i:i+3], ' '))) AS g
                FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
                      FROM documents WHERE source = 'src0') s
                WHERE len(t) >= 4
            ), cgrams AS (
                SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
                                      i -> array_to_string(t[i:i+3], ' '))) AS g
                FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                      FROM capped) s
                WHERE len(t) >= 4
            ), bad AS (
                SELECT DISTINCT doc_id FROM cgrams WHERE g IN (SELECT g FROM ev)
            ), clean AS (
                SELECT * FROM capped WHERE doc_id NOT IN (SELECT doc_id FROM bad)
            ), words2 AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM clean
            ), grams2 AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words2
            ), exploded2 AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams2
            ), cand2 AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded2 a JOIN exploded2 b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            ), pairs2 AS (
                SELECT id_a, id_b FROM cand2
                WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.15
            ), nodes2 AS (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM pairs2 UNION SELECT id_b FROM pairs2
                )
            ), edges2 AS (
                SELECT id_a AS a, id_b AS b FROM pairs2
                UNION SELECT id_b, id_a FROM pairs2
            ), reach2 AS (
                SELECT id AS src, id AS dst FROM nodes2
                UNION
                SELECT r.src, e.b FROM reach2 r JOIN edges2 e ON r.dst = e.a
            ), labels2 AS (
                SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach2 GROUP BY src
            ), keyed AS (
                SELECT c.doc_id, c.lang, c.n_tokens,
                       COALESCE(l2.cluster_id, c.doc_id) AS k
                FROM clean c LEFT JOIN labels2 l2 USING (doc_id)
            ), splitd AS (
                SELECT doc_id, lang, n_tokens,
                       CASE WHEN u < 0.8 THEN 'train'
                            WHEN u < 0.9 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT doc_id, lang, n_tokens,
                           ('0x' || substring(md5(k::VARCHAR || ':42'), 1, 8))::BIGINT
                               / 4294967296.0 AS u
                    FROM keyed) t
            ), ordered AS (
                SELECT *,
                       CAST(ROW_NUMBER() OVER (
                            ORDER BY md5('0|0|' || CAST(doc_id AS VARCHAR)), doc_id
                       ) AS BIGINT) AS position
                FROM splitd
            )
            SELECT doc_id, lang, n_tokens, split, position,
                   CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY split ORDER BY position)
                               - n_tokens) / 64.0) AS BIGINT) AS seq_id
            FROM ordered
            ORDER BY doc_id
        """,
        "docs_uniform_sample_k": """
            SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source
                FROM documents
                ORDER BY md5('9|' || CAST(doc_id AS VARCHAR)), doc_id
                LIMIT 100
            ) t
            ORDER BY doc_id
        """,
        "docs_leakage_free_split": """
            WITH RECURSIVE words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words
            ), exploded AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            ), cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded a JOIN exploded b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            ), pairs AS (
                SELECT id_a, id_b FROM cand
                WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.2
            ), nodes AS (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
                )
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT id AS src, id AS dst FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ), labels AS (
                SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
            ), keyed AS (
                SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS k
                FROM documents d LEFT JOIN labels l USING (doc_id)
            )
            SELECT doc_id,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                       ('0x' || substring(md5(k::VARCHAR || ':42'), 1, 8))::BIGINT
                           / 4294967296.0 AS u
                FROM keyed
            ) t
            ORDER BY doc_id
        """,
        "events_normalize_robust": """
            SELECT event_id,
                   CAST(ROUND((value - quantile_cont(value, 0.5) OVER ())
                        / (quantile_cont(value, 0.75) OVER ()
                           - quantile_cont(value, 0.25) OVER ()), 6) AS DOUBLE)
                       AS value_robust
            FROM events
            ORDER BY event_id
        """,
        "avro_roundtrip": """
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders WHERE o_orderkey <= 800
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "excel_roundtrip": """
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
                   COUNT(DISTINCT o_orderpriority) AS n_priorities
            FROM orders WHERE o_orderkey <= 800
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "docs_curation_funnel": """
            WITH s0 AS (SELECT * FROM documents),
            s1 AS (SELECT * FROM s0 WHERE lang = 'en'),
            s2 AS (SELECT * FROM s1 WHERE n_chars >= 200),
            s3 AS (SELECT * FROM s2
                   QUALIFY ROW_NUMBER() OVER (
                       PARTITION BY substr(text, 1, 100) ORDER BY doc_id) = 1),
            m AS (
                SELECT 'input' AS stage, 0 AS stage_idx,
                       (SELECT COUNT(*) FROM s0) AS n,
                       (SELECT SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')), ' ')) END)
                        FROM s0) AS t
                UNION ALL SELECT 'lang_en', 1,
                       (SELECT COUNT(*) FROM s1),
                       (SELECT SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')), ' ')) END)
                        FROM s1)
                UNION ALL SELECT 'min_chars', 2,
                       (SELECT COUNT(*) FROM s2),
                       (SELECT SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')), ' ')) END)
                        FROM s2)
                UNION ALL SELECT 'prefix_dedup', 3,
                       (SELECT COUNT(*) FROM s3),
                       (SELECT SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')), ' ')) END)
                        FROM s3)
            )
            SELECT stage, stage_idx, n AS rows, t AS tokens,
                   COALESCE(LAG(n) OVER w - n, 0) AS rows_removed,
                   CAST(ROUND(COALESCE(
                       100.0 * (LAG(n) OVER w - n) / NULLIF(LAG(n) OVER w, 0),
                       0), 4) AS DOUBLE) AS pct_removed
            FROM m
            WINDOW w AS (ORDER BY stage_idx)
            ORDER BY stage_idx
        """,
        "docs_decontaminate_bloom": r"""
            WITH toks AS (
                SELECT doc_id, source,
                       string_split_regex(trim(text), '\s+') AS t
                FROM documents
            ), gr AS (
                SELECT DISTINCT doc_id, source,
                       unnest(list_transform(range(1, len(t) - 2),
                              i -> array_to_string(t[i:i+3], ' '))) AS g
                FROM toks
                WHERE len(t) >= 4
            ), bad AS (
                SELECT DISTINCT doc_id FROM gr
                WHERE source <> 'src0'
                  AND g IN (SELECT g FROM gr WHERE source = 'src0')
            )
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id
        """,
        "events_funnel": _EVENTS_FUNNEL,
        "asof_join_forward_tol": """
            SELECT l.event_id, l.ts, l.user_id,
                   CASE WHEN r.ts - l.ts <= INTERVAL 24 HOURS THEN r.ts END AS next_ts,
                   CASE WHEN r.ts - l.ts <= INTERVAL 24 HOURS
                        THEN CAST(ROUND(CAST(r.value AS DECIMAL(18,6)), 4) AS DOUBLE)
                   END AS next_value
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts <= r.ts
            ORDER BY l.event_id
        """,
        "events_retention_cohorts": """
            WITH ev AS (
                SELECT user_id, CAST(ts AS DATE) AS d FROM events
            ), first AS (
                SELECT user_id, MIN(d) AS cohort FROM ev GROUP BY user_id
            ), active AS (
                SELECT DISTINCT user_id, d FROM ev
            )
            SELECT cohort, CAST(active.d - first.cohort AS INT) AS day_offset,
                   COUNT(DISTINCT active.user_id) AS n_active
            FROM active JOIN first USING (user_id)
            GROUP BY cohort, day_offset
            ORDER BY cohort, day_offset
        """,
        "orc_partitioned_roundtrip": """
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "csv_dataset_roundtrip": """
            SELECT c_mktsegment, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
            FROM customer
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "unload_partitioned_roundtrip": """
            SELECT o_orderpriority, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "lakehouse_cdf_changes": """
            SELECT 'insert' AS _change_type, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders WHERE o_orderkey % 1000 = 0
            UNION ALL
            SELECT 'update_postimage', COUNT(*),
                   CAST(ROUND(SUM(CAST(o_totalprice + 1000.0 AS DECIMAL(18,6))), 2) AS DOUBLE)
            FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT 'update_preimage', COUNT(*),
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
            FROM orders WHERE o_orderkey % 10 = 0
            ORDER BY _change_type
        """,
        "lakehouse_skipping_pruned_agg": """
            SELECT TRUE AS files_pruned_ok, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders
            WHERE o_orderkey < (SELECT MAX(o_orderkey) // 4 FROM orders)
        """,
        "bucketed_join_colocated": """
            SELECT c_mktsegment, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "quicksight_spice_roundtrip": """
            SELECT c_mktsegment AS segment, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
            FROM customer
            GROUP BY c_mktsegment
            ORDER BY segment
        """,
        "graph_cypher_agg": """
            SELECT event_type AS etype, COUNT(*) AS n,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events
            WHERE value > 20
            GROUP BY event_type
            ORDER BY etype
        """,
        "cleanrooms_protected_agg": """
            SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
            FROM customer
            GROUP BY c_mktsegment, c_nationkey
            HAVING COUNT(*) >= 8
            ORDER BY c_mktsegment, c_nationkey
        """,
        "lakelite_stream_source": """
            SELECT event_id, user_id, event_type, value
            FROM events WHERE event_id < 2000
            ORDER BY event_id
        """,
        "multimodal_audio_dhash_dups": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            s AS (
                SELECT doc_id, r.j, (r.j * 65) // 130 AS w,
                       ((((doc_id % 25) * 31 + r.j * 17 +
                          CASE WHEN doc_id % 2 = 0 AND r.j % 13 = 0 THEN 7 ELSE 0 END
                         ) % 65536) - 32768) / 32768.0 AS v
                FROM d, (SELECT unnest(range(130)) AS j) r
            ),
            e AS (
                SELECT doc_id, w, AVG(v * v) AS energy
                FROM s GROUP BY doc_id, w
            ),
            bits AS (
                SELECT a.doc_id, a.w AS pos,
                       CASE WHEN b.energy > a.energy THEN 1 ELSE 0 END AS bit
                FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
                WHERE a.w < 64
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
            FROM bits a JOIN bits b ON a.pos = b.pos AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 8
            ORDER BY id_a, id_b
        """,
        "multimodal_gif_animation_frames": """
            SELECT d.doc_id, f.f AS frame_idx, 4 AS width, 4 AS height,
                   CAST(ROUND(((d.doc_id + f.f) % 4) * 60.0, 6) AS DOUBLE) AS mean_r,
                   CAST(ROUND(((d.doc_id + f.f) % 4) * 50.0, 6) AS DOUBLE) AS mean_g,
                   CAST(ROUND(((d.doc_id + f.f) % 4) * 40.0, 6) AS DOUBLE) AS mean_b
            FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d,
                 (SELECT unnest(range(2)) AS f) f
            ORDER BY doc_id, frame_idx
        """,
        "multimodal_image_phash_dups": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
            FROM d a JOIN d b
              ON a.doc_id < b.doc_id AND a.doc_id % 5 = b.doc_id % 5
            ORDER BY id_a, id_b
        """,
        "multimodal_image_dhash_dups": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            px AS (
                SELECT doc_id, r.p,
                       ((doc_id % 25) * 11 + r.p * 5 +
                        CASE WHEN doc_id % 2 = 0 AND r.p % 9 = 0 THEN 16 ELSE 0 END
                       ) % 256 AS v
                FROM d, (SELECT unnest(range(72)) AS p) r
            ),
            bits AS (
                SELECT l.doc_id, l.p - (l.p // 9) AS pos,
                       CASE WHEN rr.v > l.v THEN 1 ELSE 0 END AS bit
                FROM px l JOIN px rr ON rr.doc_id = l.doc_id AND rr.p = l.p + 1
                WHERE l.p % 9 < 8
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
            FROM bits a JOIN bits b ON a.pos = b.pos AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 8
            ORDER BY id_a, id_b
        """,
        "multimodal_bmp_pixel_stats": """
            SELECT d.doc_id, 4 AS width, 4 AS height,
                   CAST(ROUND(AVG((d.doc_id * 7 + r.i * 13) % 256), 6) AS DOUBLE) AS mean_pixel
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(48)) AS i) r
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "docs_ranking_metrics": """
            WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 400),
            res AS (
                SELECT source AS q, doc_id AS doc,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rank
                FROM d QUALIFY rank <= 10
            ),
            qr AS (
                SELECT source AS q, doc_id AS doc,
                       CASE doc_id % 4 WHEN 0 THEN 2.0 WHEN 1 THEN 1.0 END AS rel
                FROM d WHERE doc_id % 4 IN (0, 1)
            ),
            j AS (
                SELECT res.q, res.rank, COALESCE(qr.rel, 0.0) AS rel
                FROM res LEFT JOIN qr ON res.q = qr.q AND res.doc = qr.doc
            ),
            pq AS (
                SELECT q,
                       SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
                       MIN(CASE WHEN rel > 0 THEN rank END) AS first,
                       SUM((POW(2.0, rel) - 1) / LOG2(rank + 1)) AS dcg
                FROM j GROUP BY q
            ),
            ideal AS (
                SELECT q,
                       SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel,
                       SUM(CASE WHEN irank <= 10 AND rel > 0
                                THEN (POW(2.0, rel) - 1) / LOG2(irank + 1)
                                ELSE 0 END) AS idcg
                FROM (
                    SELECT q, doc, rel,
                           ROW_NUMBER() OVER (
                               PARTITION BY q ORDER BY rel DESC, doc ASC
                           ) AS irank
                    FROM qr
                ) GROUP BY q
            )
            SELECT COALESCE(pq.q, ideal.q) AS query_id,
                   CAST(ROUND(COALESCE(hits, 0) / 10.0, 6) AS DOUBLE) AS precision_at_k,
                   CAST(ROUND(CASE WHEN n_rel > 0
                              THEN COALESCE(hits, 0) / CAST(n_rel AS DOUBLE) END, 6)
                        AS DOUBLE) AS recall_at_k,
                   CAST(ROUND(COALESCE(1.0 / first, 0.0), 6) AS DOUBLE) AS mrr_at_k,
                   CAST(ROUND(CASE WHEN idcg > 0
                              THEN COALESCE(dcg, 0.0) / idcg END, 6)
                        AS DOUBLE) AS ndcg_at_k
            FROM pq FULL OUTER JOIN ideal ON pq.q = ideal.q
            ORDER BY query_id
        """,
        "orders_suppress_small_classes": """
            WITH q AS (
                SELECT o_orderkey, o_orderpriority, o_custkey % 997 AS cust_bucket
                FROM orders
            ), keep AS (
                SELECT o_orderpriority, cust_bucket
                FROM q GROUP BY 1, 2 HAVING COUNT(*) >= 5
            )
            SELECT q.o_orderkey
            FROM q JOIN keep USING (o_orderpriority, cust_bucket)
            ORDER BY o_orderkey
        """,
        "events_dp_release": """
            WITH g AS (
                SELECT event_type, CAST(SUM(value) AS DOUBLE) AS t
                FROM events GROUP BY 1
            ), u AS (
                SELECT event_type, t,
                       CAST(('0x' || substring(md5(event_type || ':42'), 1, 8))::BIGINT AS DOUBLE)
                           / 4294967296.0 AS u
                FROM g
            )
            SELECT event_type,
                   CAST(ROUND(t + (-(10.0 / 2.0)) * SIGN(u - 0.5) *
                        LN(CASE WHEN 1 - 2 * ABS(u - 0.5) <= 0 THEN 1e-12
                                ELSE 1 - 2 * ABS(u - 0.5) END), 6) AS DOUBLE)
                       AS sum_value_dp
            FROM u
            ORDER BY event_type
        """,
        "docs_quality_classifier_invariants": """
            SELECT TRUE AS separation_ok, TRUE AS accuracy_ok, TRUE AS scores_valid
        """,
        "multimodal_tiff_pixel_stats": """
            SELECT d.doc_id, 4 AS width, 4 AS height,
                   CAST(ROUND(AVG((d.doc_id * 13 + r.i * 23) % 256), 6) AS DOUBLE) AS mean_pixel
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(48)) AS i) r
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "multimodal_webp_pixel_stats": """
            SELECT d.doc_id, 4 AS width, 4 AS height,
                   CAST(ROUND(AVG(
                       ( (d.doc_id * 3 + 91 * (p.i % 2)) % 256
                       + (d.doc_id * 5 + 47 * ((p.i // 2) % 2)) % 256
                       + (d.doc_id * 7 + 123 * ((p.i // 4) % 2)) % 256
                       ) / 3.0
                   ), 6) AS DOUBLE) AS mean_pixel
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(16)) AS i) p
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "multimodal_gif_pixel_stats": """
            SELECT d.doc_id, 4 AS width, 4 AS height,
                   CAST(ROUND(AVG(
                       ((((d.doc_id * 3 + p.i * 7) % 4) * 3 + c.k) * 29 + 5) % 256
                   ), 6) AS DOUBLE) AS mean_pixel
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(16)) AS i) p,
                 (SELECT unnest(range(3)) AS k) c
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "multimodal_png_pixel_stats": """
            SELECT d.doc_id, 4 AS width, 4 AS height,
                   CAST(ROUND(AVG((d.doc_id * 11 + r.i * 17) % 256), 6) AS DOUBLE) AS mean_pixel
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(48)) AS i) r
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "multimodal_mp4_metadata": """
            SELECT doc_id,
                   CAST(ROUND((doc_id * 40 + 400.0) / ((doc_id % 3) * 400 + 600), 6) AS DOUBLE) AS duration_s,
                   CAST((doc_id % 3) * 400 + 600 AS BIGINT) AS timescale,
                   1 AS n_tracks,
                   CAST(320 + (doc_id % 4) * 160 AS INT) AS width,
                   CAST(180 + (doc_id % 4) * 90 AS INT) AS height,
                   'isom' AS brand
            FROM documents WHERE doc_id < 200
            ORDER BY doc_id
        """,
        "multimodal_wav_pcm_stats": """
            SELECT d.doc_id, 1 AS channels, 16000 AS sample_rate,
                   CAST(64 AS BIGINT) AS n_frames,
                   CAST(ROUND(sqrt(AVG(
                       POW((((d.doc_id * 31 + r.j * 17) % 65536) - 32768) / 32768.0, 2)
                   )), 6) AS DOUBLE) AS rms
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(64)) AS j) r
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "multimodal_flac_pcm_stats": """
            SELECT d.doc_id, 1 AS channels, 16000 AS sample_rate,
                   CAST(64 AS BIGINT) AS n_frames,
                   CAST(ROUND(sqrt(AVG(
                       POW((((d.doc_id * 29 + r.j * 23) % 65536) - 32768) / 32768.0, 2)
                   )), 6) AS DOUBLE) AS rms
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 (SELECT unnest(range(64)) AS j) r
            GROUP BY d.doc_id
            ORDER BY d.doc_id
        """,
        "multimodal_audio_spectral": """
            SELECT doc_id, 8192 AS sample_rate, CAST(2048 AS BIGINT) AS n_frames,
                   CAST(8 * (10 + doc_id % 40) AS DOUBLE) AS dominant_freq_hz
            FROM documents
            WHERE doc_id < 150
            ORDER BY doc_id
        """,
        "docs_url_features": """
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'alpha.com'
                        WHEN 1 THEN 'beta.co.uk'
                        WHEN 2 THEN 'gamma.org' ELSE 'delta.co.jp' END
                       AS url_domain,
                   CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 0
                        WHEN 1 THEN 1 ELSE 2 END AS INT)
                       AS url_subdomain_depth,
                   CAST(1 AS INT) AS url_path_depth,
                   (doc_id % 6 = 0) AS url_has_tracking
            FROM documents
            WHERE doc_id < 400
            ORDER BY doc_id
        """,
        "docs_url_dedup": """
            SELECT MIN(doc_id) AS doc_id
            FROM documents
            GROUP BY doc_id % 50
            ORDER BY doc_id
        """,
        "training_pipeline_sft": """
            WITH fp AS (
                SELECT doc_id, lang, text,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                           '\\s+', ' ', 'g'))
                           ORDER BY doc_id) AS fp_rn
                FROM documents
            ), surv AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tokens
                FROM fp
                WHERE fp_rn = 1 AND lang IN ('en', 'de', 'fr')
            ), gated AS (
                SELECT doc_id FROM surv
                WHERE n_tokens >= 10 AND n_tokens <= 120
            ), capped AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY CASE CAST(doc_id % 4 AS INT)
                                   WHEN 0 THEN 'alpha.com'
                                   WHEN 1 THEN 'beta.co.uk'
                                   WHEN 2 THEN 'gamma.org'
                                   ELSE 'delta.co.jp' END
                               ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)),
                                        CAST(doc_id AS VARCHAR)) AS rn
                    FROM gated)
                WHERE rn <= 40
            ), tok AS (
                -- chatml render of the synthesized conversation: contents
                -- are space-free, so every turn is exactly 2 whitespace
                -- tokens and turns = 2 + (doc_id % 3) * 2
                SELECT doc_id,
                       CAST(4 + 4 * CAST(doc_id % 3 AS INT) AS BIGINT)
                           AS sft_tokens
                FROM capped
            ), ord AS (
                SELECT doc_id, sft_tokens,
                       ROW_NUMBER() OVER (
                           ORDER BY md5('7|1|' || CAST(doc_id AS VARCHAR)),
                                    doc_id) AS position
                FROM tok
            )
            SELECT doc_id, sft_tokens, CAST(position AS BIGINT) AS position,
                   CAST(FLOOR((SUM(sft_tokens) OVER (ORDER BY position)
                               - sft_tokens) / 48.0) AS BIGINT) AS seq_id
            FROM ord
            ORDER BY doc_id
        """,
        "docs_url_psl_domains": """
            SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'u' || CAST(doc_id % 9 AS VARCHAR)
                                 || '.github.io'
                     WHEN 1 THEN 'site' || CAST(doc_id % 7 AS VARCHAR)
                                 || '.co.uk'
                     WHEN 2 THEN 'a.b.kawasaki.jp'
                     WHEN 3 THEN 'city.kawasaki.jp'
                     WHEN 4 THEN 'ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
                     ELSE 'shop.example.ck'
                   END AS url_domain,
                   CAST(CASE CAST(doc_id % 6 AS INT)
                        WHEN 1 THEN 1 WHEN 3 THEN 1 WHEN 4 THEN 1
                        ELSE 0 END AS INT) AS url_subdomain_depth
            FROM documents
            WHERE doc_id < 600
            ORDER BY doc_id
        """,
        "docs_page_meta": """
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS page_title,
                   'og ' || CAST(doc_id AS VARCHAR) AS page_og_title,
                   'https://c.com/' || CAST(doc_id % 50 AS VARCHAR)
                       AS page_canonical,
                   CASE WHEN doc_id % 3 = 0 THEN 'en'
                        WHEN doc_id % 3 = 1 THEN 'de' ELSE 'fr' END AS page_lang
            FROM documents
            WHERE doc_id < 300
            ORDER BY doc_id
        """,
        "docs_parse_robots": """
            WITH star AS (
                SELECT doc_id, '*' AS user_agent,
                       CAST(unnest(range(1, 2 + CAST(doc_id % 3 AS INT))) AS INT)
                           AS rule_idx
                FROM documents WHERE doc_id < 300
            ), star_rules AS (
                SELECT doc_id, user_agent, rule_idx,
                       CASE WHEN rule_idx % 2 = 1 THEN 'disallow' ELSE 'allow' END
                           AS rule_type,
                       '/p' || CAST(doc_id AS VARCHAR) || '/'
                           || CAST(rule_idx AS VARCHAR) AS path
                FROM star
            ), bot_rules AS (
                SELECT doc_id,
                       'bot' || CAST(doc_id % 5 AS VARCHAR) AS user_agent,
                       CAST(1 AS INT) AS rule_idx,
                       'disallow' AS rule_type,
                       '/all' || CAST(doc_id AS VARCHAR) AS path
                FROM documents WHERE doc_id < 300
            )
            SELECT * FROM star_rules
            UNION ALL
            SELECT * FROM bot_rules
            ORDER BY doc_id, user_agent, rule_idx
        """,
        "docs_extract_links": """
            WITH links AS (
                SELECT doc_id,
                       CAST(unnest(range(1, 2 + CAST(doc_id % 4 AS INT))) AS INT) AS j
                FROM documents WHERE doc_id < 300
            )
            SELECT doc_id, j AS link_idx,
                   'https://l.com/' || CAST(doc_id AS VARCHAR) || '/'
                       || CAST(j AS VARCHAR)
                       || CASE WHEN j % 3 = 0 THEN '?x=1&y=2' ELSE '' END
                       AS href,
                   CASE WHEN j % 2 = 1 THEN 'text ' || CAST(j AS VARCHAR)
                        ELSE 'plain ' || CAST(j AS VARCHAR) END AS anchor_text
            FROM links
            ORDER BY doc_id, link_idx
        """,
        "docs_sitemap_urls": """
            WITH locs AS (
                SELECT doc_id,
                       CAST(unnest(range(1, 2 + CAST(doc_id % 5 AS INT))) AS INT) AS j
                FROM documents WHERE doc_id < 300
            )
            SELECT doc_id, j AS loc_idx,
                   'https://s.com/p' || CAST(doc_id AS VARCHAR) || '-'
                       || CAST(j AS VARCHAR)
                       || CASE WHEN j % 3 = 0 THEN '?a=1&b=2' ELSE '' END
                       AS url,
                   CASE WHEN j % 2 = 0
                        THEN '2024-0' || CAST(1 + j % 9 AS VARCHAR) || '-01'
                   END AS lastmod
            FROM locs
            ORDER BY doc_id, loc_idx
        """,
        "multimodal_audio_containers": """
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'mp3'
                        WHEN 1 THEN 'flac' ELSE 'opus' END AS audio_codec,
                   CAST(1 + doc_id % 2 AS INT) AS audio_channels,
                   CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                        ELSE 48000 END AS INT) AS audio_sample_rate,
                   CAST(CASE CAST(doc_id % 3 AS INT)
                        WHEN 0 THEN
                            -- CBR: frame_len(144*br*1000//sr) x 4 frames,
                            -- bits / kbps == ms
                            (((144 * (64 + 32 * ((doc_id // 3) % 2)) * 1000)
                              // 44100) * 4 * 8)
                              // (64 + 32 * ((doc_id // 3) % 2))
                        WHEN 1 THEN (1 + doc_id % 5) * 1000
                        ELSE (1 + doc_id % 3) * 1000
                   END AS BIGINT) AS audio_duration_ms
            FROM documents
            WHERE doc_id < 240
            ORDER BY doc_id
        """,
        "docs_preference_screen": """
            SELECT doc_id,
                   (doc_id % 6 = 0) AS pref_identical,
                   CAST(ROUND(CASE WHEN doc_id % 6 = 0 THEN 1.0
                        ELSE (5 + doc_id % 7) / CAST(3 + doc_id % 5 AS DOUBLE)
                   END, 6) AS DOUBLE) AS pref_len_ratio,
                   CAST(CASE WHEN doc_id % 6 = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE)
                       AS pref_token_jaccard
            FROM documents
            WHERE doc_id < 400
            ORDER BY doc_id
        """,
        "docs_conv_validate": """
            SELECT doc_id,
                   (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS conv_valid,
                   concat(
                       CASE WHEN doc_id % 7 = 0 AND doc_id % 11 = 0
                            THEN 'broken_alternation,empty_content'
                            WHEN doc_id % 7 = 0 THEN 'broken_alternation'
                            WHEN doc_id % 11 = 0 THEN 'empty_content'
                            ELSE '' END,
                       -- a 2-turn conversation (doc%3=0) whose second
                       -- turn the %7 defect turned into 'user' has no
                       -- assistant turn left at all
                       CASE WHEN doc_id % 7 = 0 AND doc_id % 3 = 0
                            THEN ',no_assistant_turn' ELSE '' END
                   ) AS errors
            FROM documents
            WHERE doc_id < 500
            ORDER BY doc_id
        """,
        "docs_conv_pairs": """
            WITH turns AS (
                SELECT doc_id, CAST(unnest(range(1, 3 + (doc_id % 3) * 2)) AS INT) AS i
                FROM documents WHERE doc_id < 300
            )
            SELECT doc_id,
                   i AS turn_idx,
                   array_to_string(list_transform(range(1, i), j ->
                       (CASE WHEN j % 2 = 1 OR (doc_id % 7 = 0 AND j = 2)
                             THEN 'user' ELSE 'assistant' END)
                       || ': ' ||
                       (CASE WHEN doc_id % 11 = 0 AND j = 1 THEN ''
                             WHEN j % 2 = 1
                             THEN 'q' || CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)
                             ELSE 'a' || CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)
                        END)), chr(10)) AS context,
                   'a' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS response
            FROM turns
            WHERE i % 2 = 0 AND NOT (doc_id % 7 = 0 AND i = 2)
            ORDER BY doc_id, turn_idx
        """,
        "docs_url_domain_caps": """
            WITH synth AS (
                SELECT doc_id,
                       CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'alpha.com'
                            WHEN 1 THEN 'beta.co.uk'
                            WHEN 2 THEN 'gamma.org' ELSE 'delta.co.jp' END
                           AS domain,
                       md5('42|' || CAST(doc_id AS VARCHAR)) AS pick
                FROM documents
            ), ranked AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY domain
                           ORDER BY pick, CAST(doc_id AS VARCHAR)
                       ) AS rn
                FROM synth
            )
            SELECT doc_id FROM ranked WHERE rn <= 25
            ORDER BY doc_id
        """,
        "graph_gremlin_out_counts": """
            SELECT event_type AS "~id", COUNT(*) AS count
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "graph_gremlin_until_fixpoint": """
            WITH exits AS (
                SELECT 'r' || CAST(n.n_regionkey AS VARCHAR) AS rid
                FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                UNION ALL
                SELECT 'r' || CAST(n_regionkey AS VARCHAR) FROM nation
                UNION ALL
                SELECT 'r' || CAST(r_regionkey AS VARCHAR) FROM region
            )
            SELECT rid AS "~id", COUNT(*) AS count
            FROM exits GROUP BY rid ORDER BY rid
        """,
        "media_webdataset_roundtrip": """
            SELECT 'png' AS img_format, COUNT(*) AS n,
                   CAST(SUM(doc_id % 1920 + 1) AS BIGINT) AS sum_w,
                   CAST(SUM(doc_id % 1080 + 1) AS BIGINT) AS sum_h,
                   COUNT(*) AS meta_matches
            FROM documents
        """,
        "training_pipeline_megatron": """
            WITH d AS (
                SELECT doc_id,
                       CAST(doc_id % 7 + 1 AS BIGINT) AS n,
                       (doc_id % 7 + 1) * (doc_id % 1000)
                       + ((doc_id % 7 + 1) * (doc_id % 7)) // 2 AS s
                FROM documents
            ), p AS (
                SELECT doc_id, n, s,
                       CAST(FLOOR(
                           (SUM(n) OVER (ORDER BY doc_id) - n) / 64.0
                       ) AS BIGINT) AS seq_id
                FROM d
            ), seqs AS (
                SELECT seq_id,
                       CAST(SUM(n) AS INT) AS seq_len,
                       CAST(SUM(s) AS BIGINT) AS s
                FROM p GROUP BY seq_id
            )
            SELECT seq_len, COUNT(*) AS n_seqs,
                   CAST(SUM(s) AS BIGINT) AS total_tokens
            FROM seqs GROUP BY seq_len ORDER BY seq_len
        """,
        "docs_megatron_roundtrip": """
            WITH d AS (
                SELECT doc_id % 7 + 1 AS len,
                       (doc_id % 7 + 1) * (doc_id % 1000)
                       + ((doc_id % 7 + 1) * (doc_id % 7)) // 2 AS s
                FROM documents
            )
            SELECT CAST(len AS INT) AS len, COUNT(*) AS n_seqs,
                   CAST(SUM(s) AS BIGINT) AS sum_tokens
            FROM d GROUP BY len ORDER BY len
        """,
        "docs_webdataset_roundtrip": """
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "docs_lm_perplexity": r"""
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(list_transform(
                           string_split_regex(trim(text), '\s+'),
                           t -> lower(t)), t -> t <> '') AS w
                FROM documents
            ), train_uni AS (
                SELECT unnest(w) AS w1 FROM toks WHERE doc_id % 10 < 8
            ), uni AS (
                SELECT w1, c1 FROM (
                    SELECT w1, COUNT(*) AS c1,
                           ROW_NUMBER() OVER (
                               ORDER BY COUNT(*) DESC, w1 ASC) AS rn
                    FROM train_uni GROUP BY w1
                ) WHERE rn <= 400
            ), pairs AS (
                SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
                FROM toks, UNNEST(range(1, len(w))) AS u(i)
                WHERE len(w) >= 2
            ), big AS (
                SELECT w1, w2, c2 FROM (
                    SELECT w1, w2, COUNT(*) AS c2,
                           ROW_NUMBER() OVER (
                               ORDER BY COUNT(*) DESC, w1 ASC, w2 ASC) AS rn
                    FROM pairs WHERE doc_id % 10 < 8 GROUP BY w1, w2
                ) WHERE rn <= 1500
            ), v AS (SELECT COUNT(*) AS vs FROM uni),
            scored AS (
                SELECT p.doc_id, p.lang,
                       ln((COALESCE(b.c2, 0) + 0.1)
                          / (COALESCE(u.c1, 0) + 0.1 * v.vs)) AS logp
                FROM pairs p
                LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
                LEFT JOIN uni u ON p.w1 = u.w1
                CROSS JOIN v
            ), per_doc AS (
                SELECT doc_id, lang, -AVG(logp) AS xent, COUNT(*) AS nb
                FROM scored GROUP BY doc_id, lang
            )
            SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(xent), 4) AS avg_xent,
                   CAST(SUM(nb) AS BIGINT) AS n_bigrams
            FROM per_doc GROUP BY lang ORDER BY lang
        """,
        "lakehouse_convert_mapped": """
            WITH merged AS (
                SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
                       CASE WHEN n_nationkey < 2 THEN 'UPD_' || n_name
                            ELSE n_name END AS n_name,
                       CAST(n_regionkey AS BIGINT) AS n_regionkey
                FROM nation
                UNION ALL
                SELECT 99, 'ZZZ_NEW', 0
            )
            SELECT n_regionkey, COUNT(*) AS n,
                   MIN(n_name) AS min_name, MAX(n_name) AS max_name
            FROM merged GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        "graph_gremlin_edge_filter": """
            SELECT COUNT(DISTINCT user_id) AS count
            FROM events
            WHERE value > 50
        """,
        "graph_cypher_cycle": """
            WITH c AS (
                SELECT user_id, event_type, COUNT(*) AS c
                FROM events GROUP BY user_id, event_type
            )
            SELECT event_type AS etype, CAST(SUM(c * (c - 1)) AS BIGINT) AS n
            FROM c
            GROUP BY event_type
            HAVING SUM(c * (c - 1)) > 0
            ORDER BY etype
        """,
        "graph_gremlin_branch_limit": """
            WITH ranked AS (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY event_type
                       ) AS rn
                FROM events
            )
            SELECT event_type AS "~id", COUNT(*) AS count
            FROM ranked WHERE rn <= 2
            GROUP BY event_type
            ORDER BY event_type
        """,
        "graph_gremlin_select": """
            SELECT concat('u', CAST(user_id AS VARCHAR)) AS u,
                   value AS e, event_type AS t
            FROM events
            WHERE value > 80
            ORDER BY u, e, t
        """,
        "dedup_lines_corpus": """
            WITH norm AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')), ' ') AS toks
                FROM documents
            ),
            chunked AS (
                SELECT doc_id,
                       unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS i,
                       toks
                FROM norm
            ),
            lines AS (
                SELECT doc_id, i AS ln,
                       array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS line
                FROM chunked
            ),
            marked AS (
                SELECT doc_id, ln, line,
                       COUNT(*) OVER (PARTITION BY line) AS cnt,
                       ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, ln) AS rk
                FROM lines
            ),
            flagged AS (
                SELECT doc_id, ln, line,
                       (len(trim(line)) >= 1 AND cnt >= 2 AND rk > 1) AS rm
                FROM marked
            )
            SELECT doc_id,
                   md5(coalesce(string_agg(CASE WHEN NOT rm THEN line END, chr(10) ORDER BY ln), '')) AS text_md5,
                   COUNT(*) AS n_lines,
                   CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM flagged
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        "graph_sparql_path_seq": """
            SELECT r_name AS rname, COUNT(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY rname
        """,
        "graph_sparql_path_closure": """
            SELECT CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS n_pairs
            FROM (SELECT COUNT(*) AS k FROM orders GROUP BY o_custkey)
        """,
        "graph_sparql_undef_join": """
            WITH base AS (
                SELECT n_name AS nname, c_mktsegment AS seg
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), matched AS (
                SELECT * FROM base WHERE nname = 'GERMANY'
                UNION ALL SELECT * FROM base WHERE seg = 'BUILDING'
                UNION ALL SELECT * FROM base
                    WHERE nname = 'FRANCE' AND seg = 'MACHINERY'
            )
            SELECT nname, seg, COUNT(*) AS cnt
            FROM matched GROUP BY nname, seg
            ORDER BY nname, seg
        """,
        "graph_cypher_unwind_roundtrip": """
            SELECT DISTINCT concat('u', CAST(user_id AS VARCHAR)) AS uid,
                   event_type AS one
            FROM events
            ORDER BY uid, one
        """,
        "graph_gremlin_simple_path": """
            WITH t AS (
                SELECT event_type, COUNT(*) AS n
                FROM events WHERE value > 300 GROUP BY event_type
            ),
            ut AS (
                SELECT event_type, user_id, COUNT(*) AS m
                FROM events WHERE value > 300 GROUP BY event_type, user_id
            )
            SELECT CAST(COALESCE((SELECT SUM(n * n) FROM t), 0)
                        - COALESCE((SELECT SUM(m * m) FROM ut), 0) AS BIGINT) AS count
        """,
        "graph_sparql_group_concat": """
            SELECT concat('u', CAST(user_id AS VARCHAR)) AS u,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
                   COUNT(event_type) AS n
            FROM events
            WHERE value > 280
            GROUP BY user_id
            ORDER BY u
        """,
        "graph_cypher_pattern_predicate": """
            SELECT c_mktsegment AS segment, COUNT(*) AS n
            FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            )
            GROUP BY c_mktsegment
            ORDER BY segment
        """,
        "graph_gremlin_not_filter": """
            SELECT concat('u', CAST(user_id AS VARCHAR)) AS "~from",
                   COUNT(*) AS count
            FROM events
            WHERE user_id NOT IN (
                SELECT DISTINCT user_id FROM events WHERE value > 250
            )
            GROUP BY user_id
            ORDER BY "~from"
        """,
        "trino_dialect_tier3": """
            WITH base AS (
                SELECT CAST(o_orderkey AS VARCHAR) AS okey,
                       string_split(o_orderpriority, '-')[2] AS prio_word,
                       o_totalprice / nullif(o_orderkey % 3, 0) AS safe_ratio,
                       o_orderstatus, o_orderpriority
                FROM orders WHERE o_orderkey <= 1000
            )
            SELECT okey, prio_word, safe_ratio, x, y FROM (
                SELECT okey, prio_word, safe_ratio, o_orderstatus AS x, 's' AS y FROM base
                UNION ALL
                SELECT okey, prio_word, safe_ratio, o_orderpriority AS x, 'p' AS y FROM base
                UNION ALL
                SELECT okey, prio_word, safe_ratio, NULL AS x, 'z' AS y FROM base
            )
            ORDER BY okey, y
        """,
        "trino_dialect_scalars": """
            SELECT CAST(o_orderkey AS VARCHAR) AS okey,
                   string_split(o_orderpriority, '-')[1] AS prio_num,
                   array_to_string([o_orderpriority, o_orderstatus], ',') AS tags,
                   strptime(CAST(o_orderdate AS VARCHAR), '%Y-%m-%d %H:%M:%S') AS od
            FROM orders
            WHERE starts_with(o_orderpriority, '1') OR starts_with(o_orderpriority, '3')
            ORDER BY okey
            LIMIT 500
        """,
        "graph_cypher_with_topk": """
            WITH agg AS (
                SELECT concat('u', CAST(user_id AS VARCHAR)) AS uid,
                       COUNT(*) AS n_events
                FROM events GROUP BY user_id
                ORDER BY n_events DESC, uid ASC LIMIT 5
            ),
            p AS (
                SELECT concat('u', CAST(user_id AS VARCHAR)) AS uid,
                       COUNT(*) AS n_purchases
                FROM events WHERE event_type = 'purchase' GROUP BY user_id
            )
            SELECT agg.uid, agg.n_events, p.n_purchases
            FROM agg JOIN p ON agg.uid = p.uid
            ORDER BY agg.uid
        """,
        "graph_cypher_with_pipeline": """
            WITH agg AS (
                SELECT user_id, COUNT(*) AS n_events
                FROM events GROUP BY user_id HAVING COUNT(*) >= 66
            ),
            p AS (
                SELECT user_id, COUNT(*) AS n_purchases
                FROM events WHERE event_type = 'purchase' GROUP BY user_id
            )
            SELECT concat('u', CAST(a.user_id AS VARCHAR)) AS uid,
                   a.n_events, p.n_purchases
            FROM agg a JOIN p ON a.user_id = p.user_id
            ORDER BY uid
        """,
        "graph_cypher_optional_match": """
            WITH u AS (
                SELECT DISTINCT concat('u', CAST(user_id AS VARCHAR)) AS uid
                FROM events
            ),
            e AS (
                SELECT concat('u', CAST(user_id AS VARCHAR)) AS uid, value
                FROM events
                WHERE event_type = 'purchase' AND value > 250
            )
            SELECT u.uid, COUNT(e.value) AS n_big
            FROM u LEFT JOIN e USING (uid)
            GROUP BY u.uid
            ORDER BY u.uid
        """,
        "dedup_repeated_spans": """
            WITH base AS (
                SELECT doc_id,
                       CASE WHEN len(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g'))) > 0
                            THEN string_split(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')), ' ')
                            ELSE [] END AS toks
                FROM documents
            ),
            wins AS (
                SELECT doc_id,
                       unnest(range(0, greatest(len(toks) - 7, 0))) AS s,
                       unnest(list_transform(range(0, greatest(len(toks) - 7, 0)),
                                             i -> array_to_string(toks[i + 1 : i + 8], ' '))) AS w
                FROM base
            ),
            dup AS (
                SELECT w,
                       (MIN(struct_pack(d := doc_id, s := s))).d AS kd,
                       (MIN(struct_pack(d := doc_id, s := s))).s AS ks
                FROM wins GROUP BY w HAVING COUNT(*) >= 2
            ),
            occ AS (
                SELECT wi.doc_id, wi.s, wi.s + 8 AS e
                FROM wins wi JOIN dup d USING (w)
                WHERE NOT (wi.doc_id = d.kd AND wi.s = d.ks)
            ),
            marked AS (
                SELECT doc_id, s, e,
                       CASE WHEN MAX(e) OVER pw IS NULL OR s > MAX(e) OVER pw
                            THEN 1 ELSE 0 END AS newisl
                FROM occ
                WINDOW pw AS (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            isl AS (
                SELECT *, SUM(newisl) OVER (PARTITION BY doc_id ORDER BY s, e
                                            ROWS UNBOUNDED PRECEDING) AS g
                FROM marked
            ),
            mspan AS (
                SELECT doc_id, MIN(s) AS s, MAX(e) AS e
                FROM isl GROUP BY doc_id, g
            ),
            spl AS (
                SELECT doc_id,
                       list(struct_pack(s := s, e := e) ORDER BY s) AS spans
                FROM mspan GROUP BY doc_id
            )
            SELECT b.doc_id,
                   len(b.toks) AS n_tokens,
                   len(COALESCE(spl.spans, [])) AS n_spans,
                   COALESCE(list_sum(list_transform(spl.spans, sp -> sp.e - sp.s)), 0)
                       AS n_removed,
                   -- array_to_string([]) is NULL in DuckDB but '' in
                   -- Spark's array_join: coalesce for fully-removed docs
                   md5(COALESCE(array_to_string(
                       list_transform(
                           list_filter(range(0, len(b.toks)),
                               i -> len(list_filter(COALESCE(spl.spans, []),
                                        sp -> i >= sp.s AND i < sp.e)) = 0),
                           i -> b.toks[i + 1]),
                       ' '), '')) AS text_md5
            FROM base b LEFT JOIN spl ON spl.doc_id = b.doc_id
            ORDER BY b.doc_id
        """,
        # DuckDB replays the brute-force truth: same normalization (the
        # explicit [ \t\n\r]+ class), same 5-char shingling with the
        # whole-string fallback under length 5, same exact-Jaccard
        # threshold; the LSH booleans are engine-verified.
        "dedup_minhash_selfcheck": """
            WITH s AS (
                SELECT doc_id,
                       lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g'))) AS t
                FROM documents WHERE doc_id < 400
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 5
                            THEN list_distinct(list_transform(
                                range(1, len(t) - 3), i -> substr(t, i, 5)))
                            ELSE [t] END AS st
                FROM s WHERE len(t) > 0
            )
            SELECT COUNT(*) AS n_brute_pairs,
                   TRUE AS recall_ok, TRUE AS precision_ok
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.st, b.st))) >= 0.6
        """,
        "sketch_distinct_selfcheck": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS exact_users,
                   TRUE AS rel_err_ok
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        # trace(cov) == sum(all eigenvalues) == sum of per-coordinate
        # sample variances: DuckDB recomputes the right-hand side from
        # the raw embeddings (lockstep unnest), pinning the PCA mean
        # pass + centered Gram + eigendecomposition; the pure-spectral
        # booleans are engine-verified and expected TRUE.
        "emb_pca_invariants": """
            WITH coords AS (
                SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings
                WHERE embedding IS NOT NULL
            )
            SELECT 64 AS d, 64 AS k,
                   CAST(ROUND(SUM(v), 6) AS DOUBLE) AS total_var,
                   TRUE AS orthonormal_ok,
                   TRUE AS variance_desc_ok,
                   TRUE AS proj_var_ok
            FROM (SELECT i, VAR_SAMP(CAST(x AS DOUBLE)) AS v
                  FROM coords GROUP BY i)
        """,
        # DuckDB replays 4 exact power-iteration rounds: the graph is
        # symmetric (no dangling nodes -> zero redistributed mass), the
        # zero-weight self-loop rows keep every vertex present in each
        # round so the iteration counter never goes NULL under the GROUP
        # BY, and contributions divide by degree (r/deg, matching the
        # engine's expression, not r * (1/deg)).
        "graph_pagerank_oracle": """
            WITH RECURSIVE und AS (
                SELECT 'c' || CAST(c_custkey AS VARCHAR) AS a,
                       'n' || CAST(c_nationkey AS VARCHAR) AS b
                FROM customer
                UNION ALL
                SELECT 'n' || CAST(n_nationkey AS VARCHAR),
                       'r' || CAST(n_regionkey AS VARCHAR)
                FROM nation
            ),
            base_edges AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL
                SELECT b AS u, a AS v FROM und
            ),
            nodes AS (SELECT DISTINCT u AS id FROM base_edges),
            od AS (SELECT u, COUNT(*) AS deg FROM base_edges GROUP BY u),
            wedges AS (
                SELECT b.u, b.v, od.deg
                FROM base_edges b JOIN od ON od.u = b.u
                UNION ALL
                SELECT id, id, NULL FROM nodes
            ),
            nn AS (SELECT COUNT(*) AS n FROM nodes),
            it AS (
                SELECT 0 AS k, id AS v, 1.0 / (SELECT n FROM nn) AS r
                FROM nodes
                UNION ALL
                SELECT i.k + 1, e.v,
                       0.15 / (SELECT n FROM nn)
                       + 0.85 * SUM(CASE WHEN e.deg IS NULL THEN 0.0
                                         ELSE i.r / e.deg END)
                FROM it i JOIN wedges e ON e.u = i.v
                WHERE i.k < 4
                GROUP BY i.k, e.v
            )
            SELECT v AS vertex, ROUND(r, 6) AS rank
            FROM it WHERE k = 4
            ORDER BY vertex
        """,
        # DuckDB replays the exact Holt recursion: series bounded to 90
        # points keeps the engine inside its lookback window, the CTE
        # recurses on row_number with the same seed (level_1=x_1,
        # trend_1=0) and the same double expressions, so values match
        # bit-for-bit before the shared round(6).
        "events_holt_bounded": """
            WITH RECURSIVE daily AS (
                SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            ),
            bounded AS (
                SELECT event_type, day, n,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type ORDER BY day) AS rn
                FROM (SELECT *, MIN(day) OVER (PARTITION BY event_type) AS d0
                      FROM daily)
                WHERE day < d0 + 90
            ),
            rec AS (
                SELECT event_type, day, rn,
                       CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
                FROM bounded WHERE rn = 1
                UNION ALL
                SELECT d.event_type, d.day, d.rn,
                       0.4 * d.n + 0.6 * (r.level + r.trend),
                       0.2 * ((0.4 * d.n + 0.6 * (r.level + r.trend)) - r.level)
                           + 0.8 * r.trend
                FROM rec r
                JOIN bounded d ON d.event_type = r.event_type AND d.rn = r.rn + 1
            )
            SELECT event_type, day,
                   ROUND(level, 6) AS level,
                   ROUND(trend, 6) AS trend,
                   ROUND(level + 7 * trend, 6) AS forecast_7d
            FROM rec
            ORDER BY event_type, day
        """,
        # The windowFunnel greedy DP is existence-exact: level >= L iff an
        # in-sort-order chain step1..stepL exists with t_L - t_1 <= W (proof
        # sketch: acc[0] keeps the LATEST step-1 start, which only widens
        # later steps' room; acc[i] is monotone non-decreasing, and any
        # valid chain forces each slot to fill).  Ties chain in step order
        # because the engine sorts (t, step), hence >= not > below.
        "events_window_funnel": """
            WITH se AS (
                SELECT user_id, epoch(ts) AS t, event_type
                FROM events
                WHERE event_type IN ('view', 'click', 'purchase')
                  AND user_id IS NOT NULL AND ts IS NOT NULL
            ),
            v AS (SELECT user_id, t FROM se WHERE event_type = 'view'),
            c AS (SELECT user_id, t FROM se WHERE event_type = 'click'),
            p AS (SELECT user_id, t FROM se WHERE event_type = 'purchase'),
            l2 AS (
                SELECT DISTINCT v.user_id FROM v
                JOIN c ON c.user_id = v.user_id
                      AND c.t >= v.t AND c.t - v.t <= 86400
            ),
            l3 AS (
                SELECT DISTINCT v.user_id FROM v
                JOIN c ON c.user_id = v.user_id
                      AND c.t >= v.t AND c.t - v.t <= 86400
                JOIN p ON p.user_id = v.user_id
                      AND p.t >= c.t AND p.t - v.t <= 86400
            )
            SELECT u.user_id,
                   CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
                        WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
                        WHEN u.user_id IN (SELECT user_id FROM v) THEN 1
                        ELSE 0 END AS level
            FROM (SELECT DISTINCT user_id FROM se) u
            ORDER BY u.user_id
        """,
        "athena_trino_dialect": """
            SELECT event_type,
                   CAST(floor((epoch(MAX(ts)) - epoch(MIN(ts))) / 86400) AS BIGINT)
                       AS span_days,
                   CAST(NULL AS BIGINT) AS not_a_number,
                   SUM(strpos(event_type, 'i')) AS i_positions,
                   COUNT(*) AS n
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "emr_spark_step_agg": """
            SELECT o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                       AS total_price
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "graph_sparql_construct": """
            WITH t AS (
                SELECT 'c' || CAST(c_custkey AS VARCHAR) AS s,
                       'tagged' AS p, c_mktsegment AS o
                FROM customer
                UNION ALL
                SELECT DISTINCT c_mktsegment AS s,
                       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                       'Segment' AS o
                FROM customer
            )
            SELECT DISTINCT s, p, o FROM t ORDER BY s, p, o
        """,
        "graph_sparql_not_exists": """
            SELECT 'n' || CAST(c.c_nationkey AS VARCHAR) AS n,
                   COUNT(*) AS n_customers
            FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
            )
            GROUP BY c.c_nationkey
            ORDER BY n
        """,
        "graph_sparql_union": """
            SELECT 'n' || CAST(c_nationkey AS VARCHAR) AS n,
                   COUNT(*) AS n_customers
            FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            GROUP BY c_nationkey
            ORDER BY n
        """,
        "graph_sparql_bgp": """
            SELECT c.c_mktsegment AS seg, r.r_name AS rname,
                   COUNT(*) AS n_customers
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY c.c_mktsegment, r.r_name
            ORDER BY seg, rname
        """,
        "lakehouse_merge_roundtrip": """
            WITH src AS (
                SELECT o_orderkey, o_custkey,
                       o_totalprice + 1000.0 AS o_totalprice,
                       'U' AS o_orderstatus
                FROM orders WHERE o_orderkey % 10 = 0
                UNION ALL
                SELECT o_orderkey + 100000000, o_custkey, o_totalprice, 'N'
                FROM orders WHERE o_orderkey % 1000 = 0
            ), merged AS (
                SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                FROM orders WHERE o_orderkey % 10 <> 0
                UNION ALL
                SELECT * FROM src
            )
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM merged
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "lakehouse_iceberg_snapshots": """
            SELECT 0 AS version, o_orderstatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY o_orderstatus
            UNION ALL
            SELECT 1, o_orderstatus, COUNT(*),
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
            FROM orders WHERE o_orderstatus IN ('F', 'O')
            GROUP BY o_orderstatus
            ORDER BY version, o_orderstatus
        """,
        "lakehouse_time_travel": """
            SELECT 0 AS version, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT 1, COUNT(*),
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
            FROM orders WHERE o_orderstatus IN ('F', 'O')
            UNION ALL
            SELECT 2, COUNT(*),
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
            FROM orders
            ORDER BY version
        """,
        "lakehouse_delete_cow": """
            SELECT c_mktsegment, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
            FROM customer
            WHERE c_mktsegment <> 'BUILDING'
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "lakehouse_delete_dv": """
            SELECT c_mktsegment, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
            FROM customer
            WHERE c_mktsegment <> 'MACHINERY'
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "doc_tfidf_top_terms": r"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf
                FROM toks WHERE term <> '' GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            ), nd AS (
                SELECT COUNT(DISTINCT doc_id) AS n FROM documents
            )
            SELECT doc_id, term, tf, df,
                   CAST(ROUND(tf * ln(CAST(n AS DOUBLE) / df), 4) AS DOUBLE) AS tfidf,
                   "rank"
            FROM (
                SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, nd.n,
                       ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                           ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS "rank"
                FROM tf JOIN dfreq USING (term) CROSS JOIN nd
            ) t
            WHERE "rank" <= 3
            ORDER BY doc_id, "rank"
        """,
        "doc_repetition_signals": r"""
            WITH toks AS (
                SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS token
                FROM documents
            ), cnt AS (
                SELECT doc_id, token, COUNT(*) AS c
                FROM toks WHERE token <> '' GROUP BY doc_id, token
            ), sc AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_tokens,
                       COUNT(*) AS n_distinct,
                       ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_token_frac,
                       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_token_frac
                FROM cnt
                GROUP BY doc_id
            )
            -- LEFT JOIN from documents: every doc gets a row (the
            -- operator's row-preservation contract for degenerate texts)
            SELECT d.doc_id,
                   COALESCE(sc.n_tokens, 0) AS n_tokens,
                   COALESCE(sc.n_distinct, 0) AS n_distinct,
                   sc.dup_token_frac, sc.top_token_frac
            FROM documents d LEFT JOIN sc USING (doc_id)
            ORDER BY doc_id
        """,
        "docs_hash_split": """
            SELECT lang,
                   CASE WHEN u < 0.75 THEN 'train'
                        WHEN u < 0.875 THEN 'val'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n
            FROM (
                SELECT lang,
                       ('0x' || substring(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                           / 4294967296.0 AS u
                FROM documents
            ) t
            GROUP BY lang, split
            ORDER BY lang, split
        """,
        "events_time_between": """
            SELECT event_type, COUNT(*) AS n_gaps,
                   ROUND(AVG(gap_s), 4) AS avg_gap_s,
                   ROUND(MAX(gap_s), 4) AS max_gap_s
            FROM (
                SELECT event_type,
                       epoch_us(ts) / 1000000.0 - LAG(epoch_us(ts) / 1000000.0) OVER (
                           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_s
                FROM events
            ) g
            WHERE gap_s IS NOT NULL
            GROUP BY event_type
            ORDER BY event_type
        """,
        "window_ntile_price_bands": """
            SELECT p_partkey, p_brand,
                   NTILE(4) OVER w AS price_band,
                   ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
                   ROUND(CUME_DIST() OVER w, 6) AS cume
            FROM part
            WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
            ORDER BY p_brand, p_partkey
        """,
        "json_dataset_roundtrip": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "dq_outliers_mad": """
            WITH med AS (
                SELECT event_type, median(value) AS m FROM events GROUP BY event_type
            ), mad AS (
                SELECT e.event_type, median(abs(e.value - med.m)) AS mad
                FROM events e JOIN med USING (event_type)
                GROUP BY e.event_type
            )
            SELECT e.event_type, COUNT(*) AS n_outliers,
                   ROUND(MIN(e.value), 4) AS min_val,
                   ROUND(MAX(e.value), 4) AS max_val
            FROM events e
            JOIN med ON e.event_type = med.event_type
            JOIN mad ON e.event_type = mad.event_type
            WHERE mad.mad IS NOT NULL AND mad.mad > 0
              AND abs(e.value - med.m) > 3.0 * 1.4826 * mad.mad
            GROUP BY e.event_type
            ORDER BY e.event_type
        """,
        "fwf_roundtrip": """
            SELECT n_nationkey, n_name, n_regionkey
            FROM nation
            ORDER BY n_nationkey
        """,
        "merge_datasets_append": """
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "docs_pack_sequences": r"""
            WITH toks AS (
                SELECT doc_id, lang,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
                FROM documents
            ), packed AS (
                SELECT lang, n_tokens,
                       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                                   - n_tokens) / 2000.0) AS BIGINT) AS seq_id
                FROM toks
            )
            SELECT lang, seq_id, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
            FROM packed
            GROUP BY lang, seq_id
            ORDER BY lang, seq_id
        """,
        "docs_stratified_sample": """
            SELECT doc_id, lang
            FROM (
                SELECT doc_id, lang,
                       ('0x' || substring(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                           / 4294967296.0 AS u
                FROM documents
            ) t
            WHERE (lang = 'en' AND u < 0.5)
               OR (lang = 'de' AND u < 0.25)
               OR (lang = 'fr' AND u < 0.25)
               OR (lang = 'es' AND u < 0.125)
            ORDER BY doc_id
        """,
        "salted_join_priority_revenue": """
            SELECT o_orderpriority,
                   COUNT(*) AS n_items,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "docs_chunk_sliding": r"""
            WITH ws AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM documents
            ), chunks AS (
                SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                       w[(i*12+1):(i*12+16)] AS cw
                FROM ws, UNNEST(range(CAST(
                    CASE WHEN len(w) <= 16 THEN 1
                         ELSE ceil((len(w) - 16) / 12.0) + 1 END AS BIGINT))) AS t(i)
            )
            SELECT doc_id, chunk_idx,
                   md5(array_to_string(cw, ' ')) AS chunk_md5,
                   CAST(len(cw) AS INT) AS n_words
            FROM chunks
            ORDER BY doc_id, chunk_idx
        """,
        "orders_incremental_agg": """
            SELECT o_orderpriority,
                   COUNT(*) AS n,
                   ROUND(SUM(o_totalprice), 2) AS price_sum,
                   ROUND(SUM(o_totalprice) / COUNT(o_totalprice), 4) AS price_avg,
                   ROUND(MIN(o_totalprice), 2) AS price_min,
                   ROUND(MAX(o_totalprice), 2) AS price_max
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "docs_weighted_sample": """
            SELECT o_orderpriority, o_orderkey
            FROM (
                SELECT o_orderpriority, o_orderkey,
                       ROW_NUMBER() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY k ASC, o_orderkey ASC
                       ) AS rn
                FROM (
                    SELECT o_orderpriority, o_orderkey,
                           ROUND(
                               -ln((('0x' || substring(md5(o_orderkey::VARCHAR || ':42'), 1, 8))::BIGINT + 0.5)
                                   / 4294967296.0)
                               / o_totalprice, 12) AS k
                    FROM orders WHERE o_totalprice > 0
                )
            )
            WHERE rn <= 7
            ORDER BY o_orderpriority, o_orderkey
        """,
        "docs_dsir_weights": """
            WITH rw AS (SELECT doc_id,
                               string_split_regex(trim(lower(text)), '\\s+') AS ws
                        FROM documents),
            rg AS (
                SELECT doc_id, g FROM (
                    SELECT doc_id, unnest(ws) AS g FROM rw
                    UNION ALL
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ws)),
                                                 i -> ws[i] || ' ' || ws[i+1])) AS g
                    FROM rw
                ) WHERE g <> ''
            ),
            rb AS (SELECT doc_id,
                          ('0x' || substring(md5(g), 1, 8))::BIGINT % 512 AS b
                   FROM rg),
            tb AS (SELECT rb.doc_id, b FROM rb
                   JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
            q AS (SELECT b, COUNT(*) AS qc FROM rb GROUP BY b),
            p AS (SELECT b, COUNT(*) AS pc FROM tb GROUP BY b),
            qt AS (SELECT SUM(qc) AS t FROM q),
            pt AS (SELECT SUM(pc) AS t FROM p),
            r AS (SELECT COALESCE(q.b, p.b) AS b,
                         ln((COALESCE(pc, 0) + 1.0) / ((SELECT t FROM pt) + 512.0))
                       - ln((COALESCE(qc, 0) + 1.0) / ((SELECT t FROM qt) + 512.0)) AS logr
                  FROM q FULL OUTER JOIN p ON q.b = p.b),
            s AS (SELECT doc_id, SUM(logr) AS lw
                  FROM rb JOIN r USING (b) GROUP BY doc_id)
            SELECT d.doc_id, ROUND(COALESCE(s.lw, 0.0), 6) AS log_weight
            FROM documents d LEFT JOIN s USING (doc_id)
            ORDER BY d.doc_id
        """,
        "docs_materialize_mixture": """
            WITH quota AS (
                SELECT * FROM (VALUES ('en', 300.0), ('fr', 180.0), ('de', 120.0))
                AS t(lang, q)
            ),
            ranked AS (
                SELECT d.lang, d.n_chars, q.q,
                       ROW_NUMBER() OVER (PARTITION BY d.lang
                                          ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
                FROM documents d JOIN quota q USING (lang)
            )
            SELECT lang, COUNT(*) AS n_kept, SUM(n_chars) AS chars_kept
            FROM ranked WHERE rn <= ROUND(q)
            GROUP BY lang ORDER BY lang
        """,
        "docs_select_by_budget": """
            SELECT doc_id, n_chars FROM (
                SELECT doc_id, n_chars,
                       SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id ASC
                                          ROWS UNBOUNDED PRECEDING) AS rt
                FROM documents
            ) WHERE rt <= 100000
            ORDER BY doc_id
        """,
        "doc_classifier_score": """
            WITH rw AS (SELECT doc_id,
                               string_split_regex(trim(lower(text)), '\\s+') AS ws
                        FROM documents),
            rg AS (
                SELECT doc_id, g FROM (
                    SELECT doc_id, unnest(ws) AS g FROM rw
                    UNION ALL
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ws)),
                                                 i -> ws[i] || ' ' || ws[i+1])) AS g
                    FROM rw
                ) WHERE g <> ''
            ),
            rb AS (SELECT doc_id,
                          ('0x' || substring(md5(g), 1, 8))::BIGINT % 512 AS b
                   FROM rg),
            s AS (SELECT doc_id,
                         AVG(((b * 37) % 13 - 6) / 10.0) AS m
                  FROM rb GROUP BY doc_id)
            SELECT d.doc_id,
                   ROUND(1.0 / (1.0 + EXP(-(0.1 + COALESCE(s.m, 0.0)))), 6) AS score
            FROM documents d LEFT JOIN s USING (doc_id)
            ORDER BY d.doc_id
        """,
        "logs_filter_events": """
            SELECT event_id, event_type, ts
            FROM events
            WHERE event_type LIKE 'c%'
              AND props LIKE '%k%' AND props NOT LIKE '%9%'
              AND ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts <= TIMESTAMP '2024-01-28 00:00:00'
            ORDER BY event_id
        """,
        "stream_join_attribution": """
            SELECT v.user_id,
                   COUNT(*) AS n_attributed,
                   ROUND(SUM(c.value), 4) AS attributed_value,
                   MIN(v.event_id) AS first_view_id
            FROM (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'view') v
            JOIN (SELECT user_id, ts, event_id, value FROM events
                  WHERE event_type = 'click') c
              ON v.user_id = c.user_id
             AND v.ts <= c.ts
             AND c.ts <= v.ts + INTERVAL 30 MINUTE
            GROUP BY v.user_id
            ORDER BY v.user_id
        """,
        "stats_pruned_scan": """
            SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
                   COUNT(*) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <= TIMESTAMP '1997-06-30'
            GROUP BY ship_month
            ORDER BY ship_month
        """,
        "docs_remove_repeated_passages": r"""
            WITH ws AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM documents
            ), passages AS (
                SELECT doc_id, CAST(i AS INT) AS pidx,
                       array_to_string(w[(i*3+1):(i*3+3)], ' ') AS passage
                FROM ws, UNNEST(range(CAST(ceil(len(w) / 3.0) AS BIGINT))) AS t(i)
            ), dups AS (
                SELECT passage FROM passages
                GROUP BY passage HAVING COUNT(*) >= 2
            ), flagged AS (
                SELECT p.doc_id, p.pidx, p.passage,
                       CASE WHEN d.passage IS NOT NULL THEN 1 ELSE 0 END AS is_dup
                FROM passages p LEFT JOIN dups d USING (passage)
            )
            SELECT doc_id,
                   COALESCE(string_agg(passage, ' ' ORDER BY pidx)
                            FILTER (WHERE is_dup = 0), '') AS text_clean,
                   COUNT(*) AS n_passages,
                   CAST(SUM(is_dup) AS BIGINT) AS n_removed
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        "weighted_median_price": """
            WITH rows_w AS (
                SELECT o_orderpriority,
                       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) AS price,
                       CAST(o_orderkey % 10 + 1 AS DOUBLE) AS w
                FROM orders
            ), cum AS (
                SELECT o_orderpriority, price,
                       SUM(w) OVER (PARTITION BY o_orderpriority ORDER BY price
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
                       SUM(w) OVER (PARTITION BY o_orderpriority) AS t
                FROM rows_w
            )
            SELECT o_orderpriority, MIN(price) AS wmedian_price
            FROM cum WHERE c >= t * 0.5
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "ts_resample_interpolate": """
            WITH buckets AS (
                SELECT event_type,
                       CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
                       CAST(SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*) AS DOUBLE) AS v
                FROM events GROUP BY event_type, 2
            ), bounds AS (
                SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM buckets GROUP BY event_type
            ), grid AS (
                SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS b FROM bounds
            ), j AS (
                SELECT g.event_type, g.b, bu.v
                FROM grid g LEFT JOIN buckets bu USING (event_type, b)
            ), n AS (
                SELECT event_type, b, v,
                    LAST_VALUE(v IGNORE NULLS) OVER (
                        PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
                    LAST_VALUE(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (
                        PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
                    FIRST_VALUE(v IGNORE NULLS) OVER (
                        PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
                    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (
                        PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn
                FROM j
            )
            SELECT event_type, b AS bucket_s,
                   ROUND(CASE WHEN v IS NOT NULL THEN v
                              WHEN tp IS NOT NULL AND tn IS NOT NULL
                              THEN vp + (vn - vp) * (b - tp) * 1.0 / (tn - tp)
                         END, 6) AS value
            FROM n
            ORDER BY event_type, bucket_s
        """,
        "doc_unigram_logprob": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents WHERE length(trim(text)) > 0
            ), total AS (SELECT COUNT(*) AS n FROM toks),
            vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
            sc AS (
                SELECT doc_id, COUNT(*) AS n_tokens,
                       ROUND(AVG(LOG10(tf / (SELECT n * 1.0 FROM total))), 6) AS logprob
                FROM toks JOIN vocab USING (tok)
                GROUP BY doc_id
            )
            SELECT d.doc_id, COALESCE(sc.n_tokens, 0) AS n_tokens, sc.logprob
            FROM documents d LEFT JOIN sc USING (doc_id)
            ORDER BY d.doc_id
        """,
        "docs_curation_pipeline": """
            WITH RECURSIVE fp AS (
                SELECT doc_id, lang, n_chars, text,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                           ORDER BY doc_id) AS fp_rn
                FROM documents
            ), surv AS (
                SELECT doc_id, lang, n_chars, text,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
                FROM fp
                WHERE fp_rn = 1 AND lang IN ('en', 'de', 'fr', 'es')
            ), gated AS (
                SELECT * FROM surv WHERE n_tokens >= 15 AND n_tokens <= 90
            ), words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM gated
            ), grams AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words
            ), exploded AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            ), cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded a JOIN exploded b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            ), pairs AS (
                SELECT id_a, id_b FROM cand
                WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.2
            ), nodes AS (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
                )
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT id AS src, id AS dst FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ), labels AS (
                SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
            ), joined AS (
                SELECT g.doc_id, g.lang, g.n_chars, g.n_tokens, l.cluster_id
                FROM gated g LEFT JOIN labels l USING (doc_id)
            ), best AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           ROW_NUMBER() OVER (PARTITION BY cluster_id
                                              ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM joined WHERE cluster_id IS NOT NULL)
                WHERE rn = 1
            ), kept AS (
                SELECT doc_id, lang, n_chars, n_tokens FROM joined WHERE cluster_id IS NULL
                UNION ALL
                SELECT j.doc_id, j.lang, j.n_chars, j.n_tokens
                FROM joined j JOIN best USING (doc_id)
            ), capped AS (
                SELECT doc_id, lang, n_chars, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM kept
            )
            SELECT doc_id, lang, n_chars, n_tokens FROM capped
            WHERE rn <= 60
            ORDER BY doc_id
        """,
        "dedup_keep_best_doc": """
            WITH RECURSIVE words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM words
            ), exploded AS (
                SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            ), cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                       COUNT(*) AS shared
                FROM exploded a JOIN exploded b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            ), pairs AS (
                SELECT id_a, id_b FROM cand
                WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.2
            ), nodes AS (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
                )
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT id AS src, id AS dst FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ), labels AS (
                SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
            ), joined AS (
                SELECT d.doc_id, d.lang, d.n_chars, l.cluster_id
                FROM documents d LEFT JOIN labels l USING (doc_id)
            ), best AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           ROW_NUMBER() OVER (PARTITION BY cluster_id
                                              ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM joined WHERE cluster_id IS NOT NULL)
                WHERE rn = 1
            )
            SELECT doc_id, lang, n_chars FROM joined WHERE cluster_id IS NULL
            UNION ALL
            SELECT j.doc_id, j.lang, j.n_chars FROM joined j JOIN best USING (doc_id)
            ORDER BY doc_id
        """,
        "events_markov_transitions": """
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM (SELECT event_type,
                         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             AS prev_type
                  FROM events)
            WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
            ORDER BY prev_type, next_type
        """,
        "docs_temperature_sample": """
            WITH stats AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
            tot AS (SELECT SUM(c) AS n FROM stats),
            w AS (SELECT lang, POW(c * 1.0 / n, 1.0 / 2.0 - 1.0) AS raw FROM stats, tot),
            k AS (SELECT lang, ROUND(raw / (SELECT MAX(raw) FROM w), 12) AS keep_p FROM w)
            SELECT d.lang, COUNT(*) AS n_kept
            FROM documents d JOIN k USING (lang)
            WHERE ('0x' || substring(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                      / 4294967296.0 < keep_p
            GROUP BY d.lang
            ORDER BY d.lang
        """,
        "graph_user_degrees": """
            WITH edges AS (SELECT CAST(user_id AS VARCHAR) AS f, event_type AS t FROM events),
            o AS (SELECT f AS id, COUNT(*) AS out_degree FROM edges GROUP BY f),
            i AS (SELECT t AS id, COUNT(*) AS in_degree FROM edges GROUP BY t)
            SELECT COALESCE(o.id, i.id) AS "~id",
                   COALESCE(out_degree, 0) AS out_degree,
                   COALESCE(in_degree, 0) AS in_degree
            FROM o FULL OUTER JOIN i ON o.id = i.id
            ORDER BY "~id"
        """,
        "events_sliding_time_window": """
            SELECT event_id, user_id,
                   ROUND(AVG(value) OVER (
                       PARTITION BY user_id ORDER BY epoch_us
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS avg_1h,
                   COUNT(*) OVER (
                       PARTITION BY user_id ORDER BY epoch_us
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h
            FROM (SELECT event_id, user_id, value, epoch_us(ts) AS epoch_us FROM events)
            ORDER BY event_id
        """,
        "skew_two_stage_distinct": """
            SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_distinct_l_partkey
            FROM lineitem
            GROUP BY l_suppkey
            ORDER BY l_suppkey
        """,
        "flatten_nested_props": """
            SELECT c_custkey, c_name AS name, c_acctbal AS acctbal,
                   c_mktsegment AS segment
            FROM customer
            ORDER BY c_custkey
        """,
        "compaction_roundtrip": """
            SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        "chunked_read_exact_rows": """
            SELECT chunk_id, COUNT(*) AS n_rows
            FROM (
                SELECT CAST(FLOOR((ROW_NUMBER() OVER () - 1) / 10000) AS BIGINT) AS chunk_id
                FROM orders
            ) t
            GROUP BY chunk_id
            ORDER BY chunk_id
        """,
        "graph_triangle_counts": """
            WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 3),
            e AS (
                SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            ),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM e e1 JOIN e e2 ON e2.a = e1.b
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            verts AS (SELECT a AS v FROM e UNION SELECT b AS v FROM e),
            cnt AS (
                SELECT v, COUNT(*) AS c FROM (
                    SELECT x AS v FROM tri
                    UNION ALL SELECT y AS v FROM tri
                    UNION ALL SELECT z AS v FROM tri
                ) roles GROUP BY v
            )
            SELECT CAST(verts.v AS VARCHAR) AS vertex, COALESCE(cnt.c, 0) AS triangles
            FROM verts LEFT JOIN cnt ON cnt.v = verts.v
            ORDER BY verts.v
        """,
        "graph_k_hop": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT CAST(user_id AS VARCHAR) AS s, event_type AS t FROM events
                UNION
                SELECT event_type AS s, CAST(user_id AS VARCHAR) AS t FROM events
            ),
            r AS (
                SELECT 'click' AS id, 0 AS hops
                UNION ALL
                SELECT e.t AS id, r.hops + 1 AS hops
                FROM r JOIN e ON e.s = r.id WHERE r.hops < 2
            )
            SELECT id AS vertex, MIN(hops) AS hops FROM r GROUP BY id ORDER BY vertex
        """,
        "events_ewma": """
            WITH x AS (
                SELECT event_id, user_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            )
            SELECT a.event_id, a.user_id,
                   ROUND(SUM(CASE WHEN b.rn = GREATEST(1, a.rn - 60)
                                  THEN POW(0.7, a.rn - b.rn)
                                  ELSE 0.3 * POW(0.7, a.rn - b.rn) END * b.value),
                         6) AS ewma_value
            FROM x a JOIN x b
              ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 60 AND a.rn
            GROUP BY a.event_id, a.user_id
            ORDER BY a.event_id
        """,
        "sketch_user_overlap": """
            WITH base AS (
                SELECT event_type,
                       CAST(user_id AS VARCHAR) || '@' || strftime(ts, '%Y-%m-%d') AS ud
                FROM events
            ),
            ha AS (SELECT DISTINCT ('0x' || substring(md5(ud || ':0'), 1, 13))::BIGINT AS h
                   FROM base WHERE event_type = 'click'),
            hb AS (SELECT DISTINCT ('0x' || substring(md5(ud || ':0'), 1, 13))::BIGINT AS h
                   FROM base WHERE event_type = 'view'),
            ta AS (SELECT h FROM ha ORDER BY h LIMIT 256),
            tb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
            na AS (SELECT COUNT(*) AS c, MAX(h) AS t FROM ta),
            nb AS (SELECT COUNT(*) AS c, MAX(h) AS t FROM tb),
            m AS (SELECT h FROM (SELECT h FROM ta UNION SELECT h FROM tb) u
                  ORDER BY h LIMIT 256),
            nm AS (SELECT COUNT(*) AS c, MAX(h) AS t FROM m),
            cm AS (SELECT COUNT(*) AS c FROM m
                   WHERE h IN (SELECT h FROM ta) AND h IN (SELECT h FROM tb)),
            est AS (
                SELECT
                    CASE WHEN na.c < 256 THEN na.c::DOUBLE
                         ELSE 255e0 * 4503599627370496e0 / na.t END AS ea,
                    CASE WHEN nb.c < 256 THEN nb.c::DOUBLE
                         ELSE 255e0 * 4503599627370496e0 / nb.t END AS eb,
                    CASE WHEN nm.c < 256 THEN nm.c::DOUBLE
                         ELSE 255e0 * 4503599627370496e0 / nm.t END AS eu,
                    nm.c AS kk, cm.c AS common
                FROM na, nb, nm, cm
            )
            SELECT ROUND(ea, 4) AS est_click, ROUND(eb, 4) AS est_view,
                   ROUND(eu, 4) AS est_union,
                   ROUND(eu * common / kk, 4) AS est_intersection,
                   ROUND((eu * common / kk) / eu, 6) AS est_jaccard
            FROM est
        """,
        "docs_bm25_search": """
            WITH toks AS (
                SELECT doc_id, dl, lower(tok) AS term
                FROM (
                    SELECT doc_id,
                           len(string_split_regex(trim(text), '\\s+')) AS dl,
                           unnest(string_split_regex(trim(text), '\\s+')) AS tok
                    FROM documents
                ) raw
                WHERE lower(tok) IN ('spark', 'table', 'merge')
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
                   FROM toks GROUP BY doc_id, term),
            dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS nt FROM toks GROUP BY term),
            stats AS (SELECT COUNT(*) AS n,
                             AVG(len(string_split_regex(trim(text), '\\s+'))) AS avgdl
                      FROM documents)
            SELECT doc_id,
                   ROUND(SUM(ln(1 + (n - nt + 0.5) / (nt + 0.5))
                             * tf * 2.2
                             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
            FROM tf JOIN dfq USING (term), stats
            GROUP BY doc_id
            ORDER BY score DESC, doc_id
            LIMIT 25
        """,
        "docs_hybrid_rrf": """
            WITH toks AS (
                SELECT doc_id, dl, lower(tok) AS term
                FROM (
                    SELECT doc_id,
                           len(string_split_regex(trim(text), '\\s+')) AS dl,
                           unnest(string_split_regex(trim(text), '\\s+')) AS tok
                    FROM documents
                ) raw
                WHERE lower(tok) IN ('spark', 'table', 'merge')
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
                   FROM toks GROUP BY doc_id, term),
            dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS nt FROM toks GROUP BY term),
            stats AS (SELECT COUNT(*) AS n,
                             AVG(len(string_split_regex(trim(text), '\\s+'))) AS avgdl
                      FROM documents),
            bm AS (
                SELECT doc_id,
                       ROUND(SUM(ln(1 + (n - nt + 0.5) / (nt + 0.5))
                                 * tf * 2.2
                                 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
                FROM tf JOIN dfq USING (term), stats
                GROUP BY doc_id
                ORDER BY score DESC, doc_id
                LIMIT 20
            ),
            bmr AS (SELECT doc_id,
                           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
                    FROM bm),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            kn AS (
                SELECT vec_id AS doc_id,
                       ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                          CAST(qv AS DOUBLE[])), 6) AS distance
                FROM embeddings, q
                ORDER BY ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                            CAST(qv AS DOUBLE[])), 6) ASC,
                         vec_id ASC
                LIMIT 20
            ),
            knr AS (SELECT doc_id,
                           ROW_NUMBER() OVER (ORDER BY distance ASC, doc_id) AS r
                    FROM kn)
            SELECT doc_id,
                   ROUND(COALESCE(1.0 / (60 + b.r), 0) + COALESCE(1.0 / (60 + k.r), 0), 6)
                       AS rrf_score,
                   (CASE WHEN b.r IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN k.r IS NULL THEN 0 ELSE 1 END) AS n_lists
            FROM bmr b FULL OUTER JOIN knr k USING (doc_id)
            ORDER BY rrf_score DESC, doc_id
            LIMIT 15
        """,
        "events_seasonal_decompose": """
            WITH daily AS (
                SELECT event_type, date_trunc('day', ts) AS day,
                       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
                FROM events GROUP BY event_type, date_trunc('day', ts)
            ),
            o AS (
                SELECT event_type, day, v,
                       CAST((ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1) % 7 AS INT)
                           AS phase,
                       CASE WHEN COUNT(v) OVER f = 7 THEN AVG(v) OVER f END AS trend
                FROM daily
                WINDOW f AS (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ),
            pm AS (SELECT event_type, phase, AVG(v - trend) AS m_raw
                   FROM o GROUP BY event_type, phase),
            pm2 AS (SELECT event_type, phase,
                           m_raw - AVG(m_raw) OVER (PARTITION BY event_type) AS m
                    FROM pm)
            SELECT o.event_type, CAST(o.day AS DATE) AS day, o.phase AS sd_phase,
                   ROUND(o.trend, 6) AS sd_trend,
                   ROUND(pm2.m, 6) AS sd_seasonal,
                   ROUND(o.v - o.trend - pm2.m, 6) AS sd_residual
            FROM o JOIN pm2 USING (event_type, phase)
            ORDER BY o.event_type, o.day
        """,
        "lineitem_winsorized": """
            WITH cuts AS (
                SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                       quantile_cont(l_extendedprice, 0.99) AS hi
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   ROUND(LEAST(GREATEST(l_extendedprice, lo), hi), 6) AS price_w
            FROM lineitem, cuts
            ORDER BY l_orderkey, l_linenumber
        """,
        "events_mahalanobis": """
            WITH base AS (
                SELECT event_id, CAST(value AS DOUBLE) AS x,
                       epoch_us(ts) / 1e6 AS y
                FROM events
            ),
            s AS (
                SELECT AVG(x) AS mx, AVG(y) AS my,
                       VAR_SAMP(x) + 1e-9 AS a,
                       COVAR_SAMP(x, y) AS b,
                       VAR_SAMP(y) + 1e-9 AS c
                FROM base
            )
            SELECT event_id,
                   ROUND(SQRT(GREATEST(
                       (c * (x - mx) * (x - mx)
                        - 2 * b * (x - mx) * (y - my)
                        + a * (y - my) * (y - my)) / (a * c - b * b),
                       0)), 6) AS mahalanobis
            FROM base, s
            ORDER BY event_id
        """,
        "orders_key_discovery": """
            SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
                   COUNT(DISTINCT o_orderkey) AS n_distinct,
                   COUNT(*) - COUNT(o_orderkey) AS n_nulls,
                   ROUND(COUNT(DISTINCT o_orderkey) * 1.0 / COUNT(*), 6) AS uniqueness,
                   (COUNT(DISTINCT o_orderkey) = COUNT(*)
                    AND COUNT(o_orderkey) = COUNT(*)) AS is_candidate_key
            FROM orders
            UNION ALL
            SELECT 'o_custkey', COUNT(*), COUNT(DISTINCT o_custkey),
                   COUNT(*) - COUNT(o_custkey),
                   ROUND(COUNT(DISTINCT o_custkey) * 1.0 / COUNT(*), 6),
                   (COUNT(DISTINCT o_custkey) = COUNT(*)
                    AND COUNT(o_custkey) = COUNT(*))
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*), COUNT(DISTINCT o_orderstatus),
                   COUNT(*) - COUNT(o_orderstatus),
                   ROUND(COUNT(DISTINCT o_orderstatus) * 1.0 / COUNT(*), 6),
                   (COUNT(DISTINCT o_orderstatus) = COUNT(*)
                    AND COUNT(o_orderstatus) = COUNT(*))
            FROM orders
            ORDER BY "column"
        """,
        "orders_fk_containment": """
            WITH ck AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
                        WHERE l_orderkey IS NOT NULL),
            pk AS (SELECT DISTINCT o_orderkey AS k FROM orders
                   WHERE o_orderkey IS NOT NULL),
            m AS (SELECT COUNT(*) AS c FROM ck WHERE k IN (SELECT k FROM pk)),
            n AS (SELECT COUNT(*) AS c FROM ck)
            SELECT n.c AS n_child_keys, m.c AS n_matched,
                   ROUND(m.c * 1.0 / n.c, 6) AS containment,
                   n.c - m.c AS n_orphans
            FROM n, m
        """,
        "events_incremental_distinct": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(user_id) AS n_events
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "docs_url_components": """
            SELECT doc_id,
                   'https' AS url_scheme,
                   CASE doc_id % 3
                        WHEN 0 THEN 'www.site' || (doc_id % 7) || '.com'
                        WHEN 1 THEN 'news.portal' || (doc_id % 5) || '.co.uk'
                        ELSE 'cdn.img' || (doc_id % 4) || '.org' END AS url_host,
                   CASE doc_id % 3
                        WHEN 0 THEN 'site' || (doc_id % 7) || '.com'
                        WHEN 1 THEN 'portal' || (doc_id % 5) || '.co.uk'
                        ELSE 'img' || (doc_id % 4) || '.org' END AS url_domain,
                   repeat('/p', CAST(doc_id % 4 AS INT)) AS url_path,
                   CAST(doc_id % 4 AS INT) AS url_depth,
                   CASE WHEN doc_id % 2 = 1 THEN 'q=' || doc_id END AS url_query
            FROM documents
            ORDER BY doc_id
        """,
        "lineitem_key_distribution": """
            WITH c AS (
                SELECT CAST(l_suppkey AS VARCHAR) AS key, COUNT(*) AS n
                FROM lineitem GROUP BY 1
            ),
            t AS (SELECT SUM(n) AS total FROM c)
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key) AS INT) AS rank,
                   key, n,
                   ROUND(n / (SELECT total FROM t), 6) AS share
            FROM c ORDER BY n DESC, key LIMIT 10
        """,
        "lineitem_skew_metrics": """
            WITH c1 AS (
                SELECT CAST(l_suppkey AS VARCHAR) AS key, COUNT(*) AS n
                FROM lineitem GROUP BY 1
            ),
            m1 AS (
                SELECT 'l_suppkey' AS "column",
                       CAST(SUM(n) AS BIGINT) AS n_rows,
                       COUNT(CASE WHEN key IS NOT NULL THEN 1 END) AS n_distinct,
                       CAST(COALESCE(SUM(CASE WHEN key IS NULL THEN n END), 0) AS BIGINT)
                           AS n_nulls,
                       ROUND(MAX(n) / SUM(n), 6) AS max_share,
                       ROUND(CASE WHEN COUNT(*) > 1
                             THEN (ln(SUM(n)) - SUM(n * ln(n)) / SUM(n)) / ln(COUNT(*))
                             ELSE 0 END, 6) AS entropy_norm
                FROM c1
            ),
            c2 AS (
                SELECT CAST(l_returnflag AS VARCHAR) AS key, COUNT(*) AS n
                FROM lineitem GROUP BY 1
            ),
            m2 AS (
                SELECT 'l_returnflag' AS "column",
                       CAST(SUM(n) AS BIGINT) AS n_rows,
                       COUNT(CASE WHEN key IS NOT NULL THEN 1 END) AS n_distinct,
                       CAST(COALESCE(SUM(CASE WHEN key IS NULL THEN n END), 0) AS BIGINT)
                           AS n_nulls,
                       ROUND(MAX(n) / SUM(n), 6) AS max_share,
                       ROUND(CASE WHEN COUNT(*) > 1
                             THEN (ln(SUM(n)) - SUM(n * ln(n)) / SUM(n)) / ln(COUNT(*))
                             ELSE 0 END, 6) AS entropy_norm
                FROM c2
            )
            SELECT * FROM m1 UNION ALL SELECT * FROM m2 ORDER BY "column"
        """,
        "events_value_trend_ols": """
            SELECT event_type,
                   ROUND(regr_slope(value, epoch_us(ts) / 86400e6), 6) AS slope,
                   ROUND(regr_intercept(value, epoch_us(ts) / 86400e6), 6) AS intercept,
                   ROUND(regr_r2(value, epoch_us(ts) / 86400e6), 6) AS r2,
                   regr_count(value, epoch_us(ts) / 86400e6) AS n
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "events_rate_of_change": """
            SELECT event_id, user_id,
                   ROUND(CASE WHEN epoch_us(ts) / 1e6
                                   - LAG(epoch_us(ts) / 1e6) OVER w > 0
                         THEN (value - LAG(value) OVER w)
                              / (epoch_us(ts) / 1e6 - LAG(epoch_us(ts) / 1e6) OVER w)
                              * 60.0
                         END, 6) AS rate
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) / 1e6, event_id)
            ORDER BY event_id
        """,
        "events_time_weighted_avg": """
            WITH x AS (
                SELECT event_type, value,
                       epoch_us(ts) / 1e6 AS t,
                       LEAD(epoch_us(ts) / 1e6) OVER (
                           PARTITION BY event_type
                           ORDER BY epoch_us(ts) / 1e6, event_id) AS nt
                FROM events
            )
            SELECT event_type,
                   ROUND(CASE WHEN MAX(t) - MIN(t) > 0
                         THEN SUM(value * (nt - t)) / (MAX(t) - MIN(t))
                         ELSE AVG(value) END, 6) AS twa,
                   COUNT(*) AS n_obs,
                   ROUND(MAX(t) - MIN(t), 6) AS span_seconds
            FROM x GROUP BY event_type ORDER BY event_type
        """,
        "events_ohlc_hourly": """
            WITH x AS (
                SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket, value,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
                           ORDER BY ts, event_id) AS rf,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
                           ORDER BY ts DESC, event_id DESC) AS rl
                FROM events
            )
            SELECT event_type, bucket,
                   ROUND(MAX(CASE WHEN rf = 1 THEN value END), 6) AS open,
                   ROUND(MAX(value), 6) AS high,
                   ROUND(MIN(value), 6) AS low,
                   ROUND(MAX(CASE WHEN rl = 1 THEN value END), 6) AS close,
                   COUNT(*) AS n_obs
            FROM x GROUP BY event_type, bucket
            ORDER BY event_type, bucket
        """,
        "emb_hard_negatives": """
            WITH anchors AS (
                SELECT vec_id AS aid, embedding AS av, label AS albl
                FROM embeddings WHERE vec_id < 20
            ),
            pairs AS (
                SELECT a.aid, e.vec_id AS neg_id,
                       ROUND(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                          CAST(a.av AS DOUBLE[])), 6)
                           AS distance
                FROM embeddings e, anchors a
                WHERE e.vec_id <> a.aid AND e.label <> a.albl
            ),
            r AS (
                SELECT aid, neg_id, distance,
                       CAST(ROW_NUMBER() OVER (PARTITION BY aid
                                               ORDER BY distance, neg_id) AS INT) AS rank
                FROM pairs
            )
            SELECT aid AS anchor_id, neg_id, distance, rank
            FROM r WHERE rank <= 3
            ORDER BY anchor_id, rank
        """,
        "events_rolling_median": """
            SELECT event_id, user_id,
                   ROUND(quantile_cont(value, 0.5) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS rq_0_5
            FROM events
            ORDER BY event_id
        """,
        "lineitem_unpivot": """
            SELECT l_orderkey, l_linenumber, metric, val FROM (
                SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                       l_quantity AS val FROM lineitem
                UNION ALL
                SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
                FROM lineitem
                UNION ALL
                SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
            ) u
            ORDER BY l_orderkey, l_linenumber, metric
        """,
        "events_cross_corr": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       COUNT(*) FILTER (WHERE event_type = 'click') AS clicks,
                       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases
                FROM events GROUP BY 1
            ),
            lagd AS (
                SELECT day, clicks::DOUBLE AS x, purchases::DOUBLE AS p0,
                       LAG(purchases::DOUBLE, 1) OVER (ORDER BY day) AS p1
                FROM daily
            ),
            u AS (
                SELECT 0 AS lag, x AS cur, p0 AS prev FROM lagd
                UNION ALL
                SELECT 1 AS lag, x AS cur, p1 AS prev FROM lagd
            )
            SELECT lag,
                   CASE WHEN STDDEV_SAMP(cur) > 0 AND STDDEV_SAMP(prev) > 0
                        THEN ROUND(COVAR_SAMP(cur, prev)
                                   / (STDDEV_SAMP(cur) * STDDEV_SAMP(prev)), 6)
                   END AS xcorr,
                   COUNT(*) AS n_pairs
            FROM u WHERE prev IS NOT NULL AND cur IS NOT NULL
            GROUP BY lag
            ORDER BY lag
        """,
        "multimodal_image_dims": """
            SELECT doc_id, 'png' AS img_format,
                   CAST(doc_id % 1920 + 1 AS INT) AS img_width,
                   CAST(doc_id % 1080 + 1 AS INT) AS img_height
            FROM documents
            ORDER BY doc_id
        """,
        "events_autocorr": """
            WITH x AS (
                SELECT event_type, value,
                       LAG(value, 1) OVER w AS l1,
                       LAG(value, 7) OVER w AS l7
                FROM events
                WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
            ),
            u AS (
                SELECT event_type, 1 AS lag, value AS cur, l1 AS prev FROM x
                UNION ALL
                SELECT event_type, 7 AS lag, value AS cur, l7 AS prev FROM x
            )
            SELECT event_type, lag,
                   CASE WHEN STDDEV_SAMP(cur) > 0 AND STDDEV_SAMP(prev) > 0
                        THEN ROUND(COVAR_SAMP(cur, prev)
                                   / (STDDEV_SAMP(cur) * STDDEV_SAMP(prev)), 6)
                   END AS acf,
                   COUNT(*) AS n_pairs
            FROM u WHERE prev IS NOT NULL AND cur IS NOT NULL
            GROUP BY event_type, lag
            ORDER BY event_type, lag
        """,
        "stats_ks_events": """
            WITH s AS (
                SELECT value AS val,
                       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
                FROM events
                WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
                GROUP BY 1
            ), c AS (
                SELECT SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b
                FROM s
                WINDOW w AS (ORDER BY val
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM s),
            d AS (
                SELECT MAX(ABS(CAST(cum_a AS DOUBLE) / na
                               - CAST(cum_b AS DOUBLE) / nb)) AS d_raw,
                       CAST(MAX(na) AS BIGINT) AS n_a,
                       CAST(MAX(nb) AS BIGINT) AS n_b
                FROM c, t
            ), l AS (
                SELECT d_raw, n_a, n_b,
                       SQRT(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)) AS sn
                FROM d
            )
            SELECT CAST(ROUND(d_raw, 6) AS DOUBLE) AS d_stat,
                   CAST(ROUND(LEAST(1.0, 2 * EXP(-2 * ((sn + 0.12 + 0.11 / sn) * d_raw)
                                               * ((sn + 0.12 + 0.11 / sn) * d_raw))),
                              6) AS DOUBLE) AS p_value,
                   n_a, n_b
            FROM l
        """,
        "stats_mwu_events": """
            WITH s AS (
                SELECT value AS val,
                       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
                FROM events
                WHERE event_type IN ('click', 'view') AND value IS NOT NULL
                GROUP BY 1
            ), c AS (
                SELECT ca, cb, ca + cb AS cc,
                       SUM(ca + cb) OVER (ORDER BY val
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM s
            ), a AS (
                SELECT SUM(ca * (cum - cc + (cc + 1.0) / 2.0)) AS ra,
                       CAST(SUM(ca) AS BIGINT) AS n_a,
                       CAST(SUM(cb) AS BIGINT) AS n_b,
                       SUM(POW(CAST(cc AS DOUBLE), 3) - cc) AS ties
                FROM c
            ), z AS (
                SELECT ra - n_a * (n_a + 1) / 2.0 AS u_a,
                       CAST(n_a AS DOUBLE) * n_b AS prod, n_a, n_b,
                       SQRT(CAST(n_a AS DOUBLE) * n_b / 12.0
                            * ((n_a + n_b + 1)
                               - ties / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))
                           AS sigma
                FROM a
            )
            SELECT CAST(ROUND(u_a, 4) AS DOUBLE) AS u_a,
                   CAST(ROUND(prod - u_a, 4) AS DOUBLE) AS u_b,
                   CAST(ROUND((u_a - prod / 2.0) / sigma, 4) AS DOUBLE) AS z_score,
                   n_a, n_b
            FROM z
        """,
        "stats_chisq_orders": """
            WITH obs AS (
                SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS o
                FROM orders
                WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
                GROUP BY 1, 2
            ), rm AS (SELECT a, SUM(o) AS ra FROM obs GROUP BY 1),
            cm AS (SELECT b, SUM(o) AS cbt FROM obs GROUP BY 1),
            tt AS (
                SELECT CAST(SUM(o) AS BIGINT) AS n,
                       COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c
                FROM obs
            ), j AS (
                SELECT obs.o, CAST(rm.ra AS DOUBLE) * cm.cbt / tt.n AS e,
                       tt.n, tt.r, tt.c
                FROM obs JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN tt
            ), res AS (
                SELECT SUM(POW(o - e, 2) / e) AS chi2,
                       MAX(n) AS n, MAX(r) AS r, MAX(c) AS c
                FROM j
            )
            SELECT CAST(ROUND(chi2, 4) AS DOUBLE) AS chi2,
                   CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
                   n,
                   CAST(ROUND(SQRT(chi2 / (n * LEAST(r - 1, c - 1))), 4) AS DOUBLE)
                       AS cramers_v
            FROM res
        """,
        "stats_anova_events": """
            WITH b AS (
                SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND NOT ISNAN(CAST(value AS DOUBLE))
            ), s AS (
                SELECT g, COUNT(*) AS n, AVG(v) AS m, VAR_SAMP(v) AS var
                FROM b GROUP BY 1
            ), t AS (
                SELECT CAST(SUM(n) AS BIGINT) AS ntot, SUM(m * n) AS msum,
                       CAST(COUNT(*) AS BIGINT) AS k
                FROM s
            ), a AS (
                SELECT SUM(s.n * POW(s.m - t.msum / t.ntot, 2)) AS ssb,
                       SUM(COALESCE(s.var, 0) * (s.n - 1)) AS ssw,
                       MAX(t.ntot) AS n, MAX(t.k) AS k
                FROM s CROSS JOIN t
            )
            SELECT CAST(ROUND((ssb / (k - 1)) / (ssw / (n - k)), 4) AS DOUBLE)
                       AS f_stat,
                   CAST(ROUND(ssb / (ssb + ssw), 6) AS DOUBLE) AS eta_sq,
                   CAST(k - 1 AS BIGINT) AS df_between,
                   CAST(n - k AS BIGINT) AS df_within,
                   CAST(n AS BIGINT) AS n,
                   CAST(k AS BIGINT) AS k
            FROM a
        """,
        "stats_kruskal_events": """
            WITH b AS (
                SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND NOT ISNAN(CAST(value AS DOUBLE))
            ), c AS (
                SELECT v, g, COUNT(*) AS c FROM b GROUP BY 1, 2
            ), pv AS (
                SELECT v, SUM(c) AS t FROM c GROUP BY 1
            ), cum AS (
                SELECT v, t, SUM(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM pv
            ), r AS (
                SELECT c.g, c.c, cum.cum - cum.t + (cum.t + 1.0) / 2.0 AS r
                FROM c JOIN cum USING (v)
            ), gs AS (
                SELECT g, SUM(c * r) AS rs, SUM(c) AS n FROM r GROUP BY 1
            ), tt AS (
                SELECT SUM(POW(CAST(t AS DOUBLE), 3) - t) AS ties FROM pv
            ), a AS (
                SELECT SUM(gs.rs * gs.rs / gs.n) AS s,
                       CAST(SUM(gs.n) AS BIGINT) AS n,
                       CAST(COUNT(*) AS BIGINT) AS k,
                       MAX(tt.ties) AS ties
                FROM gs CROSS JOIN tt
            )
            SELECT CAST(ROUND(
                       (12.0 / (CAST(n AS DOUBLE) * (n + 1.0)) * s
                        - 3.0 * (n + 1.0))
                       / (1.0 - ties
                          / (CAST(n AS DOUBLE) * n * n - n)), 4) AS DOUBLE)
                       AS h_stat,
                   CAST(k - 1 AS BIGINT) AS dof, n, k
            FROM a
        """,
        "stats_spearman_lineitem": """
            WITH b AS (
                SELECT CAST(l_quantity AS DOUBLE) AS x,
                       CAST(l_extendedprice AS DOUBLE) AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND NOT ISNAN(CAST(l_quantity AS DOUBLE))
                  AND l_extendedprice IS NOT NULL
                  AND NOT ISNAN(CAST(l_extendedprice AS DOUBLE))
            ), r AS (
                -- midrank = minrank + (t-1)/2 == engine's cum - t + (t+1)/2
                SELECT RANK() OVER (ORDER BY x)
                           + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
                       RANK() OVER (ORDER BY y)
                           + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
                FROM b
            ), a AS (
                SELECT COVAR_SAMP(rx, ry) AS cov,
                       STDDEV_SAMP(rx) AS sx, STDDEV_SAMP(ry) AS sy,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM r
            )
            SELECT CAST(ROUND(cov / (sx * sy), 4) AS DOUBLE) AS spearman_rho, n
            FROM a
        """,
        "docs_source_lang_alpha": """
            WITH cnt AS (
                SELECT source AS u, lang AS v, COUNT(*) AS c
                FROM documents
                WHERE source IS NOT NULL AND lang IS NOT NULL
                GROUP BY 1, 2
            ), pu AS (SELECT u, SUM(c) AS m FROM cnt GROUP BY 1),
            j AS (
                SELECT cnt.u, cnt.v, cnt.c, pu.m
                FROM cnt JOIN pu USING (u) WHERE pu.m >= 2
            ), a1 AS (
                SELECT SUM(CAST(c AS DOUBLE) * (m - c) / (m - 1.0)) AS donum,
                       CAST(SUM(c) AS BIGINT) AS n,
                       CAST(COUNT(DISTINCT u) AS BIGINT) AS units
                FROM j
            ), vt AS (SELECT v, SUM(c) AS nc FROM j GROUP BY 1),
            a2 AS (
                SELECT SUM(CAST(vt.nc AS DOUBLE)
                           * (CAST(a1.n AS DOUBLE) - vt.nc)) AS denum,
                       MAX(a1.donum) AS donum, MAX(a1.n) AS n,
                       MAX(a1.units) AS units
                FROM vt CROSS JOIN a1
            )
            SELECT CAST(ROUND(1 - (donum / n)
                       / (denum / (CAST(n AS DOUBLE) * (n - 1.0))), 6)
                       AS DOUBLE) AS alpha,
                   CAST(ROUND(donum / n, 6) AS DOUBLE) AS d_o,
                   CAST(ROUND(denum / (CAST(n AS DOUBLE) * (n - 1.0)), 6)
                       AS DOUBLE) AS d_e,
                   n, units
            FROM a2
        """,
        "dq_benford_lineitem": """
            WITH v AS (
                SELECT ABS(CAST(l_extendedprice AS DOUBLE)) AS x FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND ABS(CAST(l_extendedprice AS DOUBLE)) > 0
                  AND NOT ISNAN(CAST(l_extendedprice AS DOUBLE))
            ), d0 AS (
                SELECT CAST(FLOOR(x / POW(10.0, FLOOR(LOG10(x)))) AS INT) AS rd
                FROM v
            ), d AS (
                -- log10 rounding up at near-powers-of-ten floors to 0;
                -- the true leading digit there is 9 (mirrors the engine)
                SELECT CASE WHEN rd < 1 THEN 9 ELSE rd END AS digit FROM d0
            ), obs AS (
                SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
            ), t AS (SELECT SUM(n) AS tt FROM obs)
            SELECT digit, n,
                   CAST(ROUND(CAST(n AS DOUBLE) / tt, 6) AS DOUBLE) AS observed_p,
                   CAST(ROUND(LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE) AS expected_p,
                   CAST(ROUND(POW(n - LOG10(1.0 + 1.0 / digit) * tt, 2)
                              / (LOG10(1.0 + 1.0 / digit) * tt), 6) AS DOUBLE)
                       AS chi2_contrib
            FROM obs, t
            ORDER BY digit
        """,
        "stats_gini_orders": """
            WITH r AS (
                SELECT o_orderpriority,
                       CAST(o_totalprice AS DOUBLE) AS x,
                       ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY CAST(o_totalprice AS DOUBLE)) AS i
                FROM orders WHERE o_totalprice IS NOT NULL
            )
            SELECT o_orderpriority,
                   CAST(ROUND(2.0 * SUM(i * x) / (COUNT(*) * SUM(x))
                              - (COUNT(*) + 1.0) / COUNT(*), 6) AS DOUBLE) AS gini,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM r
            GROUP BY 1
            ORDER BY 1
        """,
        "events_survival_curve": """
            WITH ev AS (
                SELECT user_id, CAST(ts AS DATE) AS d FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), ref AS (SELECT MAX(d) AS mx FROM ev),
            per AS (
                SELECT user_id,
                       CAST(MAX(d) - MIN(d) AS INT) AS dur,
                       CASE WHEN (SELECT mx FROM ref) - MAX(d) > 7
                            THEN 1 ELSE 0 END AS e
                FROM ev GROUP BY 1
            ), counts AS (
                SELECT dur AS t, SUM(e) AS ne, SUM(1 - e) AS nc
                FROM per GROUP BY 1
            ), cum AS (
                SELECT t, ne, nc,
                       SUM(ne + nc) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen,
                       SUM(ne + nc) OVER () AS total
                FROM counts
            ), fac AS (
                SELECT t,
                       total - seen + ne + nc AS n_risk,
                       ne AS n_events, nc AS n_censored,
                       1.0 - CAST(ne AS DOUBLE) / (total - seen + ne + nc) AS f
                FROM cum
            )
            SELECT t,
                   CAST(n_risk AS BIGINT) AS n_risk,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(n_censored AS BIGINT) AS n_censored,
                   CAST(ROUND(CASE WHEN MIN(f) OVER w <= 0 THEN 0.0
                                   ELSE EXP(SUM(CASE WHEN f > 0 THEN LN(f)
                                                     ELSE 0.0 END) OVER w)
                              END, 6) AS DOUBLE) AS survival
            FROM fac
            WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY t
        """,
        "events_transition_matrix": """
            WITH seq AS (
                SELECT event_type AS src,
                       LEAD(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS dst
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), pairs AS (
                SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
                FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
            ), marg AS (
                SELECT src, SUM(n) AS tot FROM pairs GROUP BY 1
            )
            SELECT pairs.src, pairs.dst, pairs.n,
                   CAST(ROUND(CAST(pairs.n AS DOUBLE) / marg.tot, 6) AS DOUBLE) AS p
            FROM pairs JOIN marg USING (src)
            ORDER BY src, dst
        """,
        "orders_rfm_segments": """
            WITH base AS (
                SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
                FROM orders
                WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
            ), ref AS (SELECT MAX(od) AS mx FROM base),
            per AS (
                SELECT o_custkey AS key,
                       CAST((SELECT mx FROM ref) - MAX(od) AS INT) AS recency,
                       CAST(COUNT(*) AS BIGINT) AS frequency,
                       CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS monetary
                FROM base GROUP BY o_custkey
            ), n AS (SELECT COUNT(*) AS cnt FROM per),
            rr AS (SELECT key, ROW_NUMBER() OVER (ORDER BY recency DESC, key ASC) AS rk
                   FROM per),
            ff AS (SELECT key, ROW_NUMBER() OVER (ORDER BY frequency ASC, key ASC) AS rk
                   FROM per),
            mm AS (SELECT key, ROW_NUMBER() OVER (ORDER BY monetary ASC, key ASC) AS rk
                   FROM per),
            sc AS (
                SELECT per.key, per.recency, per.frequency, per.monetary,
                       CAST(FLOOR((rr.rk - 1) * 5.0 / n.cnt) + 1 AS INT) AS r_score,
                       CAST(FLOOR((ff.rk - 1) * 5.0 / n.cnt) + 1 AS INT) AS f_score,
                       CAST(FLOOR((mm.rk - 1) * 5.0 / n.cnt) + 1 AS INT) AS m_score
                FROM per
                JOIN rr ON per.key = rr.key
                JOIN ff ON per.key = ff.key
                JOIN mm ON per.key = mm.key
                CROSS JOIN n
            )
            SELECT key AS o_custkey, recency, frequency, monetary,
                   r_score, f_score, m_score,
                   CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                       || CAST(m_score AS VARCHAR) AS segment
            FROM sc
            ORDER BY o_custkey
        """,
        "eval_binary_metrics": f"""
            WITH {eval_scored},
            counts AS (
                SELECT score AS sc, SUM(label) AS cp, SUM(1 - label) AS cn
                FROM scored GROUP BY 1
            ), cum AS (
                SELECT cp, cn, cp + cn AS cc,
                       SUM(cp + cn) OVER (ORDER BY sc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM counts
            ), a AS (
                SELECT SUM(cp * (cum - cc + (cc + 1.0) / 2.0)) AS rp,
                       CAST(SUM(cp) AS BIGINT) AS n_pos,
                       CAST(SUM(cn) AS BIGINT) AS n_neg
                FROM cum
            ), l AS (
                SELECT AVG(-(label * LN(LEAST(GREATEST(score, 1e-15), 1 - 1e-15))
                             + (1 - label) * LN(1 - LEAST(GREATEST(score, 1e-15), 1 - 1e-15))))
                           AS ll,
                       AVG(POW(score - label, 2)) AS brier
                FROM scored
            )
            SELECT CAST(ROUND((rp - n_pos * (n_pos + 1) / 2.0)
                              / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS DOUBLE) AS auc,
                   CAST(ROUND(ll, 6) AS DOUBLE) AS log_loss,
                   CAST(ROUND(brier, 6) AS DOUBLE) AS brier,
                   n_pos, n_neg
            FROM a, l
        """,
        "eval_roc_points": f"""
            WITH {eval_scored},
            counts AS (
                SELECT score AS sc, SUM(label) AS cp, SUM(1 - label) AS cn
                FROM scored GROUP BY 1
            ), cum AS (
                SELECT sc, SUM(cp) OVER w AS cum_p, SUM(cn) OVER w AS cum_n
                FROM counts
                WINDOW w AS (ORDER BY sc DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), t AS (SELECT SUM(cp) AS np, SUM(cn) AS nn FROM counts)
            SELECT sc AS threshold,
                   CAST(ROUND(CAST(cum_p AS DOUBLE) / np, 6) AS DOUBLE) AS tpr,
                   CAST(ROUND(CAST(cum_n AS DOUBLE) / nn, 6) AS DOUBLE) AS fpr,
                   CAST(ROUND(CAST(cum_p AS DOUBLE) / (cum_p + cum_n), 6) AS DOUBLE)
                       AS precision,
                   CAST(cum_p + cum_n AS BIGINT) AS n_predicted
            FROM cum, t
            ORDER BY threshold DESC
        """,
        "eval_calibration": f"""
            WITH {eval_scored}
            SELECT CAST(LEAST(GREATEST(FLOOR(score * 10), 0), 9) AS INT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(ROUND(AVG(score), 6) AS DOUBLE) AS mean_score,
                   CAST(ROUND(AVG(label), 6) AS DOUBLE) AS frac_positive
            FROM scored
            GROUP BY 1
            ORDER BY 1
        """,
        "eval_lift_gains": f"""
            WITH {eval_scored},
            ranked AS (
                SELECT label,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
                FROM scored
            ), t AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS tot, SUM(label) AS npos FROM scored
            ), b AS (
                SELECT CAST(FLOOR((rk - 1) * 10.0 / t.tot) + 1 AS INT) AS bucket, label
                FROM ranked, t
            ), per AS (
                SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(label) AS BIGINT) AS n_pos
                FROM b GROUP BY 1
            ), fin AS (SELECT per.*, t.tot, t.npos FROM per, t)
            SELECT bucket, n, n_pos,
                   CAST(ROUND(CAST(n_pos AS DOUBLE) / n, 6) AS DOUBLE) AS pos_rate,
                   CAST(ROUND((CAST(n_pos AS DOUBLE) / n)
                              / (CAST(npos AS DOUBLE) / tot), 6) AS DOUBLE) AS lift,
                   CAST(ROUND(CAST(SUM(n_pos) OVER (ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS DOUBLE) / npos, 6) AS DOUBLE) AS cum_capture
            FROM fin
            ORDER BY bucket
        """,
        "docs_collocations_pmi": f"""
            WITH tok AS (SELECT {toks} AS t FROM documents),
            uni AS (
                SELECT u.w, COUNT(*) AS c FROM tok, UNNEST(t) AS u(w) GROUP BY 1
            ), pairs AS (
                SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS n_pair
                FROM tok, UNNEST(range(1, len(t))) AS r(i)
                GROUP BY 1, 2
                HAVING COUNT(*) >= 5
            ), tot AS (
                SELECT SUM(len(t)) AS nw,
                       SUM(CASE WHEN len(t) > 0 THEN len(t) - 1 ELSE 0 END) AS nb
                FROM tok
            )
            SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
                   CAST(ROUND(LN((n_pair / CAST(nb AS DOUBLE))
                                 / ((u1.c / CAST(nw AS DOUBLE))
                                    * (u2.c / CAST(nw AS DOUBLE)))), 6) AS DOUBLE)
                       AS pmi
            FROM pairs
            JOIN uni u1 ON pairs.w1 = u1.w
            JOIN uni u2 ON pairs.w2 = u2.w
            CROSS JOIN tot
            ORDER BY pmi DESC, w1 ASC, w2 ASC
            LIMIT 100
        """,
        "docs_readability": f"""
            WITH m AS (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE CAST(len({toks}) AS BIGINT) END AS n_words,
                       CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                            AS BIGINT) AS n_sentences,
                       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                            AS BIGINT) AS n_syllables
                FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CAST(ROUND(CASE WHEN n_words = 0 THEN NULL
                        ELSE 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) END, 4)
                       AS DOUBLE) AS flesch,
                   CAST(ROUND(CASE WHEN n_words = 0 THEN NULL
                        ELSE 0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59 END, 4)
                       AS DOUBLE) AS fk_grade
            FROM m
            ORDER BY doc_id
        """,
        "customer_k_anonymity": """
            WITH sizes AS (
                SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
                FROM customer GROUP BY 1, 2
            )
            SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_classes,
                   CAST(MIN(sz) AS BIGINT) AS min_class_size,
                   CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_classes_below_k,
                   CAST(ROUND(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END)
                              / CAST(SUM(sz) AS DOUBLE), 6) AS DOUBLE)
                       AS pct_rows_below_k
            FROM sizes
        """,
        "customer_risky_classes": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS class_size,
                   CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive
            FROM customer
            GROUP BY 1, 2
            HAVING COUNT(*) < 10
            ORDER BY class_size, c_nationkey, c_mktsegment
        """,
        "customer_l_diversity": """
            WITH per AS (
                SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS d
                FROM customer GROUP BY 1
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
                   CAST(MIN(d) AS BIGINT) AS min_diversity,
                   CAST(SUM(CASE WHEN d < 5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_classes_below_l,
                   CAST(ROUND(SUM(CASE WHEN d < 5 THEN 1 ELSE 0 END)
                              / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
                       AS pct_classes_below_l
            FROM per
        """,
        "lineitem_item_similarity": """
            WITH base AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
                WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
            ), items AS (
                SELECT i, COUNT(*) AS c FROM base GROUP BY 1
            ), nb AS (SELECT COUNT(DISTINCT b) AS n FROM base),
            pairs AS (
                SELECT a.i AS item_a, b2.i AS item_b, COUNT(*) AS n_pair
                FROM base a JOIN base b2 ON a.b = b2.b AND a.i < b2.i
                GROUP BY 1, 2
                HAVING COUNT(*) >= 2
            )
            SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_pair,
                   CAST(ROUND(n_pair / SQRT(CAST(ca.c AS DOUBLE) * cb.c), 6)
                        AS DOUBLE) AS cosine,
                   CAST(ROUND(CAST(n_pair AS DOUBLE) * nb.n
                              / (CAST(ca.c AS DOUBLE) * cb.c), 6) AS DOUBLE) AS lift,
                   CAST(ROUND(n_pair / CAST(ca.c + cb.c - n_pair AS DOUBLE), 6)
                        AS DOUBLE) AS jaccard
            FROM pairs
            JOIN items ca ON pairs.item_a = ca.i
            JOIN items cb ON pairs.item_b = cb.i
            CROSS JOIN nb
            ORDER BY item_a, item_b
        """,
        "orders_target_encoding": """
            WITH base AS (
                SELECT o_orderkey, o_orderpriority AS cat,
                       CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
                FROM orders
            ), stats AS (
                SELECT cat, SUM(y) AS s, COUNT(*) AS n FROM base GROUP BY 1
            ), p AS (SELECT AVG(y) AS prior FROM base),
            t AS (SELECT SUM(n) AS tot FROM stats)
            SELECT b.o_orderkey,
                   CAST(ROUND((s + 10.0 * prior) / (n + 10.0), 6) AS DOUBLE) AS te,
                   CAST(ROUND((s - y + 10.0 * prior) / (n - 1 + 10.0), 6) AS DOUBLE)
                       AS te_loo,
                   CAST(ROUND(n / CAST(tot AS DOUBLE), 6) AS DOUBLE) AS freq
            FROM base b
            JOIN stats USING (cat)
            CROSS JOIN p CROSS JOIN t
            ORDER BY b.o_orderkey
        """,
        "lineitem_ols_price": """
            WITH m AS (
                SELECT VAR_SAMP(l_quantity) AS s11,
                       COVAR_SAMP(l_quantity, l_discount) AS s12,
                       VAR_SAMP(l_discount) AS s22,
                       COVAR_SAMP(l_quantity, l_extendedprice) AS c1,
                       COVAR_SAMP(l_discount, l_extendedprice) AS c2,
                       VAR_SAMP(l_extendedprice) AS vy,
                       AVG(l_quantity) AS m1, AVG(l_discount) AS m2,
                       AVG(l_extendedprice) AS my,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                  AND l_extendedprice IS NOT NULL
            ), b AS (
                SELECT (s22 * c1 - s12 * c2) / (s11 * s22 - s12 * s12) AS b1,
                       (s11 * c2 - s12 * c1) / (s11 * s22 - s12 * s12) AS b2,
                       m1, m2, my, c1, c2, vy, n
                FROM m
            )
            SELECT CAST(ROUND(b1, 6) AS DOUBLE) AS coef_quantity,
                   CAST(ROUND(b2, 6) AS DOUBLE) AS coef_discount,
                   CAST(ROUND(my - b1 * m1 - b2 * m2, 6) AS DOUBLE) AS intercept,
                   CAST(ROUND((b1 * c1 + b2 * c2) / vy, 6) AS DOUBLE) AS r2,
                   n
            FROM b
        """,
        "events_top_paths": """
            WITH per AS (
                SELECT user_id,
                       array_to_string(
                           list_slice(list(event_type ORDER BY ts, event_id), 1, 5),
                           '>') AS path
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1
            ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM per)
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(ROUND(COUNT(*) / CAST(tot AS DOUBLE), 6) AS DOUBLE) AS share
            FROM per, t
            GROUP BY path, tot
            ORDER BY n_keys DESC, path ASC
            LIMIT 20
        """,
        "lineitem_bootstrap_ci": """
            WITH base AS (
                SELECT CAST(l_orderkey AS VARCHAR) || '-'
                           || CAST(l_linenumber AS VARCHAR) AS rid,
                       CAST(l_extendedprice AS DOUBLE) AS x
                FROM lineitem WHERE l_extendedprice IS NOT NULL
            ), drawn AS (
                SELECT r.b, base.x,
                       ('0x' || substring(md5(rid || ':' || CAST(r.b AS VARCHAR)
                                              || ':42'), 1, 8))::BIGINT
                           / 4294967296.0 AS u
                FROM base, UNNEST(range(0, 100)) AS r(b)
            ), weighted AS (
                SELECT b, x,
                       CASE WHEN u < 0.36787944117144233 THEN 0.0
                            WHEN u < 0.7357588823428847 THEN 1.0
                            WHEN u < 0.919698602928606 THEN 2.0
                            WHEN u < 0.9810118431238462 THEN 3.0
                            WHEN u < 0.9963401531726563 THEN 4.0
                            WHEN u < 0.9994058151824183 THEN 5.0
                            WHEN u < 0.9999167588507119 THEN 6.0
                            WHEN u < 0.9999897508033253 THEN 7.0
                            WHEN u < 0.9999988747278268 THEN 8.0
                            ELSE 9.0 END AS w
                FROM drawn
            ), rep AS (
                SELECT b, SUM(w * x) / SUM(w) AS r FROM weighted GROUP BY b
            ), summ AS (
                SELECT quantile_cont(r, 0.025) AS lo,
                       quantile_cont(r, 0.975) AS hi,
                       stddev_samp(r) AS se
                FROM rep
            ), pt AS (
                SELECT AVG(x) AS est, CAST(COUNT(*) AS BIGINT) AS n FROM base
            )
            SELECT CAST(ROUND(est, 6) AS DOUBLE) AS estimate,
                   CAST(ROUND(se, 6) AS DOUBLE) AS se,
                   CAST(ROUND(lo, 6) AS DOUBLE) AS ci_lo,
                   CAST(ROUND(hi, 6) AS DOUBLE) AS ci_hi,
                   n,
                   CAST(100 AS INT) AS n_replicates
            FROM pt, summ
        """,
        "events_diff_in_diff": """
            WITH base AS (
                SELECT event_type AS g, value AS y,
                       CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                           AS post
                FROM events
                WHERE value IS NOT NULL
                  AND event_type IN ('click', 'view')
            ), agg AS (
                SELECT AVG(CASE WHEN g = 'click' AND post = 0 THEN y END) AS m_tp,
                       VAR_SAMP(CASE WHEN g = 'click' AND post = 0 THEN y END) AS v_tp,
                       COUNT(CASE WHEN g = 'click' AND post = 0 THEN y END) AS n_tp,
                       AVG(CASE WHEN g = 'click' AND post = 1 THEN y END) AS m_tq,
                       VAR_SAMP(CASE WHEN g = 'click' AND post = 1 THEN y END) AS v_tq,
                       COUNT(CASE WHEN g = 'click' AND post = 1 THEN y END) AS n_tq,
                       AVG(CASE WHEN g = 'view' AND post = 0 THEN y END) AS m_cp,
                       VAR_SAMP(CASE WHEN g = 'view' AND post = 0 THEN y END) AS v_cp,
                       COUNT(CASE WHEN g = 'view' AND post = 0 THEN y END) AS n_cp,
                       AVG(CASE WHEN g = 'view' AND post = 1 THEN y END) AS m_cq,
                       VAR_SAMP(CASE WHEN g = 'view' AND post = 1 THEN y END) AS v_cq,
                       COUNT(CASE WHEN g = 'view' AND post = 1 THEN y END) AS n_cq
                FROM base
            )
            SELECT CAST(ROUND(m_tp, 6) AS DOUBLE) AS mean_treat_pre,
                   CAST(ROUND(m_tq, 6) AS DOUBLE) AS mean_treat_post,
                   CAST(ROUND(m_cp, 6) AS DOUBLE) AS mean_ctrl_pre,
                   CAST(ROUND(m_cq, 6) AS DOUBLE) AS mean_ctrl_post,
                   CAST(ROUND((m_tq - m_tp) - (m_cq - m_cp), 6) AS DOUBLE) AS att,
                   CAST(ROUND(SQRT(v_tp / n_tp + v_tq / n_tq
                                   + v_cp / n_cp + v_cq / n_cq), 6) AS DOUBLE) AS se,
                   CAST(ROUND(((m_tq - m_tp) - (m_cq - m_cp))
                              / SQRT(v_tp / n_tp + v_tq / n_tq
                                     + v_cp / n_cp + v_cq / n_cq), 4) AS DOUBLE)
                       AS z_score,
                   CAST(n_tp + n_tq + n_cp + n_cq AS BIGINT) AS n
            FROM agg
        """,
        "lineitem_cuped": """
            WITH s AS (
                SELECT COVAR_SAMP(l_quantity, l_extendedprice)
                           / VAR_SAMP(l_quantity) AS theta,
                       AVG(l_quantity) AS mx
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            )
            SELECT l_orderkey, l_linenumber,
                   CAST(ROUND(l_extendedprice
                              - theta * (l_quantity - mx), 4) AS DOUBLE)
                       AS price_cuped
            FROM lineitem, s
            ORDER BY l_orderkey, l_linenumber
        """,
        "lineitem_psi_priceshift": """
            WITH basev AS (
                SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1998-05-24'
                  AND l_extendedprice IS NOT NULL
            ), newv AS (
                SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-05-24'
                  AND l_extendedprice IS NOT NULL
            ), e AS (
                SELECT list_transform(
                           quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                           v -> ROUND(v, 6)) AS edges
                FROM basev
            ), bb AS (
                SELECT CAST(len(list_filter(e.edges, ed -> ed < x)) AS INT) AS bin,
                       COUNT(*) AS c
                FROM basev, e GROUP BY 1
            ), bn AS (
                SELECT CAST(len(list_filter(e.edges, ed -> ed < x)) AS INT) AS bin,
                       COUNT(*) AS c
                FROM newv, e GROUP BY 1
            ), bins AS (SELECT UNNEST(range(0, 10)) AS bin),
            tb AS (SELECT SUM(c) AS t FROM bb), tn AS (SELECT SUM(c) AS t FROM bn),
            sh AS (
                SELECT CAST(bins.bin AS INT) AS bin,
                       COALESCE(bb.c, 0) / CAST(tb.t AS DOUBLE) AS sb,
                       COALESCE(bn.c, 0) / CAST(tn.t AS DOUBLE) AS sn
                FROM bins
                LEFT JOIN bb ON bins.bin = bb.bin
                LEFT JOIN bn ON bins.bin = bn.bin
                CROSS JOIN tb CROSS JOIN tn
            )
            SELECT sh.bin,
                   CASE WHEN sh.bin > 0 THEN e.edges[sh.bin] END AS lo,
                   CASE WHEN sh.bin < 9 THEN e.edges[sh.bin + 1] END AS hi,
                   CAST(ROUND(sb, 6) AS DOUBLE) AS share_base,
                   CAST(ROUND(sn, 6) AS DOUBLE) AS share_new,
                   CAST(ROUND((GREATEST(sn, 1e-6) - GREATEST(sb, 1e-6))
                              * LN(GREATEST(sn, 1e-6) / GREATEST(sb, 1e-6)), 6)
                        AS DOUBLE) AS psi_contrib
            FROM sh, e
            ORDER BY sh.bin
        """,
        "orders_woe_priority": """
            WITH base AS (
                SELECT o_orderpriority AS category,
                       CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
                FROM orders
            ), per AS (
                SELECT category, SUM(y) AS n_pos, SUM(1 - y) AS n_neg
                FROM base GROUP BY 1
            ), tot AS (SELECT SUM(y) AS tp, SUM(1 - y) AS tn FROM base)
            SELECT category,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_neg AS BIGINT) AS n_neg,
                   CAST(ROUND(LN(((n_pos + 0.5) / (tp + 1.0))
                                 / ((n_neg + 0.5) / (tn + 1.0))), 6) AS DOUBLE)
                       AS woe,
                   CAST(ROUND(((n_pos + 0.5) / (tp + 1.0)
                               - (n_neg + 0.5) / (tn + 1.0))
                              * LN(((n_pos + 0.5) / (tp + 1.0))
                                   / ((n_neg + 0.5) / (tn + 1.0))), 6) AS DOUBLE)
                       AS iv_contrib
            FROM per, tot
            ORDER BY category
        """,
        "lineitem_conformal_band": """
            WITH rows_ AS (
                SELECT CAST(l_orderkey AS VARCHAR) || '-'
                           || CAST(l_linenumber AS VARCHAR) AS rid,
                       CAST(l_quantity AS DOUBLE) AS x1,
                       CAST(l_discount AS DOUBLE) AS x2,
                       CAST(l_extendedprice AS DOUBLE) AS y,
                       ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-'
                            || CAST(l_linenumber AS VARCHAR) || ':42'), 1, 8))::BIGINT
                           / 4294967296.0 AS u
                FROM lineitem
            ), train AS (
                SELECT * FROM rows_
                WHERE u >= 0.3 AND x1 IS NOT NULL AND x2 IS NOT NULL
                  AND y IS NOT NULL
            ), m AS (
                SELECT VAR_SAMP(x1) AS s11, COVAR_SAMP(x1, x2) AS s12,
                       VAR_SAMP(x2) AS s22,
                       COVAR_SAMP(x1, y) AS c1, COVAR_SAMP(x2, y) AS c2,
                       AVG(x1) AS m1, AVG(x2) AS m2, AVG(y) AS my,
                       CAST(COUNT(*) AS BIGINT) AS n_train
                FROM train
            ), b AS (
                SELECT (s22 * c1 - s12 * c2) / (s11 * s22 - s12 * s12) AS b1,
                       (s11 * c2 - s12 * c1) / (s11 * s22 - s12 * s12) AS b2,
                       m1, m2, my, n_train
                FROM m
            ), calib AS (
                SELECT rid,
                       ABS(y - (b.my - b.b1 * b.m1 - b.b2 * b.m2
                                + b.b1 * x1 + b.b2 * x2)) AS ares
                FROM rows_, b
                WHERE u < 0.3 AND x1 IS NOT NULL AND x2 IS NOT NULL
                  AND y IS NOT NULL
            ), ranked AS (
                SELECT ares, ROW_NUMBER() OVER (ORDER BY ares, rid) AS rk
                FROM calib
            ), kk AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_calib,
                       LEAST(COUNT(*),
                             CAST(CEIL((COUNT(*) + 1) * 0.9) AS BIGINT)) AS k
                FROM calib
            )
            SELECT CAST(ROUND(ranked.ares, 4) AS DOUBLE) AS q,
                   CAST(0.1 AS DOUBLE) AS alpha,
                   b.n_train,
                   kk.n_calib
            FROM ranked, kk, b
            WHERE ranked.rk = kk.k
        """,
        "docs_collapse_lines": """
            WITH lined AS (
                SELECT doc_id,
                       string_split(replace(text, ' ', chr(10)), chr(10)) AS l
                FROM documents
            )
            SELECT doc_id,
                   array_to_string(
                       list_filter(l, (x, i) -> i = 1 OR x != l[i - 1]),
                       chr(10)) AS collapsed
            FROM lined
            ORDER BY doc_id
        """,
        "docs_encoding_screen": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '�')) AS INT)
                       AS n_replacement,
                   CAST(len(regexp_extract_all(text,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS INT) AS n_control,
                   CAST(len(regexp_extract_all(text, 'Ã.|Â.|â€')) AS INT)
                       AS n_mojibake,
                   (len(regexp_extract_all(text, '�')) > 0
                    OR len(regexp_extract_all(text,
                           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) > 0
                    OR len(regexp_extract_all(text, 'Ã.|Â.|â€')) > 0) AS suspect
            FROM documents
            ORDER BY doc_id
        """,
        "orders_mutual_information": """
            WITH obs AS (
                SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS o
                FROM orders
                WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
                GROUP BY 1, 2
            ), rm AS (SELECT a, SUM(o) AS ra FROM obs GROUP BY 1),
            cm AS (SELECT b, SUM(o) AS cb FROM obs GROUP BY 1),
            tt AS (SELECT SUM(o) AS n FROM obs),
            mi AS (
                SELECT SUM((o / CAST(tt.n AS DOUBLE))
                           * LN((o / CAST(tt.n AS DOUBLE))
                                / ((rm.ra / CAST(tt.n AS DOUBLE))
                                   * (cm.cb / CAST(tt.n AS DOUBLE))))) AS mi,
                       CAST(MAX(tt.n) AS BIGINT) AS n
                FROM obs JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN tt
            ), ha AS (
                SELECT SUM(-(ra / CAST(tt.n AS DOUBLE))
                           * LN(ra / CAST(tt.n AS DOUBLE))) AS ha
                FROM rm, tt
            ), hb AS (
                SELECT SUM(-(cb / CAST(tt.n AS DOUBLE))
                           * LN(cb / CAST(tt.n AS DOUBLE))) AS hb
                FROM cm, tt
            )
            SELECT CAST(ROUND(mi, 6) AS DOUBLE) AS mi,
                   CAST(ROUND(mi / LEAST(ha, hb), 6) AS DOUBLE) AS nmi,
                   CAST(ROUND(ha, 6) AS DOUBLE) AS h_a,
                   CAST(ROUND(hb, 6) AS DOUBLE) AS h_b,
                   n
            FROM mi, ha, hb
        """,
        "part_pareto_front": """
            SELECT a.p_partkey, a.p_size, a.p_retailprice
            FROM part a
            WHERE a.p_size IS NOT NULL AND a.p_retailprice IS NOT NULL
              AND NOT EXISTS (
                  SELECT 1 FROM part b
                  WHERE b.p_size IS NOT NULL AND b.p_retailprice IS NOT NULL
                    AND b.p_size >= a.p_size
                    AND b.p_retailprice <= a.p_retailprice
                    AND (b.p_size > a.p_size
                         OR b.p_retailprice < a.p_retailprice)
              )
            ORDER BY a.p_partkey
        """,
        "orders_balanced_classes": """
            WITH counts AS (
                SELECT o_orderstatus AS s, COUNT(*) AS c FROM orders
                WHERE o_orderstatus IS NOT NULL GROUP BY 1
            ), mn AS (SELECT MIN(c) AS m FROM counts),
            rates AS (SELECT s, CAST(m AS DOUBLE) / c AS p FROM counts, mn)
            SELECT o.o_orderkey, o.o_orderstatus
            FROM orders o JOIN rates ON o.o_orderstatus = rates.s
            WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':42'),
                                     1, 8))::BIGINT / 4294967296.0 < rates.p
            ORDER BY o.o_orderkey
        """,
        "events_rolling_active_users": """
            WITH du AS (
                SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM du),
            contrib AS (
                SELECT d, u, d + CAST(r.o AS INT) AS day
                FROM du, UNNEST(range(0, 7)) AS r(o)
            ), per AS (
                SELECT day,
                       CAST(COUNT(DISTINCT CASE WHEN day - d < 1 THEN u END)
                            AS BIGINT) AS active_1d,
                       CAST(COUNT(DISTINCT CASE WHEN day - d < 7 THEN u END)
                            AS BIGINT) AS active_7d
                FROM contrib, span
                WHERE day >= lo AND day <= hi
                GROUP BY day
            ), grid AS (
                SELECT CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                                   CAST(hi AS TIMESTAMP),
                                                   INTERVAL 1 DAY)) AS DATE)
                           AS day
                FROM span
            )
            SELECT grid.day,
                   CAST(COALESCE(per.active_1d, 0) AS BIGINT) AS active_1d,
                   CAST(COALESCE(per.active_7d, 0) AS BIGINT) AS active_7d
            FROM grid LEFT JOIN per USING (day)
            ORDER BY day
        """,
        "events_error_pchart": """
            WITH base AS (
                SELECT CAST(ts AS DATE) AS day,
                       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS f
                FROM events
            ), per AS (
                SELECT day AS period, CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(f) AS pos
                FROM base GROUP BY 1
            ), o AS (SELECT SUM(f) / CAST(COUNT(*) AS DOUBLE) AS pbar FROM base)
            SELECT period, n,
                   CAST(ROUND(pos / CAST(n AS DOUBLE), 6) AS DOUBLE) AS rate,
                   CAST(ROUND(pbar, 6) AS DOUBLE) AS p_bar,
                   CAST(ROUND(LEAST(pbar + 3.0 * SQRT(pbar * (1 - pbar) / n), 1.0),
                              6) AS DOUBLE) AS ucl,
                   CAST(ROUND(GREATEST(pbar - 3.0 * SQRT(pbar * (1 - pbar) / n), 0.0),
                              6) AS DOUBLE) AS lcl,
                   (pos / CAST(n AS DOUBLE)
                        > LEAST(pbar + 3.0 * SQRT(pbar * (1 - pbar) / n), 1.0)
                    OR pos / CAST(n AS DOUBLE)
                        < GREATEST(pbar - 3.0 * SQRT(pbar * (1 - pbar) / n), 0.0))
                       AS out_of_control
            FROM per, o
            ORDER BY period
        """,
        "orders_cohort_ltv": """
            WITH base AS (
                SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
                       CAST(o_totalprice AS DOUBLE) AS a
                FROM orders
                WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                  AND o_totalprice IS NOT NULL
            ), first AS (
                SELECT k, MIN(d) AS cohort FROM base GROUP BY 1
            ), sizes AS (
                SELECT cohort, CAST(COUNT(DISTINCT k) AS BIGINT)
                           AS n_cohort_users
                FROM first GROUP BY 1
            ), per AS (
                SELECT first.cohort,
                       CAST(base.d - first.cohort AS INT) AS day_offset,
                       SUM(a) AS rev
                FROM base JOIN first USING (k)
                GROUP BY 1, 2
            ), cum AS (
                SELECT cohort, day_offset, rev,
                       SUM(rev) OVER (PARTITION BY cohort ORDER BY day_offset
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cumrev
                FROM per
            )
            SELECT cum.cohort, cum.day_offset, sizes.n_cohort_users,
                   CAST(ROUND(rev, 4) AS DOUBLE) AS revenue,
                   CAST(ROUND(cumrev, 4) AS DOUBLE) AS cum_revenue,
                   CAST(ROUND(cumrev / sizes.n_cohort_users, 4) AS DOUBLE)
                       AS cum_ltv_per_user
            FROM cum JOIN sizes USING (cohort)
            ORDER BY cohort, day_offset
        """,
        "events_step_latency": """
            WITH base AS (
                SELECT user_id AS k, ts, event_type AS s FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
                  AND event_type IS NOT NULL
            ), firsts AS (
                SELECT k, MIN(ts) AS from_ts FROM base
                WHERE s = 'view' GROUP BY 1
            ), conv AS (
                SELECT base.k, MIN(base.ts) AS to_ts
                FROM base JOIN firsts USING (k)
                WHERE base.s = 'purchase' AND base.ts >= firsts.from_ts
                GROUP BY 1
            )
            SELECT firsts.k AS user_id, firsts.from_ts, conv.to_ts,
                   CAST(ROUND(EPOCH_US(conv.to_ts - firsts.from_ts) / 1e6, 3)
                        AS DOUBLE) AS latency_seconds
            FROM firsts LEFT JOIN conv USING (k)
            ORDER BY user_id
        """,
        "docs_title_body_jaccard": f"""
            WITH t AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           list_slice({toks}, 1, 5), x -> x)) AS ta,
                       list_distinct({toks}) AS tb
                FROM documents
            )
            SELECT doc_id,
                   CAST(ROUND(CASE WHEN len(list_distinct(ta || tb)) > 0
                        THEN len(list_intersect(ta, tb))
                             / CAST(len(list_distinct(ta || tb)) AS DOUBLE)
                        END, 6) AS DOUBLE) AS coherence
            FROM t
            ORDER BY doc_id
        """,
        "orders_nzv_screen": """
            WITH s AS (
                SELECT 'o_orderpriority' AS col, CAST(o_orderpriority AS VARCHAR) AS v
                FROM orders
                UNION ALL
                SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
            ), freqs AS (
                SELECT col, v, COUNT(*) AS n,
                       ROW_NUMBER() OVER (PARTITION BY col
                           ORDER BY COUNT(*) DESC, v ASC NULLS LAST) AS rk
                FROM s GROUP BY col, v
            ), top2 AS (
                SELECT col,
                       MAX(CASE WHEN rk = 1 THEN v END) AS top_value,
                       MAX(CASE WHEN rk = 1 THEN n END) AS top_n,
                       MAX(CASE WHEN rk = 2 THEN n END) AS second_n
                FROM freqs WHERE rk <= 2 GROUP BY col
            ), d AS (
                SELECT col, CAST(COUNT(DISTINCT v) AS BIGINT)
                           + MAX(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                           AS n_vals,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM s GROUP BY col
            )
            SELECT d.col AS column, d.n,
                   d.n_vals AS n_distinct,
                   top2.top_value,
                   CAST(ROUND(CAST(top2.top_n AS DOUBLE) / top2.second_n, 4)
                        AS DOUBLE) AS freq_ratio,
                   CAST(ROUND(100.0 * d.n_vals / d.n, 4) AS DOUBLE) AS unique_pct,
                   (top2.second_n IS NULL
                    OR (CAST(top2.top_n AS DOUBLE) / top2.second_n > 19.0
                        AND 100.0 * d.n_vals / d.n < 10.0)) AS nzv
            FROM d JOIN top2 USING (col)
            ORDER BY d.col
        """,
        "orders_fdr_screen": """
            WITH tests AS (
                SELECT o_orderkey,
                       ROUND(POW(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                           || ':11'), 1, 8))::BIGINT / 4294967296.0, 2), 8) AS p
                FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 300)
            ), ranked AS (
                SELECT o_orderkey, p,
                       CAST(ROW_NUMBER() OVER (ORDER BY p ASC) AS INT) AS rank
                FROM tests
            ), m AS (SELECT COUNT(*) AS mm FROM tests),
            adj AS (
                SELECT o_orderkey, p, rank,
                       LEAST(1.0, p * mm / rank) AS a
                FROM ranked, m
            )
            SELECT o_orderkey, p, rank,
                   CAST(ROUND(MIN(a) OVER (ORDER BY rank DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       AS DOUBLE) AS q_value,
                   (ROUND(MIN(a) OVER (ORDER BY rank DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       <= 0.05) AS rejected
            FROM adj
            ORDER BY o_orderkey
        """,
        "events_forecast_accuracy": """
            WITH lagged AS (
                SELECT event_type, value AS y,
                       LAG(value) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS f
                FROM events
            ), naive AS (
                SELECT event_type, y, f,
                       ABS(y - LAG(y) OVER (PARTITION BY event_type
                           ORDER BY ts2, eid)) AS nv
                FROM (
                    SELECT event_type, value AS y, ts AS ts2, event_id AS eid,
                           LAG(value) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS f
                    FROM events
                ) x
                WHERE f IS NOT NULL AND y IS NOT NULL
            )
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(ROUND(AVG(ABS(y - f)), 6) AS DOUBLE) AS mae,
                   CAST(ROUND(SQRT(AVG((y - f) * (y - f))), 6) AS DOUBLE) AS rmse,
                   CAST(ROUND(AVG(CASE WHEN ABS(y) + ABS(f) > 0
                        THEN 2.0 * ABS(y - f) / (ABS(y) + ABS(f)) END), 6)
                        AS DOUBLE) AS smape,
                   CAST(ROUND(AVG(ABS(y - f)) / AVG(nv), 6) AS DOUBLE) AS mase
            FROM naive
            GROUP BY event_type
            ORDER BY event_type
        """,
        "events_burst_profile": """
            WITH base AS (
                SELECT user_id, ts, EPOCH_US(ts) / 1e6 AS sec FROM events
                WHERE ts IS NOT NULL
            ), counted AS (
                SELECT user_id, ts, sec,
                       COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS inw
                FROM base
            ), peak AS (
                SELECT user_id, ts AS peak_ts, inw,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY inw DESC, sec ASC) AS rk
                FROM counted
            ), agg AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(MAX(inw) AS BIGINT) AS max_in_window
                FROM counted GROUP BY 1
            )
            SELECT agg.user_id, agg.n_events, agg.max_in_window,
                   peak.peak_ts,
                   (agg.max_in_window >= 20) AS burst
            FROM agg JOIN peak USING (user_id)
            WHERE peak.rk = 1
            ORDER BY agg.user_id
        """,
        "events_burstiness": """
            WITH gaps AS (
                SELECT user_id,
                       (EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id))) / 1e6
                           AS gap
                FROM events WHERE ts IS NOT NULL
            ), g AS (SELECT user_id, gap FROM gaps WHERE gap IS NOT NULL),
            agg AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                       AVG(gap) AS mu,
                       COALESCE(STDDEV_POP(gap), 0.0) AS sigma
                FROM g GROUP BY 1
            )
            SELECT user_id, n_gaps,
                   CAST(ROUND(mu, 6) AS DOUBLE) AS mean_gap_s,
                   CAST(ROUND(sigma, 6) AS DOUBLE) AS std_gap_s,
                   CAST(ROUND((sigma - mu) / NULLIF(sigma + mu, 0), 6) AS DOUBLE)
                       AS burstiness
            FROM agg
            ORDER BY user_id
        """,
        "emb_health_report": """
            WITH base AS (
                SELECT embedding AS v,
                       CASE WHEN embedding IS NULL THEN NULL
                            ELSE len(list_filter(embedding, x -> isnan(x))) > 0
                       END AS has_nan,
                       CASE WHEN embedding IS NULL THEN NULL
                            ELSE len(list_filter(embedding, x -> x IS NULL)) > 0
                       END AS has_nullc,
                       CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS d
                FROM embeddings
            ), norms AS (
                SELECT *,
                       CASE WHEN v IS NOT NULL AND NOT COALESCE(has_nan, FALSE)
                                 AND NOT COALESCE(has_nullc, FALSE)
                            THEN SQRT(list_sum(list_transform(v, x -> x * x)))
                       END AS nrm
                FROM base
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_null,
                   CAST(SUM(CASE WHEN COALESCE(has_nan, FALSE) THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_nan,
                   CAST(SUM(CASE WHEN COALESCE(has_nullc, FALSE) THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_null_coord,
                   CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_zero,
                   CAST(COUNT(DISTINCT d) AS BIGINT) AS n_dims,
                   CAST(MODE(d) AS INT) AS dim_mode,
                   CAST(ROUND(quantile_cont(nrm, 0.01), 6) AS DOUBLE) AS norm_p01,
                   CAST(ROUND(quantile_cont(nrm, 0.5), 6) AS DOUBLE) AS norm_p50,
                   CAST(ROUND(quantile_cont(nrm, 0.99), 6) AS DOUBLE) AS norm_p99
            FROM norms
        """,
        "events_volume_anomalies": """
            WITH observed AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events WHERE ts IS NOT NULL
                GROUP BY 1, 2
            ), span AS (
                SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
                FROM observed GROUP BY 1
            ), grid AS (
                SELECT event_type,
                       CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                                   CAST(hi AS TIMESTAMP),
                                                   INTERVAL 1 DAY)) AS DATE) AS day
                FROM span
            ), counts AS (
                SELECT grid.event_type, grid.day,
                       CAST(COALESCE(observed.n_rows, 0) AS BIGINT) AS n_rows
                FROM grid LEFT JOIN observed USING (event_type, day)
            ), med AS (
                SELECT event_type, quantile_cont(n_rows, 0.5) AS m
                FROM counts GROUP BY 1
            ), j AS (
                SELECT counts.*, med.m,
                       ABS(n_rows - med.m) AS ad
                FROM counts JOIN med USING (event_type)
            ), mad AS (
                SELECT event_type, quantile_cont(ad, 0.5) AS md
                FROM j GROUP BY 1
            )
            SELECT j.event_type, j.day, j.n_rows,
                   CAST(ROUND(j.m, 4) AS DOUBLE) AS median_n,
                   CAST(ROUND(mad.md, 4) AS DOUBLE) AS mad_n,
                   CAST(ROUND(CASE WHEN mad.md > 0
                        THEN 0.6745 * (j.n_rows - j.m) / mad.md END, 4) AS DOUBLE)
                       AS robust_z,
                   CASE WHEN mad.md > 0
                        THEN ABS(0.6745 * (j.n_rows - j.m) / mad.md) > 3.5
                        ELSE j.n_rows != j.m END AS anomaly
            FROM j JOIN mad USING (event_type)
            ORDER BY j.event_type, j.day
        """,
        "orders_join_health": """
            WITH lk AS (
                SELECT o_custkey AS k, COUNT(*) AS cl FROM orders
                WHERE o_custkey IS NOT NULL GROUP BY 1
            ), rk AS (
                SELECT c_custkey AS k, COUNT(*) AS cr FROM customer
                WHERE c_custkey IS NOT NULL GROUP BY 1
            ), j AS (
                SELECT COALESCE(lk.k, rk.k) AS k, lk.cl, rk.cr
                FROM lk FULL JOIN rk ON lk.k = rk.k
            ), t AS (
                SELECT (SELECT COUNT(*) FROM orders) AS n_left,
                       (SELECT COUNT(*) FROM customer) AS n_right
            )
            SELECT CAST(t.n_left AS BIGINT) AS n_left,
                   CAST(t.n_right AS BIGINT) AS n_right,
                   CAST(COUNT(CASE WHEN cl IS NOT NULL THEN 1 END) AS BIGINT)
                       AS n_keys_left,
                   CAST(COUNT(CASE WHEN cr IS NOT NULL THEN 1 END) AS BIGINT)
                       AS n_keys_right,
                   CAST(COUNT(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL
                              THEN 1 END) AS BIGINT) AS n_keys_common,
                   CAST(ROUND(SUM(CASE WHEN cr IS NOT NULL THEN cl ELSE 0 END)
                              / CAST(t.n_left AS DOUBLE), 6) AS DOUBLE)
                       AS match_rate_left,
                   CAST(ROUND(SUM(CASE WHEN cl IS NOT NULL THEN cr ELSE 0 END)
                              / CAST(t.n_right AS DOUBLE), 6) AS DOUBLE)
                       AS match_rate_right,
                   CAST(MAX(cl) AS BIGINT) AS max_mult_left,
                   CAST(MAX(cr) AS BIGINT) AS max_mult_right,
                   CAST(SUM(COALESCE(cl, 0) * COALESCE(cr, 0)) AS BIGINT)
                       AS est_output_rows
            FROM j, t
            GROUP BY t.n_left, t.n_right
        """,
        "events_ratio_ab_test": """
            WITH per_user AS (
                SELECT user_id,
                       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           AS purchases,
                       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           AS views,
                       CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp
                FROM events GROUP BY user_id
            ), stats AS (
                SELECT grp, CAST(COUNT(*) AS BIGINT) AS k,
                       AVG(COALESCE(purchases, 0)) AS mn,
                       AVG(COALESCE(views, 0)) AS md,
                       VAR_SAMP(COALESCE(purchases, 0)) AS vn,
                       VAR_SAMP(COALESCE(views, 0)) AS vd,
                       COVAR_SAMP(COALESCE(purchases, 0), COALESCE(views, 0))
                           AS vnd
                FROM per_user GROUP BY 1
            ), enr AS (
                SELECT grp, k, mn / md AS r,
                       (vn - 2 * (mn / md) * vnd
                        + (mn / md) * (mn / md) * vd) / (k * md * md) AS vr
                FROM stats
            ), b AS (
                SELECT k AS n_base, r AS r_base, vr AS vr_base
                FROM enr WHERE grp = 'even'
            )
            SELECT enr.grp AS "group", b.n_base,
                   enr.k AS n_treat,
                   CAST(ROUND(b.r_base, 6) AS DOUBLE) AS ratio_base,
                   CAST(ROUND(enr.r, 6) AS DOUBLE) AS ratio_treat,
                   CAST(ROUND(enr.r - b.r_base, 6) AS DOUBLE) AS diff,
                   CAST(ROUND(SQRT(enr.vr + b.vr_base), 6) AS DOUBLE) AS se,
                   CAST(ROUND((enr.r - b.r_base) / SQRT(enr.vr + b.vr_base), 4)
                        AS DOUBLE) AS z_score
            FROM enr, b
            WHERE enr.grp <> 'even'
            ORDER BY "group"
        """,
        "events_sequence_gaps": """
            WITH du AS (
                SELECT DISTINCT user_id, event_id FROM events
                WHERE event_id IS NOT NULL AND user_id IS NOT NULL
            ), lagged AS (
                SELECT user_id, event_id,
                       LAG(event_id) OVER (PARTITION BY user_id
                           ORDER BY event_id) AS prev
                FROM du
            )
            SELECT user_id,
                   CAST(prev + 1 AS BIGINT) AS gap_start,
                   CAST(event_id - 1 AS BIGINT) AS gap_end,
                   CAST(event_id - prev - 1 AS BIGINT) AS n_missing
            FROM lagged
            WHERE prev IS NOT NULL AND event_id - prev > 1
            ORDER BY user_id, gap_start
        """,
        "docs_dsir_ess": """
            WITH rw AS (SELECT doc_id,
                               string_split_regex(trim(lower(text)), '\\s+') AS ws
                        FROM documents),
            rg AS (
                SELECT doc_id, g FROM (
                    SELECT doc_id, unnest(ws) AS g FROM rw
                    UNION ALL
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ws)),
                                                 i -> ws[i] || ' ' || ws[i+1])) AS g
                    FROM rw
                ) WHERE g <> ''
            ),
            rb AS (SELECT doc_id,
                          ('0x' || substring(md5(g), 1, 8))::BIGINT % 512 AS b
                   FROM rg),
            tb AS (SELECT rb.doc_id, b FROM rb
                   JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
            q AS (SELECT b, COUNT(*) AS qc FROM rb GROUP BY b),
            p AS (SELECT b, COUNT(*) AS pc FROM tb GROUP BY b),
            qt AS (SELECT SUM(qc) AS t FROM q),
            pt AS (SELECT SUM(pc) AS t FROM p),
            r AS (SELECT COALESCE(q.b, p.b) AS b,
                         ln((COALESCE(pc, 0) + 1.0) / ((SELECT t FROM pt) + 512.0))
                       - ln((COALESCE(qc, 0) + 1.0) / ((SELECT t FROM qt) + 512.0)) AS logr
                  FROM q FULL OUTER JOIN p ON q.b = p.b),
            sdoc AS (SELECT doc_id, SUM(logr) AS lw
                     FROM rb JOIN r USING (b) GROUP BY doc_id),
            wdoc AS (
                SELECT d.doc_id, d.lang,
                       EXP(ROUND(COALESCE(sdoc.lw, 0.0), 6)) AS w
                FROM documents d LEFT JOIN sdoc USING (doc_id)
            ), agg AS (
                SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(w) AS sw, SUM(w * w) AS sw2
                FROM wdoc WHERE w > 0 GROUP BY 1
            )
            SELECT lang, n,
                   CAST(ROUND(sw * sw / sw2, 4) AS DOUBLE) AS ess,
                   CAST(ROUND((sw * sw / sw2) / n, 4) AS DOUBLE) AS ess_ratio
            FROM agg
            ORDER BY lang
        """,
        "events_rolling_corr": """
            WITH raw AS (
                SELECT event_id, event_type, EPOCH_US(ts) AS us,
                       value AS x0, value * value AS y0
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), m AS (
                SELECT event_type, AVG(x0) AS mx, AVG(y0) AS my
                FROM raw GROUP BY 1
            ), base AS (
                SELECT raw.event_id, raw.event_type, raw.us,
                       raw.x0 - m.mx AS x, raw.y0 - m.my AS y
                FROM raw JOIN m USING (event_type)
            ), wind AS (
                SELECT event_id,
                       COUNT(*) OVER w AS n,
                       SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
                       SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
                       SUM(x * y) OVER w AS sxy
                FROM base
                WINDOW w AS (PARTITION BY event_type ORDER BY us
                             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id,
                   CAST(ROUND(CASE WHEN n >= 5
                                    AND sxx - sx * sx / n > 0
                                    AND syy - sy * sy / n > 0
                        THEN (sxy - sx * sy / n)
                             / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
                        END, 6) AS DOUBLE) AS rolling_corr
            FROM wind
            ORDER BY event_id
        """,
        "events_apdex": """
            WITH base AS (
                SELECT event_type, value AS v FROM events
                WHERE value IS NOT NULL AND value >= 0
            )
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(ROUND(SUM(CASE WHEN v <= 10.0 THEN 1 ELSE 0 END)
                              / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE)
                       AS pct_satisfied,
                   CAST(ROUND(SUM(CASE WHEN v > 10.0 AND v <= 40.0 THEN 1 ELSE 0 END)
                              / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE)
                       AS pct_tolerating,
                   CAST(ROUND(SUM(CASE WHEN v > 40.0 THEN 1 ELSE 0 END)
                              / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE)
                       AS pct_frustrated,
                   CAST(ROUND((SUM(CASE WHEN v <= 10.0 THEN 1 ELSE 0 END)
                               + SUM(CASE WHEN v > 10.0 AND v <= 40.0
                                     THEN 1 ELSE 0 END) / 2.0)
                              / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE) AS apdex,
                   CAST(ROUND(quantile_cont(v, 0.5), 4) AS DOUBLE) AS p50,
                   CAST(ROUND(quantile_cont(v, 0.95), 4) AS DOUBLE) AS p95,
                   CAST(ROUND(quantile_cont(v, 0.99), 4) AS DOUBLE) AS p99
            FROM base
            GROUP BY event_type
            ORDER BY event_type
        """,
    }
