"""Property-graph connector (reference: awswrangler/neptune/_neptune.py:126
``to_property_graph``, :225 ``to_rdf_graph``, :317 ``bulk_load``, :632
``flatten_nested_df``).

Graph model = two DataFrames, exactly the reference's bulk-loader CSV
contract: vertices ``(~id, ~label, props...)``, edges ``(~id, ~label,
~from, ~to, props...)``.  Analytics (degree, motif, traversal) are joins
over these frames; ``bulk_load`` lands loader-format CSV.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument

_V_REQUIRED = ("~id", "~label")
_E_REQUIRED = ("~id", "~label", "~from", "~to")


def validate_vertices(df: DataFrame) -> DataFrame:
    missing = [c for c in _V_REQUIRED if c not in df.columns]
    if missing:
        raise InvalidArgument(f"vertex frame missing required columns: {missing}")
    return df


def validate_edges(df: DataFrame) -> DataFrame:
    missing = [c for c in _E_REQUIRED if c not in df.columns]
    if missing:
        raise InvalidArgument(f"edge frame missing required columns: {missing}")
    return df


def to_property_graph(
    vertices: DataFrame | None,
    edges: DataFrame | None,
    path: str,
    *,
    mode: str = "append",
) -> dict[str, str]:
    """reference: neptune/_neptune.py:126 — persist the graph as two
    datasets under ``path`` (vertices/, edges/)."""
    from aws_sdk_pandas_spark.sources._write import write_dataset

    out: dict[str, str] = {}
    if vertices is not None:
        validate_vertices(vertices)
        write_dataset(
            _sanitize_tilde(vertices), f"{path.rstrip('/')}/vertices", "parquet", mode=mode
        )
        out["vertices"] = f"{path.rstrip('/')}/vertices"
    if edges is not None:
        validate_edges(edges)
        write_dataset(
            _sanitize_tilde(edges), f"{path.rstrip('/')}/edges", "parquet", mode=mode
        )
        out["edges"] = f"{path.rstrip('/')}/edges"
    return out


def _sanitize_tilde(df: DataFrame) -> DataFrame:
    return df.toDF(*[c.replace("~", "_t_") for c in df.columns])


def _restore_tilde(df: DataFrame) -> DataFrame:
    return df.toDF(*[c.replace("_t_", "~") for c in df.columns])


def read_property_graph(spark, path: str) -> tuple[DataFrame, DataFrame]:
    v = _restore_tilde(spark.read.parquet(f"{path.rstrip('/')}/vertices"))
    e = _restore_tilde(spark.read.parquet(f"{path.rstrip('/')}/edges"))
    return v, e


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex in/out degree — one aggregation each, union by name."""
    validate_edges(edges)
    out_deg = edges.groupBy(F.col("~from").alias("~id")).agg(F.count("*").alias("out_degree"))
    in_deg = edges.groupBy(F.col("~to").alias("~id")).agg(F.count("*").alias("in_degree"))
    return (
        out_deg.join(in_deg, "~id", "full_outer")
        .na.fill({"out_degree": 0, "in_degree": 0})
    )


def neighbors(edges: DataFrame, vertex_ids: list[str], *, direction: str = "out") -> DataFrame:
    validate_edges(edges)
    if direction == "out":
        return edges.where(F.col("~from").isin(vertex_ids)).select(
            F.col("~to").alias("~id")
        ).distinct()
    if direction == "in":
        return edges.where(F.col("~to").isin(vertex_ids)).select(
            F.col("~from").alias("~id")
        ).distinct()
    raise InvalidArgument("direction must be 'in' or 'out'")


def flatten_nested_df(
    df: DataFrame, *, include_prefix: bool = True, separator: str = "_"
) -> DataFrame:
    """reference: neptune/_neptune.py:632 — recursively flatten struct
    columns (graph property bags) into scalar columns."""
    while True:
        struct_cols = [c for c, t in df.dtypes if t.startswith("struct<")]
        if not struct_cols:
            return df
        cols = []
        for c, t in df.dtypes:
            if t.startswith("struct<"):
                for f in df.schema[c].dataType.fields:
                    new_name = f"{c}{separator}{f.name}" if include_prefix else f.name
                    cols.append(F.col(f"`{c}`.`{f.name}`").alias(new_name))
            else:
                cols.append(F.col(f"`{c}`"))
        df = df.select(*cols)


def bulk_load(
    vertices: DataFrame | None,
    edges: DataFrame | None,
    path: str,
) -> dict[str, str]:
    """reference: neptune/_neptune.py:317 — land loader-format CSV (the
    actual loader call is the service-side step that doesn't exist here)."""
    from aws_sdk_pandas_spark.sources._write import write_dataset

    out: dict[str, str] = {}
    if vertices is not None:
        validate_vertices(vertices)
        write_dataset(
            _sanitize_tilde(vertices), f"{path.rstrip('/')}/vertices_csv", "csv",
            mode="overwrite", options={"header": "true"},
        )
        out["vertices"] = f"{path.rstrip('/')}/vertices_csv"
    if edges is not None:
        validate_edges(edges)
        write_dataset(
            _sanitize_tilde(edges), f"{path.rstrip('/')}/edges_csv", "csv",
            mode="overwrite", options={"header": "true"},
        )
        out["edges"] = f"{path.rstrip('/')}/edges_csv"
    return out


def bulk_load_from_files(spark, path: str, *, kind: str = "vertices") -> DataFrame:
    """reference: neptune/_neptune.py:428 ``bulk_load_from_files`` —
    ingest loader-format CSV landed by ``bulk_load`` (or another job)
    back into the two-DataFrame graph model."""
    if kind not in ("vertices", "edges"):
        raise InvalidArgument("kind must be 'vertices' or 'edges'")
    df = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    restored = _restore_tilde(df)
    return (validate_vertices if kind == "vertices" else validate_edges)(restored)


def validate_triples(df: DataFrame) -> DataFrame:
    """RDF triples frame: subject / predicate / object columns (the
    reference's SPARQL INSERT shape, neptune/_neptune.py:225)."""
    required = {"s", "p", "o"}
    if not required <= set(df.columns):
        raise InvalidArgument(f"RDF frame needs columns {sorted(required)}")
    return df


def to_rdf_graph(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
) -> dict[str, Any]:
    """reference: neptune/_neptune.py:225 ``to_rdf_graph`` — land the
    triples frame as a dataset (the SPARQL INSERT batching becomes a
    partitioned write; IRI formatting is the caller's contract, exactly
    like the reference's ``s``/``p``/``o`` columns)."""
    from aws_sdk_pandas_spark.sources._write import write_dataset

    return write_dataset(validate_triples(df), path, "parquet", mode=mode)


def read_rdf_graph(spark, path: str) -> DataFrame:
    """Scan a triples dataset back."""
    return validate_triples(spark.read.parquet(path))


def connect(root: str, **_ignored: Any):
    """reference: neptune/_neptune.py ``connect`` — endpoint/IAM kwargs are
    deployment concerns; the handle carries the graph dataset root."""
    return {"root": root.rstrip("/")}


def execute_gremlin(
    client: dict,
    query: str,
    *,
    spark=None,
    vertices: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """reference: neptune/_neptune.py:126 ``execute_gremlin``.  The
    reference ships the traversal string to a Neptune TinkerPop endpoint;
    here the supported subset (see ``connectors/gremlin.py`` — V/E
    sources, hasLabel/has/hasId, out/in/both, outE/inE/inV/outV, values/
    id/label/valueMap, dedup/limit/count, order().by, groupCount().by) is
    COMPILED to DataFrame joins over the property-graph frames, bag
    semantics preserved.  Frames come from ``vertices``/``edges`` or are
    read from the ``connect`` handle's graph root."""
    from aws_sdk_pandas_spark.connectors.gremlin import compile_gremlin

    if vertices is None or edges is None:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is None:
            raise InvalidArgument(
                "execute_gremlin needs vertices/edges frames or a SparkSession "
                "to read them from the connect handle root"
            )
        v, e = read_property_graph(spark, client["root"])
        vertices = vertices if vertices is not None else v
        edges = edges if edges is not None else e
    return compile_gremlin(query, vertices, edges)


def execute_opencypher(
    client: dict,
    query: str,
    *,
    spark=None,
    vertices: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """reference: neptune/_neptune.py:225 ``execute_opencypher``.  The
    supported MATCH/WHERE/RETURN subset (see ``connectors/opencypher.py``
    — multi-hop directed/undirected patterns, inline property maps,
    implicit aggregation grouping, DISTINCT/ORDER BY/SKIP/LIMIT) is
    compiled to DataFrame joins over the property-graph frames."""
    from aws_sdk_pandas_spark.connectors.opencypher import compile_opencypher

    if vertices is None or edges is None:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is None:
            raise InvalidArgument(
                "execute_opencypher needs vertices/edges frames or a "
                "SparkSession to read them from the connect handle root"
            )
        v, e = read_property_graph(spark, client["root"])
        vertices = vertices if vertices is not None else v
        edges = edges if edges is not None else e
    return compile_opencypher(query, vertices, edges)


def execute_sparql(
    client: dict,
    query: str,
    *,
    spark=None,
    triples: DataFrame | None = None,
) -> DataFrame:
    """reference: neptune/_neptune.py:84 ``execute_sparql``.  The
    reference ships the query to a Neptune SPARQL endpoint via
    SPARQLWrapper; here the supported subset (see ``connectors/sparql.py``
    — PREFIX, SELECT with aggregates, basic graph patterns with
    predicate-object lists, FILTER with xsd casts / REGEX / BOUND,
    OPTIONAL, GROUP BY / ORDER BY / LIMIT / OFFSET) is COMPILED to
    DataFrame joins over the triples frame.  The frame comes from
    ``triples`` or is read from the ``connect`` handle's graph root
    (the ``to_rdf_graph`` dataset)."""
    from aws_sdk_pandas_spark.connectors.sparql import compile_sparql

    if triples is None:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is None:
            raise InvalidArgument(
                "execute_sparql needs a triples frame or a SparkSession "
                "to read it from the connect handle root"
            )
        triples = read_rdf_graph(spark, client["root"])
    return compile_sparql(query, triples)


class BulkLoadParserConfiguration(dict):
    """Typed-dict-style parser configuration for ``bulk_load``
    (reference: neptune/_client.py:35).  Keys: ``namedGraphUri``,
    ``baseUri``, ``allowEmptyStrings`` — accepted and attached to the
    load request metadata; the local loader only consumes
    ``allowEmptyStrings`` (empty CSV strings kept as values vs nulls)."""


class GremlinParser:
    """Gremlin result -> list[dict] normalizer (reference:
    neptune/_gremlin_parser.py:11).  Works over plain Python structures
    (lists, dicts, scalars, objects with ``__dict__``) — the gremlin
    driver's Path/Vertex/Edge types are not in this environment, but any
    mapping/sequence a connector yields normalizes the same way."""

    @staticmethod
    def gremlin_results_to_dict(result) -> list[dict]:
        """Normalize one result batch to a list of row dicts."""
        res: list[dict] = []
        items = result if isinstance(result, list) else [result]
        for x in items:
            res.append(GremlinParser._parse_dict(x))
        return res

    @staticmethod
    def _parse_dict(data) -> dict:
        d: dict = {}
        if isinstance(data, dict):
            for k, v in data.items():
                # single-element lists unwrap (gremlin valueMap convention)
                if isinstance(v, list) and len(v) == 1:
                    d[str(k)] = v[0]
                else:
                    d[str(k)] = v
            return d
        if hasattr(data, "__dict__"):
            return {str(k): v for k, v in vars(data).items()}
        return {"_result": data}


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """PageRank over the two-DataFrame property-graph model: returns
    ``~id, rank`` (ranks sum to 1), with proper dangling-node handling
    (their mass redistributes uniformly each round, as in the original
    formulation — dropping it makes ranks leak and the sum drift).

    Scale shape: the edge list persists once with its out-degree
    attached; each iteration is ONE shuffle (contributions grouped by
    destination) and ONE driver action — a single bounded aggregate
    that materializes the round's lazily-checkpointed rank frame and
    returns both the L1 convergence delta and (via the per-vertex
    dangling flag riding the frame) the NEXT round's dangling mass.
    Rank frames localCheckpoint per round so the plan never grows with
    the iteration count — the same pattern as
    ``operators.graph.connected_components``.
    """
    validate_edges(edges)
    e = edges.select(F.col("~from").alias("src"), F.col("~to").alias("dst"))
    # the dangling marker rides the rank frame as a per-vertex flag so
    # the NEXT round's dangling mass comes out of the SAME bounded
    # aggregate as the convergence delta — the separate
    # dangling-join-sum action per round is gone (guide §5.2: one
    # driver action per iteration).
    srcs = e.select(F.col("src").alias("id")).distinct()
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(srcs.withColumn("__out", F.lit(True)), "id", "left")
        .select("id", F.coalesce("__out", F.lit(False)).alias("__has_out"))
        .persist()
    )
    head = verts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~F.col("__has_out"), 1).otherwise(0)).alias("nd"),
    ).first()
    n, n_dangling = head["n"], head["nd"] or 0
    if n == 0:
        return verts.select(F.col("id").alias("~id"), F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e_deg = e.join(out_deg, "src").persist()

    ranks = verts.select(
        "id", "__has_out", F.lit(1.0 / n).alias("rank")
    ).localCheckpoint()
    verts.unpersist()
    d_mass = n_dangling * (1.0 / n)

    for _ in range(max_iter):
        contribs = (
            e_deg.join(ranks, e_deg["src"] == ranks["id"])
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("contrib"))
        )
        base = (1.0 - damping) / n + damping * d_mass / n
        # ranks is verts-complete by induction (initialized from verts,
        # rebuilt by a left join that keeps every rank row), so no extra
        # join against the vertex universe is needed per round.
        updated = (
            ranks.withColumnRenamed("rank", "__old")
            .join(contribs, "id", "left")
            .select(
                "id",
                "__has_out",
                (F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
                "__old",
            )
            .localCheckpoint(eager=False)
        )
        # ONE action: materializes the (lazy) checkpoint, the L1
        # convergence delta, AND the next round's dangling mass.
        row = updated.agg(
            F.sum(F.abs(F.col("rank") - F.col("__old"))).alias("delta"),
            F.sum(F.when(~F.col("__has_out"), F.col("rank"))).alias("dm"),
        ).first()
        delta, d_mass = row["delta"], row["dm"] or 0.0
        ranks = updated.drop("__old")
        if delta is not None and delta < tol:
            break
    e_deg.unpersist()
    return ranks.select(F.col("id").alias("~id"), "rank")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the property-graph edge frame,
    treating the graph as UNDIRECTED and simple (direction, multi-edges
    and self-loops are collapsed before counting).  Returns
    ``~id, triangles`` for every vertex that appears in an edge.

    Scale shape (the MapReduce-triangle recipe of Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    orient every undirected edge from its lower (degree, id) endpoint to
    the higher one — out-degrees are then bounded by O(sqrt(|E|)) even
    on power-law graphs, so the wedge self-join never explodes on hub
    vertices.  One self-join on the oriented source builds wedges, one
    equi-join against the oriented edge list closes them, one
    explode+aggregate distributes each triangle to its three corners.
    Every stage is a keyed shuffle; nothing is driver-side.
    """
    validate_edges(edges)
    # persist the deduplicated undirected edge list: the degree table
    # (via a 2-arm unionAll) and the orientation join all re-derived it —
    # 4 scans of the backing input plus 3 redundant distinct shuffles in
    # one executed plan (tools/scan_count_audit.py).  One scan + one
    # distinct shuffle builds the adjacency; every consumer reads the
    # cache (guide §5).  Lifetime is caller-owned.
    und = (
        edges.select(F.col("~from").alias("u"), F.col("~to").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # localCheckpoint (eager) rather than persist+unpersist: the caller
    # executes the returned PLAN after this function exits, so an
    # unpersist here would evict the cache before the wedge and closing
    # joins ever read it — checkpointing materializes the oriented edge
    # list once and both joins scan the checkpointed blocks
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ).localCheckpoint()

    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("ddst").alias("dv")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("ddst").alias("dw")
    )
    # wedge (src; v, w) with rank(v) < rank(w): each unordered pair of
    # out-neighbours appears exactly once, so each triangle closes once
    v_first = (F.col("dv") < F.col("dw")) | (
        (F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))
    )
    wedges = e1.join(e2, "src").where(v_first)
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select("src", "v", "w")

    corners = (
        tri.select(F.col("src").alias("id"))
        .unionAll(tri.select(F.col("v").alias("id")))
        .unionAll(tri.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        deg.select("id")
        .join(corners, "id", "left")
        .select(
            F.col("id").alias("~id"),
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
        )
    )
    return out


def k_hop_neighbors(
    edges: DataFrame,
    seeds: list[str],
    *,
    k: int = 2,
    direction: str = "both",
) -> DataFrame:
    """Minimum-hop distance from a seed set: returns ``~id, hops`` for
    every vertex reachable within ``k`` hops (seeds themselves at hop
    0).  ``direction`` is ``out``/``in``/``both`` over the edge frame.

    The bounded-depth traversal behind Gremlin ``g.V(seeds).repeat(
    out()).times(k)`` (reference executes server-side:
    neptune/_neptune.py:96 ``execute_gremlin``) — here it is k rounds
    of frontier-join against the edge list, each ONE keyed shuffle;
    the visited set accumulates via anti-join so no vertex is expanded
    twice (BFS work is O(|E|) total, not O(|E| * k)).
    ``localCheckpoint`` bounds the plan as rounds accumulate.
    """
    validate_edges(edges)
    if direction not in ("out", "in", "both"):
        raise InvalidArgument("direction must be out|in|both")
    e = edges.select(F.col("~from").alias("s"), F.col("~to").alias("t"))
    if direction == "in":
        e = e.select(F.col("t").alias("s"), F.col("s").alias("t"))
    elif direction == "both":
        e = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    e = e.distinct().persist()
    e.count()

    spark = edges.sparkSession
    visited = local_frame(spark, [(s, 0) for s in seeds], "id string, hops int").localCheckpoint()
    frontier = visited.select("id")
    for hop in range(1, k + 1):
        nxt = (
            e.join(frontier, e["s"] == frontier["id"])
            .select(F.col("t").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint()
        frontier = nxt.select("id")
    e.unpersist(blocking=False)
    return visited.select(F.col("id").alias("~id"), "hops")


def label_propagation(
    edges: DataFrame,
    *,
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007) over the undirected simple graph: every node simultaneously
    adopts the most frequent label among its neighbours (ties -> the
    smallest label, so the algorithm is DETERMINISTIC — reruns and
    repartitionings agree), for ``max_iter`` rounds or until no label
    changes.  Returns ``~id, community``.

    Unlike ``connected_components`` (one community per connected
    component) this splits dense regions joined by sparse cuts — the
    coarse clustering pass over near-dup graphs before per-community
    work.  Each round is one edge-labels join + one (node, label)
    count + one argmax window, all keyed shuffles; ``localCheckpoint``
    bounds plan growth exactly as in ``pagerank``.
    """
    from pyspark.sql.window import Window

    validate_edges(edges)
    e = (
        edges.select(F.col("~from").alias("u"), F.col("~to").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct().persist()
    und.count()

    labels = (
        und.select(F.col("u").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()

    w = Window.partitionBy("u").orderBy(F.col("n").desc(), F.col("label").asc())
    for _ in range(max_iter):
        freq = (
            und.join(labels, und["v"] == labels["id"])
            .groupBy("u", "label")
            .agg(F.count("*").alias("n"))
        )
        best = (
            freq.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(F.col("u").alias("id"), F.col("label").alias("__new"))
        )
        # eager=False: the convergence count is the first action over
        # the frame, so one job materializes the checkpoint AND counts
        # (2 -> 1 actions per round)
        updated = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.col("label").alias("__old"),
                F.coalesce("__new", F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.where(F.col("label") != F.col("__old")).count()
        labels = updated.drop("__old")
        if changed == 0:
            break
    und.unpersist(blocking=False)
    return labels.select(F.col("id").alias("~id"), F.col("label").alias("community"))
