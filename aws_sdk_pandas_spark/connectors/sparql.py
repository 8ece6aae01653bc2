"""SPARQL-subset compiler (reference: awswrangler/neptune/_neptune.py:84
``execute_sparql`` — there, the query string is shipped to Neptune's
SPARQL endpoint via SPARQLWrapper; here the supported subset is COMPILED
to DataFrame joins over the triples frame written by ``to_rdf_graph``,
completing the query-language family next to ``connectors/gremlin.py``
and ``connectors/opencypher.py``).

Supported grammar::

    PREFIX name: <iri>                       (any number)
    ASK [WHERE] { group }                    (1-row ``ask boolean``)
    CONSTRUCT { template } WHERE { group }   (returns an s/p/o triples
                                             frame, SET semantics)
    SELECT [DISTINCT] ?a ?b | * | (AGG(?x) AS ?alias) ...
    WHERE {
        term term term .                     (basic graph patterns)
        subject p1 o1 ; p2 o2 .              (predicate-object lists)
        FILTER( <expr over ?vars> )
        OPTIONAL { patterns [FILTER] }       (left join on shared vars;
                                             the FILTER is part of the
                                             matching — pre-join)
        { patterns [FILTER] } UNION { ... }  (unionByName; vars bound in
                                             only some branches NULL-fill,
                                             and joining such a var
                                             elsewhere raises)
        FILTER [NOT] EXISTS { patterns }     (left-semi / left-anti join
        MINUS { patterns }                    on the shared variables)
        BIND(expr AS ?v)                     (computed column; expr uses
                                             the FILTER expression grammar)
        VALUES ?x { const const ... }        (inline binding table, one
        VALUES (?x ?y) { (c1 c2) ... }       equi-join — the small side
                                             broadcasts; UNDEF refused)
    }
    [GROUP BY ?a ?b] [ORDER BY [ASC|DESC](?x) ...] [LIMIT n] [OFFSET m]

- terms: ``?var`` / ``<iri>`` / ``prefix:local`` (expanded) / ``"lit"``
  (optionally ``@lang`` / ``^^type``, both stripped) / numbers / the
  ``a`` keyword (rdf:type)
- property paths in the predicate position: ``p1/p2`` (sequence),
  ``p1|p2`` (alternative), ``^p`` (inverse), ``p+`` / ``p*`` / ``p?``
  (closures, SET semantics per the SPARQL spec), ``(...)`` grouping.
  ``+``/``*`` with a constant endpoint compile to a frontier BFS from
  that node (the k-hop pattern — each round one equi-join, lineage
  truncated per round); var-to-var closures use iterative doubling
  (log2(diameter) rounds).  Both are fixpoint loops with a bounded
  round cap that raises on non-convergence rather than answering
  incompletely.
- aggregates: COUNT(*) / COUNT([DISTINCT] ?x) / SUM/AVG/MIN/MAX(?x);
  aggregates with no GROUP BY and no plain vars collapse to one row,
  SPARQL-style; plain SELECT vars alongside aggregates become implicit
  group keys (a deliberate Cypher-style leniency — strict SPARQL would
  demand the explicit GROUP BY, which is still honored when present)
- FILTER operators: comparisons, ``&&`` ``||`` ``!``, ``REGEX(?x,'p')``
  (-> RLIKE), ``BOUND(?x)`` (-> IS NOT NULL, the OPTIONAL-miss test),
  ``STR(?x)``, and ``xsd:integer/long/double/decimal/boolean(?x)``
  casts for typed comparisons over the uniformly-typed object column

Semantics note: a SPARQL endpoint matches a *set* of triples; this
compiler matches the triples DATASET, so duplicate triple rows produce
duplicate bindings — multiplicities equal what the same SQL joins give,
which is exactly what makes results DuckDB-oracle-checkable.  Each
shared variable between patterns is one equi-join; constants become
pushed filters on the triple scan; patterns sharing no variable take
SPARQL's product semantics (kept rare by construction in any sane BGP).
Nothing runs driver-side.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_PREFIX_RE = re.compile(r"^\s*PREFIX\s+(\w*):\s*<([^>]*)>\s*", re.I)
_AGG_ITEM_RE = re.compile(
    r"^\(\s*(count|sum|avg|min|max|sample|group_concat)\s*\(\s*(distinct\s+)?(\*|\?\w+)\s*"
    r"(?:;\s*separator\s*=\s*(?P<sep>'[^']*'|\"[^\"]*\")\s*)?\)"
    r"\s+AS\s+\?(\w+)\s*\)$",
    re.I,
)
_TERM_RE = re.compile(
    r"""\s*(?:
        (?P<var>\?\w+)
      | (?P<iri><[^>]*>)
      | (?P<lit>"(?:[^"\\]|\\.)*"(?:@\w+|\^\^\S+)?)
      | (?P<a>\ba\b(?!:))  # 'a:local' is a pname, not the type keyword;
                           # 'a :local' keeps keyword + empty-prefix pname
      | (?P<pname>\w*:\w+)
      | (?P<num>[+-]?\d+(?:\.\d+)?)
    )""",
    re.X,
)


def _balanced(s: str, pos: int, open_ch: str, close_ch: str) -> int:
    """Index just past the matching close for the open bracket at pos."""
    depth = 0
    i = pos
    in_str: str | None = None
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == in_str:
                in_str = None
        elif c in "'\"":
            in_str = c
        elif c == open_ch:
            depth += 1
        elif c == close_ch:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise InvalidArgument(f"unbalanced {open_ch}{close_ch} in SPARQL query")


class _Term:
    __slots__ = ("kind", "value")

    def __init__(self, kind: str, value):
        self.kind = kind  # "var" | "const"
        self.value = value


def _parse_term(s: str, pos: int, prefixes: dict[str, str]) -> tuple[_Term, int]:
    m = _TERM_RE.match(s, pos)
    if not m:
        raise InvalidArgument(f"cannot parse SPARQL term at {s[pos:pos + 40]!r}")
    if m.group("var"):
        return _Term("var", m.group("var")[1:]), m.end()
    if m.group("iri"):
        return _Term("const", m.group("iri")[1:-1]), m.end()
    if m.group("lit"):
        lit = m.group("lit")
        body = lit[1 : lit.rindex('"')]
        return _Term("const", body.replace('\\"', '"').replace("\\\\", "\\")), m.end()
    if m.group("a"):
        return _Term("const", _RDF_TYPE), m.end()
    if m.group("pname"):
        pfx, local = m.group("pname").split(":", 1)
        if pfx not in prefixes:
            raise InvalidArgument(f"undeclared PREFIX {pfx!r}")
        return _Term("const", prefixes[pfx] + local), m.end()
    num = m.group("num")
    return _Term("const", float(num) if "." in num else int(num)), m.end()


class _PathExpr:
    """A non-trivial property path in the predicate position; ``node`` is
    a nested tuple tree: ('atom', iri) / ('inv', n) / ('seq', [n...]) /
    ('alt', [n...]) / ('plus'|'star'|'opt', n)."""

    def __init__(self, node):
        self.node = node


def _skip_ws(s: str, pos: int) -> int:
    while pos < len(s) and s[pos] in " \t\r\n":
        pos += 1
    return pos


def _parse_path_unary(s: str, pos: int, prefixes: dict[str, str]):
    pos = _skip_ws(s, pos)
    if pos < len(s) and s[pos] == "^":
        node, pos = _parse_path_unary(s, pos + 1, prefixes)
        node = ("inv", node)
    elif pos < len(s) and s[pos] == "(":
        node, pos = _parse_path_alt(s, pos + 1, prefixes)
        pos = _skip_ws(s, pos)
        if pos >= len(s) or s[pos] != ")":
            raise InvalidArgument(f"unbalanced '(' in property path at {s[pos:pos+30]!r}")
        pos += 1
    else:
        term, pos = _parse_term(s, pos, prefixes)
        if term.kind == "var":
            raise InvalidArgument("a variable cannot appear inside a property path")
        node = ("atom", term.value)
    # postfix modifiers attach directly to the element (no whitespace —
    # '?' must not swallow a following ?var term)
    if pos < len(s) and s[pos] in "+*":
        node = ("plus" if s[pos] == "+" else "star", node)
        pos += 1
    elif pos < len(s) and s[pos] == "?" and (pos + 1 >= len(s) or not (s[pos + 1].isalnum() or s[pos + 1] == "_")):
        node = ("opt", node)
        pos += 1
    return node, pos


def _parse_path_seq(s: str, pos: int, prefixes: dict[str, str]):
    parts = []
    node, pos = _parse_path_unary(s, pos, prefixes)
    parts.append(node)
    while True:
        p2 = _skip_ws(s, pos)
        if p2 < len(s) and s[p2] == "/":
            node, pos = _parse_path_unary(s, p2 + 1, prefixes)
            parts.append(node)
        else:
            break
    return (parts[0] if len(parts) == 1 else ("seq", parts)), pos


def _parse_path_alt(s: str, pos: int, prefixes: dict[str, str]):
    parts = []
    node, pos = _parse_path_seq(s, pos, prefixes)
    parts.append(node)
    while True:
        p2 = _skip_ws(s, pos)
        if p2 < len(s) and s[p2] == "|":
            node, pos = _parse_path_seq(s, p2 + 1, prefixes)
            parts.append(node)
        else:
            break
    return (parts[0] if len(parts) == 1 else ("alt", parts)), pos


def _parse_predicate(s: str, pos: int, prefixes: dict[str, str]):
    """Predicate position: a plain ?var / constant term (the common case,
    unchanged), or a property-path expression -> _PathExpr."""
    p2 = _skip_ws(s, pos)
    if p2 < len(s) and s[p2] == "?" and p2 + 1 < len(s) and (s[p2 + 1].isalnum() or s[p2 + 1] == "_"):
        term, pos = _parse_term(s, pos, prefixes)  # ?var predicate, no paths
        nxt = _skip_ws(s, pos)
        if (nxt < len(s) and s[nxt] in "/|") or (pos < len(s) and s[pos] in "+*"):
            raise InvalidArgument("a variable cannot appear inside a property path")
        return term, pos
    node, pos = _parse_path_alt(s, pos, prefixes)
    if node[0] == "atom":
        return _Term("const", node[1]), pos
    return _PathExpr(node), pos


def _parse_group(body: str, prefixes: dict[str, str], allow_blocks: bool = True):
    """WHERE-group body -> (triple patterns, filters, optional groups,
    union blocks — each a list of branch (triples, filters) pairs —
    and EXISTS/MINUS semijoin blocks as (patterns, negated) pairs)."""
    triples: list[tuple[_Term, _Term, _Term]] = []
    filters: list[str] = []
    optionals: list[tuple[list[tuple[_Term, Any, _Term]], list[str]]] = []
    unions: list[list[tuple[list, list]]] = []
    semijoins: list[tuple[list, bool]] = []
    binds: list[tuple[str, str]] = []
    values: list[tuple[str, list]] = []
    pos = 0
    n = len(body)
    while pos < n:
        while pos < n and body[pos] in " \t\r\n.":
            pos += 1
        if pos >= n:
            break
        rest = body[pos:]
        bm = re.match(r"BIND\s*\(", rest, re.I)
        if bm:
            p0 = body.index("(", pos)
            end = _balanced(body, p0, "(", ")")
            inner = body[p0 + 1 : end - 1]
            am = re.search(r"\s+AS\s+\?(\w+)\s*$", inner, re.I)
            if not am:
                raise InvalidArgument("BIND needs the form BIND(expr AS ?var)")
            binds.append((inner[: am.start()].strip(), am.group(1)))
            pos = end
            continue
        vm_multi = re.match(r"VALUES\s*\(", rest, re.I)
        if vm_multi:
            # VALUES (?x ?y) { (a b) (c d) ... } — an inline binding
            # TABLE; fully-bound tables compile to one equi-join on all
            # listed vars (the small side broadcasts).  UNDEF entries
            # parse to None and compile through the unbound-compatible
            # distribution path (rows grouped by their defined mask).
            p0 = body.index("(", pos)
            p_end = _balanced(body, p0, "(", ")")
            var_list = re.findall(r"\?(\w+)", body[p0 + 1 : p_end - 1])
            if not var_list:
                raise InvalidArgument("VALUES (..) needs at least one ?var")
            b0 = body.index("{", p_end)
            b_end = _balanced(body, b0, "{", "}")
            rows_body = body[b0 + 1 : b_end - 1]
            rows = []
            rpos = 0
            while True:
                while rpos < len(rows_body) and rows_body[rpos] in " \t\r\n":
                    rpos += 1
                if rpos >= len(rows_body):
                    break
                if rows_body[rpos] != "(":
                    raise InvalidArgument(
                        "multi-variable VALUES rows must be parenthesized tuples"
                    )
                r_end = _balanced(rows_body, rpos, "(", ")")
                tpos = rpos + 1
                row = []
                while True:
                    while tpos < r_end - 1 and rows_body[tpos] in " \t\r\n":
                        tpos += 1
                    if tpos >= r_end - 1:
                        break
                    um = re.match(r"UNDEF\b", rows_body[tpos:], re.I)
                    if um:
                        row.append(None)  # SPARQL's unbound marker
                        tpos += um.end()
                        continue
                    term, tpos = _parse_term(rows_body, tpos, prefixes)
                    if term.kind != "const":
                        raise InvalidArgument("VALUES entries must be constants")
                    row.append(str(term.value))
                if len(row) != len(var_list):
                    raise InvalidArgument(
                        f"VALUES row has {len(row)} terms for {len(var_list)} vars"
                    )
                rows.append(tuple(row))
                rpos = r_end
            if not rows:
                raise InvalidArgument("VALUES needs at least one row")
            values.append((tuple(var_list), rows))
            pos = b_end
            continue
        vm = re.match(r"VALUES\s+\?(\w+)\s*\{", rest, re.I)
        if vm:
            p0 = body.index("{", pos)
            end = _balanced(body, p0, "{", "}")
            vals_body = body[p0 + 1 : end - 1]
            vals = []
            vpos = 0
            while True:
                while vpos < len(vals_body) and vals_body[vpos] in " \t\r\n":
                    vpos += 1
                if vpos >= len(vals_body):
                    break
                term, vpos = _parse_term(vals_body, vpos, prefixes)
                if term.kind != "const":
                    raise InvalidArgument("VALUES entries must be constants")
                vals.append(term.value)
            if not vals:
                raise InvalidArgument("VALUES needs at least one value")
            values.append((vm.group(1), vals))
            pos = end
            continue
        fe = re.match(r"FILTER\s+(NOT\s+)?EXISTS\s*\{", rest, re.I)
        mi = re.match(r"MINUS\s*\{", rest, re.I)
        if fe or mi:
            if not allow_blocks:
                raise InvalidArgument("nested EXISTS/MINUS blocks are not supported")
            p0 = body.index("{", pos)
            end = _balanced(body, p0, "{", "}")
            t, f, o, u, x, bb, vv = _parse_group(body[p0 + 1 : end - 1], prefixes, allow_blocks=False)
            if f or o or u or x or bb or vv:
                raise InvalidArgument(
                    "EXISTS/NOT EXISTS/MINUS groups support triple patterns only"
                )
            # MINUS and FILTER NOT EXISTS coincide for the shared-var
            # patterns supported here (they differ only on disjoint
            # domains, which the compiler rejects below)
            negated = bool(mi) or bool(fe.group(1))
            semijoins.append((t, negated))
            pos = end
            continue
        if re.match(r"FILTER\b", rest, re.I):
            p0 = body.index("(", pos)
            end = _balanced(body, p0, "(", ")")
            filters.append(body[p0 + 1 : end - 1])
            pos = end
            continue
        if re.match(r"OPTIONAL\b", rest, re.I):
            if not allow_blocks:
                raise InvalidArgument("nested OPTIONAL is not supported")
            p0 = body.index("{", pos)
            end = _balanced(body, p0, "{", "}")
            t, f, o, u, x, bb, vv = _parse_group(body[p0 + 1 : end - 1], prefixes, allow_blocks=False)
            if o or u or x or bb or vv:
                raise InvalidArgument(
                    "OPTIONAL groups support triple patterns and FILTER only"
                )
            optionals.append((t, f))
            pos = end
            continue
        if body[pos] == "{":
            # { branch } UNION { branch } [UNION { branch } ...]
            if not allow_blocks:
                raise InvalidArgument("nested group blocks are not supported")
            branches: list[tuple[list, list]] = []
            while True:
                end = _balanced(body, pos, "{", "}")
                t, f, o, u, x, bb, vv = _parse_group(
                    body[pos + 1 : end - 1], prefixes, allow_blocks=False
                )
                if o or u or x or bb or vv:
                    raise InvalidArgument(
                        "UNION branches support triple patterns and FILTER only"
                    )
                branches.append((t, f))
                pos = end
                while pos < n and body[pos] in " \t\r\n":
                    pos += 1
                um = re.match(r"UNION\b", body[pos:], re.I)
                if not um:
                    break
                pos += um.end()
                while pos < n and body[pos] in " \t\r\n":
                    pos += 1
                if pos >= n or body[pos] != "{":
                    raise InvalidArgument("UNION must be followed by a { group }")
            if len(branches) < 2:
                raise InvalidArgument(
                    "a bare { group } needs a UNION continuation"
                )
            unions.append(branches)
            continue
        s_term, pos = _parse_term(body, pos, prefixes)
        while True:
            p_term, pos = _parse_predicate(body, pos, prefixes)
            o_term, pos = _parse_term(body, pos, prefixes)
            triples.append((s_term, p_term, o_term))
            while pos < n and body[pos] in " \t\r\n":
                pos += 1
            if pos < n and body[pos] == ";":
                pos += 1
                continue
            break
    return triples, filters, optionals, unions, semijoins, binds, values


_CLOSURE_MAX_ROUNDS = 24


def _path_identity(triples_df: DataFrame) -> DataFrame:
    """Zero-length-path pairs: every node (subject or object) to itself."""
    nodes = (
        triples_df.select("s")
        .unionByName(triples_df.select(F.col("o").alias("s")))
        .distinct()
    )
    return nodes.select("s", F.col("s").alias("o"))


def _path_closure(base: DataFrame) -> DataFrame:
    """Transitive closure of the distinct pair set by iterative doubling
    (T <- T ∪ T∘T): log2(diameter) rounds, each one equi-join + distinct;
    lineage truncated per round so the plan stays flat.

    Checkpoints are lazy (eager=False): the convergence count that
    immediately follows each one is its first action, so ONE job per
    round both materializes the checkpoint and counts — the eager form
    paid a separate materialization job (2 -> 1 actions/round)."""
    t = base.distinct().localCheckpoint(eager=False)
    n = t.count()
    for _ in range(_CLOSURE_MAX_ROUNDS):
        comp = (
            t.alias("a")
            .join(t.alias("b"), F.col("a.o") == F.col("b.s"))
            .select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
        )
        t2 = t.unionByName(comp).distinct().localCheckpoint(eager=False)
        n2 = t2.count()
        if n2 == n:
            return t2
        t, n = t2, n2
    raise InvalidArgument(
        f"property-path closure did not converge in {_CLOSURE_MAX_ROUNDS} doubling rounds"
    )


def _path_reach(base: DataFrame, seeds: DataFrame) -> DataFrame:
    """Closure restricted to the given start nodes: frontier BFS — the
    k-hop pattern, one equi-join per round over the (shrinking) frontier."""
    base = base.distinct()
    # all checkpoints lazy: each round's single count() action
    # materializes the round's ``new`` frontier AND (as part of the
    # subtract's lineage) the previous round's lazily-checkpointed
    # ``reached`` union — one action per round instead of three.
    frontier = (
        seeds.join(base, "s").select("s", "o").distinct().localCheckpoint(eager=False)
    )
    reached = frontier
    for _ in range(_CLOSURE_MAX_ROUNDS * 8):
        step = (
            frontier.select("s", F.col("o").alias("__m"))
            .join(base.select(F.col("s").alias("__m"), "o"), "__m")
            .select("s", "o")
            .distinct()
        )
        new = step.subtract(reached).localCheckpoint(eager=False)
        if new.count() == 0:
            return reached
        reached = reached.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    raise InvalidArgument(
        f"property-path closure did not converge in {_CLOSURE_MAX_ROUNDS * 8} BFS rounds"
    )


def _compile_path_pairs(
    triples_df: DataFrame, node, seeds: DataFrame | None = None
) -> DataFrame:
    """A path tree -> DataFrame(s, o) of connected pairs.  ``seeds``
    (a 1-column ``s`` frame) restricts closure evaluation to paths
    starting at those nodes — the constant-subject optimization."""
    kind = node[0]
    if kind == "atom":
        return triples_df.where(F.col("p") == F.lit(node[1])).select("s", "o")
    if kind == "inv":
        inner = _compile_path_pairs(triples_df, node[1])
        return inner.select(F.col("o").alias("s"), F.col("s").alias("o"))
    if kind == "seq":
        cur = _compile_path_pairs(triples_df, node[1][0], seeds=seeds)
        for part in node[1][1:]:
            nxt = _compile_path_pairs(triples_df, part).select(
                F.col("s").alias("__m"), F.col("o").alias("__o2")
            )
            cur = (
                cur.join(nxt, cur["o"] == nxt["__m"])
                .select("s", F.col("__o2").alias("o"))
            )
        return cur
    if kind == "alt":
        out = None
        for part in node[1]:
            branch = _compile_path_pairs(triples_df, part, seeds=seeds)
            out = branch if out is None else out.unionByName(branch)
        return out
    if kind in ("plus", "star", "opt"):
        base = _compile_path_pairs(triples_df, node[1])
        if kind == "opt":
            pairs = base.unionByName(_path_identity(triples_df)).distinct()
            return pairs
        if seeds is not None:
            reach = _path_reach(base, seeds)
            if kind == "star":
                # zero-length: each seed reaches itself, even degree-0 ones
                reach = reach.unionByName(
                    seeds.select("s", F.col("s").alias("o"))
                ).distinct()
            return reach
        closure = _path_closure(base)
        if kind == "star":
            closure = closure.unionByName(_path_identity(triples_df)).distinct()
        return closure
    raise InvalidArgument(f"unsupported property-path node {kind!r}")


def _pattern_frame(
    triples_df: DataFrame, pat: tuple[_Term, Any, _Term]
) -> tuple[DataFrame, list[str]]:
    """One triple pattern -> filtered scan projecting its variables."""
    s, p, o = pat
    if isinstance(p, _PathExpr):
        node = p.node
        spark = triples_df.sparkSession
        # constant-endpoint closures become seeded BFS instead of a full
        # closure: invert the path when only the OBJECT is constant
        inverted = False
        if node[0] in ("plus", "star") and s.kind != "const" and o.kind == "const":
            # closure of the inverse == inverse of the closure
            node = (node[0], ("inv", node[1]))
            s, o = o, s
            inverted = True
        seeds = None
        if node[0] in ("plus", "star") and s.kind == "const":
            seeds = local_frame(spark, [(str(s.value),)], "s string")
        df = _compile_path_pairs(triples_df, node, seeds=seeds)
        if inverted:
            df = df.select(F.col("o").alias("s"), F.col("s").alias("o"))
            s, o = o, s
        cols: dict[str, str] = {}
        for term, col in ((s, "s"), (o, "o")):
            if term.kind == "const":
                df = df.where(F.col(col) == F.lit(term.value))
            elif term.value in cols:
                df = df.where(F.col(col) == F.col(cols[term.value]))
            else:
                cols[term.value] = col
        out = df.select(*[F.col(src).alias(var) for var, src in cols.items()])
        return out, list(cols)
    df = triples_df
    cols = {}
    for term, col in ((s, "s"), (p, "p"), (o, "o")):
        if term.kind == "const":
            df = df.where(F.col(col) == F.lit(term.value))
        elif term.value in cols:
            # repeated var inside one pattern (?x p ?x): equality filter
            df = df.where(F.col(col) == F.col(cols[term.value]))
        else:
            cols[term.value] = col
    out = df.select(*[F.col(src).alias(var) for var, src in cols.items()])
    return out, list(cols)


def _join_patterns(frames: list[tuple[DataFrame, list[str]]]) -> tuple[DataFrame, list[str]]:
    cur, bound = frames[0]
    bound = list(bound)
    pending = list(frames[1:])
    while pending:
        # pick the next pattern sharing a variable first (keeps joins
        # equi-joins; a product only happens when the BGP truly is one)
        idx = next(
            (i for i, (_df, vs) in enumerate(pending) if set(vs) & set(bound)),
            0,
        )
        df, vs = pending.pop(idx)
        shared = [v for v in vs if v in bound]
        if shared:
            cur = cur.join(df, on=shared)
        else:
            cur = cur.crossJoin(df)
        bound += [v for v in vs if v not in bound]
    return cur, bound


def _translate_filter(expr: str) -> str:
    literals: list[str] = []

    def _shield(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    out = re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", _shield, expr)
    out = out.replace("&&", " AND ").replace("||", " OR ")
    out = re.sub(r"!(?!=)", " NOT ", out)
    out = re.sub(
        r"\bxsd:(integer|long|int)\s*\(\s*\?(\w+)\s*\)",
        lambda m: f"CAST({m.group(2)} AS BIGINT)",
        out,
        flags=re.I,
    )
    out = re.sub(
        r"\bxsd:(double|decimal|float)\s*\(\s*\?(\w+)\s*\)",
        lambda m: f"CAST({m.group(2)} AS DOUBLE)",
        out,
        flags=re.I,
    )
    out = re.sub(
        r"\bxsd:boolean\s*\(\s*\?(\w+)\s*\)",
        lambda m: f"CAST({m.group(1)} AS BOOLEAN)",
        out,
        flags=re.I,
    )
    out = re.sub(
        r"\bBOUND\s*\(\s*\?(\w+)\s*\)",
        lambda m: f"({m.group(1)} IS NOT NULL)",
        out,
        flags=re.I,
    )
    out = re.sub(
        r"\bSTR\s*\(\s*\?(\w+)\s*\)",
        lambda m: f"CAST({m.group(1)} AS STRING)",
        out,
        flags=re.I,
    )

    def _regex(m: re.Match) -> str:
        return f"({m.group(1)} RLIKE {m.group(2)})"

    out = re.sub(r"\bREGEX\s*\(\s*\?(\w+)\s*,\s*(\x00\d+\x00)\s*\)", _regex, out, flags=re.I)
    # SPARQL string builtins with identical-semantics Spark functions
    # (SUBSTR is 1-based in both; arguments pass through untouched)
    for sp_fn, spark_fn in (
        ("STRSTARTS", "startswith"), ("STRENDS", "endswith"),
        ("CONTAINS", "contains"), ("STRLEN", "length"),
        ("UCASE", "upper"), ("LCASE", "lower"), ("SUBSTR", "substring"),
    ):
        out = re.sub(rf"\b{sp_fn}\s*\(", f"{spark_fn}(", out, flags=re.I)
    out = re.sub(r"\?(\w+)", lambda m: m.group(1), out)
    for i, lit in enumerate(literals):
        # SQL strings are single-quoted; double-quoted SPARQL literals
        # would read as identifiers in Spark SQL
        if lit.startswith('"'):
            lit = "'" + lit[1:-1].replace("\\", "\\\\").replace("'", "\\'") + "'"
        out = out.replace(f"\x00{i}\x00", lit)
    return out


def compile_sparql(query: str, triples: DataFrame) -> DataFrame:
    """Compile the SPARQL-subset ``query`` against the ``triples`` frame —
    ``s`` / ``p`` / ``o`` columns (the ``to_rdf_graph`` layout, reference:
    neptune/_neptune.py:225); the long-form ``subject`` / ``predicate`` /
    ``object`` naming is accepted and normalized."""
    if {"subject", "predicate", "object"} <= set(triples.columns):
        triples = triples.select(
            F.col("subject").alias("s"),
            F.col("predicate").alias("p"),
            F.col("object").alias("o"),
        )
    q = query.strip()
    prefixes: dict[str, str] = {}
    while True:
        m = _PREFIX_RE.match(q)
        if not m:
            break
        prefixes[m.group(1)] = m.group(2)
        q = q[m.end() :]

    # inner SELECTs re-enter compile_sparql, which re-parses PREFIX
    # declarations — so they must be re-emitted on the inner query
    pfx_hdr = "".join(f"PREFIX {k}: <{v}>\n" for k, v in prefixes.items())

    ask = re.match(r"ASK\s*(?:WHERE\s*)?\{", q, re.I)
    if ask:
        brace0 = q.index("{", ask.end() - 1)
        brace_end = _balanced(q, brace0, "{", "}")
        inner = compile_sparql(
            f"{pfx_hdr}SELECT * WHERE {{ {q[brace0 + 1:brace_end - 1]} }} LIMIT 1",
            triples,
        )
        exists = inner.count() > 0  # bounded: LIMIT 1 solution
        return local_frame(triples.sparkSession, [(exists,)], "ask boolean")

    cons = re.match(r"CONSTRUCT\s*\{", q, re.I)
    if cons:
        t0 = q.index("{", cons.end() - 1)
        t_end = _balanced(q, t0, "{", "}")
        template, _f, _o, _u, _x, _b, _v = _parse_group(
            q[t0 + 1 : t_end - 1], prefixes, allow_blocks=False
        )
        if not template:
            raise InvalidArgument("CONSTRUCT template needs at least one triple")
        if any(isinstance(p_t, _PathExpr) for _s, p_t, _o in template):
            raise InvalidArgument("property paths are not allowed in CONSTRUCT templates")
        rest = q[t_end:].strip()
        wm = re.match(r"WHERE\s*\{", rest, re.I)
        if not wm:
            raise InvalidArgument("CONSTRUCT needs WHERE { ... }")
        w0 = rest.index("{", wm.end() - 1)
        w_end = _balanced(rest, w0, "{", "}")
        tail_mods = rest[w_end:].strip().rstrip(";")
        sols = compile_sparql(
            f"{pfx_hdr}SELECT * WHERE {{ {rest[w0 + 1:w_end - 1]} }} {tail_mods}",
            triples,
        )
        out = None
        for s_t, p_t, o_t in template:
            def _c(term):
                if term.kind == "var":
                    if term.value not in sols.columns:
                        raise InvalidArgument(
                            f"CONSTRUCT template var ?{term.value} is not bound"
                        )
                    return F.col(term.value).cast("string")
                return F.lit(str(term.value))

            row = sols.select(_c(s_t).alias("s"), _c(p_t).alias("p"), _c(o_t).alias("o"))
            out = row if out is None else out.unionByName(row)
        # a SPARQL graph is a SET of triples
        return out.distinct()

    head = re.match(r"SELECT\s+(DISTINCT\s+)?(.*?)\s+WHERE\s*\{", q, re.I | re.S)
    if not head:
        raise InvalidArgument(
            "unsupported SPARQL shape; expected SELECT/ASK/CONSTRUCT ... "
            "WHERE { ... } [GROUP BY ...] [ORDER BY ...] [LIMIT n] [OFFSET m]"
        )
    distinct = bool(head.group(1))
    select_items = head.group(2).strip()
    brace0 = q.index("{", head.end() - 1)
    brace_end = _balanced(q, brace0, "{", "}")
    where_body = q[brace0 + 1 : brace_end - 1]
    tail = q[brace_end:].strip().rstrip(";")

    tail_m = re.match(
        r"^(?:GROUP\s+BY\s+(?P<group>.+?))?"
        r"(?:\s*ORDER\s+BY\s+(?P<order>.+?))?"
        # LIMIT and OFFSET are legal in either order in SPARQL
        r"(?:\s*LIMIT\s+(?P<limit>\d+))?"
        r"(?:\s*OFFSET\s+(?P<offset>\d+))?"
        r"(?:\s*LIMIT\s+(?P<limit2>\d+))?\s*$",
        tail,
        re.I | re.S,
    )
    if not tail_m:
        raise InvalidArgument(f"cannot parse SPARQL solution modifiers: {tail!r}")
    if tail_m.group("limit") and tail_m.group("limit2"):
        raise InvalidArgument("LIMIT given twice")

    pats, filters, optionals, unions, semijoins, binds, values = _parse_group(where_body, prefixes)
    if not pats and not unions:
        raise InvalidArgument("WHERE must contain at least one triple pattern")

    def _branch_frame(branch) -> tuple[DataFrame, list[str]]:
        b_pats, b_filters = branch
        if not b_pats:
            raise InvalidArgument("a UNION branch needs a triple pattern")
        bdf, bvars = _join_patterns([_pattern_frame(triples, p) for p in b_pats])
        for f_expr in b_filters:
            bdf = bdf.where(F.expr(_translate_filter(f_expr)))
        return bdf, bvars

    frames = [_pattern_frame(triples, p) for p in pats]
    spark = triples.sparkSession
    # frames that bind some vars only PARTIALLY (NULL = SPARQL's unbound):
    # unions whose branches bind different var sets, and VALUES tables
    # with UNDEF.  They compile through the unbound-compatible
    # DISTRIBUTION below: Join(Union(B1,B2), R) = Union(Join(B1,R),
    # Join(B2,R)) — every branch join stays a plain equi-join on the
    # branch's OWN bound vars, so the plan is scalable (no NULL-tolerant
    # theta join anywhere).
    partial_frames: list[tuple[str, object]] = []
    for var, vals in values:
        # the triples model is string-typed (s/p/o); numeric VALUES
        # entries bind as their canonical string form so the equi-join
        # against a string column can never hit an ANSI cast error
        if isinstance(var, tuple):  # multi-variable binding TABLE
            if any(x is None for row in vals for x in row):
                partial_frames.append(("values", (list(var), list(vals))))
                continue
            schema = ", ".join(f"`{v}` string" for v in var)
            vdf = local_frame(spark, vals, schema)
            frames.append((vdf, list(var)))
        else:
            vdf = local_frame(spark, [(str(v),) for v in vals], f"`{var}` string")
            frames.append((vdf, [var]))
    union_frames = []
    for branches in unions:
        compiled = [
            (bdf.select(*bvars), bvars) for bdf, bvars in map(_branch_frame, branches)
        ]
        all_vars = sorted({v for _df, vs in compiled for v in vs})
        common = set(all_vars)
        for _df, vs in compiled:
            common &= set(vs)
        if set(all_vars) - common:
            partial_frames.append(("union", (compiled, all_vars)))
            continue
        udf = compiled[0][0]
        for bdf, _v in compiled[1:]:
            udf = udf.unionByName(bdf, allowMissingColumns=True)
        udf = udf.select(*all_vars)
        union_frames.append((udf, all_vars))
    frames += union_frames

    def _pframe_vars(kind: str, payload) -> tuple[set[str], set[str]]:
        """(all vars, PARTIALLY-bound vars) of a partial frame."""
        if kind == "union":
            compiled, all_vars = payload
            common = set(all_vars)
            for _df, vs in compiled:
                common &= set(vs)
            return set(all_vars), set(all_vars) - common
        var_list, rows = payload
        partial = {
            v for i, v in enumerate(var_list) if any(r[i] is None for r in rows)
        }
        return set(var_list), partial

    # a partially-bound var holds NULLs after its frame joins in; a
    # LATER join on that column needs NULL-tolerant compatibility a
    # plain equi-join doesn't have.  OPTIONAL handles it below by
    # NULL-MASK distribution; EXISTS/MINUS blocks and a second
    # partially-binding group on the same var stay refused.  Joins
    # against always-bound frames are safe: they land in ``cur`` FIRST,
    # and the distribution below equi-joins each branch on the vars the
    # branch actually binds.
    sj_vars: set[str] = set()
    for sj_pats, _neg in semijoins:
        for pat in sj_pats:
            sj_vars |= {
                t.value for t in pat if isinstance(t, _Term) and t.kind == "var"
            }
    for i, (kind, payload) in enumerate(partial_frames):
        _av, pvars = _pframe_vars(kind, payload)
        elsewhere = set(sj_vars)
        for j, (k2, p2) in enumerate(partial_frames):
            if j != i:
                elsewhere |= _pframe_vars(k2, p2)[0]
        clash = pvars & elsewhere
        if clash:
            raise InvalidArgument(
                f"variables {sorted(clash)} are only partially bound "
                "(UNION branch / VALUES UNDEF) but reused in EXISTS/MINUS "
                "or another partially-binding group; unbound-compatible "
                "matching against a later NULL-holding column is not "
                "supported there — bind them everywhere"
            )

    # vars that may be SPARQL-unbound in cur — computed BEFORE the
    # union-only base is popped off, so the seeded base's partial vars
    # stay tracked for the OPTIONAL NULL-mask distribution below
    maybe_null: set[str] = set()
    for kind, payload in partial_frames:
        maybe_null |= _pframe_vars(kind, payload)[1]

    if not frames and partial_frames:
        # union-only query: the first partial frame IS the base (its
        # NULLs are genuine unbounds; nothing joins before it)
        kind, payload = partial_frames.pop(0)
        compiled, all_vars = payload  # parser guarantees kind == "union"
        base = compiled[0][0]
        for bdf, _v in compiled[1:]:
            base = base.unionByName(bdf, allowMissingColumns=True)
        frames = [(base.select(*all_vars), all_vars)]
    cur, bound = _join_patterns(frames)

    # unbound-compatible joins by branch distribution
    from collections import defaultdict

    for kind, payload in partial_frames:
        parts: list[DataFrame] = []
        if kind == "union":
            compiled, all_vars = payload
            for bdf, bvars in compiled:
                shared = [v for v in bvars if v in bound]
                parts.append(
                    cur.join(bdf, on=shared) if shared else cur.crossJoin(bdf)
                )
        else:
            var_list, rows = payload
            all_vars = list(var_list)
            groups: dict[tuple, list[tuple]] = defaultdict(list)
            for row in rows:
                mask = tuple(v for v, x in zip(var_list, row) if x is not None)
                groups[mask].append(tuple(x for x in row if x is not None))
            for mask, grows in sorted(groups.items()):
                if not mask:  # an all-UNDEF row constrains nothing
                    parts.extend([cur] * len(grows))
                    continue
                schema = ", ".join(f"`{v}` string" for v in mask)
                gdf = F.broadcast(local_frame(spark, grows, schema))
                shared = [v for v in mask if v in bound]
                parts.append(
                    cur.join(gdf, on=shared) if shared else cur.crossJoin(gdf)
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        for v in all_vars:  # a var UNDEF in every row never got a column
            if v not in out.columns:
                out = out.withColumn(v, F.lit(None).cast("string"))
        cur = out
        bound += [v for v in all_vars if v not in bound]
    for opt_pats, opt_filters in optionals:
        odf, ovars = _join_patterns([_pattern_frame(triples, p) for p in opt_pats])
        # a FILTER inside OPTIONAL is part of the MATCHING (SPARQL's
        # left-join condition): it runs BEFORE the left join, so rows
        # that fail it fall back to the unbound (NULL) case instead of
        # being dropped
        for f_expr in opt_filters:
            odf = odf.where(F.expr(_translate_filter(f_expr)))
        shared = [v for v in ovars if v in bound]
        if not shared:
            raise InvalidArgument("OPTIONAL group shares no variable with the BGP")
        nullable = [v for v in shared if v in maybe_null]
        if not nullable:
            cur = cur.join(odf, on=shared, how="left")
        else:
            # a shared var may be SPARQL-unbound (NULL) on the left —
            # unbound is compatible with ANY binding and the merged
            # solution takes the optional side's value.  Distribute by
            # NULL-mask: cur partitions into 2^|nullable| disjoint
            # groups; each group left-joins on only the vars it has
            # BOUND, and the masked vars fill from the optional side
            # (coalesce of a NULL column).  Every join stays an
            # equi-join; plan size is bounded by the cap below.
            if len(nullable) > 2:
                raise InvalidArgument(
                    f"OPTIONAL shares {len(nullable)} possibly-unbound "
                    f"variables {sorted(nullable)} with the outer group; "
                    "the NULL-mask distribution is capped at 2 — bind "
                    "some of them in every branch"
                )
            always = [v for v in shared if v not in nullable]
            parts: list[DataFrame] = []
            for bits in range(1 << len(nullable)):
                masked = [v for i, v in enumerate(nullable) if bits >> i & 1]
                unmasked = [v for v in nullable if v not in masked]
                grp = cur
                for v in masked:
                    grp = grp.where(F.col(v).isNull())
                for v in unmasked:
                    grp = grp.where(F.col(v).isNotNull())
                o2 = odf
                for v in masked:
                    o2 = o2.withColumnRenamed(v, f"__opt_{v}")
                keys = always + unmasked
                if keys:
                    j = grp.join(o2, on=keys, how="left")
                else:
                    # unbound on EVERY shared var: compatible with all
                    # optional solutions (kept alone only if none exist)
                    j = grp.join(o2, F.lit(True), "left")
                for v in masked:
                    j = j.withColumn(v, F.coalesce(F.col(v), F.col(f"__opt_{v}")))
                    j = j.drop(f"__opt_{v}")
                parts.append(j)
            cur = parts[0]
            for p in parts[1:]:
                cur = cur.unionByName(p, allowMissingColumns=True)
        new_vars = [v for v in ovars if v not in bound]
        bound += new_vars
        # optional-introduced vars are unbound on unmatched rows; masked
        # shared vars may still be NULL when nothing matched
        maybe_null |= set(new_vars)
    for sj_pats, negated in semijoins:
        sdf, svars = _join_patterns([_pattern_frame(triples, p) for p in sj_pats])
        shared = [v for v in svars if v in bound]
        if not shared:
            raise InvalidArgument(
                "EXISTS/NOT EXISTS/MINUS group shares no variable with the BGP"
            )
        cur = cur.join(
            sdf.select(*shared), on=shared, how="left_anti" if negated else "left_semi"
        )
    for b_expr, b_var in binds:
        if b_var in bound:
            raise InvalidArgument(f"BIND target ?{b_var} is already bound")
        cur = cur.withColumn(b_var, F.expr(_translate_filter(b_expr)))
        bound.append(b_var)
    for f_expr in filters:
        cur = cur.where(F.expr(_translate_filter(f_expr)))

    # --- projection ---------------------------------------------------
    items: list[tuple[str, str | None, re.Match | None]] = []
    if select_items == "*":
        items = [(v, None, None) for v in bound]
    else:
        pos = 0
        s = select_items
        while pos < len(s):
            while pos < len(s) and s[pos].isspace():
                pos += 1
            if pos >= len(s):
                break
            if s[pos] == "(":
                end = _balanced(s, pos, "(", ")")
                chunk = s[pos:end]
                agg = _AGG_ITEM_RE.match(chunk)
                if not agg:
                    raise InvalidArgument(f"unsupported SELECT expression {chunk!r}")
                items.append((chunk, agg.group(5), agg))
                pos = end
            else:
                m2 = re.match(r"\?(\w+)", s[pos:])
                if not m2:
                    raise InvalidArgument(f"unsupported SELECT item at {s[pos:]!r}")
                items.append((m2.group(1), None, None))
                pos += m2.end()

    def _agg_col(agg: re.Match, alias: str):
        fn = agg.group(1).lower()
        is_distinct = bool(agg.group(2))
        operand = agg.group(3)
        if operand == "*":
            if fn != "count":
                raise InvalidArgument(f"{fn}(*) is not valid SPARQL")
            return F.count(F.lit(1)).alias(alias)
        col = F.col(operand[1:])
        if fn == "count" and is_distinct:
            return F.count_distinct(col).alias(alias)
        if fn == "sample":
            # SAMPLE may return any value of the group; min is a valid
            # sample and deterministic (so oracle-checkable)
            return F.min(col).alias(alias)
        if fn == "group_concat":
            # concatenation order is unspecified in SPARQL — sort for
            # determinism; SEPARATOR defaults to a single space per spec
            sep_lit = agg.group("sep")
            sep = sep_lit[1:-1] if sep_lit else " "
            vals = F.collect_list(col)
            if is_distinct:
                vals = F.array_distinct(vals)
            return F.array_join(F.array_sort(vals), sep).alias(alias)
        return getattr(F, fn)(col).alias(alias)

    has_agg = any(g is not None for _e, _a, g in items)
    group_vars = []
    if tail_m.group("group"):
        group_vars = [v[1:] for v in re.findall(r"\?\w+", tail_m.group("group"))]
    if has_agg or group_vars:
        aggs = [_agg_col(g, a) for _e, a, g in items if g is not None]
        plain = [e for e, _a, g in items if g is None]
        keys = group_vars or plain
        missing = [p for p in plain if p not in keys]
        if missing:
            raise InvalidArgument(
                f"non-aggregated SELECT vars {missing} must appear in GROUP BY"
            )
        cur = cur.groupBy(*keys).agg(*aggs) if keys else cur.agg(*aggs)
        order_names = [a if g is not None else e for e, a, g in items]
        cur = cur.select(*order_names)
    else:
        cur = cur.select(*[e for e, _a, _g in items])

    if distinct:
        cur = cur.distinct()
    if tail_m.group("order"):
        sorts = []
        for dirn, var, bare in re.findall(
            r"(ASC|DESC)\s*\(\s*\?(\w+)\s*\)|\?(\w+)", tail_m.group("order"), re.I
        ):
            name = var or bare
            col = F.col(name)
            sorts.append(col.desc() if dirn.upper() == "DESC" else col.asc())
        cur = cur.orderBy(*sorts)
    if tail_m.group("offset"):
        cur = cur.offset(int(tail_m.group("offset")))
    limit = tail_m.group("limit") or tail_m.group("limit2")
    if limit:
        cur = cur.limit(int(limit))
    return cur
