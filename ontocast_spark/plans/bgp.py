"""SPARQL basic-graph-pattern (BGP) SELECT over a triples DataFrame.

The reference's query surface is SPARQL against its triple store
(Fuseki SELECT/CONSTRUCT, /root/reference/ontocast/tool/triple_manager/
fuseki.py:188-270; the sublimation STRSTARTS filter at tool/
sublimate_ontology.py:31-72 is operator Q1). This module compiles the
core of that surface — a conjunctive basic graph pattern — into the
exact relational algebra Spark executes natively:

- a triple pattern with constants is a **filtered scan** (the constant
  predicates push down to the parquet/Iceberg scan);
- a shared variable between two patterns is an **equi-join key** (hash
  join; Catalyst/AQE picks broadcast vs shuffle per side size);
- a repeated variable inside one pattern is a **self-equality filter**;
- SELECT DISTINCT is a ``dropDuplicates`` on the projected variables.

This is the textbook BGP-to-SQL mapping (SPARQL entailment-free
semantics = conjunctive queries over the triple relation). The module
covers the full query/update verb surface the reference delegates to
Fuseki:

- OPTIONAL / UNION / MINUS / EXISTS / FILTER -> left joins /
  unionByName / anti and semi joins / Catalyst predicates (`sol_join` /
  `sol_union` / `sol_minus` / `sol_exists` / `bgp_filter`);
- SPARQL 1.1 property paths (``rdfs:subClassOf+``-style) -> joins plus
  an iterative-squaring transitive closure (`path_pairs`);
- aggregates (COUNT/SUM/MIN/MAX/AVG/SAMPLE/GROUP_CONCAT) -> a native
  groupBy (`bgp_aggregate`);
- FILTER builtins: BOUND/STRSTARTS over the term strings, and
  isLiteral/isIRI/LANG/DATATYPE via term metadata threaded through the
  solutions (``bind_term_meta=True``, joined NULL-safely so untagged
  terms still unify); the SPARQL text front end (``plans/sparql.py``)
  compiles the rest of the builtin library, REGEX and CONTAINS
  included, inline;
- CONSTRUCT / ASK / DESCRIBE (`bgp_construct` / `bgp_ask` /
  `bgp_describe`);
- UPDATE: DELETE WHERE, DELETE{}/WHERE{}, INSERT DATA
  (`bgp_delete_where` / `bgp_insert_data`) — doomed sets CONSTRUCTed
  then removed with one anti-join.

Scale: each pattern scans the triples table once with its constants
pushed down; a pattern with a constant predicate over a
``partitionBy(pred)``-bucketed table is partition pruning. Join order
follows pattern order — list the most selective pattern first (Spark's
CBO/AQE re-orders within a star join, but explicit ordering is free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_SLOTS = ("subj", "pred", "obj")

#: Exact suffixes of the term-metadata columns ``bind_term_meta`` adds.
#: Filter on these (not on a ``"__" in c`` substring) so a legitimate
#: SPARQL variable like ``?my__var`` is never mistaken for metadata.
META_SUFFIXES = ("__is_literal", "__lang", "__datatype")


def is_meta_col(name: str) -> bool:
    """True for the internal term-metadata columns threaded through
    solutions by ``bind_term_meta`` (``<var>__is_literal`` etc.)."""
    return name.endswith(META_SUFFIXES)


class Path:
    """AST node for the supported SPARQL 1.1 property-path subset:
    ``iri``, inverse ``^p``, sequence ``p/q``, alternative ``p|q``,
    ``p+`` (one or more), ``p*`` (zero or more), ``p?`` (zero or one),
    negated property sets ``!(:p|^:q)``.
    Build with the factory helpers (:func:`p_iri`, :func:`p_seq`, ...)
    or parse the SPARQL surface syntax with :func:`parse_path`
    (IRIs must be ``<>``-bracketed there — the reference's ontology
    queries, e.g. ``rdfs:subClassOf+``, delegate to Fuseki in
    fuseki.py:188-270; this evaluates them natively)."""

    __slots__ = ("kind", "children", "iri")

    def __init__(self, kind: str, children: tuple = (), iri: str | None = None):
        self.kind = kind
        self.children = children
        self.iri = iri

    def __repr__(self):
        return f"Path({self.kind}, {self.iri or self.children})"


def p_iri(iri: str) -> Path:
    return Path("iri", iri=iri)


def p_inv(p: Path) -> Path:
    return Path("inv", (p,))


def p_seq(*ps: Path) -> Path:
    if len(ps) == 1:
        return ps[0]
    return Path("seq", tuple(ps))


def p_alt(*ps: Path) -> Path:
    if len(ps) == 1:
        return ps[0]
    return Path("alt", tuple(ps))


def p_plus(p: Path) -> Path:
    return Path("plus", (p,))


def p_star(p: Path) -> Path:
    return Path("star", (p,))


def p_opt(p: Path) -> Path:
    return Path("opt", (p,))


def p_nps(iris) -> Path:
    """Negated property set, forward members: any edge whose predicate
    is NOT one of ``iris`` (SPARQL 1.1 ``!(:p|:q)``). The surface
    form's inverse members (``!(^:p)``) compose as
    ``p_inv(p_nps([...]))`` per the spec's translation (§18.2.2.3)."""
    return Path("nps", iri=tuple(iris))


def parse_path(expr: str) -> Path:
    """Recursive-descent parser for the path surface syntax:
    ``<iri>``, ``^``, ``/``, ``|``, postfix ``+ * ?``, parentheses,
    negated property sets ``!<iri>`` / ``!(<iri>|^<iri>|...)``.
    Precedence (loosest first): ``|`` < ``/`` < postfix < ``^``/atom.
    IRIs MUST be angle-bracketed — raw IRIs contain ``/``."""
    pos = 0

    def peek() -> str:
        nonlocal pos
        while pos < len(expr) and expr[pos].isspace():
            pos += 1
        return expr[pos] if pos < len(expr) else ""

    def iri_member():
        nonlocal pos
        if peek() != "<":
            raise ValueError(
                f"negated property sets take <iri> members at {pos} "
                f"in {expr!r}"
            )
        end = expr.index(">", pos)
        iri = expr[pos + 1:end]
        pos = end + 1
        return iri

    def nps() -> Path:
        nonlocal pos
        fwd: list = []
        inv: list = []

        def member():
            nonlocal pos
            rev = peek() == "^"
            if rev:
                pos += 1
            (inv if rev else fwd).append(iri_member())

        if peek() == "(":
            pos += 1
            if peek() != ")":
                member()
                while peek() == "|":
                    pos += 1
                    member()
            if peek() != ")":
                raise ValueError(f"unbalanced ( in path: {expr!r}")
            pos += 1
        else:
            member()
        arms = []
        if fwd or not inv:
            arms.append(p_nps(fwd))
        if inv:
            arms.append(p_inv(p_nps(inv)))
        return postfix(p_alt(*arms))

    def atom() -> Path:
        nonlocal pos
        c = peek()
        if c == "!":
            pos += 1
            return nps()
        if c == "^":
            pos += 1
            return p_inv(atom())
        if c == "(":
            pos += 1
            inner = alt()
            if peek() != ")":
                raise ValueError(f"unbalanced ( in path: {expr!r}")
            pos += 1
            return postfix(inner)
        if c == "<":
            end = expr.index(">", pos)
            iri = expr[pos + 1:end]
            pos = end + 1
            return postfix(p_iri(iri))
        raise ValueError(f"expected <iri>, ^ or ( at {pos} in {expr!r}")

    def postfix(p: Path) -> Path:
        nonlocal pos
        while True:
            c = peek()
            if c == "+":
                pos += 1
                p = p_plus(p)
            elif c == "*":
                pos += 1
                p = p_star(p)
            elif c == "?":
                pos += 1
                p = p_opt(p)
            else:
                return p

    def seq() -> Path:
        nonlocal pos
        parts = [atom()]
        while peek() == "/":
            pos += 1
            parts.append(atom())
        return p_seq(*parts)

    def alt() -> Path:
        nonlocal pos
        parts = [seq()]
        while peek() == "|":
            pos += 1
            parts.append(seq())
        return p_alt(*parts)

    out = alt()
    if peek():
        raise ValueError(f"trailing input at {pos} in path {expr!r}")
    return out


def _graph_nodes(triples: DataFrame) -> DataFrame:
    """All RDF terms of the graph as (s, o=s) identity pairs — the
    SPARQL zero-length-path relation (``p*``/``p?`` include it)."""
    nodes = (
        triples.select(F.col("subj").alias("s"))
        .union(triples.select(F.col("obj").alias("s")))
        .distinct()
    )
    return nodes.withColumn("o", F.col("s"))


def _closure(base: DataFrame, max_iter: int) -> DataFrame:
    """Transitive closure of (s, o) pairs by iterative squaring —
    doubles the reachable path length per round (O(log diameter)
    rounds, one shuffle join each), ``localCheckpoint`` truncating the
    lineage exactly like operators/cc.py's label loop. Meant for
    ontology-sized hierarchies (subClassOf trees); at data scale the
    closure itself is the output so its size, not this loop, is the
    cost."""
    r = base.distinct().localCheckpoint()
    for _ in range(max_iter):
        x, y = r.alias("x"), r.alias("y")
        nxt = (
            x.join(y, F.col("x.o") == F.col("y.s"))
            .select(F.col("x.s").alias("s"), F.col("y.o").alias("o"))
            .distinct()
        )
        new = nxt.join(r, ["s", "o"], "left_anti")
        if new.isEmpty():
            break
        r = r.union(new).distinct().localCheckpoint()
    return r


def path_pairs(
    triples: DataFrame, path: Path | str, max_iter: int = 25
) -> DataFrame:
    """Evaluate a property path to its (s, o) solution pairs.

    Each AST node is relational algebra: an IRI is a filtered scan of
    the triple table (predicate pushdown), ``^`` swaps the columns,
    ``/`` is an equi-join on the middle node, ``|`` a distinct union,
    ``+`` the iterative-squaring closure, ``*``/``?`` add the
    zero-length identity over the graph's terms (SPARQL 1.1 semantics).
    """
    if isinstance(path, str):
        path = parse_path(path)
    k = path.kind
    if k == "iri":
        return triples.filter(F.col("pred") == F.lit(path.iri)).select(
            F.col("subj").alias("s"), F.col("obj").alias("o")
        )
    if k == "nps":
        # negation needs the complement scan by definition; the NOT IN
        # still pushes to the source as a predicate filter
        cond = ~F.col("pred").isin(*path.iri) if path.iri else F.lit(True)
        return triples.filter(cond).select(
            F.col("subj").alias("s"), F.col("obj").alias("o")
        )
    if k == "inv":
        inner = path_pairs(triples, path.children[0], max_iter)
        return inner.select(F.col("o").alias("s"), F.col("s").alias("o"))
    if k == "seq":
        out = path_pairs(triples, path.children[0], max_iter)
        for child in path.children[1:]:
            nxt = path_pairs(triples, child, max_iter).select(
                F.col("s").alias("_m"), F.col("o").alias("_o")
            )
            out = (
                out.join(nxt, out.o == nxt._m)
                .select("s", F.col("_o").alias("o"))
                .distinct()
            )
        return out
    if k == "alt":
        out = path_pairs(triples, path.children[0], max_iter)
        for child in path.children[1:]:
            out = out.union(path_pairs(triples, child, max_iter))
        return out.distinct()
    if k == "plus":
        return _closure(
            path_pairs(triples, path.children[0], max_iter), max_iter
        )
    if k == "star":
        plus = _closure(
            path_pairs(triples, path.children[0], max_iter), max_iter
        )
        return plus.union(_graph_nodes(triples)).distinct()
    if k == "opt":
        inner = path_pairs(triples, path.children[0], max_iter)
        return inner.union(_graph_nodes(triples)).distinct()
    raise ValueError(f"unknown path kind {k!r}")


_TERM_META = (("obj_is_literal", "__is_literal", "false"),
               ("obj_lang", "__lang", "null"),
               ("obj_datatype", "__datatype", "null"))


def _order_patterns(patterns: list) -> list:
    """Greedy selectivity ordering for one BGP's patterns — inner
    joins commute, so any order is result-identical, but intermediate
    sizes are not: seed with the most constant-bound pattern, then
    repeatedly take the most-constant pattern sharing a variable with
    the already-bound set, deferring disconnected patterns (cross
    joins) to the smallest possible frontier. This is the classic
    variable-counting heuristic (Stocker et al., WWW'08, the approach
    Jena's default reorderer uses) — without it a user-written order
    like ``{ ?s ?p ?o . ?s rdf:type :T }`` drags the whole graph into
    the first join at 100x scale. Ties keep the written order, so
    equally-selective queries plan exactly as authored."""
    def score(pat) -> int:
        n = 0
        for term in pat:
            if isinstance(term, Path):
                n += 1  # a path filters predicates but fans out
            elif not (isinstance(term, str) and term.startswith("?")):
                n += 2  # constant slot
        return n

    def pat_vars(pat) -> set:
        return {t[1:] for t in pat
                if isinstance(t, str) and t.startswith("?")}

    remaining = list(range(len(patterns)))
    order: list = []
    bound: set = set()
    while remaining:
        pool = remaining
        if order:
            pool = [i for i in remaining
                    if pat_vars(patterns[i]) & bound] or remaining
        best = max(pool, key=lambda i: (score(patterns[i]), -i))
        remaining.remove(best)
        order.append(best)
        bound |= pat_vars(patterns[best])
    return [patterns[i] for i in order]


def bgp_select(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    distinct: bool = True,
    bind_term_meta: bool = False,
) -> DataFrame:
    """patterns: (s, p, o) terms; strings starting with ``?`` are
    variables, everything else is a constant filter. A predicate term
    that is a :class:`Path` (or a ``<``-bracketed path expression
    string like ``"<http://x#subClassOf>+"``) evaluates as a property
    path: the pattern scans the path's (s, o) solution pairs instead of
    the raw triple slots. Returns one column per variable (without the
    ``?``), rows = pattern matches joined on shared variables.

    ``bind_term_meta=True`` additionally threads RDF term metadata
    through the solutions when the triple table carries it
    (``obj_is_literal`` / ``obj_lang`` / ``obj_datatype`` columns):
    each variable gains ``<var>__is_literal`` / ``__lang`` /
    ``__datatype`` columns (subject/predicate bindings are never
    literals). The :func:`fn_is_literal` / :func:`fn_lang` /
    :func:`fn_datatype` FILTER builtins read them. Because the metadata
    columns join along with the variable, a variable bound at an
    object position in one pattern and a subject position in another
    only unifies on non-literal terms — the term-aware equality SPARQL
    requires and plain string join would miss.

    **Named graphs**: a 4-term pattern ``(s, p, o, g)`` additionally
    binds/filters the triple table's ``graph`` column (SPARQL
    ``GRAPH g { s p o }``); a shared ``?g`` across the block's
    patterns joins them within one graph, exactly like any other
    variable. Requires the table to carry a ``graph`` column."""
    if not patterns:
        raise ValueError("empty basic graph pattern")
    if any(len(p) == 4 for p in patterns) and "graph" not in triples.columns:
        raise ValueError(
            "GRAPH patterns need a 'graph' column on the triple table"
        )
    meta_srcs: list = []
    if bind_term_meta:
        if "obj_is_literal" not in triples.columns:
            raise ValueError(
                "bind_term_meta needs an obj_is_literal column"
            )
        for src, sfx, dflt in _TERM_META:
            if src in triples.columns:
                meta_srcs.append(
                    (src, sfx, dflt, triples.schema[src].dataType)
                )
            else:
                # the table lacks this metadata column (e.g. obj_lang
                # merged into obj_datatype at an API boundary): bind
                # the neutral default so lang()/datatype() answer
                # unbound instead of dying on an unresolved column
                meta_srcs.append((None, sfx, dflt, StringType()))
    result: DataFrame | None = None
    for pat in _order_patterns(patterns):
        s, p, o = pat[0], pat[1], pat[2]
        g = pat[3] if len(pat) == 4 else None
        is_path = isinstance(p, Path) or (
            isinstance(p, str) and p.startswith("<")
        )
        if is_path:
            src = triples
            if g is not None:
                if isinstance(g, str) and g.startswith("?"):
                    raise ValueError(
                        "property paths need a constant GRAPH IRI "
                        "(variable-graph paths are unsupported)"
                    )
                # scope the whole path evaluation (closures included)
                # to the named graph's edges
                src = src.filter(F.col("graph") == F.lit(g))
            elif "graph" in triples.columns:
                # default-graph semantics hold for paths too: only
                # NULL-graph rows feed the path relation
                src = src.filter(F.col("graph").isNull())
            t = path_pairs(src, p)
            slot_terms = [("s", s), ("o", o)]
            pattern_meta: list = []  # path endpoints are IRIs/nodes
        else:
            t = triples
            slot_terms = list(zip(_SLOTS, (s, p, o)))
            if g is not None:
                # SPARQL: GRAPH ?g ranges over NAMED graphs only — a
                # NULL graph value is the default graph and never binds
                if isinstance(g, str) and g.startswith("?"):
                    t = t.filter(F.col("graph").isNotNull())
                slot_terms.append(("graph", g))
            elif "graph" in triples.columns:
                # spec default-graph semantics on a quad table: a plain
                # pattern matches the DEFAULT graph (NULL rows) only —
                # the reference's discovery query relies on this (its
                # UNION arm without GRAPH covers the default graph);
                # union-default-graph behavior = drop/null the column
                t = t.filter(F.col("graph").isNull())
            pattern_meta = meta_srcs
        seen: dict[str, str] = {}  # var -> first slot bound
        cols = []
        for slot, term in slot_terms:
            if isinstance(term, str) and term.startswith("?"):
                var = term[1:]
                if var in seen:  # repeated var in one pattern
                    t = t.filter(F.col(slot) == F.col(seen[var]))
                else:
                    seen[var] = slot
                    cols.append(F.col(slot).alias(var))
                    for src, sfx, dflt, dtype in pattern_meta:
                        val = (
                            F.col(src)
                            if slot == "obj" and src is not None
                            else F.expr(dflt).cast(dtype)
                        )
                        cols.append(val.alias(f"{var}{sfx}"))
            else:
                t = t.filter(F.col(slot) == F.lit(term))
        # all-constant pattern = existence check (ASK semantics): one
        # zero-column row if any match, empty otherwise — limit(1)
        # prevents row multiplication through the cross join
        t = t.select(*cols) if cols else t.select().limit(1)
        if result is None:
            result = t
        else:
            result = _join_solutions(result, t)
    return result.dropDuplicates() if distinct else result


def _join_solutions(result: DataFrame, t: DataFrame, how: str = "inner"):
    """Join two solution sets on their shared variables. Term-metadata
    columns (``__``-suffixed, from ``bind_term_meta``) are nullable
    (untagged lang, plain datatype), so they join NULL-safely — a
    column-name join would drop valid unifications whose metadata is
    NULL on both sides."""
    shared = sorted(set(result.columns) & set(t.columns))
    meta_shared = [c for c in shared if is_meta_col(c)]
    if not shared:
        if how != "inner":
            raise ValueError("outer solution join needs a shared variable")
        return result.crossJoin(t)
    if not meta_shared:
        return result.join(t, on=shared, how=how)
    plain = [c for c in shared if not is_meta_col(c)]
    lhs, rhs = result.alias("_l"), t.alias("_r")
    cond = F.lit(True)
    for c in plain:
        cond = cond & (F.col(f"_l.{c}") == F.col(f"_r.{c}"))
    for c in meta_shared:
        cond = cond & F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
    return lhs.join(rhs, cond, how).select(
        *[F.col(f"_l.{c}").alias(c) for c in result.columns],
        *[F.col(f"_r.{c}").alias(c) for c in t.columns if c not in shared],
    )


def _compat_join(
    left: DataFrame,
    right: DataFrame,
    certain: list[str],
    null_shared: list[str],
    how: str,
) -> DataFrame:
    """SPARQL compatibility join when some shared variables may be
    unbound (NULL): equi-conjuncts on the certainly-bound shared
    variables, ``isNull | equal`` compatibility on the rest, and the
    merged solution takes the bound side's value (coalesce). With at
    least one equi-conjunct Catalyst still picks a hash join and the
    compatibility terms ride as post-join predicates."""
    shared = set(certain) | set(null_shared)
    lhs, rhs = left.alias("_l"), right.alias("_r")
    cond = F.lit(True)
    for c in certain:
        cond = cond & (F.col(f"_l.{c}") == F.col(f"_r.{c}"))
    for c in null_shared:
        lv, rv = F.col(f"_l.{c}"), F.col(f"_r.{c}")
        cond = cond & (lv.isNull() | rv.isNull() | (lv == rv))
    return lhs.join(rhs, cond, how).select(
        *[
            F.coalesce(F.col(f"_l.{c}"), F.col(f"_r.{c}")).alias(c)
            if c in null_shared else F.col(f"_l.{c}").alias(c)
            for c in left.columns
        ],
        *[F.col(f"_r.{c}").alias(c) for c in right.columns
          if c not in shared],
    )


def sol_join(
    left: DataFrame,
    right: DataFrame,
    left_nullable=(),
    right_nullable=(),
    how: str = "inner",
) -> DataFrame:
    """Join two solution sets under SPARQL compatibility semantics
    (spec §18.5 Join / LeftJoin) with statically-known per-side
    possibly-unbound variables. Two solutions are compatible iff every
    shared variable bound in both is equal; the merged solution takes
    the bound side's value.

    Scale: when no shared variable can be NULL this is a plain hash
    equi-join (:func:`_join_solutions`). When some can, the certainly
    -bound shared variables still anchor a hash join. Only when EVERY
    shared variable is nullable does the join need a compatibility
    scan — and then the all-bound bulk is split off to a plain hash
    equi-join, leaving the nested-loop path to the NULL-carrying
    remainder (mirroring :func:`sol_minus`'s split-path plan)."""
    ln = set(left_nullable) & set(left.columns)
    rn = set(right_nullable) & set(right.columns)
    shared = sorted(set(left.columns) & set(right.columns))
    plain = [c for c in shared if not is_meta_col(c)]
    null_shared = [c for c in plain if c in ln or c in rn]
    if not null_shared:
        return _join_solutions(left, right, how)
    if any(is_meta_col(c) for c in shared):
        raise ValueError(
            "term-metadata columns cannot join across possibly-unbound "
            "variables"
        )
    certain = [c for c in plain if c not in null_shared]
    if certain:
        return _compat_join(left, right, certain, null_shared, how)
    lnull = [c for c in null_shared if c in ln]
    rnull = [c for c in null_shared if c in rn]
    if how == "left":
        # a left split keeps every left row exactly once per match:
        # the all-bound bulk rides a hash equi-join when the right
        # side is statically bound; splitting the right would break
        # unmatched-row detection, so a nullable right keeps the
        # single compatibility join (statically rare: a nested body
        # whose own solutions can be unbound)
        if not rnull:
            lb = left.filter(_all_bound(lnull))
            lrest = left.filter(~_all_bound(lnull))
            bound = lb.join(right, on=plain, how="left")
            rest = _compat_join(lrest, right, [], null_shared, "left")
            return bound.unionByName(rest)
        return _compat_join(left, right, [], null_shared, "left")
    # inner: partition both sides on all-bound so the dominant
    # bound×bound quadrant is a plain hash equi-join
    lb = left.filter(_all_bound(lnull)) if lnull else left
    rb = right.filter(_all_bound(rnull)) if rnull else right
    parts = [lb.join(rb, on=plain, how="inner")]
    if rnull:
        rrest = right.filter(~_all_bound(rnull))
        parts.append(_compat_join(lb, rrest, [], null_shared, "inner"))
    if lnull:
        lrest = left.filter(~_all_bound(lnull))
        parts.append(_compat_join(lrest, right, [], null_shared, "inner"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sol_union(sols: list[DataFrame], distinct: bool = True) -> DataFrame:
    """Union solution sets by variable name: variables missing in one
    branch become NULL (unbound) columns, per SPARQL's UNION
    semantics. ``distinct=True`` (the default) deduplicates; spec §18.5
    UNION is a multiset union, so bag-semantics callers (plain
    non-DISTINCT SELECT) pass ``distinct=False``."""
    if not sols:
        raise ValueError("empty solution union")
    all_vars = sorted({c for s in sols for c in s.columns})
    # NULL-fill a missing variable with the dtype it has in the first
    # arm that binds it (a BIND/aggregate arm may make it numeric —
    # casting to string would break unionByName)
    dtypes = {}
    for s in sols:
        for v, t in s.dtypes:
            dtypes.setdefault(v, t)
    aligned = [
        s.select(
            *[
                (F.col(v) if v in s.columns
                 else F.lit(None).cast(dtypes[v])).alias(v)
                for v in all_vars
            ]
        )
        for s in sols
    ]
    out = aligned[0]
    for s in aligned[1:]:
        out = out.unionByName(s)
    return out.dropDuplicates() if distinct else out


def _all_bound(shared: list[str]):
    cond = F.lit(True)
    for v in shared:
        cond = cond & F.col(v).isNotNull()
    return cond


def sol_minus(
    result: DataFrame, minus: DataFrame, left_nullable: bool = True
) -> DataFrame:
    """SPARQL ``MINUS`` over a precompiled probe solution set: remove
    solutions for which some probe solution is compatible AND shares
    at least one bound variable (SPARQL 1.1 §8.3.3). Spec corners
    honored: with NO shared variable nothing is removed, and an UNBOUND
    (NULL, from OPTIONAL) value on the left is compatible with anything
    but does not count toward the domain overlap.

    Scale: the probe solutions must be NULL-free (the compiler rejects
    nullable MINUS bodies). A fully-bound left solution is then removed
    iff an equal probe row exists on every shared variable — a plain
    hash ``left_anti`` equi-join, never a nested-loop. Only left rows
    with an actual NULL in a shared variable (possible only downstream
    of OPTIONAL / UNION / VALUES UNDEF / BIND) take the general
    compatibility path; with ``left_nullable=False`` (statically known
    all-bound solutions) that branch is not even planned."""
    shared = sorted(set(result.columns) & set(minus.columns))
    if not shared:
        return result
    probe = minus.select(*shared)
    if not left_nullable:
        return result.join(probe, on=shared, how="left_anti")
    bound = result.filter(_all_bound(shared)).join(
        probe, on=shared, how="left_anti"
    )
    lhs = result.filter(~_all_bound(shared)).alias("_l")
    rhs = probe.alias("_r")
    compatible = F.lit(True)
    overlap = F.lit(False)
    for v in shared:
        lv, rv = F.col(f"_l.{v}"), F.col(f"_r.{v}")
        compatible = compatible & (lv.isNull() | rv.isNull() | (lv == rv))
        overlap = overlap | (lv.isNotNull() & rv.isNotNull())
    rest = lhs.join(rhs, compatible & overlap, "left_anti").select(
        *[F.col(f"_l.{c}").alias(c) for c in result.columns]
    )
    return bound.unionByName(rest)


def sol_exists(
    result: DataFrame,
    probe: DataFrame,
    negate: bool = False,
    left_nullable: bool = True,
) -> DataFrame:
    """SPARQL ``FILTER EXISTS { P }`` / ``FILTER NOT EXISTS { P }`` over
    a precompiled probe solution set: keep solutions for which the
    probe has (no) match under the current bindings — a semi (anti)
    join on the shared variables. Spec substitution semantics (§8.1.1):
    only BOUND values substitute, so an unbound (NULL, from OPTIONAL)
    shared variable stays free and is compatible with any probe value.
    With NO shared variable the probe is independent — expressed lazily
    as a ``limit(1)`` join so no Spark action runs at plan-build time.

    Scale: same split-path plan as :func:`sol_minus` — probe solutions
    are NULL-free (the compiler rejects nullable EXISTS bodies), so
    fully-bound left rows ride a plain hash ``left_semi``/``left_anti``
    equi-join; only the NULL-carrying remainder keeps the nested-loop
    compatibility condition, and ``left_nullable=False`` removes that
    branch from the plan."""
    shared = sorted(set(result.columns) & set(probe.columns))
    how = "left_anti" if negate else "left_semi"
    if not shared:
        one = probe.limit(1).select(F.lit(1).alias("__probe"))
        return result.join(one, F.lit(True), how)
    probe = probe.select(*shared)
    if not left_nullable:
        return result.join(probe, on=shared, how=how)
    bound = result.filter(_all_bound(shared)).join(probe, on=shared, how=how)
    lhs = result.filter(~_all_bound(shared)).alias("_l")
    rhs = probe.alias("_r")
    cond = F.lit(True)
    for v in shared:
        lv, rv = F.col(f"_l.{v}"), F.col(f"_r.{v}")
        cond = cond & (lv.isNull() | (lv == rv))
    rest = lhs.join(rhs, cond, how).select(
        *[F.col(f"_l.{c}").alias(c) for c in result.columns]
    )
    return bound.unionByName(rest)


def bgp_values(
    result: DataFrame | None,
    spark,
    variables: list[str],
    rows: list[tuple],
    left_nullable: set | None = None,
) -> DataFrame:
    """SPARQL ``VALUES``: constrain (or seed) solutions with an inline
    table. Compatibility join on the shared variables — an UNBOUND
    value on either side (NULL: OPTIONAL on the solution side, UNDEF
    in the inline data) is compatible with anything, and the bound
    side's binding wins (spec join semantics). The inline data is a
    MULTISET (spec §10.2): duplicate rows — including repeated UNDEF
    wildcards — multiply the joined solutions, so no dedup here; a
    SELECT DISTINCT collapses them downstream. The inline table is
    tiny, so it broadcasts; with no prior solutions it IS the solution
    set.

    ``left_nullable`` names the solution variables that may be NULL
    (the text front-end's statically-tracked maybe-unbound set); for a
    shared variable with no UNDEF in the inline data and not in that
    set, the compatibility disjunction collapses to a plain equality —
    giving Catalyst an equi-conjunct so the join plans as a hash join
    rather than a BroadcastNestedLoopJoin. ``None`` (the default)
    assumes every left variable may be NULL, the conservative
    programmatic-API behavior."""
    inline = spark.createDataFrame(
        rows, ", ".join(f"{v} string" for v in variables)
    )
    if result is None:
        return inline
    shared = sorted(set(result.columns) & set(inline.columns))
    if not shared:
        return result.crossJoin(F.broadcast(inline))
    lhs, rhs = result.alias("_l"), F.broadcast(inline.alias("_r"))
    cond = F.lit(True)
    for v in shared:
        lv, rv = F.col(f"_l.{v}"), F.col(f"_r.{v}")
        idx = variables.index(v)
        no_undef = all(r[idx] is not None for r in rows)
        if no_undef and left_nullable is not None \
                and v not in left_nullable:
            cond = cond & (lv == rv)
        else:
            cond = cond & (lv.isNull() | rv.isNull() | (lv == rv))
    extra = [v for v in inline.columns if v not in shared]
    return lhs.join(rhs, cond, "inner").select(
        *[
            F.coalesce(F.col(f"_l.{c}"), F.col(f"_r.{c}")).alias(c)
            if c in shared else F.col(f"_l.{c}").alias(c)
            for c in result.columns
        ],
        *[F.col(f"_r.{c}").alias(c) for c in extra],
    )


def bgp_filter(result: DataFrame, condition) -> DataFrame:
    """SPARQL FILTER: a Catalyst predicate over the solution variables
    (``F.col("price") > 100``, ``F.col("name").startswith(...)``, any
    Column expression or SQL string) — pushes down like any filter."""
    return result.filter(condition)


def bgp_ask(triples: DataFrame, patterns: list[tuple[str, str, str]]) -> bool:
    """SPARQL ASK: does the pattern have any solution? Evaluates with a
    ``limit(1)`` probe — the shuffle stops as soon as one solution
    materializes."""
    return not bgp_select(triples, patterns, distinct=False).limit(1).isEmpty()


def bgp_describe(triples: DataFrame, iri: str) -> DataFrame:
    """SPARQL DESCRIBE (concise-bounded-description lite): every triple
    where the IRI is subject or object — one predicate-pushdown scan
    with an OR filter, no join."""
    return triples.filter(
        (F.col("subj") == F.lit(iri)) | (F.col("obj") == F.lit(iri))
    )


def bgp_describe_resources(
    triples: DataFrame, resources: DataFrame
) -> DataFrame:
    """SPARQL ``DESCRIBE ?var WHERE { ... }``: describe every resource
    the WHERE binds to the variable — all triples where a described
    resource is subject or object. ``resources`` is a one-column
    (``r``) frame of resource terms. Evaluated as TWO hash semi-joins
    (subject side + object side) unioned and deduplicated — the naive
    ``subj = r OR obj = r`` condition has no equi-conjunct and would
    plan as a nested-loop join; the split form stays a pair of
    broadcast/shuffled hash joins at any scale."""
    res = resources.select(F.col("r")).where(F.col("r").isNotNull()) \
        .distinct()
    subj_hits = triples.join(
        res.withColumnRenamed("r", "subj"), "subj", "left_semi"
    )
    obj_hits = triples.join(
        res.withColumnRenamed("r", "obj"), "obj", "left_semi"
    )
    return subj_hits.unionByName(obj_hits).dropDuplicates(
        ["subj", "pred", "obj"]
    )


def bgp_delete_where(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    delete: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """SPARQL ``DELETE WHERE`` / ``DELETE {} WHERE {}``: with no
    ``delete`` template, every triple an instantiation of ``patterns``
    matches is removed (DELETE WHERE semantics); with one, only the
    template's instantiations over the WHERE solutions are removed (the
    full DELETE/WHERE form — the WHERE acts as a condition). The
    reference mutates graphs with rdflib ``remove`` / Fuseki updates;
    this is the set-oriented form: doomed triples are CONSTRUCTed from
    the solutions, then removed with ONE anti-join on
    (subj, pred, obj) — never a per-row delete loop."""
    doomed = bgp_construct(bgp_select(triples, patterns), delete or patterns)
    return triples.join(doomed, ["subj", "pred", "obj"], "left_anti")


def bgp_modify(
    triples: DataFrame,
    solutions: DataFrame,
    delete: list[tuple[str, str, str]] | None = None,
    insert: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """SPARQL 1.1 Update Modify (``DELETE { } INSERT { } WHERE { }``,
    either template optional — SPARQL 1.1 Update §3.1.3): both
    templates instantiate over the SAME ``solutions`` set, which the
    caller evaluated against the PRE-update graph; deletes apply
    before inserts, so a triple both deleted and re-inserted survives.
    The reference mutates graphs with per-statement rdflib/Fuseki
    updates; this is the set-oriented form — doomed triples leave via
    ONE (subj, pred, obj) anti-join, inserted triples enter via one
    anti-join (set semantics: rows already present keep their term
    metadata, mirroring :func:`bgp_insert_data`) plus a union. Both
    joins are hash equi-joins; template instantiation is a single
    explode with no shuffle beyond the template dedup."""
    if not delete and not insert:
        raise ValueError("modify needs a DELETE or INSERT template")
    out = triples
    if delete:
        doomed = bgp_construct(solutions, delete)
        out = out.join(doomed, ["subj", "pred", "obj"], "left_anti")
    if insert:
        new = bgp_construct(solutions, insert)
        extra = [
            c for c in triples.columns if c not in ("subj", "pred", "obj")
        ]
        if extra:
            new = new.select(
                "subj", "pred", "obj",
                *[F.lit(None).cast(triples.schema[c].dataType).alias(c)
                  for c in extra],
            )
        fresh = new.join(
            out.select("subj", "pred", "obj"),
            ["subj", "pred", "obj"],
            "left_anti",
        )
        out = out.unionByName(fresh)
    return out


def bgp_insert_data(
    triples: DataFrame, rows: list[tuple[str, str, str]]
) -> DataFrame:
    """SPARQL ``INSERT DATA``: add ground triples, set semantics
    (already-present triples do not duplicate). New rows are anti-joined
    against the existing (subj, pred, obj) keys BEFORE the union — a
    dedup after the union would pick the surviving row
    nondeterministically and could null out an existing row's term
    metadata (obj_is_literal / obj_lang / obj_datatype); this way
    existing rows and their metadata always win."""
    if not rows:
        return triples
    spark = triples.sparkSession
    new = spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).dropDuplicates(["subj", "pred", "obj"])
    extra = [c for c in triples.columns if c not in ("subj", "pred", "obj")]
    if extra:
        new = new.select(
            "subj", "pred", "obj",
            *[F.lit(None).cast(triples.schema[c].dataType).alias(c)
              for c in extra],
        )
    # INSERT DATA literals are a handful of ground rows — broadcast the
    # existing-key probe side? No: the PROBE is the big table; anti-join
    # the small new side against it, then union. The anti-join's build
    # side (new) broadcasts automatically.
    fresh = new.join(
        triples.select("subj", "pred", "obj"),
        ["subj", "pred", "obj"],
        "left_anti",
    )
    return triples.unionByName(fresh)


_AGG_FNS = {
    "count": lambda c: F.count(c),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "avg": lambda c: F.avg(c),
    # SPARQL SAMPLE picks an arbitrary member; min makes it
    # deterministic and rerun-stable (allowed by the spec)
    "sample": lambda c: F.min(c),
}


def bgp_aggregate(
    solutions: DataFrame,
    group_vars: list[str],
    aggs: list[tuple[str, str, str]],
    concat_sep: str = " ",
) -> DataFrame:
    """SPARQL 1.1 aggregates over a solution set: ``GROUP BY
    group_vars`` with ``aggs = [(fn, var, alias)]`` (or
    ``(fn, var, alias, distinct)`` — a 4th element applies the
    SPARQL ``DISTINCT`` set-modifier inside the aggregate; a 5th
    non-None element overrides ``concat_sep`` for that GROUP_CONCAT,
    the text front-end's ``; SEPARATOR="..."`` clause), fn one of
    count / sum / min / max / avg / sample / group_concat, and
    ``("count", "*", alias)`` for ``COUNT(*)``. Maps 1:1 onto a
    DataFrame groupBy — partial (map-side) aggregation and AQE come
    free; DISTINCT variants stay single-aggregation (Spark's
    distinct-aggregate rewrite — count_distinct / sum_distinct /
    collect_set). SPARQL semantics preserved: aggregates skip unbound
    (NULL) bindings, exactly like Spark's; GROUP_CONCAT sorts its
    members (the spec leaves order undefined — sorting makes the
    output deterministic at any parallelism); sum/avg cast through
    double (SPARQL numeric promotion over our string-typed terms);
    DISTINCT is a semantic no-op for min/max/sample, and
    ``AVG(DISTINCT)`` divides the distinct sum by the distinct count
    (NULL on empty groups, like plain AVG)."""
    if not aggs:
        raise ValueError("empty aggregate list")
    exprs = []
    for fn, var, alias, *rest in aggs:
        distinct = bool(rest and rest[0])
        if fn == "count" and var == "*":
            if distinct:
                # distinct SOLUTIONS within the group: countDistinct
                # over a struct of the non-key columns (a bare
                # multi-column count_distinct would drop rows with
                # any unbound variable). Internal !-prefixed columns
                # (blank nodes, derived agg args) are existentials,
                # not in-scope variables — excluded from the identity
                others = [c for c in solutions.columns
                          if c not in group_vars
                          and not c.startswith("!")]
                exprs.append(F.count_distinct(
                    F.struct(*others) if others else F.lit(1)
                ).alias(alias))
                continue
            exprs.append(F.count(F.lit(1)).alias(alias))
            continue
        col = F.col(var)
        if fn in ("sum", "avg"):
            # try_cast: a non-numeric term in a SUM/AVG group is a
            # SPARQL type error; NULL (skipped by the aggregate) beats
            # an ANSI cast exception killing the whole job
            col = col.try_cast("double")
        if fn == "group_concat":
            members = (F.collect_set(col) if distinct
                       else F.collect_list(col))
            sep = rest[1] if len(rest) > 1 and rest[1] is not None \
                else concat_sep
            exprs.append(
                F.array_join(F.array_sort(members), sep).alias(alias)
            )
            continue
        if fn not in _AGG_FNS:
            raise ValueError(f"unsupported aggregate {fn!r}")
        if distinct and fn == "count":
            exprs.append(F.count_distinct(col).alias(alias))
        elif distinct and fn == "sum":
            exprs.append(F.sum_distinct(col).alias(alias))
        elif distinct and fn == "avg":
            exprs.append(
                (F.sum_distinct(col) / F.count_distinct(col)).alias(alias)
            )
        else:
            exprs.append(_AGG_FNS[fn](col).alias(alias))
    grouped = (
        solutions.groupBy(*group_vars) if group_vars else solutions.groupBy()
    )
    return grouped.agg(*exprs)


# --- SPARQL FILTER builtins over solution variables -------------------
# (the metadata-free subset: solutions carry term strings, so lang()/
# datatype() belong upstream on the triple table where obj_lang /
# obj_is_literal live)
def fn_bound(var: str):
    """BOUND(?v) — true where an OPTIONAL variable got a binding."""
    return F.col(var).isNotNull()


def fn_strstarts(var: str, prefix: str):
    return F.col(var).startswith(prefix)


def fn_is_literal(var: str):
    """isLiteral(?v) — needs ``bgp_select(..., bind_term_meta=True)``
    over a triple table with an ``obj_is_literal`` column."""
    return F.col(f"{var}__is_literal")


def fn_is_iri(var: str):
    """isIRI(?v) — complement of :func:`fn_is_literal`."""
    return ~F.col(f"{var}__is_literal")


def fn_lang(var: str):
    """LANG(?v) — the language tag, or '' for untagged terms (SPARQL
    semantics). Needs term metadata bound from an ``obj_lang``
    column."""
    return F.coalesce(F.col(f"{var}__lang"), F.lit(""))


def fn_datatype(var: str):
    """DATATYPE(?v) — the datatype IRI column threaded from
    ``obj_datatype`` (NULL for plain/unbound terms)."""
    return F.col(f"{var}__datatype")


def bgp_construct(
    solutions: DataFrame,
    template: list[tuple[str, str, str]],
) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate a triple template per solution row
    (the reference fetches graphs with CONSTRUCT, fuseki.py:243-270).
    Template terms starting with ``?`` substitute solution variables;
    constants pass through. Output is a deduplicated
    (subj, pred, obj) triple set — one ``explode`` of the per-row
    template instantiations, no shuffle beyond the final distinct."""
    if not template:
        raise ValueError("empty CONSTRUCT template")

    def term(t: str):
        if isinstance(t, str) and t.startswith("?"):
            var = t[1:]
            if var not in solutions.columns:
                raise ValueError(f"unbound template variable ?{var}")
            return F.col(var)
        return F.lit(t)

    rows = F.array(
        *[
            F.struct(
                term(s).alias("subj"), term(p).alias("pred"), term(o).alias("obj")
            )
            for s, p, o in template
        ]
    )
    return (
        solutions.select(F.explode(rows).alias("t"))
        .select("t.subj", "t.pred", "t.obj")
        .filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )  # SPARQL: template instantiations with unbound vars are skipped
        .dropDuplicates()
    )
