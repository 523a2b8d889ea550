"""SPARQL text front-end for the relational BGP compiler.

:mod:`ontocast_spark.plans.bgp` evaluates SPARQL semantics natively
(patterns -> filtered scans + equi-joins, paths -> iterative squaring,
aggregates -> groupBy) but only accepts programmatic pattern lists.
Users of the reference hand over SPARQL *text* — every query the
reference issues is an f-string shipped to rdflib or Fuseki
(/root/reference/ontocast/agent/sublimate_ontology.py:31-72,
/root/reference/ontocast/tool/triple_manager/fuseki.py:188-270). This
module parses that grammar subset into the existing machinery, so a
query string is the user-facing API and the relational plan underneath
is unchanged (same plans, same Catalyst pushdowns — the parser adds
zero execution surface).

Supported grammar (the subset the reference's surface actually uses,
plus the aggregate/path forms the programmatic API already evaluates):

- ``PREFIX`` / ``BASE`` prologue; prefixed names, ``<iri>`` refs,
  ``a`` for ``rdf:type``; ``"literal"`` (``@lang`` / ``^^dt`` tags are
  accepted and matched on the lexical form), numbers.
- ``SELECT [DISTINCT] ?v ... | * WHERE { ... } [GROUP BY ...]
  [HAVING (expr)] [ORDER BY ...] [LIMIT n] [OFFSET n]``, with
  ``(AGG([DISTINCT] expr) AS ?alias)`` projections (COUNT / SUM /
  MIN / MAX / AVG / SAMPLE / GROUP_CONCAT over a variable or a full
  expression argument, COUNT(*); DISTINCT applies the in-aggregate
  set modifier) and ``(expr AS ?alias)`` expression projections (in
  aggregate queries these are the spec's post-aggregation Extend —
  they range over GROUP BY keys and aggregate aliases, like HAVING
  conditions). ``ORDER BY`` keys are bare variables or
  ``ASC(expr)`` / ``DESC(expr)``.
- ``ASK { ... }``, ``CONSTRUCT { template } WHERE { ... }``,
  ``DESCRIBE <iri>`` / ``DESCRIBE ?v WHERE { ... }`` (two hash
  semi-joins, no OR-condition nested loop), ``CONSTRUCT WHERE { }``
  (spec §10.1.2 shorthand, plain-BGP WHERE doubling as the
  template), ``DELETE WHERE { ... }``,
  ``DELETE { template } WHERE { ... }``, ``INSERT DATA { ... }``,
  ``INSERT { template } WHERE { ... }`` and the combined
  ``DELETE { t } INSERT { t } WHERE { ... }`` modify form (both
  templates instantiate over the same pre-update solutions; deletes
  apply before inserts; the WHERE takes the full recursive group
  grammar).
- Group graph patterns are FULLY RECURSIVE (round 5): a group is an
  ordered element list per the spec's in-order translation
  (§18.2.2.6) — triple blocks with ``;`` / ``,`` continuations,
  nested braced groups, ``OPTIONAL { ... }``, ``{A} UNION {B} ...``,
  ``MINUS { ... }``, ``FILTER [NOT] EXISTS { ... }``,
  ``VALUES`` (incl. ``UNDEF`` wildcard rows), ``BIND (expr AS ?v)``,
  ``GRAPH ?g|<iri> { ... }`` (needs a ``graph`` column), subqueries —
  each element may appear anywhere in the nesting (OPTIONAL inside
  OPTIONAL, MINUS inside a UNION arm, FILTER EXISTS inside an
  OPTIONAL body, ...). Group-level FILTERs scope to their own group:
  ``OPTIONAL { P FILTER(e) }`` is the spec's LeftJoin(A, P, e) —
  evaluated on the optional solutions BEFORE the left join.
  Property paths ride the predicate slot (``^ / | + * ?``, parens,
  negated property sets ``!(:p|^:q)``). Blank nodes — ``[]``,
  ``_:label``, and ``[ pred obj ; ... ]`` property lists (nested,
  subject or object position) — compile to internal ``!``-prefixed
  join variables: scoped existentials that never project into
  ``SELECT *`` and cannot collide with user ``?vars`` (spec §19.6).
  The compiler statically tracks which variables may be unbound
  (OPTIONAL-introduced, uneven UNION arms, VALUES UNDEF, BIND) and
  anchors every solution join on the certainly-bound shared
  variables, so joins stay hash equi-joins at any nesting depth
  (:func:`ontocast_spark.plans.bgp.sol_join` split-path plans).
- FILTER / BIND / projection expressions: ``||  &&  !``, comparisons
  (``= != < > <= >=``), ``IN`` / ``NOT IN`` lists, arithmetic
  (``+ - * /``, numeric coercion over lexical forms), ``STR``,
  ``STRSTARTS``, ``STRENDS``, ``CONTAINS``, ``REGEX``, ``BOUND``,
  ``isIRI``/``isURI``, ``isLiteral``, ``LANG``, ``DATATYPE``,
  ``LANGMATCHES``, ``CONCAT``, ``STRLEN``, ``UCASE``, ``LCASE``,
  ``COALESCE``, ``IF``, ``STRBEFORE``, ``STRAFTER``, ``SUBSTR``,
  ``REPLACE``, ``ABS``, ``CEIL``, ``FLOOR``, ``ROUND``, the
  SPARQL 1.1 digests (``MD5``, ``SHA1``, ``SHA256``, ``SHA384``,
  ``SHA512``), dateTime accessors (``YEAR``, ``MONTH``, ``DAY``,
  ``HOURS``, ``MINUTES``, ``SECONDS``), ``isNumeric``, and
  ``ENCODE_FOR_URI`` — each
  compiled to Catalyst builtins (term-metadata builtins auto-enable
  ``bind_term_meta`` when the triple table carries the metadata
  columns).
- Subqueries: ``{ SELECT ... }`` anywhere a group element is legal
  (incl. UNION arms) — evaluated independently, joined on the
  projected variables (spec §12).
- Dataset clauses on SELECT / ASK / CONSTRUCT: ``FROM <g>`` (the
  query's default graph = merge of the listed named graphs) and
  ``FROM NAMED <g>`` (restrict GRAPH-addressable graphs) — spec
  §13.2, one pushed-down isin filter each; any clause present defines
  the FULL dataset (the omitted side is empty).

- ``SERVICE [SILENT] <endpoint> { ... }`` (SPARQL 1.1 Federated
  Query): the body parses through the full local grammar, then
  re-serializes (with this query's PREFIX declarations) as a
  ``SELECT *`` against the remote endpoint per the SPARQL Protocol
  (stdlib urllib GET, ``application/sparql-results+json``;
  :func:`register_service_client` swaps the transport). Remote
  bindings join the local solutions null-safely (every remote
  variable is treated as possibly unbound). ``SILENT`` turns
  endpoint failure into the unit solution (spec §18.6). Our own
  serve-mode ``/sparql`` endpoint speaks the matching protocol, so
  two ontocast-spark deployments can federate.

Out of scope (raise ``SparqlSyntaxError``): variable SERVICE
endpoints, SERVICE bodies binding no variables, MINUS/EXISTS
bodies whose solutions can be unbound (OPTIONAL/uneven UNION/UNDEF/
BIND inside the probe), subqueries with nullable projections,
group-scoped FILTERs referencing variables bound outside the group
(EXCEPT inside OPTIONAL bodies, where such a filter is the spec's
LeftJoin(A, P, F) condition — evaluated as Filter(F, Join) unioned
with Diff(A, P, F), so a failing or erroring condition keeps the base
row with the optional side unbound),
term-metadata builtins over UNION arms or MINUS/EXISTS bodies,
property paths in CONSTRUCT/UPDATE templates or variable-graph
``GRAPH ?g`` blocks (constant-IRI GRAPH blocks evaluate paths scoped
to that graph's edges), REGEX/
REPLACE flags outside Java's ``imsx``, ``SUM/MIN/...(DISTINCT *)``
(only ``COUNT(DISTINCT *)`` is meaningful), nested aggregate calls.
Comparison operators in FILTER must be whitespace-separated from
their operands when ``<``/``>`` could otherwise read as an IRI
bracket.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import (
    Path,
    bgp_aggregate,
    bgp_construct,
    bgp_delete_where,
    bgp_describe,
    bgp_describe_resources,
    bgp_filter,
    bgp_insert_data,
    bgp_modify,
    bgp_select,
    bgp_values,
    fn_bound,
    fn_datatype,
    fn_is_iri,
    fn_is_literal,
    fn_lang,
    is_meta_col,
    sol_exists,
    sol_join,
    sol_minus,
    sol_union,
    p_alt,
    p_inv,
    p_iri,
    p_nps,
    p_opt,
    p_plus,
    p_seq,
    p_star,
)

RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlSyntaxError(ValueError):
    pass


class SparqlServiceError(RuntimeError):
    """A SERVICE endpoint could not be reached or answered malformed
    results. ``SERVICE SILENT`` swallows this into the unit solution."""


#: Pluggable SERVICE transport: ``fn(endpoint_iri, query_text) ->
#: sparql-results+json dict``. Defaults to a stdlib urllib GET per the
#: SPARQL 1.1 Protocol; tests and airgapped deployments can register a
#: stub or a pooled client.
_SERVICE_CLIENT = None


def register_service_client(fn) -> None:
    global _SERVICE_CLIENT
    _SERVICE_CLIENT = fn


def _default_service_client(endpoint: str, query: str) -> dict:
    import json as _json
    from urllib import parse as _parse
    from urllib import request as _request

    url = endpoint + ("&" if "?" in endpoint else "?") \
        + _parse.urlencode({"query": query})
    req = _request.Request(
        url, headers={"Accept": "application/sparql-results+json"}
    )
    with _request.urlopen(req, timeout=30) as resp:
        return _json.loads(resp.read().decode("utf-8"))


def _service_solutions(endpoint: str, inner: str, prefixes: dict):
    """Run the captured SERVICE body as ``SELECT *`` on the remote
    endpoint; return ``(vars, rows)`` with ``None`` for unbound slots.
    Results materialize on the driver — federation inherently funnels
    through the remote endpoint, so the result set is bounded by what
    that endpoint returns, not by our input scale."""
    text = "".join(
        f"PREFIX {p}: <{ns}>\n" for p, ns in sorted(prefixes.items())
    ) + "SELECT * WHERE { " + inner + " }"
    client = _SERVICE_CLIENT or _default_service_client
    try:
        doc = client(endpoint, text)
        vars_ = list(doc["head"]["vars"])
        rows = [
            tuple(b[v]["value"] if v in b else None for v in vars_)
            for b in doc["results"]["bindings"]
        ]
    except SparqlServiceError:
        raise
    except Exception as e:
        raise SparqlServiceError(f"SERVICE <{endpoint}>: {e}") from e
    if not vars_:
        raise SparqlServiceError(
            f"SERVICE <{endpoint}> returned no variables"
        )
    return vars_, rows


# ----------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRI><[^<>\s{}|^`\\]*>)
    | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<STRING>(?:"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
                 (?:@[A-Za-z]+(?:-[A-Za-z0-9]+)*)?)
    | (?P<NUM>[+-]?(?:\d+\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<PNAME>[A-Za-z_][A-Za-z0-9_\-]*:[A-Za-z0-9_][A-Za-z0-9_\-.]*
                |[A-Za-z_][A-Za-z0-9_\-]*:)
    | (?P<KW>[A-Za-z][A-Za-z0-9_]*)
    | (?P<OP>\|\||&&|!=|<=|>=|\^\^|[{}().,;=<>!*+/|^\[\]-])
    """,
    re.X,
)


_AGG_FNS = {"count", "sum", "min", "max", "avg", "sample", "group_concat"}


@dataclass
class _Tok:
    kind: str
    value: str


def _tokenize(text: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise SparqlSyntaxError(
                f"unrecognized input at {pos}: {text[pos:pos + 20]!r}"
            )
        pos = m.end()
        kind = m.lastgroup
        if kind == "VAR" and m.group()[1:].endswith(
            ("__is_literal", "__lang", "__datatype")
        ):
            # these exact suffixes are reserved for the internal
            # term-metadata columns (plans/bgp.py META_SUFFIXES); any
            # other ?my__var is a legal variable and passes through
            raise SparqlSyntaxError(
                f"variable name {m.group()!r} collides with a reserved "
                "term-metadata suffix"
            )
        if kind != "WS":
            toks.append(_Tok(kind, m.group()))
    return toks


def _unquote(s: str) -> str:
    # strip an attached @lang tag (matched by lexical form; tagged
    # matching goes through FILTER lang())
    s = re.sub(r"@[A-Za-z]+(?:-[A-Za-z0-9]+)*$", "", s)
    body = s[1:-1]
    return re.sub(
        r"\\(.)",
        lambda m: {"n": "\n", "t": "\t", "r": "\r"}.get(m.group(1), m.group(1)),
        body,
    )


# ------------------------------------------------------------- query IR


@dataclass
class _Group:
    """One group graph pattern, in the spec's in-order translation form
    (§18.2.2.6): ``elements`` is the ordered list of
    ``("bgp", patterns)`` (adjacent triples blocks merged),
    ``("optional", _Group)``, ``("union", [element, ...])`` (arms are
    ``("group", _Group)`` or ``("subselect", ParsedQuery)``),
    ``("minus", _Group)``, ``("group", _Group)`` (a nested braced
    group, joined), ``("subselect", ParsedQuery)``,
    ``("values", (vars, rows))``, and ``("bind", (expr_ast, var))``.
    ``filters`` are the group-level FILTER expression ASTs and
    ``exists`` the ``(negate, _Group)`` FILTER [NOT] EXISTS blocks —
    both scope to the whole group and apply after its elements."""

    elements: list = field(default_factory=list)
    filters: list = field(default_factory=list)
    exists: list = field(default_factory=list)  # (negate, _Group)


@dataclass
class ParsedQuery:
    form: str  # select | ask | construct | describe | delete | insert_data
    variables: list[str] | None = None  # None = SELECT *
    distinct: bool = False
    where: _Group | None = None
    template: list | None = None  # CONSTRUCT / DELETE template
    describe_iri: str | None = None
    describe_var: str | None = None
    insert_rows: list | None = None
    insert_template: list | None = None
    from_graphs: list | None = None  # FROM <g> (None = no dataset clause)
    from_named: list | None = None  # FROM NAMED <g>
    group_by: list[str] = field(default_factory=list)
    aggs: list = field(default_factory=list)  # (fn, var, alias, distinct)
    exprs: list = field(default_factory=list)  # (expr_ast, alias)
    havings: list = field(default_factory=list)  # expression ASTs
    order_by: list = field(default_factory=list)  # (var|expr, ascending)
    limit: int | None = None
    offset: int | None = None


# --------------------------------------------------------------- parser


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self._bn = 0  # fresh-blank-node counter ([] property lists)
        # aggregate calls are legal in expressions only inside HAVING
        # and ORDER BY ASC()/DESC() (hoisted to hidden aggregates)
        self._allow_aggs = False

    # -- token helpers
    def _peek(self, ahead: int = 0) -> _Tok | None:
        i = self.pos + ahead
        return self.toks[i] if i < len(self.toks) else None

    def _next(self) -> _Tok:
        t = self._peek()
        if t is None:
            raise SparqlSyntaxError("unexpected end of query")
        self.pos += 1
        return t

    def _kw(self, word: str) -> bool:
        """Consume a case-insensitive keyword if present."""
        t = self._peek()
        if t is not None and t.kind == "KW" and t.value.upper() == word:
            self.pos += 1
            return True
        return False

    def _expect_op(self, op: str):
        t = self._next()
        if t.kind != "OP" or t.value != op:
            raise SparqlSyntaxError(f"expected {op!r}, got {t.value!r}")

    def _at_op(self, op: str, ahead: int = 0) -> bool:
        t = self._peek(ahead)
        return t is not None and t.kind == "OP" and t.value == op

    def _agg_body(self, fn: str):
        """The shared ``( [DISTINCT] * | expr [; SEPARATOR="..."] )``
        tail of an aggregate call — used by the SELECT-list parser and
        bare HAVING / ORDER BY aggregates. Returns
        ``(src, distinct, sep)``; nested aggregate calls are rejected
        at parse time (spec §18.2.4 forbids them)."""
        self._expect_op("(")
        distinct = self._kw("DISTINCT")
        if self._at_op("*"):
            self.pos += 1
            src = "*"
            if distinct and fn != "count":
                raise SparqlSyntaxError(
                    f"{fn.upper()}(DISTINCT *) is outside the "
                    "supported subset"
                )
        else:
            # a full expression argument: AGG(?a * ?b),
            # AGG(STRLEN(?x)), ... — a bare ?var stays the
            # plain-column fast path. Aggregates cannot nest, so the
            # argument parses with aggregate calls disallowed.
            saved = self._allow_aggs
            self._allow_aggs = False
            try:
                arg = self._expr_or()
            finally:
                self._allow_aggs = saved
            src = arg[1] if arg[0] == "var" else arg
        sep = None
        if self._at_op(";"):
            # GROUP_CONCAT(?x; SEPARATOR="...") (§18.5.1.7)
            self.pos += 1
            if fn != "group_concat":
                raise SparqlSyntaxError(
                    "SEPARATOR only applies to GROUP_CONCAT"
                )
            if not self._kw("SEPARATOR"):
                raise SparqlSyntaxError("expected SEPARATOR after ';'")
            self._expect_op("=")
            t = self._next()
            if t.kind != "STRING":
                raise SparqlSyntaxError("SEPARATOR needs a string literal")
            sep = _unquote(t.value)
        self._expect_op(")")
        return src, distinct, sep

    def _dataset_clauses(self):
        """``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses (spec
        §13.2): returns ``(default_graphs, named_graphs)``, both
        ``None`` when no clause is present. Presence of ANY clause
        defines the full dataset — an omitted side is the EMPTY set,
        not "unrestricted"."""
        fg = fn = None
        while self._kw("FROM"):
            named = self._kw("NAMED")
            t = self._next()
            if t.kind == "IRI":
                iri = self.base + t.value[1:-1] if self.base \
                    else t.value[1:-1]
            elif t.kind == "PNAME":
                iri = self._resolve_pname(t.value)
            else:
                raise SparqlSyntaxError("FROM needs a graph IRI")
            if named:
                fn = (fn or []) + [iri]
            else:
                fg = (fg or []) + [iri]
        return fg, fn

    def _template(self, what: str) -> list:
        """A braced update/construct triple template."""
        tmpl: list = []
        self._expect_op("{")
        while not self._at_op("}"):
            self._triples_block(tmpl)
        self._expect_op("}")
        return tmpl

    def _as_alias(self, what: str) -> str:
        """``AS ?alias`` tail of a parenthesized projection."""
        if not self._kw("AS"):
            raise SparqlSyntaxError(f"{what} needs AS ?alias")
        alias_tok = self._next()
        if alias_tok.kind != "VAR":
            raise SparqlSyntaxError("AS needs a ?alias")
        return alias_tok.value[1:]

    # -- prologue + terms
    def _prologue(self):
        while True:
            if self._kw("PREFIX"):
                name = self._next()
                if name.kind != "PNAME" or not name.value.endswith(":"):
                    raise SparqlSyntaxError(f"bad PREFIX name {name.value!r}")
                iri = self._next()
                if iri.kind != "IRI":
                    raise SparqlSyntaxError("PREFIX needs an <iri>")
                self.prefixes[name.value[:-1]] = iri.value[1:-1]
            elif self._kw("BASE"):
                iri = self._next()
                if iri.kind != "IRI":
                    raise SparqlSyntaxError("BASE needs an <iri>")
                self.base = iri.value[1:-1]
            else:
                return

    def _resolve_pname(self, pname: str) -> str:
        prefix, _, local = pname.partition(":")
        if prefix not in self.prefixes:
            raise SparqlSyntaxError(f"undeclared prefix {prefix!r}:")
        return self.prefixes[prefix] + local

    def _term(self, out: list | None = None) -> str:
        """Subject/object term: var, IRI, prefixed name, literal,
        number, ``a``, or a blank node (``[]``, ``_:label``, or a
        ``[ pred obj ; ... ]`` property list when ``out`` — the
        pattern list under construction — is given). Returns the
        pattern-term string form the BGP compiler takes (``?var`` or a
        constant). Blank nodes compile to internal ``!``-prefixed
        variables (spec §19.6 scoped-to-the-BGP existentials): they
        join like variables but are excluded from ``SELECT *`` and
        cannot be written as ``?vars`` (``!`` is outside the VAR
        token grammar), so they never leak into results."""
        t = self._next()
        if t.kind == "VAR":
            return "?" + t.value[1:]
        if t.kind == "OP" and t.value == "[":
            var = f"?!bn{self._bn}"
            self._bn += 1
            if self._at_op("]"):
                self.pos += 1
                return var
            if out is None:
                raise SparqlSyntaxError(
                    "blank node property lists are only allowed in "
                    "triple patterns"
                )
            while True:
                pred = self._pred()
                while True:
                    out.append((var, pred, self._term(out)))
                    if self._at_op(","):
                        self.pos += 1
                        continue
                    break
                if self._at_op(";"):
                    self.pos += 1
                    if self._at_op("]"):
                        break
                    continue
                break
            self._expect_op("]")
            return var
        if t.kind == "IRI":
            return self.base + t.value[1:-1] if self.base else t.value[1:-1]
        if t.kind == "PNAME":
            if t.value.startswith("_:"):
                # label-stable blank node: same internal variable on
                # every use within the query
                return "?!bnl_" + t.value[2:]
            return self._resolve_pname(t.value)
        if t.kind == "STRING":
            val = _unquote(t.value)
            # accept and discard ^^datatype — the triple model matches
            # constants on the lexical form; typed matching goes
            # through FILTER datatype()
            if self._at_op("^^"):
                self.pos += 1
                dt = self._next()
                if dt.kind not in ("IRI", "PNAME"):
                    raise SparqlSyntaxError("^^ needs a datatype IRI")
            return val
        if t.kind == "NUM":
            return t.value
        if t.kind == "KW" and t.value == "a":
            return RDF_TYPE_IRI
        raise SparqlSyntaxError(f"unexpected term {t.value!r}")

    # -- property paths in the predicate slot
    def _path(self):
        """Parse a path expression; a single bare IRI stays a plain
        string (the fast slot-equality pattern), anything with
        operators builds a :class:`Path`."""
        node, plain = self._path_alt()
        return plain if plain is not None else node

    def _path_alt(self):
        node, plain = self._path_seq()
        if not self._at_op("|"):
            return node, plain
        parts = [node]
        while self._at_op("|"):
            self.pos += 1
            nxt, _ = self._path_seq()
            parts.append(nxt)
        return p_alt(*parts), None

    def _path_seq(self):
        node, plain = self._path_unary()
        if not self._at_op("/"):
            return node, plain
        parts = [node]
        while self._at_op("/"):
            self.pos += 1
            nxt, _ = self._path_unary()
            parts.append(nxt)
        return p_seq(*parts), None

    def _path_unary(self):
        if self._at_op("^"):
            self.pos += 1
            node, _ = self._path_unary()
            return p_inv(node), None
        return self._path_primary()

    def _path_primary(self):
        t = self._peek()
        if t is None:
            raise SparqlSyntaxError("expected a predicate")
        if self._at_op("!"):
            self.pos += 1
            return self._path_postfix(self._path_nps(), None)
        if self._at_op("("):
            self.pos += 1
            node, _ = self._path_alt()
            self._expect_op(")")
            return self._path_postfix(node, None)
        if t.kind == "IRI":
            self.pos += 1
            iri = self.base + t.value[1:-1] if self.base else t.value[1:-1]
        elif t.kind == "PNAME":
            self.pos += 1
            iri = self._resolve_pname(t.value)
        elif t.kind == "KW" and t.value == "a":
            self.pos += 1
            iri = RDF_TYPE_IRI
        else:
            raise SparqlSyntaxError(f"bad predicate {t.value!r}")
        return self._path_postfix(p_iri(iri), iri)

    def _path_nps(self) -> Path:
        """``!<iri>`` / ``!(<iri>|^<iri>|...)`` — negated property
        set. Spec translation (§18.2.2.3): forward members become one
        not-in edge scan, inverse members an inverted one, unioned."""
        fwd: list = []
        inv: list = []

        def member():
            rev = False
            if self._at_op("^"):
                self.pos += 1
                rev = True
            t = self._next()
            if t.kind == "IRI":
                iri = self.base + t.value[1:-1] if self.base \
                    else t.value[1:-1]
            elif t.kind == "PNAME":
                iri = self._resolve_pname(t.value)
            elif t.kind == "KW" and t.value == "a":
                iri = RDF_TYPE_IRI
            else:
                raise SparqlSyntaxError(
                    "negated property sets take IRI members"
                )
            (inv if rev else fwd).append(iri)

        if self._at_op("("):
            self.pos += 1
            if not self._at_op(")"):
                member()
                while self._at_op("|"):
                    self.pos += 1
                    member()
            self._expect_op(")")
        else:
            member()
        arms = []
        if fwd or not inv:
            arms.append(p_nps(fwd))
        if inv:
            arms.append(p_inv(p_nps(inv)))
        return p_alt(*arms)

    def _path_postfix(self, node: Path, plain: str | None):
        # a lone `?` tokenizes as OP (the VAR rule needs a following
        # name char), so `p? ?x` is unambiguous: OP ? then VAR ?x
        changed = False
        while True:
            if self._at_op("+"):
                self.pos += 1
                node, changed = p_plus(node), True
            elif self._at_op("*"):
                self.pos += 1
                node, changed = p_star(node), True
            elif self._at_op("?"):
                self.pos += 1
                node, changed = p_opt(node), True
            else:
                break
        return (node, None) if changed else (node, plain)

    # -- predicate slot: var or path
    def _pred(self):
        t = self._peek()
        if t is not None and t.kind == "VAR":
            self.pos += 1
            return "?" + t.value[1:]
        return self._path()

    # -- triple block with ; and , continuations
    def _triples_block(self, out: list):
        n0 = len(out)
        subj = self._term(out)
        if subj.startswith("?!bn") and len(out) > n0 and (
            self._at_op(".") or self._at_op("}")
        ):
            # TriplesSameSubject allows a bare property list as the
            # whole statement: [ :p :o ] .
            if self._at_op("."):
                self.pos += 1
            return
        while True:
            pred = self._pred()
            while True:
                obj = self._term(out)
                out.append((subj, pred, obj))
                if self._at_op(","):
                    self.pos += 1
                    continue
                break
            if self._at_op(";"):
                self.pos += 1
                if self._at_op(".") or self._at_op("}"):
                    break
                continue
            break
        if self._at_op("."):
            self.pos += 1

    def _at_subselect(self) -> bool:
        """``{ SELECT`` ahead — a subquery, not a UNION arm."""
        nxt = self._peek(1)
        return (
            self._at_op("{") and nxt is not None and nxt.kind == "KW"
            and nxt.value.upper() == "SELECT"
        )

    def _subselect(self) -> ParsedQuery:
        """``{ SELECT ... WHERE { ... } [GROUP BY/ORDER BY/LIMIT] }``
        — a full nested query parsed with the same machinery as the
        outer form; only its projected variables are visible outside
        (spec §12)."""
        self._expect_op("{")
        self._kw("SELECT")  # guaranteed by _at_subselect
        sub = self._select()
        self._solution_modifiers(sub)
        self._expect_op("}")
        return sub

    # -- group graph pattern
    def _group(self) -> _Group:
        """Fully recursive GroupGraphPattern: any element may be a
        nested braced group, a UNION chain of groups/subqueries, an
        OPTIONAL / MINUS body (itself a full group), a FILTER [NOT]
        EXISTS block, VALUES, BIND, GRAPH, or a triples block —
        collected in document order (the spec's translation is
        order-sensitive across OPTIONAL/MINUS/BIND)."""
        self._expect_op("{")
        g = _Group()
        while not self._at_op("}"):
            if self._at_subselect():
                g.elements.append(
                    self._maybe_union(("subselect", self._subselect()))
                )
            elif self._at_op("{"):
                g.elements.append(
                    self._maybe_union(("group", self._group()))
                )
            elif self._kw("OPTIONAL"):
                g.elements.append(("optional", self._group()))
            elif self._kw("FILTER"):
                # FILTER [NOT] EXISTS { P } is a join-level construct,
                # not an expression (also accepted in its parenthesized
                # form FILTER(NOT EXISTS {P}))
                wrapped = self._at_op("(") and self._peek(1) is not None \
                    and self._peek(1).kind == "KW" \
                    and self._peek(1).value.upper() in ("EXISTS", "NOT")
                if wrapped:
                    self.pos += 1
                if self._kw("NOT"):
                    if not self._kw("EXISTS"):
                        raise SparqlSyntaxError("expected EXISTS after NOT")
                    g.exists.append((True, self._group()))
                    if wrapped:
                        self._expect_op(")")
                elif self._kw("EXISTS"):
                    g.exists.append((False, self._group()))
                    if wrapped:
                        self._expect_op(")")
                else:
                    # wrapped is only True when the next keyword IS
                    # NOT/EXISTS, so this branch always sees a plain
                    # parenthesized expression
                    g.filters.append(self._filter_expr())
            elif self._kw("GRAPH"):
                self._append_bgp(g, self._graph_block())
            elif self._kw("MINUS"):
                g.elements.append(("minus", self._group()))
            elif self._kw("SERVICE"):
                g.elements.append(("service", self._service_clause()))
            elif self._kw("VALUES"):
                g.elements.append(("values", self._values_clause()))
            elif self._kw("BIND"):
                self._expect_op("(")
                expr = self._expr_or()
                if not self._kw("AS"):
                    raise SparqlSyntaxError("BIND needs AS ?var")
                v = self._next()
                if v.kind != "VAR":
                    raise SparqlSyntaxError("BIND AS needs a ?var")
                self._expect_op(")")
                g.elements.append(("bind", (expr, v.value[1:])))
            else:
                pats: list = []
                self._triples_block(pats)
                self._append_bgp(g, pats)
        self._expect_op("}")
        return g

    def _service_clause(self):
        """``SERVICE [SILENT] <endpoint> { group }`` (SPARQL 1.1
        Federated Query). The body parses through the full local
        grammar (so syntax errors surface at parse time) AND its token
        span is kept verbatim — at evaluation it is re-serialized as a
        ``SELECT * WHERE { ... }`` against the remote endpoint, with
        this query's PREFIX declarations re-emitted so prefixed names
        mean the same thing remotely."""
        silent = bool(self._kw("SILENT"))
        t = self._next()
        if t.kind == "IRI":
            endpoint = self.base + t.value[1:-1] if self.base \
                else t.value[1:-1]
        elif t.kind == "PNAME":
            endpoint = self._resolve_pname(t.value)
        else:
            raise SparqlSyntaxError(
                "SERVICE needs a constant endpoint IRI (variable "
                "endpoints are outside the supported subset)"
            )
        start = self.pos
        self._group()  # validate the body through the full grammar
        toks = self.toks[start:self.pos]
        # drop the outer braces; SPARQL terminals are whitespace-
        # joinable, so a space-joined token stream is a valid query
        inner = " ".join(tok.value for tok in toks[1:-1])
        if not any(tok.kind == "VAR" for tok in toks):
            raise SparqlSyntaxError(
                "SERVICE bodies must bind at least one variable in "
                "this subset"
            )
        return (endpoint, silent, inner, dict(self.prefixes))

    def _maybe_union(self, first):
        """After a braced group / subquery element, collect a ``UNION``
        chain if one follows."""
        t = self._peek()
        if not (t is not None and t.kind == "KW"
                and t.value.upper() == "UNION"):
            return first
        arms = [first]
        while self._kw("UNION"):
            if self._at_subselect():
                arms.append(("subselect", self._subselect()))
            elif self._at_op("{"):
                arms.append(("group", self._group()))
            else:
                raise SparqlSyntaxError("UNION needs a braced group")
        return ("union", arms)

    @staticmethod
    def _append_bgp(g: _Group, pats: list):
        """Append triple patterns, merging into a directly preceding
        triples block (adjacent blocks form one BGP; blocks separated
        by another element stay separate — the spec's translation
        joins them in order around the intervening operator)."""
        if g.elements and g.elements[-1][0] == "bgp":
            g.elements[-1][1].extend(pats)
        else:
            g.elements.append(("bgp", pats))

    def _values_term(self):
        t = self._peek()
        if t is not None and t.kind == "KW" and t.value.upper() == "UNDEF":
            # UNDEF is the spec's wildcard: an unbound slot, i.e. NULL
            # in the inline table — bgp_values' compatibility join
            # already treats NULL as compatible-with-anything
            self.pos += 1
            return None
        v = self._term()
        if isinstance(v, Path) or (isinstance(v, str) and v.startswith("?")):
            raise SparqlSyntaxError("VALUES rows take constants")
        return v

    def _values_clause(self):
        """``VALUES ?x { <a> ... }`` or ``VALUES (?x ?y) { (<a> <b>)
        ... }`` -> (vars, rows)."""
        t = self._peek()
        if t is not None and t.kind == "VAR":
            self.pos += 1
            vars_ = [t.value[1:]]
            single = True
        else:
            self._expect_op("(")
            vars_ = []
            while self._peek() is not None and self._peek().kind == "VAR":
                vars_.append(self._next().value[1:])
            self._expect_op(")")
            single = False
        if not vars_:
            raise SparqlSyntaxError("VALUES needs at least one ?var")
        self._expect_op("{")
        rows = []
        while not self._at_op("}"):
            if single:
                rows.append((self._values_term(),))
            else:
                self._expect_op("(")
                row = []
                while not self._at_op(")"):
                    row.append(self._values_term())
                self._expect_op(")")
                if len(row) != len(vars_):
                    raise SparqlSyntaxError(
                        f"VALUES row arity {len(row)} != {len(vars_)}"
                    )
                rows.append(tuple(row))
        self._expect_op("}")
        return vars_, rows

    def _graph_block(self) -> list:
        """``GRAPH ?g|<iri> { triples }`` -> 4-term patterns binding
        the triple table's ``graph`` column (the reference's ontology
        discovery queries run GRAPH blocks inside UNION arms,
        fuseki.py:212-218)."""
        t = self._next()
        if t.kind == "VAR":
            gterm = "?" + t.value[1:]
        elif t.kind == "IRI":
            gterm = self.base + t.value[1:-1] if self.base else t.value[1:-1]
        elif t.kind == "PNAME":
            gterm = self._resolve_pname(t.value)
        else:
            raise SparqlSyntaxError("GRAPH needs a ?var or an IRI")
        self._expect_op("{")
        inner: list = []
        while not self._at_op("}"):
            self._triples_block(inner)
        self._expect_op("}")
        return [(s, p, o, gterm) for s, p, o in inner]

    # -- FILTER expressions
    def _filter_expr(self):
        self._expect_op("(")
        ast = self._expr_or()
        self._expect_op(")")
        return ast

    def _expr_or(self):
        node = self._expr_and()
        while self._at_op("||"):
            self.pos += 1
            node = ("or", node, self._expr_and())
        return node

    def _expr_and(self):
        node = self._expr_not()
        while self._at_op("&&"):
            self.pos += 1
            node = ("and", node, self._expr_not())
        return node

    def _expr_not(self):
        if self._at_op("!"):
            self.pos += 1
            return ("not", self._expr_not())
        return self._expr_cmp()

    def _expr_cmp(self):
        left = self._expr_add()
        t = self._peek()
        if t is not None and t.kind == "OP" and t.value in (
            "=", "!=", "<", ">", "<=", ">="
        ):
            self.pos += 1
            right = self._expr_add()
            return ("cmp", t.value, left, right)
        if t is not None and t.kind == "KW" \
                and t.value.upper() in ("IN", "NOT"):
            negate = t.value.upper() == "NOT"
            self.pos += 1
            if negate and not self._kw("IN"):
                raise SparqlSyntaxError("expected IN after NOT")
            self._expect_op("(")
            items = []
            if not self._at_op(")"):
                items.append(self._expr_add())
                while self._at_op(","):
                    self.pos += 1
                    items.append(self._expr_add())
            self._expect_op(")")
            return ("in", negate, left, items)
        return left

    def _expr_add(self):
        node = self._expr_mul()
        while self._at_op("+") or self._at_op("-"):
            op = self._next().value
            node = ("arith", op, node, self._expr_mul())
        return node

    def _expr_mul(self):
        node = self._expr_primary()
        while self._at_op("*") or self._at_op("/"):
            op = self._next().value
            node = ("arith", op, node, self._expr_primary())
        return node

    _FUNCS = {
        "STR", "STRSTARTS", "STRENDS", "CONTAINS", "REGEX", "BOUND",
        "ISIRI", "ISURI", "ISLITERAL", "LANG", "DATATYPE",
        "CONCAT", "STRLEN", "UCASE", "LCASE",
        "COALESCE", "IF", "STRBEFORE", "STRAFTER", "SUBSTR", "REPLACE",
        "ABS", "CEIL", "FLOOR", "ROUND", "LANGMATCHES",
        "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
        "ISNUMERIC", "ENCODE_FOR_URI",
    }

    def _expr_primary(self):
        if self._at_op("("):
            self.pos += 1
            node = self._expr_or()
            self._expect_op(")")
            return node
        t = self._next()
        if t.kind == "VAR":
            return ("var", t.value[1:])
        if t.kind == "STRING":
            return ("str", _unquote(t.value))
        if t.kind == "NUM":
            return ("num", float(t.value))
        if t.kind == "IRI":
            return ("str", self.base + t.value[1:-1] if self.base
                    else t.value[1:-1])
        if t.kind == "PNAME":
            return ("str", self._resolve_pname(t.value))
        if t.kind == "KW":
            name = t.value.upper()
            if name in ("TRUE", "FALSE"):
                return ("bool", name == "TRUE")
            if name.lower() in _AGG_FNS and self._allow_aggs:
                # bare aggregate call in HAVING / ORDER BY — hoisted
                # into a hidden aggregate column at evaluation
                fn = name.lower()
                src, distinct, sep = self._agg_body(fn)
                return ("aggcall", fn, src, distinct, sep)
            if name not in self._FUNCS:
                raise SparqlSyntaxError(f"unsupported FILTER function {t.value}")
            self._expect_op("(")
            args = []
            if not self._at_op(")"):
                args.append(self._expr_or())
                while self._at_op(","):
                    self.pos += 1
                    args.append(self._expr_or())
            self._expect_op(")")
            return ("call", name, args)
        raise SparqlSyntaxError(f"unexpected token in FILTER: {t.value!r}")

    # -- query forms
    def parse(self) -> ParsedQuery:
        self._prologue()
        if self._kw("SELECT"):
            q = self._select()
        elif self._kw("ASK"):
            q = ParsedQuery(form="ask")
            q.from_graphs, q.from_named = self._dataset_clauses()
            self._kw("WHERE")
            q.where = self._group()
        elif self._kw("CONSTRUCT"):
            if self._at_op("{"):
                tmpl = self._template("CONSTRUCT")
                fg, fn = self._dataset_clauses()
                if not self._kw("WHERE"):
                    raise SparqlSyntaxError("CONSTRUCT needs WHERE")
                q = ParsedQuery(form="construct", template=tmpl)
                q.from_graphs, q.from_named = fg, fn
                q.where = self._group()
            elif self._kw("WHERE"):
                # CONSTRUCT WHERE { bgp } shorthand (spec §10.1.2):
                # the WHERE is restricted to a plain basic graph
                # pattern, which doubles as the template
                q = ParsedQuery(form="construct")
                q.where = self._group()
                g = q.where
                if g.filters or g.exists or any(
                    tag != "bgp" for tag, _ in g.elements
                ):
                    raise SparqlSyntaxError(
                        "CONSTRUCT WHERE takes a plain triple-pattern "
                        "group (use an explicit template otherwise)"
                    )
                pats = [p for _, pl in g.elements for p in pl]
                if any(len(p) == 4 for p in pats):
                    raise SparqlSyntaxError(
                        "GRAPH blocks in CONSTRUCT WHERE are outside "
                        "the supported subset"
                    )
                _reject_paths(pats, "CONSTRUCT WHERE template")
                q.template = pats
            else:
                raise SparqlSyntaxError(
                    "CONSTRUCT needs a { template } or WHERE"
                )
        elif self._kw("DESCRIBE"):
            t = self._next()
            if t.kind == "VAR":
                q = ParsedQuery(form="describe", describe_var=t.value[1:])
                if not self._kw("WHERE"):
                    raise SparqlSyntaxError("DESCRIBE ?var needs WHERE {}")
                q.where = self._group()
            elif t.kind == "IRI":
                iri = self.base + t.value[1:-1] if self.base else t.value[1:-1]
                q = ParsedQuery(form="describe", describe_iri=iri)
            elif t.kind == "PNAME":
                iri = self._resolve_pname(t.value)
                q = ParsedQuery(form="describe", describe_iri=iri)
            else:
                raise SparqlSyntaxError("DESCRIBE needs an IRI or a ?var")
        elif self._kw("DELETE"):
            tmpl = None
            ins = None
            if self._at_op("{"):
                tmpl = []
                self._expect_op("{")
                while not self._at_op("}"):
                    self._triples_block(tmpl)
                self._expect_op("}")
                if self._kw("INSERT"):
                    ins = self._template("INSERT")
                if not self._kw("WHERE"):
                    raise SparqlSyntaxError("DELETE {} needs WHERE {}")
            elif not self._kw("WHERE"):
                raise SparqlSyntaxError("expected DELETE WHERE or DELETE {}")
            if ins is not None:
                q = ParsedQuery(
                    form="modify", template=tmpl, insert_template=ins
                )
            else:
                q = ParsedQuery(form="delete", template=tmpl)
            q.where = self._group()
        elif self._kw("INSERT"):
            if self._kw("DATA"):
                rows: list = []
                self._expect_op("{")
                while not self._at_op("}"):
                    self._triples_block(rows)
                self._expect_op("}")
                for s, p, o in rows:
                    if any(isinstance(x, str) and x.startswith("?")
                           for x in (s, p, o)) \
                            or any(isinstance(x, Path) for x in (s, p, o)):
                        raise SparqlSyntaxError(
                            "INSERT DATA takes ground triples"
                        )
                q = ParsedQuery(form="insert_data", insert_rows=rows)
            elif self._at_op("{"):
                ins = self._template("INSERT")
                if not self._kw("WHERE"):
                    raise SparqlSyntaxError("INSERT {} needs WHERE {}")
                q = ParsedQuery(form="modify", insert_template=ins)
                q.where = self._group()
            else:
                raise SparqlSyntaxError(
                    "expected INSERT DATA or INSERT {} WHERE {}"
                )
        else:
            t = self._peek()
            raise SparqlSyntaxError(
                f"expected a query form, got {t.value if t else 'EOF'!r}"
            )
        self._solution_modifiers(q)
        if self._peek() is not None:
            raise SparqlSyntaxError(
                f"trailing input: {self._peek().value!r}"
            )
        return q

    def _select(self) -> ParsedQuery:
        q = ParsedQuery(form="select")
        q.distinct = self._kw("DISTINCT")
        self._kw("REDUCED")
        variables: list[str] = []
        star = False
        while True:
            t = self._peek()
            if t is None:
                raise SparqlSyntaxError("unterminated SELECT clause")
            if t.kind == "OP" and t.value == "*":
                self.pos += 1
                star = True
            elif t.kind == "VAR":
                self.pos += 1
                variables.append(t.value[1:])
            elif t.kind == "OP" and t.value == "(":
                self.pos += 1
                fn_tok = self._peek()
                is_agg = (
                    fn_tok is not None and fn_tok.kind == "KW"
                    and fn_tok.value.lower() in _AGG_FNS
                    and self._peek(1) is not None
                    and self._peek(1).kind == "OP"
                    and self._peek(1).value == "("
                )
                if is_agg:
                    fn = self._next().value.lower()
                    src, distinct, sep = self._agg_body(fn)
                    alias = self._as_alias("aggregate")
                    q.aggs.append((fn, src, alias, distinct, sep))
                    variables.append(alias)
                else:
                    # (expr AS ?alias) projection
                    expr = self._expr_or()
                    alias = self._as_alias("expression projection")
                    q.exprs.append((expr, alias))
                    variables.append(alias)
                self._expect_op(")")
            else:
                break
        q.variables = None if star else variables
        q.from_graphs, q.from_named = self._dataset_clauses()
        if not self._kw("WHERE"):
            raise SparqlSyntaxError("SELECT needs WHERE")
        q.where = self._group()
        return q

    def _solution_modifiers(self, q: ParsedQuery):
        while True:
            if self._kw("GROUP"):
                if not self._kw("BY"):
                    raise SparqlSyntaxError("GROUP needs BY")
                while True:
                    t = self._peek()
                    if t is not None and t.kind == "VAR":
                        self.pos += 1
                        q.group_by.append(t.value[1:])
                    elif t is not None and t.kind == "OP" \
                            and t.value == "(":
                        # GroupCondition '(' Expression ('AS' Var)? ')'
                        # — an aliased key becomes a visible variable
                        # (§18.2.4), an anonymous one a hidden column
                        self.pos += 1
                        expr = self._expr_or()
                        alias = None
                        if self._kw("AS"):
                            v = self._next()
                            if v.kind != "VAR":
                                raise SparqlSyntaxError(
                                    "GROUP BY AS needs a ?var"
                                )
                            alias = v.value[1:]
                        self._expect_op(")")
                        q.group_by.append(("expr", expr, alias))
                    else:
                        break
            elif self._kw("ORDER"):
                if not self._kw("BY"):
                    raise SparqlSyntaxError("ORDER needs BY")
                while True:
                    t = self._peek()
                    if t is None:
                        break
                    if t.kind == "VAR":
                        self.pos += 1
                        q.order_by.append((t.value[1:], True))
                    elif t.kind == "KW" and t.value.upper() in ("ASC", "DESC"):
                        self.pos += 1
                        asc = t.value.upper() == "ASC"
                        self._expect_op("(")
                        self._allow_aggs = True
                        try:
                            expr = self._expr_or()
                        finally:
                            self._allow_aggs = False
                        self._expect_op(")")
                        key = expr[1] if expr[0] == "var" else expr
                        q.order_by.append((key, asc))
                    else:
                        break
            elif self._kw("HAVING"):
                # expressions over GROUP BY keys, aggregate aliases,
                # or bare aggregate calls (hoisted to hidden columns)
                self._allow_aggs = True
                try:
                    q.havings.append(self._filter_expr())
                finally:
                    self._allow_aggs = False
            elif self._kw("LIMIT"):
                n = self._next()
                if n.kind != "NUM" or not n.value.isdigit():
                    raise SparqlSyntaxError(
                        "LIMIT needs a non-negative integer"
                    )
                q.limit = int(n.value)
            elif self._kw("OFFSET"):
                n = self._next()
                if n.kind != "NUM" or not n.value.isdigit():
                    raise SparqlSyntaxError(
                        "OFFSET needs a non-negative integer"
                    )
                q.offset = int(n.value)
            else:
                return


def parse_sparql(text: str) -> ParsedQuery:
    """Parse SPARQL text into the query IR (prologue resolved, terms in
    the BGP compiler's string/:class:`Path` forms)."""
    return _Parser(text).parse()


# ------------------------------------------------------------ compiler

_META_CALLS = {"ISIRI", "ISURI", "ISLITERAL", "LANG", "DATATYPE"}


def _expr_uses_meta(ast) -> bool:
    if not isinstance(ast, tuple):
        return False
    if ast[0] == "call" and ast[1] in _META_CALLS:
        return True
    for a in ast[1:]:
        if isinstance(a, tuple) and _expr_uses_meta(a):
            return True
        if isinstance(a, list) and any(_expr_uses_meta(x) for x in a):
            return True
    return False


def _expr_vars(ast) -> set:
    """All solution variables referenced by a FILTER expression AST."""
    if not isinstance(ast, tuple):
        return set()
    if ast[0] == "var":
        return {ast[1]}
    out: set = set()
    for a in ast[1:]:
        if isinstance(a, tuple):
            out |= _expr_vars(a)
        elif isinstance(a, list):
            for x in a:
                out |= _expr_vars(x)
    return out


def _hoist_aggcalls(ast, sink: list, index: dict):
    """Replace ``("aggcall", fn, src, distinct, sep)`` nodes (bare
    aggregate calls in HAVING / ORDER BY) with references to hidden
    aggregate columns, appending ``(fn, src, alias, distinct, sep)``
    entries to ``sink`` — spec §18.2.4 collects aggregates from every
    clause into the same Aggregation step. ``index`` maps
    ``(fn, repr(src), distinct, sep)`` to an existing alias (seeded
    from the SELECT-list aggregates), so identical aggregates compute
    once; fresh aliases use the ``!`` prefix, which is outside the
    VAR token grammar and therefore cannot shadow a user variable."""
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "aggcall":
        fn, src, distinct, sep = ast[1], ast[2], ast[3], ast[4]
        key = (fn, repr(src), distinct, sep)
        alias = index.get(key)
        if alias is None:
            alias = f"!hagg{len(sink)}"
            sink.append((fn, src, alias, distinct, sep))
            index[key] = alias
        return ("var", alias)
    out = []
    for a in ast:
        if isinstance(a, tuple):
            out.append(_hoist_aggcalls(a, sink, index))
        elif isinstance(a, list):
            out.append([_hoist_aggcalls(x, sink, index) for x in a])
        else:
            out.append(a)
    return tuple(out)


def _has_aggcall(ast) -> bool:
    """Does this (un-hoisted) expression AST contain a bare aggregate
    call?"""
    if not isinstance(ast, tuple):
        return False
    if ast[0] == "aggcall":
        return True
    for a in ast[1:]:
        if isinstance(a, tuple) and _has_aggcall(a):
            return True
        if isinstance(a, list) and any(_has_aggcall(x) for x in a):
            return True
    return False


def _compile_expr(ast):
    """FILTER AST -> Catalyst Column."""
    kind = ast[0]
    if kind == "or":
        return _compile_expr(ast[1]) | _compile_expr(ast[2])
    if kind == "and":
        return _compile_expr(ast[1]) & _compile_expr(ast[2])
    if kind == "not":
        return ~_compile_expr(ast[1])
    if kind == "var":
        return F.col(ast[1])
    if kind == "str":
        return F.lit(ast[1])
    if kind == "num":
        return F.lit(ast[1])
    if kind == "bool":
        return F.lit(ast[1])
    if kind == "cmp":
        op, left, right = ast[1], ast[2], ast[3]
        numeric = _is_numeric_node(left) or _is_numeric_node(right)

        def side(x):
            c = _compile_expr(x)
            # SPARQL numeric comparison over lexical forms: cast the
            # non-literal side so `?price > 100` compares numbers.
            # try_cast, not cast: a non-numeric term is a SPARQL type
            # error -> the comparison is unbound (NULL -> filter
            # false), never a job-killing ANSI CAST_INVALID_INPUT
            return c.try_cast("double") if numeric \
                and not _is_numeric_node(x) else c

        lc, rc = side(left), side(right)
        return {
            "=": lc == rc, "!=": lc != rc, "<": lc < rc,
            ">": lc > rc, "<=": lc <= rc, ">=": lc >= rc,
        }[op]
    if kind == "arith":
        op, lc, rc = ast[1], _num(ast[2]), _num(ast[3])
        if op == "/":
            # SPARQL type error -> unbound: NULL instead of ANSI
            # DIVIDE_BY_ZERO (doubles throw too under ANSI mode)
            return F.when(rc != 0, lc / rc)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc}[op]
    if kind == "in":
        negate, probe, items = ast[1], ast[2], ast[3]
        c = None
        for i in items:  # OR-equality chain keeps NULL/error semantics
            # same numeric coercion as the cmp path: `?x IN (1, 2)`
            # over a non-numeric term must be unbound (try_cast ->
            # NULL), never an ANSI CAST_INVALID_INPUT job kill
            numeric = _is_numeric_node(probe) or _is_numeric_node(i)

            def side(x):
                sc = _compile_expr(x)
                return sc.try_cast("double") if numeric \
                    and not _is_numeric_node(x) else sc

            e = side(probe) == side(i)
            c = e if c is None else (c | e)
        if c is None:
            c = F.lit(False)  # `?x IN ()` is false, NOT IN () true
        return ~c if negate else c
    if kind == "call":
        name, args = ast[1], ast[2]
        if name == "STR":
            # terms are already strings; a computed numeric (arith,
            # STRLEN, ...) gets its lexical form — also the escape
            # hatch for mixing numerics with strings in COALESCE/IF
            # under Spark's static typing
            return _compile_expr(args[0]).cast("string")
        if name == "BOUND":
            return fn_bound(args[0][1])
        if name in ("ISIRI", "ISURI"):
            return fn_is_iri(args[0][1])
        if name == "ISLITERAL":
            return fn_is_literal(args[0][1])
        if name == "LANG":
            return fn_lang(args[0][1])
        if name == "DATATYPE":
            return fn_datatype(args[0][1])
        if name == "REGEX":
            if args[1][0] != "str":
                raise SparqlSyntaxError("REGEX needs a literal pattern")
            pattern = args[1][1]
            if len(args) > 2:
                # SPARQL flags -> Java inline flags; only the subset
                # Java regex understands is accepted (i/m/s/x)
                if args[2][0] != "str" or not set(args[2][1]) <= set("imsx"):
                    raise SparqlSyntaxError(
                        f"unsupported REGEX flags {args[2]!r}"
                    )
                if args[2][1]:
                    pattern = f"(?{args[2][1]}){pattern}"
            return _compile_expr(args[0]).rlike(pattern)
        if name in ("STRSTARTS", "STRENDS", "CONTAINS"):
            a, b = _compile_expr(args[0]), _compile_expr(args[1])
            return {
                "STRSTARTS": a.startswith(b),
                "STRENDS": a.endswith(b),
                "CONTAINS": a.contains(b),
            }[name]
        if name == "CONCAT":
            return F.concat(*[_compile_expr(a) for a in args])
        if name == "STRLEN":
            return F.length(_compile_expr(args[0]))
        if name == "UCASE":
            return F.upper(_compile_expr(args[0]))
        if name == "LCASE":
            return F.lower(_compile_expr(args[0]))
        if name == "COALESCE":
            return F.coalesce(*[_compile_expr(a) for a in args])
        if name == "IF":
            if len(args) != 3:
                raise SparqlSyntaxError("IF needs (cond, then, else)")
            # mixed numeric/string branches: unify numerically with
            # try_cast — Spark would otherwise insert an ANSI
            # string->integral cast that throws on non-numeric terms
            tn, en = _is_numeric_node(args[1]), _is_numeric_node(args[2])
            tc = _num(args[1]) if en and not tn else _compile_expr(args[1])
            ec = _num(args[2]) if tn and not en else _compile_expr(args[2])
            return F.when(_compile_expr(args[0]), tc).otherwise(ec)
        if name in ("STRBEFORE", "STRAFTER"):
            if len(args) != 2:
                raise SparqlSyntaxError(f"{name} needs 2 arguments")
            a, b = _compile_expr(args[0]), _compile_expr(args[1])
            pos = F.instr(a, b)
            if name == "STRBEFORE":
                # no occurrence -> "" (spec); empty needle -> ""
                hit = F.substring(a, F.lit(1), pos - F.lit(1))
            else:
                hit = F.substring(a, pos + F.length(b), F.length(a))
            # an unbound argument is a type error -> unbound: the
            # no-occurrence "" applies only when BOTH args are bound
            return F.when(pos > 0, hit).when(
                a.isNotNull() & b.isNotNull(), F.lit("")
            )
        if name == "SUBSTR":
            if len(args) not in (2, 3):
                raise SparqlSyntaxError("SUBSTR needs (str, start[, len])")
            a = _compile_expr(args[0])
            start = _compile_expr(args[1]).try_cast("int")
            length = (_compile_expr(args[2]).try_cast("int")
                      if len(args) == 3 else F.length(a))
            return F.substring(a, start, length)  # both 1-based
        if name == "REPLACE":
            if len(args) not in (3, 4) or args[1][0] != "str" \
                    or args[2][0] != "str":
                raise SparqlSyntaxError(
                    "REPLACE needs (str, literal pattern, literal "
                    "replacement[, flags])"
                )
            pattern = args[1][1]
            if len(args) == 4:
                if args[3][0] != "str" or not set(args[3][1]) <= set("imsx"):
                    raise SparqlSyntaxError(
                        f"unsupported REPLACE flags {args[3]!r}"
                    )
                if args[3][1]:
                    pattern = f"(?{args[3][1]}){pattern}"
            return F.regexp_replace(
                _compile_expr(args[0]), pattern, args[2][1]
            )
        if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
            c = _num(args[0])
            return {
                "ABS": F.abs(c), "CEIL": F.ceil(c).cast("double"),
                "FLOOR": F.floor(c).cast("double"),
                # fn:round ties go toward +inf (ROUND(-2.5) = -2), not
                # Spark's HALF_UP away-from-zero
                "ROUND": F.floor(c + F.lit(0.5)).cast("double"),
            }[name]
        if name == "LANGMATCHES":
            if len(args) != 2 or args[1][0] != "str":
                raise SparqlSyntaxError(
                    "LANGMATCHES needs (lang expr, literal range)"
                )
            lang = _compile_expr(args[0])
            rng = args[1][1]
            if rng == "*":
                return lang.isNotNull() & (lang != "")
            low = F.lower(lang)
            return (low == rng.lower()) | low.startswith(rng.lower() + "-")
        if name in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            if len(args) != 1:
                raise SparqlSyntaxError(f"{name} needs 1 argument")
            # SPARQL 1.1 §17.4.4.{11-15}: digest of the UTF-8 lexical
            # form, lowercase hex — exactly what the JVM builtins emit
            c = _compile_expr(args[0]).cast("string")
            if name == "MD5":
                return F.md5(c)
            if name == "SHA1":
                return F.sha1(c)
            return F.sha2(c, int(name[3:]))
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                    "SECONDS"):
            if len(args) != 1:
                raise SparqlSyntaxError(f"{name} needs 1 argument")
            # xsd:dateTime accessors over lexical forms; try_cast so a
            # non-dateTime term is a SPARQL type error -> unbound
            # (NULL), not an ANSI cast exception. SECONDS returns the
            # integral second (the spec's xsd:decimal fractional part
            # would need sub-second lexical handling our terms lack).
            ts = _compile_expr(args[0]).try_cast("timestamp")
            return {
                "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                "HOURS": F.hour, "MINUTES": F.minute,
                "SECONDS": F.second,
            }[name](ts)
        if name == "ISNUMERIC":
            # over lexical forms: numeric iff the term parses as a
            # number (the same coercion rule arithmetic uses)
            return _compile_expr(args[0]).try_cast("double").isNotNull()
        if name == "ENCODE_FOR_URI":
            # XPath fn:encode-for-uri via the JVM url_encode, patched
            # where application/x-www-form-urlencoded differs from the
            # RFC 3986 unreserved set: '+'->%20, '*'->%2A, %7E->'~'
            e = F.url_encode(_compile_expr(args[0]).cast("string"))
            e = F.replace(e, F.lit("+"), F.lit("%20"))
            e = F.replace(e, F.lit("*"), F.lit("%2A"))
            return F.replace(e, F.lit("%7E"), F.lit("~"))
    raise SparqlSyntaxError(f"cannot compile FILTER node {ast!r}")


def _is_numeric_node(ast) -> bool:
    """Does this expression node already evaluate to a number?
    Recursive through IF/COALESCE: a conditional whose branches are
    all numeric is numeric, so comparisons against it keep the
    try_cast coercion guard (ANSI-safety)."""
    if not isinstance(ast, tuple):
        return False
    if ast[0] in ("num", "arith"):
        return True
    if ast[0] != "call":
        return False
    if ast[1] in ("STRLEN", "ABS", "CEIL", "FLOOR", "ROUND",
                  "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                  "SECONDS"):
        return True
    if ast[1] == "IF" and len(ast[2]) == 3:
        return _is_numeric_node(ast[2][1]) and _is_numeric_node(ast[2][2])
    if ast[1] == "COALESCE" and ast[2]:
        return all(_is_numeric_node(a) for a in ast[2])
    return False


def _num(ast):
    """Compile an expression operand under numeric coercion: lexical
    string terms cast to double (SPARQL numeric ops over typed
    literals; our terms are lexical forms). try_cast: a non-numeric
    term is a SPARQL type error -> unbound (NULL), not an ANSI cast
    exception."""
    c = _compile_expr(ast)
    return c if _is_numeric_node(ast) else c.try_cast("double")


def _meta_arg_vars(ast, acc: set):
    if not isinstance(ast, tuple):
        return
    if ast[0] == "call" and ast[1] in _META_CALLS:
        for a in ast[2]:
            if isinstance(a, tuple) and a[0] == "var":
                acc.add(a[1])
    for a in ast[1:]:
        if isinstance(a, tuple):
            _meta_arg_vars(a, acc)
        elif isinstance(a, list):
            for x in a:
                _meta_arg_vars(x, acc)


def _reject_paths(patterns, where: str) -> None:
    """SPARQL forbids property paths in CONSTRUCT/UPDATE templates —
    fail with a parse-level error instead of a deep Spark literal
    error (a :class:`Path` cannot instantiate a triple). Blank nodes
    in templates (spec: mint a fresh bnode per solution) are outside
    the supported subset — reject them with a clear error too."""
    for pat in patterns or ():
        for term in pat:
            if isinstance(term, Path):
                raise SparqlSyntaxError(
                    f"property path not allowed in {where}"
                )
            if isinstance(term, str) and term.startswith("?!bn"):
                raise SparqlSyntaxError(
                    f"blank nodes in {where}s are outside the "
                    "supported subset"
                )


def sparql(triples: DataFrame, text: str):
    """Evaluate a SPARQL query string against a (subj, pred, obj[,
    term-metadata]) triple DataFrame. Returns a DataFrame for SELECT /
    CONSTRUCT / DESCRIBE / DELETE / INSERT DATA forms, a bool for ASK —
    the same returns as the programmatic plans/bgp.py API it compiles
    into."""
    q = parse_sparql(text)
    if q.form == "describe":
        if q.describe_var is not None:
            if q.aggs or q.group_by or q.havings:
                raise SparqlSyntaxError(
                    "DESCRIBE does not take aggregation in this subset"
                )
            sols, _ = _compile_where(triples, q)
            if q.describe_var not in sols.columns:
                raise SparqlSyntaxError(
                    f"DESCRIBE ?{q.describe_var} is not bound by the WHERE"
                )
            if q.order_by:
                keys = []
                for k, asc in q.order_by:
                    col = F.col(k) if isinstance(k, str) \
                        else _compile_expr(k)
                    keys.append(col.asc() if asc else col.desc())
                sols = sols.orderBy(*keys)
            if q.offset:
                sols = sols.offset(q.offset)
            if q.limit is not None:
                sols = sols.limit(q.limit)
            return bgp_describe_resources(
                triples, sols.select(F.col(q.describe_var).alias("r"))
            )
        return bgp_describe(triples, q.describe_iri)
    if q.form == "insert_data":
        return bgp_insert_data(triples, q.insert_rows)
    if q.form == "delete":
        g = q.where
        if g.filters or g.exists or any(tag != "bgp" for tag, _ in g.elements):
            raise SparqlSyntaxError(
                "DELETE supports a plain triple-pattern WHERE"
            )
        pats = [p for _, pl in g.elements for p in pl]
        # SPARQL forbids property paths in update templates; with no
        # explicit template the WHERE patterns ARE the template
        _reject_paths(q.template or pats, "DELETE template")
        if any(len(p) == 4 for p in pats):
            raise SparqlSyntaxError(
                "GRAPH blocks in DELETE are outside the supported subset"
            )
        return bgp_delete_where(triples, pats, delete=q.template)
    if q.form == "modify":
        # the WHERE is the full recursive group grammar (unlike the
        # plain-pattern DELETE WHERE shorthand): solutions evaluate
        # against the pre-update graph, then both templates
        # instantiate over them
        tmpls = (q.template or []) + (q.insert_template or [])
        _reject_paths(tmpls, "update template")
        if any(len(p) == 4 for p in tmpls):
            raise SparqlSyntaxError(
                "GRAPH blocks in update templates are outside the "
                "supported subset"
            )
        sols, _ = _compile_where(triples, q)
        plain = [c for c in sols.columns if not is_meta_col(c)]
        return bgp_modify(
            triples, sols.select(*plain),
            delete=q.template, insert=q.insert_template,
        )

    return _eval_query(triples, q)


def _walk_groups(g: _Group):
    """Yield this group and every group nested anywhere inside it
    (OPTIONAL / MINUS bodies, UNION arms, nested braced groups, EXISTS
    blocks, subquery WHERE groups)."""
    yield g
    for tag, payload in g.elements:
        if tag in ("optional", "minus", "group"):
            yield from _walk_groups(payload)
        elif tag == "union":
            for atag, arm in payload:
                yield from _walk_groups(
                    arm if atag == "group" else arm.where
                )
        elif tag == "subselect":
            yield from _walk_groups(payload.where)
    for _, body in g.exists:
        yield from _walk_groups(body)


def _group_bgp_patterns(g: _Group):
    """The triple/quad patterns directly inside one group (not nested)."""
    for tag, payload in g.elements:
        if tag == "bgp":
            yield from payload


def _compile_union(triples: DataFrame, arms: list, dedup: bool = True):
    """UNION element: compile each arm independently and union the
    solutions by variable name. A variable absent from some arm is
    unbound (NULL) in that arm's rows, so it joins the returned
    nullable set. ``dedup`` follows the query form: spec §18.5 UNION
    is a multiset union, so plain non-DISTINCT SELECTs keep duplicate
    solutions (and skip the dedup shuffle)."""
    compiled = []
    for tag, payload in arms:
        if tag == "group":
            df, m = _compile_group(triples, payload, dedup=dedup)
            if df is None:
                raise SparqlSyntaxError("empty UNION arm")
        else:  # subselect arm
            df, m = _eval_select_sols(triples, payload)
        if any(is_meta_col(c) for c in df.columns):
            raise SparqlSyntaxError(
                "term-metadata builtins inside UNION arms are outside "
                "the supported subset"
            )
        compiled.append((df, m))
    all_vars = {c for df, _ in compiled for c in df.columns}
    maybe: set = set()
    for df, m in compiled:
        maybe |= m
        maybe |= all_vars - set(df.columns)
    return sol_union([df for df, _ in compiled], distinct=dedup), maybe


def _nested_body(triples: DataFrame, g: _Group, what: str) -> DataFrame:
    """Compile a MINUS / EXISTS body group. The probe solutions must be
    statically NULL-free so the anti/semi join stays a plain hash
    equi-join (:func:`sol_minus` / :func:`sol_exists` split-path
    plans)."""
    df, m = _compile_group(triples, g)
    if df is None:
        raise SparqlSyntaxError(f"empty {what} body")
    if m:
        raise SparqlSyntaxError(
            f"{what} bodies whose solutions can be unbound (OPTIONAL, "
            "UNION with uneven variables, VALUES UNDEF, BIND, or "
            "SERVICE inside) are outside the supported subset"
        )
    if any(is_meta_col(c) for c in df.columns):
        raise SparqlSyntaxError(
            f"term-metadata builtins inside {what} bodies are outside "
            "the supported subset"
        )
    return df


def _compile_group(
    triples: DataFrame,
    g: _Group,
    needs_meta: bool = False,
    dedup: bool = True,
):
    """Compile a group graph pattern to ``(solutions, maybe_unbound)``
    following the spec's in-order translation (SPARQL 1.1 §18.2.2.6):
    elements join / left-join / anti-join left to right; group-level
    FILTERs and FILTER [NOT] EXISTS apply to the whole group at the
    end.

    ``maybe_unbound`` is a statically-computed over-approximation of
    the variables that can be NULL (unbound): introduced under
    OPTIONAL, missing from a UNION arm, UNDEF in VALUES, or bound by
    BIND (an expression may evaluate to NULL). The join planner uses
    it to keep every join with a certainly-bound shared variable a
    plain hash equi-join (:func:`ontocast_spark.plans.bgp.sol_join`
    split-path)."""
    meta_here = needs_meta or any(
        _expr_uses_meta(f) for f in g.filters
    ) or any(
        _expr_uses_meta(payload[0])
        for tag, payload in g.elements if tag == "bind"
    )
    if meta_here:
        if "obj_is_literal" not in triples.columns:
            raise SparqlSyntaxError(
                "isIRI/isLiteral/lang/datatype need obj_is_literal/"
                "obj_lang/obj_datatype columns on the triple table"
            )
        if any(tag in ("union", "group", "subselect", "service")
               for tag, _ in g.elements):
            raise SparqlSyntaxError(
                "term-metadata builtins over a UNION, SERVICE, or "
                "nested group are outside the supported subset"
            )
    sols: DataFrame | None = None
    maybe: set = set()

    def merge(df: DataFrame, m: set, how: str = "inner"):
        nonlocal sols, maybe
        if sols is None:
            if how != "inner":
                raise SparqlSyntaxError(
                    "OPTIONAL needs a base pattern in this subset"
                )
            sols, maybe = df, set(m)
            return
        lcols, rcols = set(sols.columns), set(df.columns)
        sols = sol_join(sols, df, left_nullable=maybe, right_nullable=m,
                        how=how)
        if how == "left":
            # left-join: left vars keep their status (a certain shared
            # var keeps the left value); right-only vars become maybe
            maybe = maybe | {c for c in rcols - lcols
                             if not is_meta_col(c)}
        else:
            # inner join coalesces shared vars: a var stays maybe only
            # if every side that carries it can leave it unbound
            maybe = {
                v for v in maybe | m
                if (v not in rcols and v in maybe)
                or (v not in lcols and v in m)
                or (v in maybe and v in m)
            }

    for tag, payload in g.elements:
        if tag == "bgp":
            merge(
                bgp_select(triples, payload, distinct=dedup,
                           bind_term_meta=meta_here),
                set(),
            )
        elif tag == "group":
            df, m = _compile_group(triples, payload, dedup=dedup)
            if df is not None:  # an empty nested {} is the join identity
                merge(df, m)
        elif tag == "subselect":
            df, m = _eval_select_sols(triples, payload)
            if m:
                raise SparqlSyntaxError(
                    "subqueries whose projected solutions can be "
                    "unbound (OPTIONAL/UNION/VALUES UNDEF/BIND inside) "
                    "are outside the supported subset"
                )
            merge(df, set())
        elif tag == "union":
            df, m = _compile_union(triples, payload, dedup)
            merge(df, m)
        elif tag == "optional":
            body_meta = meta_here or any(
                _expr_uses_meta(f) for f in payload.filters
            )
            # compile the body WITHOUT its group-level filters first;
            # a filter whose variables all bind inside the body stays
            # inside (the spec's LeftJoin(A, P, F) with F over P), one
            # referencing base variables becomes the left-join
            # CONDITION (evaluated as Filter(F, Join) u Diff(A, P, F))
            body_wo = _Group(
                elements=payload.elements, filters=[],
                exists=payload.exists,
            )
            df, m = _compile_group(
                triples, body_wo, needs_meta=body_meta, dedup=dedup
            )
            if df is None:
                raise SparqlSyntaxError("empty OPTIONAL body")
            deferred = []
            for f in payload.filters:
                if _expr_vars(f) <= set(df.columns):
                    df = bgp_filter(df, _compile_expr(f))
                else:
                    deferred.append(f)
            if sols is not None and not (
                set(sols.columns) & set(df.columns)
            ):
                raise SparqlSyntaxError(
                    "OPTIONAL group shares no variable with the base"
                )
            if not deferred:
                merge(df, m, how="left")
            else:
                if sols is None:
                    raise SparqlSyntaxError(
                        "OPTIONAL needs a base pattern in this subset"
                    )
                loose = set().union(
                    *[_expr_vars(f) for f in deferred]
                ) - set(df.columns) - set(sols.columns)
                if loose:
                    raise SparqlSyntaxError(
                        f"FILTER references ?{sorted(loose)[0]}, "
                        "which is not bound in its group (outer "
                        "variables are outside the supported subset)"
                    )
                macc: set = set()
                for f in deferred:
                    _meta_arg_vars(f, macc)
                if macc - set(df.columns):
                    raise SparqlSyntaxError(
                        "term-metadata builtins over base variables "
                        "in an OPTIONAL filter are outside the "
                        "supported subset"
                    )
                lcols = set(sols.columns)
                # Diff(A, P, F) needs ROW identity, not value
                # identity: the compatibility join coalesces a
                # maybe-unbound shared variable to the body's value,
                # so a NULL-carrying base row would not value-match
                # its own joined image. Tag each base row with an id;
                # localCheckpoint pins the ids so both union arms see
                # the same assignment (the one materialization this
                # path pays).
                rid = "!leftrow"
                tagged = sols.withColumn(
                    rid, F.monotonically_increasing_id()
                ).localCheckpoint()
                joined = sol_join(
                    tagged, df, left_nullable=maybe, right_nullable=m,
                    how="inner",
                )
                for f in deferred:
                    # one frame holds both sides' columns — the
                    # condition compiles unambiguously; an error
                    # (NULL) counts as not-true, per Diff's definition
                    joined = bgp_filter(joined, _compile_expr(f))
                # base rows with no surviving partner, NULL-padded on
                # the body-only variables
                unmatched = tagged.join(
                    joined.select(rid).dropDuplicates(),
                    on=rid, how="left_anti",
                )
                sols = sol_union(
                    [joined, unmatched], distinct=False
                ).drop(rid)
                maybe = maybe | {c for c in df.columns
                                 if c not in lcols
                                 and not is_meta_col(c)}
        elif tag == "minus":
            if sols is None:
                raise SparqlSyntaxError("MINUS needs a base pattern")
            df = _nested_body(triples, payload, "MINUS")
            sols = sol_minus(
                sols, df, left_nullable=bool(maybe & set(df.columns))
            )
        elif tag == "service":
            endpoint, silent, inner, prefixes = payload
            try:
                svars, srows = _service_solutions(endpoint, inner, prefixes)
            except SparqlServiceError:
                if not silent:
                    raise
                # SERVICE SILENT failure -> the unit solution (spec
                # §18.6): join identity, so just skip the element
                continue
            sdf = triples.sparkSession.createDataFrame(
                srows, ", ".join(f"`{v}` string" for v in svars)
            )
            # every remote var may be unbound (the remote WHERE can
            # use OPTIONAL we never see) -> null-safe join planning
            merge(sdf, set(svars))
        elif tag == "values":
            vars_, rows = payload
            sols = bgp_values(
                sols, triples.sparkSession, vars_, rows,
                left_nullable=maybe,
            )
            maybe |= {
                v for i, v in enumerate(vars_)
                if any(r[i] is None for r in rows)
            }
        elif tag == "bind":
            expr, var = payload
            if sols is None:
                raise SparqlSyntaxError(
                    "BIND needs prior bindings in this subset"
                )
            if var in sols.columns:
                raise SparqlSyntaxError(
                    f"BIND target ?{var} is already bound"
                )
            loose = _expr_vars(expr) - set(sols.columns)
            if loose:
                raise SparqlSyntaxError(
                    f"BIND references ?{sorted(loose)[0]}, which is "
                    "not bound in its group"
                )
            sols = sols.withColumn(var, _compile_expr(expr))
            maybe.add(var)
    for negate, body in g.exists:
        if sols is None:
            raise SparqlSyntaxError(
                "FILTER EXISTS needs prior bindings in this subset"
            )
        df = _nested_body(triples, body, "EXISTS")
        sols = sol_exists(
            sols, df, negate=negate,
            left_nullable=bool(maybe & set(df.columns)),
        )
    for f in g.filters:
        if sols is None:
            raise SparqlSyntaxError("FILTER needs a group to filter")
        loose = _expr_vars(f) - set(sols.columns)
        if loose:
            raise SparqlSyntaxError(
                f"FILTER references ?{sorted(loose)[0]}, which is not "
                "bound in its group (outer variables are outside the "
                "supported subset)"
            )
        sols = bgp_filter(sols, _compile_expr(f))
    return sols, maybe


def _compile_where(triples: DataFrame, q: ParsedQuery):
    """Compile a query's WHERE group with the front-end-level checks:
    GRAPH patterns need a ``graph`` column (anywhere in the nesting),
    and an empty WHERE is a syntax error. Plain SELECT keeps multiset
    semantics (no dedup shuffle); DISTINCT / aggregate / ASK /
    CONSTRUCT forms deduplicate at the BGP.

    ``FROM`` / ``FROM NAMED`` clauses rebuild the dataset first (spec
    §13.2): the default graph becomes the merge of the FROM graphs
    (their rows re-labelled NULL), the named graphs exactly the FROM
    NAMED set — one isin filter each, pushed to the scan."""
    if q.from_graphs is not None or q.from_named is not None:
        if "graph" not in triples.columns:
            raise SparqlSyntaxError(
                "FROM/FROM NAMED need a 'graph' column on the triple "
                "table"
            )
        fg, fn = q.from_graphs or [], q.from_named or []
        default_part = (
            triples.filter(F.col("graph").isin(fg))
            .withColumn("graph", F.lit(None).cast("string"))
        ) if fg else None
        named_part = triples.filter(F.col("graph").isin(fn)) if fn else None
        if default_part is not None and named_part is not None:
            triples = default_part.union(named_part)
        else:
            triples = default_part if default_part is not None \
                else named_part
    for grp in _walk_groups(q.where):
        if any(len(p) == 4 for p in _group_bgp_patterns(grp)) \
                and "graph" not in triples.columns:
            raise SparqlSyntaxError(
                "GRAPH blocks need a 'graph' column on the triple table"
            )
    # hoisted HAVING / ORDER BY aggregates must see the same solution
    # multiset the aliased SELECT form sees, so they set the dedup
    # flag exactly like q.aggs
    hoisted = any(_has_aggcall(h) for h in q.havings) or any(
        not isinstance(k, str) and _has_aggcall(k)
        for k, _ in q.order_by
    )
    dedup = q.form != "select" or q.distinct or bool(q.aggs) or hoisted
    # term-metadata builtins in SELECT expressions (or inside hoisted
    # aggregate arguments) need the metadata columns threaded through
    # the WHERE compile
    needs_meta = (
        any(_expr_uses_meta(e) for e, _ in q.exprs)
        or any(not isinstance(k, str) and _expr_uses_meta(k)
               for k, _ in q.order_by)
        or any(not isinstance(src, str) and _expr_uses_meta(src)
               for _, src, *_ in q.aggs)
        or any(_expr_uses_meta(h) for h in q.havings)
        or any(not isinstance(k, str) and _expr_uses_meta(k[1])
               for k in q.group_by)
    )
    sols, maybe = _compile_group(
        triples, q.where, needs_meta=needs_meta, dedup=dedup
    )
    if sols is None:
        raise SparqlSyntaxError("empty WHERE group")
    return sols, maybe


def _eval_select_sols(triples: DataFrame, q: ParsedQuery):
    """Evaluate a SELECT query to ``(solutions, maybe_unbound)`` — the
    recursion target for ``{ SELECT ... }`` subqueries (spec §12: a
    subquery evaluates independently; only its projection is visible
    outside)."""
    if q.form != "select":
        raise SparqlSyntaxError("a subquery must be a SELECT")
    sols, maybe = _compile_where(triples, q)
    if q.exprs and not q.aggs:
        for expr, alias in q.exprs:
            loose = _expr_vars(expr) - set(sols.columns)
            if loose:
                raise SparqlSyntaxError(
                    f"SELECT expression references unbound "
                    f"?{sorted(loose)[0]}"
                )
            if alias in sols.columns:
                raise SparqlSyntaxError(
                    f"projection alias ?{alias} is already bound"
                )
            sols = sols.withColumn(alias, _compile_expr(expr))
            maybe = maybe | {alias}  # an expression may evaluate NULL
    plain = [c for c in sols.columns if not is_meta_col(c)]

    # bare aggregate calls in HAVING / ORDER BY hoist into hidden
    # aggregate columns (spec §18.2.4 collects aggregates from every
    # clause); the rewritten expressions then reference them as vars.
    # The index is seeded from the SELECT-list aggregates so an
    # identical call reuses the projected alias instead of computing
    # the aggregation twice.
    hidden: list = []
    agg_index: dict = {}
    for fn_, src_, alias_, *rest_ in q.aggs:
        agg_index.setdefault(
            (fn_, repr(src_), bool(rest_ and rest_[0]),
             rest_[1] if len(rest_) > 1 else None),
            alias_,
        )
    havings = [_hoist_aggcalls(h, hidden, agg_index) for h in q.havings]
    order_by = [
        (k if isinstance(k, str)
         else _hoist_aggcalls(k, hidden, agg_index), a)
        for k, a in q.order_by
    ]
    all_aggs = list(q.aggs) + hidden

    def order_key(k):
        return F.col(k) if isinstance(k, str) else _compile_expr(k)

    def order_vars(k):
        return {k} if isinstance(k, str) else _expr_vars(k)

    order_cols = [order_key(k).asc() if a else order_key(k).desc()
                  for k, a in order_by] if order_by else []
    if all_aggs or q.group_by:
        base = sols
        # group expression keys materialize FIRST (spec §18.2.4
        # Group(exprlist, ...)), so aggregate arguments may reference
        # their aliases
        agg_aliases = {a[2] for a in all_aggs}
        group_cols: list = []
        expr_key_aliases: list = []
        for j, k in enumerate(q.group_by):
            if not isinstance(k, str) and k[2] is None \
                    and k[1][0] == "var":
                # GROUP BY (?x): a parenthesized bare variable is the
                # variable itself (§19.8 allows projecting it)
                k = k[1][1]
            if isinstance(k, str):
                if k not in base.columns:
                    raise SparqlSyntaxError(
                        f"GROUP BY ?{k} is not bound by the WHERE"
                    )
                group_cols.append(k)
                continue
            _, ast, alias = k
            loose = _expr_vars(ast) - set(base.columns)
            if loose:
                raise SparqlSyntaxError(
                    f"GROUP BY expression references unbound "
                    f"?{sorted(loose)[0]}"
                )
            name = alias if alias is not None else f"!gkey{j}"
            if name in base.columns or name in agg_aliases:
                raise SparqlSyntaxError(
                    f"GROUP BY alias ?{name} is already bound"
                )
            base = base.withColumn(name, _compile_expr(ast))
            group_cols.append(name)
            if alias is not None:
                expr_key_aliases.append(alias)
        # an aggregate may take a full expression argument —
        # materialize those as hidden columns over the pre-group
        # solutions (spec §18.2.4 Aggregation(E, ...))
        aggs = []
        for i, (fn, src, alias, *rest) in enumerate(all_aggs):
            if isinstance(src, str):
                aggs.append((fn, src, alias, *rest))
                continue
            loose = _expr_vars(src) - set(base.columns)
            if loose:
                raise SparqlSyntaxError(
                    f"aggregate argument references unbound "
                    f"?{sorted(loose)[0]}"
                )
            # ! prefix: outside the VAR grammar, cannot shadow a
            # user variable
            col = f"!aggarg{i}"
            base = base.withColumn(col, _compile_expr(src))
            aggs.append((fn, col, alias, *rest))
        plain_b = [c for c in base.columns if not is_meta_col(c)]
        if aggs:
            out = bgp_aggregate(base.select(*plain_b), group_cols, aggs)
        else:
            # GROUP BY with no aggregate in the SELECT list still
            # groups (spec §18.2.4): one solution per distinct key
            # combination
            out = base.select(*group_cols).dropDuplicates()
        for h in havings:
            if _expr_uses_meta(h):
                # a meta builtin INSIDE an aggregate argument was
                # hoisted away above; a remaining one ranges over the
                # post-aggregation solutions, which carry no metadata
                raise SparqlSyntaxError(
                    "term-metadata builtins cannot follow aggregation"
                )
            loose = _expr_vars(h) - set(out.columns)
            if loose:
                raise SparqlSyntaxError(
                    f"HAVING references ?{sorted(loose)[0]}, which is "
                    "not a GROUP BY key or aggregate alias"
                )
            out = out.filter(_compile_expr(h))
        # COUNT never returns NULL; any other aggregate over a group
        # whose inputs are all unbound does — and an expression key
        # may evaluate to NULL
        maybe_out = {v for v in group_cols if v in maybe} \
            | set(expr_key_aliases) | {
            alias for fn, src, alias, *_ in q.aggs
            if fn != "count" and (
                (src in maybe) if isinstance(src, str)
                else bool(_expr_vars(src) & maybe)
            )
        }
        # spec §18.2.4: Extend (SELECT expressions) AFTER Group /
        # Aggregation / HAVING — expressions range over GROUP BY keys
        # and aggregate aliases
        for expr, alias in q.exprs:
            if _expr_uses_meta(expr):
                raise SparqlSyntaxError(
                    "term-metadata builtins cannot follow aggregation"
                )
            loose = _expr_vars(expr) - set(out.columns)
            if loose:
                raise SparqlSyntaxError(
                    f"SELECT expression references ?{sorted(loose)[0]}, "
                    "which is not a GROUP BY key or aggregate alias"
                )
            if alias in out.columns:
                raise SparqlSyntaxError(
                    f"projection alias ?{alias} is already bound"
                )
            out = out.withColumn(alias, _compile_expr(expr))
            maybe_out = maybe_out | {alias}
        for k, _ in order_by:
            if not isinstance(k, str) and _expr_uses_meta(k):
                raise SparqlSyntaxError(
                    "term-metadata builtins cannot follow aggregation"
                )
            for v in sorted(order_vars(k)):
                if v not in out.columns:
                    raise SparqlSyntaxError(
                        f"ORDER BY ?{v} is not in the aggregate output"
                    )
        if order_cols:
            out = out.orderBy(*order_cols)
        if q.variables is not None:
            # apply the declared projection: drop unprojected GROUP BY
            # keys and the hidden hoisted aggregates, and fix the
            # column order the SELECT list declares
            missing = [v for v in q.variables if v not in out.columns]
            if missing:
                raise SparqlSyntaxError(
                    f"SELECT ?{missing[0]} is not a GROUP BY key or "
                    "aggregate alias"
                )
            out = out.select(*q.variables)
            maybe_out = {v for v in maybe_out if v in q.variables}
        else:
            # no explicit projection: drop hidden hoisted aggregates
            # and anonymous expression group keys (!-prefixed)
            internal = [c for c in out.columns if c.startswith("!")]
            if internal:
                out = out.drop(*internal)
    else:
        if q.havings:
            raise SparqlSyntaxError("HAVING needs aggregates")
        # SELECT *: blank-node bindings (internal !-vars) never
        # project (spec §19.6 — bnodes are scoped existentials)
        vars_ = q.variables if q.variables is not None \
            else [c for c in plain if not c.startswith("!")]
        # projecting a variable the WHERE never binds is legal SPARQL
        # (§18.2.1 Project): the column is simply unbound
        for v in [v for v in vars_ if v not in sols.columns]:
            sols = sols.withColumn(v, F.lit(None).cast("string"))
            maybe = maybe | {v}
        for k, _ in order_by:
            for v in sorted(order_vars(k)):
                if v not in sols.columns:
                    raise SparqlSyntaxError(f"ORDER BY ?{v} is not bound")
                if q.distinct and v not in vars_:
                    # SPARQL 1.1 §15.1: with DISTINCT the sort
                    # variables must appear in the projection
                    raise SparqlSyntaxError(
                        f"SELECT DISTINCT cannot ORDER BY unprojected ?{v}"
                    )
        if q.distinct:
            out = sols.select(*vars_).dropDuplicates()
            if order_cols:
                out = out.orderBy(*order_cols)
        else:
            # sort BEFORE projecting so an unprojected sort key
            # (legal SPARQL: SELECT ?s ... ORDER BY ?o) resolves
            base = sols.orderBy(*order_cols) if order_cols else sols
            out = base.select(*vars_)
        maybe_out = {v for v in vars_ if v in maybe}
    if q.offset:
        # OFFSET before LIMIT: the spec slices [offset, offset+limit)
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out, maybe_out


def _has_modifiers(q: ParsedQuery) -> bool:
    return bool(
        q.group_by or q.havings or q.aggs or q.order_by
        or q.limit is not None or q.offset
    )


def _eval_query(triples: DataFrame, q: ParsedQuery):
    """Evaluate a parsed SELECT/ASK/CONSTRUCT query over the triple
    table. ASK/CONSTRUCT apply solution modifiers (GROUP BY / HAVING /
    ORDER / LIMIT / OFFSET are legal on every query form, spec §18.2.4
    / grammar SolutionModifier) by evaluating the solution sequence
    through the SELECT pipeline first."""
    if q.form in ("ask", "construct"):
        if _has_modifiers(q):
            from dataclasses import replace

            sols, _ = _eval_select_sols(
                triples, replace(q, form="select", variables=None)
            )
        else:
            raw, _ = _compile_where(triples, q)
            sols = raw.select(
                *[c for c in raw.columns if not is_meta_col(c)]
            )
        if q.form == "ask":
            return not sols.limit(1).isEmpty()
        _reject_paths(q.template, "CONSTRUCT template")
        return bgp_construct(sols.dropDuplicates(), q.template)
    out, _ = _eval_select_sols(triples, q)
    return out
