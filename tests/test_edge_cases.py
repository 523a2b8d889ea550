"""Edge-case hardening: nulls, empties, unicode, degenerate shapes."""

from datetime import datetime

from pyspark.sql import functions as F

from ontocast_spark.kernels.chunker import chunk_document, split_text
from ontocast_spark.kernels.extract import extract_chunk_triples
from ontocast_spark.ontology import builtin_ontology_index
from ontocast_spark.pipeline import run_pipeline
from ontocast_spark.schemas import CONVERSATIONS

TS = datetime(2024, 1, 1)


def test_pipeline_survives_nulls_and_empties(spark):
    rows = [
        ("c_empty", 0, "user", "", None, TS),
        ("c_null", 0, "user", None, None, TS),
        ("c_one", 0, "user", "Acme Corp employs Dana Fox.", None, TS),
        ("c_uni", 0, "user", "Café Müller acquired Søren & Brütal GmbH.", None, TS),
        ("c_uni", 1, "assistant", "The café owner works at Café Müller.", None, TS),
        ("c_dupidx", 0, "user", "Stark Industries issued a security.", None, TS),
        ("c_dupidx", 0, "tool", "Stark Industries issued a security.", "search", TS),
    ]
    conv = spark.createDataFrame(rows, CONVERSATIONS)
    out = run_pipeline(spark, conv)
    kg = out["kg_triples"].collect()
    convs = {r["conv_id"] for r in kg}
    assert "c_one" in convs
    assert "c_uni" in convs  # unicode survives end-to-end
    assert all(r["subj"] is not None and r["obj"] is not None for r in kg)
    # degenerate conversations don't crash and produce no phantom triples
    assert out["kg_triples"].filter(F.col("conv_id") == "c_null").count() == 0


def test_chunker_degenerate_inputs():
    assert chunk_document("") == []
    assert chunk_document("   \n\n  ") == []
    assert chunk_document("one sentence only") == ["one sentence only"]
    assert split_text("") == []
    # a giant single sentence cannot be split below max: loop terminates
    giant = "word " * 6000  # 30k chars, no sentence boundaries
    out = chunk_document(giant.strip())
    assert len(out) >= 1


def test_extractor_degenerate_inputs():
    idx = builtin_ontology_index()
    ns = "https://x/doc/1/chunk/2/"
    assert extract_chunk_triples("", ns, idx, None) == []
    assert extract_chunk_triples("no capitals here.", ns, idx, "fin") == []
    t = extract_chunk_triples("Ünïcode Näme works at Acme Corp.", ns, idx, "fin")
    assert any(o == "Ünïcode Näme" for _, _, o, lit, _ in t if lit)


def test_bgp_select_semantics(spark):
    """BGP compiler: constant filters, shared-var joins, repeated-var
    self-equality, and all-constant existence (ASK) patterns."""
    from ontocast_spark.plans.bgp import bgp_select

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"),
         ("a", "type", "P"), ("x", "loop", "x")],
        "subj string, pred string, obj string",
    )
    chain = {(r["a"], r["b"], r["c"]) for r in bgp_select(
        tri, [("?a", "knows", "?b"), ("?b", "knows", "?c")]).collect()}
    assert chain == {("a", "b", "c")}

    loop = {r["n"] for r in bgp_select(tri, [("?n", "loop", "?n")]).collect()}
    assert loop == {"x"}

    present = bgp_select(tri, [("?a", "knows", "?b"), ("a", "type", "P")])
    assert present.count() == 2  # existence pattern, no row multiplication
    absent = bgp_select(tri, [("?a", "knows", "?b"), ("a", "type", "Q")])
    assert absent.count() == 0

    import pytest
    with pytest.raises(ValueError):
        bgp_select(tri, [])


def test_bgp_optional_union_filter(spark):
    from pyspark.sql import functions as F

    from ontocast_spark.plans.bgp import bgp_filter, bgp_select
    from ontocast_spark.plans.sparql import sparql

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"),
         ("a", "age", "30"), ("c", "name", "carol")],
        "subj string, pred string, obj string",
    )
    base = bgp_select(tri, [("?x", "knows", "?y")])
    # OPTIONAL: ?x age ?age — only 'a' has one; 'b' keeps NULL
    opt = {(r["x"], r["y"], r["age"]) for r in sparql(
        tri, "SELECT ?x ?y ?age WHERE { ?x <knows> ?y . "
             "OPTIONAL { ?x <age> ?age } }").collect()}
    assert opt == {("a", "b", "30"), ("b", "c", None)}

    # UNION of disjoint-variable groups -> NULL-padded columns
    u = sparql(tri, "SELECT ?x ?v ?n WHERE { { ?x <age> ?v } "
                    "UNION { ?x <name> ?n } }")
    rows = {(r["x"], r["v"], r["n"]) for r in u.collect()}
    assert rows == {("a", "30", None), ("c", None, "carol")}

    # FILTER over solution variables
    f = bgp_filter(base, F.col("x") == "a")
    assert {(r["x"], r["y"]) for r in f.collect()} == {("a", "b")}


def test_bgp_construct(spark):
    from ontocast_spark.plans.bgp import bgp_construct, bgp_select
    from ontocast_spark.plans.sparql import sparql

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"), ("a", "age", "30")],
        "subj string, pred string, obj string",
    )
    sols = bgp_select(tri, [("?x", "knows", "?y")])
    out = {(r["subj"], r["pred"], r["obj"]) for r in bgp_construct(
        sols, [("?y", "known_by", "?x"), ("?x", "rdf:type", "Agent")]
    ).collect()}
    assert out == {("b", "known_by", "a"), ("c", "known_by", "b"),
                   ("a", "rdf:type", "Agent"), ("b", "rdf:type", "Agent")}

    # NULL from an OPTIONAL var -> that instantiation is skipped
    opt = sparql(tri, "SELECT ?x ?y ?age WHERE { ?x <knows> ?y . "
                      "OPTIONAL { ?x <age> ?age } }")
    aged = {(r["subj"], r["pred"], r["obj"]) for r in bgp_construct(
        opt, [("?x", "has_age", "?age")]).collect()}
    assert aged == {("a", "has_age", "30")}

    import pytest
    with pytest.raises(ValueError):
        bgp_construct(sols, [("?missing", "p", "o")])


def test_bgp_select_matches_bruteforce(spark):
    """Random graphs x random patterns: the DataFrame compilation must
    equal a naive Python BGP evaluator (three seeded rounds, one Spark
    job each)."""
    import random

    from ontocast_spark.plans.bgp import bgp_select

    def brute(triples, patterns):
        sols = [dict()]
        for s, p, o in patterns:
            nxt = []
            for b0 in sols:
                for ts, tp, to in triples:
                    b = dict(b0)
                    ok = True
                    for term, val in ((s, ts), (p, tp), (o, to)):
                        if term.startswith("?"):
                            v = term[1:]
                            if b.get(v, val) != val:
                                ok = False
                                break
                            b[v] = val
                        elif term != val:
                            ok = False
                            break
                    if ok:
                        nxt.append(b)
            sols = nxt
        vs = sorted({t[1:] for pat in patterns for t in pat
                     if t.startswith("?")})
        return {tuple(b[v] for v in vs) for b in sols}, vs

    for seed in (11, 22, 33):
        rng = random.Random(seed)
        nodes = [f"n{i}" for i in range(6)]
        preds = ["p0", "p1", "p2"]
        triples = list({(rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
                        for _ in range(25)})
        tdf = spark.createDataFrame(triples, "subj string, pred string, obj string")
        patterns = []
        for _ in range(rng.randrange(1, 4)):
            mk = lambda pool, vs: (  # noqa: E731
                rng.choice(vs) if rng.random() < 0.6 else rng.choice(pool)
            )
            patterns.append((
                mk(nodes, ["?x", "?y", "?z"]),
                mk(preds, ["?p"]),
                mk(nodes, ["?x", "?y", "?z"]),
            ))
        expect, vs = brute(triples, patterns)
        got = {tuple(r[v] for v in vs)
               for r in bgp_select(tdf, patterns).collect()}
        assert got == expect, (seed, patterns)


def test_optimized_plan_shapes(spark):
    """Plan-shape regression guards: q_simhash is a shuffle-free
    projection; q_prefer_longer is one exchange (partial-then-final
    aggregate), never a per-group sort window."""
    from ontocast_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    sh = QUERIES["q_simhash"](spark, sf)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0

    pl = QUERIES["q_prefer_longer"](spark, sf)
    plan = pl._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Window" not in plan

    # ANN top-k: driver query ends in TakeOrderedAndProject, never a
    # corpus-sized global sort or a window over the whole corpus
    ann = QUERIES["q_ann_topk"](spark, sf)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    # minhash signatures: shuffle-free projection (single shingle
    # evaluation chain, no explode/groupBy)
    mh = QUERIES["q_minhash_sig"](spark, sf)
    plan = mh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    assert "Generate" not in plan  # no explode

    # range join: banded equi-join + residual predicate, never the
    # quadratic non-equi fallback
    rj = QUERIES["q_range_join_bucketed"](spark, sf)
    plan = rj._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # PII / repetition / mixture: single narrow projections
    for name in ("q_redact_pii", "q_repetition_signals", "q_sample_mixture"):
        q = QUERIES[name](spark, sf)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name
        assert "Python" not in plan and "BatchEval" not in plan, name


def _brute_path(triples, path):
    """Set-semantics reference evaluator for property paths (SPARQL
    1.1): plain Python over an edge list, used to property-check
    plans/bgp.py path_pairs."""
    nodes = {s for s, _, _ in triples} | {o for _, _, o in triples}
    ident = {(n, n) for n in nodes}

    def closure(pairs):
        out = set(pairs)
        while True:
            new = {(a, d) for a, b in out for c, d in out if b == c} - out
            if not new:
                return out
            out |= new

    def ev(p):
        k = p.kind
        if k == "iri":
            return {(s, o) for s, pp, o in triples if pp == p.iri}
        if k == "inv":
            return {(o, s) for s, o in ev(p.children[0])}
        if k == "seq":
            out = ev(p.children[0])
            for child in p.children[1:]:
                nxt = ev(child)
                out = {(a, d) for a, b in out for c, d in nxt if b == c}
            return out
        if k == "alt":
            out = set()
            for child in p.children:
                out |= ev(child)
            return out
        if k == "plus":
            return closure(ev(p.children[0]))
        if k == "star":
            return closure(ev(p.children[0])) | ident
        if k == "opt":
            return ev(p.children[0]) | ident
        if k == "nps":
            return {(s, o) for s, pp, o in triples if pp not in p.iri}
        raise ValueError(k)

    return ev(path)


def test_property_path_operators(spark):
    """Each path operator against the brute-force evaluator on a known
    graph, including a cycle (closure must terminate) and the
    zero-length identity of * / ?."""
    from ontocast_spark.plans.bgp import bgp_select, parse_path, path_pairs

    triples = [
        ("a", "sub", "b"), ("b", "sub", "c"), ("c", "sub", "d"),
        ("x", "sub", "y"), ("y", "sub", "x"),          # cycle
        ("a", "lbl", "A"), ("d", "lbl", "D"),
    ]
    tri = spark.createDataFrame(triples, "subj string, pred string, obj string")
    for expr in ["<sub>", "<sub>+", "<sub>*", "<sub>?", "^<sub>",
                 "<sub>/<lbl>", "<sub>|<lbl>", "(<sub>/<sub>)+",
                 "^<sub>/<lbl>", "<sub>+/<lbl>",
                 "!<sub>", "!(<sub>|<lbl>)", "!<lbl>/<lbl>", "!()",
                 "!(^<sub>)", "!(<lbl>|^<sub>)"]:
        ast = parse_path(expr)
        got = {(r["s"], r["o"]) for r in path_pairs(tri, ast).collect()}
        want = _brute_path(triples, ast)
        assert got == want, (expr, got ^ want)

    # integration: path in a pattern, joined with a plain pattern
    rows = bgp_select(
        tri, [("?x", "<sub>+", "?y"), ("?y", "lbl", "?l")]
    )
    got = {(r["x"], r["y"], r["l"]) for r in rows.collect()}
    assert got == {("a", "d", "D"), ("b", "d", "D"), ("c", "d", "D")}
    # constant endpoints on a path pattern
    asc = bgp_select(tri, [("a", "<sub>+", "?y")])
    assert {r["y"] for r in asc.collect()} == {"b", "c", "d"}


def test_property_path_random_graphs(spark):
    """Seeded random graphs x random path ASTs vs the brute-force
    evaluator (the same harness style as the BGP select property
    check)."""
    import random

    from ontocast_spark.plans.bgp import (
        p_alt, p_inv, p_iri, p_nps, p_opt, p_plus, p_seq, p_star,
        path_pairs,
    )

    rng = random.Random(31)

    def rand_path(depth):
        if depth == 0:
            if rng.random() < 0.3:
                return p_nps(
                    [x for x in ("p", "q") if rng.random() < 0.5]
                )
            return p_iri(rng.choice(["p", "q"]))
        op = rng.choice(["inv", "seq", "alt", "plus", "star", "opt"])
        if op == "inv":
            return p_inv(rand_path(depth - 1))
        if op == "seq":
            return p_seq(rand_path(depth - 1), rand_path(depth - 1))
        if op == "alt":
            return p_alt(rand_path(depth - 1), rand_path(depth - 1))
        if op == "plus":
            return p_plus(rand_path(depth - 1))
        if op == "star":
            return p_star(rand_path(depth - 1))
        return p_opt(rand_path(depth - 1))

    for trial in range(6):
        n = rng.randrange(4, 9)
        triples = [
            (f"n{rng.randrange(n)}", rng.choice(["p", "q"]),
             f"n{rng.randrange(n)}")
            for _ in range(rng.randrange(5, 14))
        ]
        tri = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        ast = rand_path(rng.randrange(1, 3))
        got = {(r["s"], r["o"]) for r in path_pairs(tri, ast).collect()}
        want = _brute_path(triples, ast)
        assert got == want, (trial, ast, got ^ want)


def test_parse_path_errors():
    import pytest as _pytest

    from ontocast_spark.plans.bgp import parse_path

    for bad in ["", "<a", "<a>/", "(<a>", "<a>)", "/<a>"]:
        with _pytest.raises(ValueError):
            parse_path(bad)


def test_bgp_aggregate_and_builtins(spark):
    """SPARQL aggregates (COUNT/SUM/AVG/GROUP_CONCAT/SAMPLE over
    groups, NULL bindings skipped) + FILTER builtins (BOUND, REGEX,
    STRSTARTS) on a known solution set."""
    from pyspark.sql import functions as F

    from ontocast_spark.plans.bgp import (
        bgp_aggregate,
        bgp_filter,
        bgp_select,
        fn_bound,
        fn_strstarts,
    )
    from ontocast_spark.plans.sparql import sparql

    tri = spark.createDataFrame(
        [("a", "in", "g1"), ("b", "in", "g1"), ("c", "in", "g2"),
         ("a", "score", "10"), ("b", "score", "30"),
         ("a", "label", "alpha")],
        "subj string, pred string, obj string",
    )
    base = bgp_select(tri, [("?x", "in", "?g")])
    opt = sparql(tri, "SELECT ?x ?g ?s WHERE { ?x <in> ?g . "
                      "OPTIONAL { ?x <score> ?s } }")

    # aggregates per group; c has no score -> count(?s)=0, avg NULL
    agg = bgp_aggregate(
        opt, ["g"],
        [("count", "*", "n"), ("count", "s", "n_scored"),
         ("sum", "s", "total"), ("avg", "s", "mean"),
         ("group_concat", "x", "members"), ("sample", "x", "one")],
        concat_sep=",",
    )
    rows = {r["g"]: r for r in agg.collect()}
    assert rows["g1"]["n"] == 2 and rows["g1"]["n_scored"] == 2
    assert rows["g1"]["total"] == 40.0 and rows["g1"]["mean"] == 20.0
    assert rows["g1"]["members"] == "a,b" and rows["g1"]["one"] == "a"
    assert rows["g2"]["n"] == 1 and rows["g2"]["n_scored"] == 0
    assert rows["g2"]["total"] is None and rows["g2"]["mean"] is None

    # global aggregate (no GROUP BY)
    g = bgp_aggregate(opt, [], [("count", "*", "n")]).collect()
    assert g[0]["n"] == 3

    # builtins
    assert {r["x"] for r in bgp_filter(opt, fn_bound("s")).collect()} == {"a", "b"}
    assert {r["x"] for r in bgp_filter(opt, ~fn_bound("s")).collect()} == {"c"}
    assert {r["g"] for r in bgp_filter(base, fn_strstarts("g", "g1")).collect()} == {"g1"}
    # REGEX / CONTAINS compile inline in the SPARQL text front end
    for cond, want in (('REGEX(STR(?x), "^[ab]$")', {"a", "b"}),
                       ('CONTAINS(STR(?x), "c")', {"c"})):
        q = f"SELECT ?x WHERE {{ ?x <in> ?g . FILTER({cond}) }}"
        assert {r["x"] for r in sparql(tri, q).collect()} == want, cond
    # aggregate over a filtered solution set composes
    fagg = bgp_aggregate(
        bgp_filter(opt, fn_bound("s")), [],
        [("max", "s", "best"), ("min", "x", "who")],
    ).collect()[0]
    assert (fagg["best"], fagg["who"]) == ("30", "a")


def test_asof_join_semantics(spark):
    """As-of join via the union + running-last window: >= tie matching,
    left rows with no prior right get NULLs, tolerance nulls stale
    matches, a right row with NULL payload still supersedes older rows,
    and the plan contains a window but NO join operator."""
    from ontocast_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "l1"), ("u1", 20, "l2"), ("u1", 5, "l0"),
         ("u2", 7, "l3"), ("u3", 9, "l4")],
        "user string, ts long, lid string",
    )
    right = spark.createDataFrame(
        [("u1", 10, "r10"), ("u1", 15, None), ("u1", 8, "r8"),
         ("u2", 7, "r7"), ("u2", 6, "r6")],
        "user string, ts long, payload string",
    )
    out = asof_join(left, right, on="user")
    rows = {r["lid"]: (r["payload_r"], r["ts_r"]) for r in out.collect()}
    assert rows["l1"] == ("r10", 10)    # tie at ts=10 matches (>=)
    assert rows["l2"] == (None, 15)     # NULL payload row supersedes r10
    assert rows["l0"] == (None, None)   # nothing at or before ts=5
    assert rows["l3"] == ("r7", 7)      # picks 7 over 6
    assert rows["l4"] == (None, None)   # key with no right rows at all
    assert out.count() == left.count()  # pure left semantics

    # tolerance: match older than 4s is nulled
    tol = asof_join(left, right, on="user", tolerance_sec=4)
    trows = {r["lid"]: (r["payload_r"], r["ts_r"]) for r in tol.collect()}
    assert trows["l1"] == ("r10", 10)
    assert trows["l2"] == (None, None)  # 20 - 15 = 5 > 4
    assert trows["l3"] == ("r7", 7)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "Join" not in plan  # no non-equi/cartesian fallback anywhere


def test_asof_join_property_vs_pandas(spark):
    """Seeded random event streams vs pandas.merge_asof (backward,
    exact matches allowed) — per-key most-recent-at-or-before
    semantics must agree exactly, including keys with no right rows
    and duplicate left timestamps."""
    import random

    import pandas as pd

    from ontocast_spark.operators.asof import asof_join

    rng = random.Random(23)
    for trial in range(4):
        keys = [f"u{i}" for i in range(rng.randrange(2, 5))]
        left_rows = [
            (rng.choice(keys), rng.randrange(0, 50), f"l{i}")
            for i in range(rng.randrange(5, 25))
        ]
        right_rows = [
            # distinct (key, ts) per right row: merge_asof picks the
            # later of equal-ts rows arbitrarily, our operator breaks
            # ties by payload — dedupe to keep the comparison exact
            (k, t, f"r{k}{t}")
            for (k, t) in {
                (rng.choice(keys), rng.randrange(0, 50))
                for _ in range(rng.randrange(3, 20))
            }
        ]
        left = spark.createDataFrame(left_rows, "user string, ts long, lid string")
        right = spark.createDataFrame(right_rows, "user string, ts long, payload string")
        got = {
            r["lid"]: (r["payload_r"], r["ts_r"])
            for r in asof_join(left, right, on="user").collect()
        }

        lpdf = pd.DataFrame(left_rows, columns=["user", "ts", "lid"]).sort_values("ts")
        rpdf = pd.DataFrame(right_rows, columns=["user", "ts", "payload"]).sort_values("ts")
        merged = pd.merge_asof(
            lpdf, rpdf, on="ts", by="user", direction="backward",
            allow_exact_matches=True, suffixes=("", "_r"),
        )
        for row in merged.itertuples(index=False):
            want = (
                None if pd.isna(row.payload) else row.payload,
                None if pd.isna(row.ts_r) else int(row.ts_r),
            ) if hasattr(row, "ts_r") else (
                None if pd.isna(row.payload) else row.payload,
                None,
            )
            # merge_asof keeps the matched right ts only via the payload
            # encoding rf"r{key}{ts}" — decode for the ts comparison
            if want[0] is not None and want[1] is None:
                want = (want[0], int(want[0][len("r") + len(row.user):]))
            assert got[row.lid] == want, (trial, row.lid, got[row.lid], want)


def test_bgp_update_verbs(spark):
    """SPARQL UPDATE surface: DELETE WHERE removes exactly the pattern
    instantiations (join patterns included), INSERT DATA is
    set-semantics, and the delete is a single anti-join (no loop)."""
    from ontocast_spark.plans.bgp import bgp_delete_where, bgp_insert_data

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"),
         ("a", "age", "30"), ("b", "age", "30"), ("c", "name", "carol")],
        "subj string, pred string, obj string",
    )
    # DELETE WHERE removes EVERY matched triple (knows AND age)
    out = bgp_delete_where(
        tri, [("?x", "knows", "?y"), ("?x", "age", "?a")]
    )
    remaining = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert remaining == {("c", "name", "carol")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan

    # DELETE {template} WHERE {condition}: only the template goes —
    # delete the AGE of everyone who knows someone, keep the knows edges
    out2 = bgp_delete_where(
        tri, [("?x", "knows", "?y"), ("?x", "age", "?a")],
        delete=[("?x", "age", "?a")],
    )
    remaining2 = {(r["subj"], r["pred"], r["obj"]) for r in out2.collect()}
    assert remaining2 == {("a", "knows", "b"), ("b", "knows", "c"),
                          ("c", "name", "carol")}

    ins = bgp_insert_data(
        tri, [("d", "knows", "a"), ("a", "knows", "b")]  # second is a dup
    )
    assert ins.count() == 6
    assert ("d", "knows", "a") in {(r["subj"], r["pred"], r["obj"])
                                   for r in ins.collect()}

    # inserting a dup of a metadata-carrying row must keep the EXISTING
    # row (anti-join before union) — a post-union dedup could keep the
    # new null-metadata row instead (round-4 ADVICE fix)
    tri_meta = spark.createDataFrame(
        [("a", "label", "Alice", True, "en")],
        "subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_lang string",
    )
    ins_meta = bgp_insert_data(
        tri_meta, [("a", "label", "Alice"), ("b", "label", "Bob")]
    )
    rows = {(r["subj"], r["obj_is_literal"], r["obj_lang"])
            for r in ins_meta.collect()}
    assert rows == {("a", True, "en"), ("b", None, None)}


def test_bgp_ask_describe(spark):
    from ontocast_spark.plans.bgp import bgp_ask, bgp_describe

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"), ("a", "age", "30")],
        "subj string, pred string, obj string",
    )
    assert bgp_ask(tri, [("?x", "knows", "c")])
    assert not bgp_ask(tri, [("?x", "knows", "zzz")])
    assert bgp_ask(tri, [("a", "knows", "b")])  # all-constant ASK
    desc = {(r["subj"], r["pred"], r["obj"]) for r in bgp_describe(tri, "b").collect()}
    assert desc == {("a", "knows", "b"), ("b", "knows", "c")}


def test_bgp_term_metadata_builtins(spark):
    """bind_term_meta threads obj_is_literal/obj_lang/obj_datatype
    through solutions: isLiteral/isIRI/lang/datatype FILTER builtins
    work, and a variable bound at both object and subject positions
    only unifies on non-literal terms (term-aware equality)."""
    from ontocast_spark.plans.bgp import (
        bgp_filter,
        bgp_select,
        fn_datatype,
        fn_is_iri,
        fn_is_literal,
        fn_lang,
    )

    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    tri = spark.createDataFrame(
        [
            ("a", "label", "Alpha", True, "en", None),
            ("a", "label", "Alfa", True, "de", None),
            ("a", "age", "30", True, None, xsd_int),
            ("a", "knows", "b", False, None, None),
            ("b", "label", "Beta", True, None, None),
            # literal whose STRING equals node b's IRI — must not unify
            # with b at a subject position
            ("c", "alias", "b", True, None, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string",
    )
    sols = bgp_select(tri, [("a", "?p", "?v")], bind_term_meta=True)
    lit_vals = {r["v"] for r in bgp_filter(sols, fn_is_literal("v")).collect()}
    assert lit_vals == {"Alpha", "Alfa", "30"}
    iri_vals = {r["v"] for r in bgp_filter(sols, fn_is_iri("v")).collect()}
    assert iri_vals == {"b"}
    en = {r["v"] for r in bgp_filter(sols, fn_lang("v") == "en").collect()}
    assert en == {"Alpha"}
    untagged = {r["v"] for r in
                bgp_filter(sols, fn_lang("v") == "").collect()}
    assert untagged == {"30", "b"}
    typed = {r["v"] for r in
             bgp_filter(sols, fn_datatype("v") == xsd_int).collect()}
    assert typed == {"30"}

    # term-aware join: ?x bound at object (a knows ?x) and subject
    # (?x label ?l) — the literal "b" from c's alias must NOT satisfy
    # the object position of a join through a subject binding
    joined = bgp_select(
        tri, [("?s", "alias", "?x"), ("?x", "label", "?l")],
        bind_term_meta=True,
    )
    assert joined.count() == 0  # alias object is a literal, never a subject
    joined2 = bgp_select(
        tri, [("a", "knows", "?x"), ("?x", "label", "?l")],
        bind_term_meta=True,
    )
    assert {(r["x"], r["l"]) for r in joined2.collect()} == {("b", "Beta")}
    # without metadata, plain string equality would wrongly unify the
    # literal "b" with subject b
    loose = bgp_select(tri, [("?s", "alias", "?x"), ("?x", "label", "?l")])
    assert loose.count() == 1


def test_inference_plan_shapes(spark):
    """The inference suite's plan contracts: rdfs2/3 joins broadcast
    the tiny schema side; sameAs/rdfs9 never fall into a cartesian or
    nested-loop join."""
    from ontocast_spark.operators.canonicalize import OWL_SAMEAS, resolve_sameas
    from ontocast_spark.operators.validation import (
        RDFS_SUBCLASSOF,
        infer_types,
        materialize_subclass_types,
    )

    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    tri = spark.createDataFrame(
        [("p", RDFS + "domain", "D", False),
         ("p", RDFS + "range", "R", False),
         ("a", "p", "b", False),
         ("C", RDFS_SUBCLASSOF, "S", False),
         ("a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "C", False),
         ("x", OWL_SAMEAS, "y", False),
         ("y", "p", "b", False)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )
    for df in (infer_types(tri), materialize_subclass_types(tri),
               resolve_sameas(tri)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    plan = infer_types(tri)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # schema side broadcasts


def test_bgp_pattern_reordering(spark):
    """bgp_select plans the most-constant pattern first and keeps
    connected patterns adjacent (variable-counting heuristic); the
    rewrite is order-invariant on results."""
    from ontocast_spark.plans.bgp import _order_patterns, bgp_select

    # wildcard first as written; the typed pattern must seed the plan
    pats = [("?s", "?p", "?o"), ("?s", "type", "T")]
    assert _order_patterns(pats) == [("?s", "type", "T"),
                                     ("?s", "?p", "?o")]
    # disconnected pattern written in the middle defers to the end
    pats = [("?a", "p", "?b"), ("?x", "q", "?y"), ("?b", "p", "?c")]
    assert _order_patterns(pats) == [
        ("?a", "p", "?b"), ("?b", "p", "?c"), ("?x", "q", "?y"),
    ]
    # ties keep the written order
    pats = [("?a", "p", "?b"), ("?b", "q", "?c")]
    assert _order_patterns(pats) == pats

    tri = spark.createDataFrame(
        [("a", "type", "T"), ("a", "p", "x"), ("b", "p", "y")],
        "subj string, pred string, obj string",
    )
    got = {(r["s"], r["p"], r["o"]) for r in bgp_select(
        tri, [("?s", "?p", "?o"), ("?s", "type", "T")]
    ).collect()}
    assert got == {("a", "type", "T"), ("a", "p", "x")}


def test_bgp_reorder_is_result_invariant(spark):
    """Every permutation of a BGP's written pattern order yields the
    same solution multiset — the selectivity reorderer must never
    change semantics, only intermediate sizes."""
    import itertools

    from ontocast_spark.plans.bgp import bgp_select

    tri = spark.createDataFrame(
        [("a", "type", "T"), ("a", "p", "x"), ("x", "q", "m"),
         ("b", "p", "y"), ("y", "q", "m"), ("b", "type", "T")],
        "subj string, pred string, obj string",
    )
    pats = [("?s", "?p0", "?v"), ("?s", "type", "T"), ("?v", "q", "?m")]
    want = None
    for perm in itertools.permutations(pats):
        got = sorted(
            tuple(r[c] for c in sorted(["s", "p0", "v", "m"]))
            for r in bgp_select(tri, list(perm), distinct=False).collect()
        )
        if want is None:
            want = got
        assert got == want, perm
    assert want  # non-trivial case actually matched


def test_sparql_driver_queries_plan_hash_joins(spark):
    """Scale guard over EVERY SPARQL-path driver query: no
    BroadcastNestedLoopJoin, no CartesianProduct — each solution join
    anchors on bound shared variables (sol_join split-path plans), at
    any nesting depth, through paths, negation, VALUES, and hoisted
    aggregates. A regression here is the classic 100x scale-killer."""
    from ontocast_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    names = [n for n in QUERIES if n.startswith(("q_sparql", "q_bgp"))]
    assert len(names) >= 12  # the sweep covers the real surface
    for name in names:
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a nested-loop join is tolerable ONLY against a broadcast
        # inline-VALUES local relation (constant-size build side — the
        # UNDEF wildcard row is compatibility-joined by definition);
        # any BNLJ beyond the LocalTableScan count means a data-sized
        # build side leaked in
        bnlj = plan.count("BroadcastNestedLoopJoin")
        inline = plan.count("LocalTableScan") \
            + plan.count("Scan ExistingRDD")
        assert bnlj <= inline, name
        assert "CartesianProduct" not in plan, name


def test_graph_partitioned_store_prunes_partitions(spark, tmp_path):
    """A quad table written partitionBy("graph") turns every
    constant-IRI GRAPH query into a partition-pruned scan (and the
    default graph into the null partition) — the companion layout to
    subject bucketing for the 100-TB store."""
    from ontocast_spark.plans.sparql import sparql

    path = str(tmp_path / "quads")
    spark.createDataFrame(
        [("a", "p", "1", None), ("b", "p", "2", "g1"),
         ("c", "p", "3", "g2")],
        "subj string, pred string, obj string, graph string",
    ).write.partitionBy("graph").parquet(path)
    quads = spark.read.parquet(path)

    out = sparql(quads, "SELECT ?s WHERE { GRAPH <g1> { ?s <p> ?o } }")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(graph" in plan \
        or "PartitionFilters: [(graph" in plan, plan
    assert {r["s"] for r in out.collect()} == {"b"}
    # default graph = the null partition, also pruned
    out = sparql(quads, "SELECT ?s WHERE { ?s <p> ?o }")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isnull(graph" in plan, plan
    assert {r["s"] for r in out.collect()} == {"a"}
