"""Distributed CC + cross-document canonicalization: correctness on
known graphs and P/R agreement vs the exact per-doc replay on the
synthetic corpus (internal >= 0.95 gate of BASELINE.md)."""

import pytest
from pyspark.sql import functions as F

from ontocast_spark.operators.cc import connected_components
from ontocast_spark.operators.crossdoc import (
    canonicalize_crossdoc,
    candidate_pairs,
    entity_metadata,
    match_edges,
)
from ontocast_spark.schemas import CONVERSATIONS, TRIPLES


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        ["src", "dst"],
    )
    labels = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}


def test_connected_components_chain(spark):
    # a long path graph needs multiple label-propagation rounds
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], ["src", "dst"]
    )
    labels = connected_components(edges)
    comps = labels.select("comp").distinct().collect()
    assert len(comps) == 1
    assert comps[0]["comp"] == "n00"


def test_connected_components_evaluates_edges_once(spark):
    """The caller's edge plan runs once per call, not once per round: a
    counting Python UDF in the edge plan is evaluated at most twice per
    edge row (once for each direction of the symmetric edge set)."""
    calls = spark.sparkContext.accumulator(0)

    def counted(x):
        calls.add(1)
        return x

    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], ["src", "dst"]
    ).select(F.udf(counted, "string")("src").alias("src"), "dst")
    labels = connected_components(edges)
    assert {r["comp"] for r in labels.collect()} == {"n00"}
    assert calls.value <= 2 * n, calls.value


def _meta_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "entity string, local_name string, label string, types array<string>",
    )


def test_crossdoc_block_cap(spark):
    """A block of exactly ``max_block_size`` entities is paired, one more
    entity drops it, and a pair sharing several block keys comes out
    once."""
    ns = "https://x.com/e/"
    # one "tk:zebra" token block; every "ln:x<i>" block is a singleton
    zebras = [(f"{ns}x{i}", f"x{i}", "zebra", []) for i in range(4)]
    at_cap = candidate_pairs(_meta_df(spark, zebras[:3]), max_block_size=3)
    assert sorted((r["a"], r["b"]) for r in at_cap.collect()) == [
        (ns + "x0", ns + "x1"), (ns + "x0", ns + "x2"), (ns + "x1", ns + "x2"),
    ]
    over = candidate_pairs(_meta_df(spark, zebras), max_block_size=3)
    assert over.count() == 0

    # shares "ln:twin", "tk:alpha" and "tk:beta"
    twins = _meta_df(spark, [
        ("https://x.com/1/twin", "twin", "Alpha Beta", []),
        ("https://x.com/2/twin", "twin", "Alpha Beta", []),
    ])
    assert [(r["a"], r["b"]) for r in candidate_pairs(twins).collect()] == [
        ("https://x.com/1/twin", "https://x.com/2/twin")
    ]


def _facts_df(spark, rows):
    return spark.createDataFrame(rows, schema=TRIPLES)


RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
PERSON = "http://xmlns.com/foaf/0.1/Person"


def test_crossdoc_merges_and_type_gate(spark):
    ns1 = "https://x.com/doc/1/chunk/c1/"
    ns2 = "https://x.com/doc/2/chunk/c2/"
    mk = lambda c, h, s, p, o, lit: (  # noqa: E731
        c, f"https://x.com/doc/{c[-1]}", h, f"https://x.com/doc/{c[-1]}/chunk/{h}",
        s, p, o, lit, None,
    )
    rows = [
        # same local name, cross-doc, no types -> merge
        mk("conv1", "c1", ns1 + "john_doe", RDFS_LABEL, "John Doe", True),
        mk("conv2", "c2", ns2 + "john_doe", RDFS_LABEL, "John Doe Sr", True),
        # same local name but disjoint types -> NO merge
        mk("conv1", "c1", ns1 + "apple", RDF_TYPE, PERSON, False),
        mk("conv1", "c1", ns1 + "apple", RDFS_LABEL, "Apple Johnson", True),
        mk("conv2", "c2", ns2 + "apple", RDF_TYPE, ns2 + "Company", False),
        mk("conv2", "c2", ns2 + "apple", RDFS_LABEL, "Apple Inc.", True),
        # fuzzy label merge across different local names (no types)
        mk("conv1", "c1", ns1 + "acme_corporation", RDFS_LABEL, "ACME Corporation", True),
        mk("conv2", "c2", ns2 + "acme_corporationx", RDFS_LABEL, "ACME Corporationx", True),
    ]
    facts = _facts_df(spark, rows)
    meta = entity_metadata(facts)
    pairs = candidate_pairs(meta)
    edges = match_edges(pairs)
    edge_set = {(r["a"], r["b"]) for r in edges.collect()}
    assert (ns1 + "john_doe", ns2 + "john_doe") in edge_set
    assert (ns1 + "acme_corporation", ns2 + "acme_corporationx") in edge_set
    assert (ns1 + "apple", ns2 + "apple") not in edge_set

    rewritten, mapping = canonicalize_crossdoc(facts, kg_namespace="https://kg/")
    mp = {r["original_iri"]: r["canonical_iri"] for r in mapping.collect()}
    assert mp[ns1 + "john_doe"] == mp[ns2 + "john_doe"] == "https://kg/john_doe"
    assert ns1 + "apple" not in mp
    # rewrite applied
    subs = {r["subj"] for r in rewritten.collect()}
    assert "https://kg/john_doe" in subs
    assert ns1 + "john_doe" not in subs


def test_fuzzy_unicode_case_expansion_parity(spark):
    """Labels whose ``.lower()`` EXPANDS ('İ' U+0130 -> 'i' + U+0307)
    must be bounded on the LOWERED lengths: the old skip bound used
    pre-lower lengths and silently dropped these pairs, diverging from
    the exact kernel (VERDICT r3 finding #1). Batch path and exact
    greedy replay must decide identically."""
    ns1 = "https://x.com/doc/1/chunk/c1/"
    ns2 = "https://x.com/doc/2/chunk/c2/"
    label_a = "acme " + "İ" * 20   # len 25 -> lowers to len 45
    label_b = "acme " + "i̇" * 20  # len 45, lower-stable
    assert label_a.lower() == label_b.lower()
    assert len(label_a.lower()) == len(label_b) == 45
    # the PRE-lower lengths alone would bound the score below 85 —
    # exactly the configuration the old code false-negatived on
    assert 200.0 * len(label_a) < 85.0 * (len(label_a) + len(label_b))
    rows = [
        ("conv1", "https://x.com/doc/1", "c1", ns1.rstrip("/"),
         ns1 + "acme_tr", RDFS_LABEL, label_a, True, None),
        ("conv2", "https://x.com/doc/2", "c2", ns2.rstrip("/"),
         ns2 + "acme_turkey", RDFS_LABEL, label_b, True, None),
    ]
    facts = _facts_df(spark, rows)
    edges = match_edges(candidate_pairs(entity_metadata(facts)))
    edge_set = {(r["a"], r["b"]) for r in edges.collect()}
    assert (ns1 + "acme_tr", ns2 + "acme_turkey") in edge_set

    # exact-kernel parity: the greedy replay merges the same pair
    from ontocast_spark.kernels.aggregate import (
        EntityMetadata,
        find_similar_entities,
    )

    ents = {
        ns1 + "acme_tr": EntityMetadata("acme_tr", label=label_a),
        ns2 + "acme_turkey": EntityMetadata("acme_turkey", label=label_b),
    }
    assert find_similar_entities(ents, {}) == [
        [ns1 + "acme_tr", ns2 + "acme_turkey"]
    ]


@pytest.mark.slow
def test_crossdoc_pr_vs_local_replay(spark, reference_chain):
    """P/R of the distributed mapping vs the exact greedy replay,
    restricted to per-document scope (same scope as the reference).
    Pair-level agreement must be >= 0.95 both ways."""
    from ontocast_spark.synth import gen_corpus

    rows = gen_corpus(30, seed=7, mega_every=0)
    conv = spark.createDataFrame(rows, schema=CONVERSATIONS)
    triples = reference_chain(conv)
    facts = triples.filter(F.col("part") == "facts").drop("part").cache()

    # exact per-doc mapping (reference replay)
    from ontocast_spark.operators.canonicalize import canonicalize_combined

    local_map = canonicalize_combined(facts).filter(
        F.col("row_kind") == "entity_map"
    ).select(
        "conv_id",
        F.col("subj").alias("original_iri"),
        F.col("obj").alias("canonical_iri"),
    )
    local_pairs = set()
    by_canon = {}
    for r in local_map.collect():
        by_canon.setdefault((r["conv_id"], r["canonical_iri"]), []).append(
            r["original_iri"]
        )
    for group in by_canon.values():
        for i, x in enumerate(group):
            for y in group[i + 1:]:
                local_pairs.add(tuple(sorted((x, y))))

    # distributed mapping, same per-doc scope: run crossdoc per corpus
    # but compare only same-conv pairs (chunk namespaces embed the doc)
    _, dist_map = canonicalize_crossdoc(facts)
    dist_groups = {}
    for r in dist_map.collect():
        dist_groups.setdefault(r["canonical_iri"], []).append(r["original_iri"])
    def doc_scope(iri):
        return iri.split("/chunk/")[0] if "/chunk/" in iri else None

    dist_pairs = set()
    for group in dist_groups.values():
        for i, x in enumerate(group):
            for y in group[i + 1:]:
                # compare within document scope (the reference's scope);
                # ontology-namespace IRIs are global (no /chunk/ segment)
                dx, dy = doc_scope(x), doc_scope(y)
                if dx == dy or dx is None or dy is None:
                    dist_pairs.add(tuple(sorted((x, y))))

    tp = len(local_pairs & dist_pairs)
    precision = tp / len(dist_pairs) if dist_pairs else 1.0
    recall = tp / len(local_pairs) if local_pairs else 1.0
    assert precision >= 0.95, (precision, len(dist_pairs), len(local_pairs))
    assert recall >= 0.95, (recall, len(dist_pairs), len(local_pairs))
    facts.unpersist()


def test_crossdoc_single_facts_scan(spark, tmp_path):
    """The rewritten-triples plan scans the facts parquet at most twice
    (the rewrite join's own probe side + nothing re-derived per
    consumer), instead of once per consumer (round-1 VERDICT #4): the
    mapping is an eagerly materialized localCheckpoint, so its build
    sides read the checkpointed RDD, never the parquet lineage."""
    import os

    ns = "https://x.com/doc/1/chunk/c1/"
    rows = [
        ("conv1", "https://x.com/doc/1", "c1", ns, ns + "john_doe",
         RDFS_LABEL, "John Doe", True, None),
        ("conv1", "https://x.com/doc/1", "c1", ns, ns + "jane_roe",
         RDFS_LABEL, "Jane Roe", True, None),
    ]
    path = os.path.join(str(tmp_path), "facts")
    _facts_df(spark, rows).write.parquet(path)
    facts = spark.read.parquet(path)
    rewritten, mapping = canonicalize_crossdoc(facts)
    mapping.count()  # materialize the persisted mapping
    plan = rewritten._jdf.queryExecution().executedPlan().toString()

    # InMemoryTableScan PRINTS its cached child plan (display-only, not
    # re-executed) — drop those subtrees before counting live scans
    def live_scans(plan_str: str) -> int:
        n, skip_indent = 0, None
        for line in plan_str.splitlines():
            indent = len(line) - len(line.lstrip(" :+-"))
            if skip_indent is not None:
                if indent > skip_indent:
                    continue
                skip_indent = None
            if "InMemoryTableScan" in line:
                skip_indent = indent
                continue
            if "FileScan parquet" in line:
                n += 1
        return n

    n_scans = live_scans(plan)
    # facts flows through the two chained rewrite joins as ONE scan; the
    # mapping build sides come from the materialized checkpoint, and
    # meta / blocked never re-derive from parquet
    assert n_scans <= 2, f"facts parquet scanned {n_scans}x live:\n{plan[:2000]}"
    assert "ExistingRDD" in plan  # mapping reads the checkpoint


def test_crossdoc_releases_cached_tables(spark):
    """Intermediate persist()s (meta, blocked) are released once the
    mapping materializes: two sequential canonicalizations must not
    grow the executor storage cache (r2 VERDICT #8 — a long-lived
    incremental driver would otherwise accumulate cached blocks until
    eviction)."""
    ns = "https://x.com/doc/1/chunk/c1/"
    rows = [
        ("conv1", "https://x.com/doc/1", "c1", ns, ns + "john_doe",
         RDFS_LABEL, "John Doe", True, None),
        ("conv1", "https://x.com/doc/1", "c1", ns, ns + "jane_roe",
         RDFS_LABEL, "Jane Roe", True, None),
    ]
    facts = _facts_df(spark, rows)

    import gc
    import time

    def cached_count():
        return spark._jsc.getPersistentRDDs().size()

    def settle(target, timeout=30.0):
        """localCheckpoint RDDs are released by the async ContextCleaner
        once unreferenced — force GC and poll until storage drains back
        to the baseline (the old leak held meta/blocked persists FOREVER
        via the returned DataFrames' plans, which no GC could fix)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            n = cached_count()
            if n <= target:
                return n
            time.sleep(1.0)
        return cached_count()

    n0 = settle(0)
    counts = []
    for _ in range(3):
        rewr, mapping = canonicalize_crossdoc(facts)
        rewr.count()
        del rewr, mapping
        counts.append(settle(n0 + 2))
    # a small constant floor (the latest call's checkpoints pending
    # async cleanup) is fine; PER-CALL GROWTH is the leak the old code
    # had (meta+blocked+mapping persists pinned by the returned plans,
    # +3 every call, unreclaimable by GC)
    assert counts[-1] <= counts[0] + 1, counts
    assert counts[-1] - n0 <= 3, (n0, counts)


def test_incremental_canonicalize_stability(spark):
    """Batch B merges into batch A's canonical KG: existing mapping
    entries never change, matching new entities ADOPT the existing
    canonical IRI, fresh groups mint with suffixes offset past the
    names the KG already holds, and re-appearing originals reuse their
    mapping."""
    from ontocast_spark.operators.crossdoc import (
        canonical_entity_meta,
        incremental_canonicalize,
    )

    ns1 = "https://x.com/doc/1/chunk/c1/"
    ns2 = "https://x.com/doc/2/chunk/c2/"
    ns3 = "https://x.com/doc/3/chunk/c3/"
    mk = lambda c, h, s, p, o, lit: (  # noqa: E731
        c, f"https://x.com/doc/{c[-1]}", h, f"https://x.com/doc/{c[-1]}/chunk/{h}",
        s, p, o, lit, None,
    )
    batch_a = _facts_df(spark, [
        # group 1: john_doe across docs -> canonical kg/john_doe
        mk("conv1", "c1", ns1 + "john_doe", RDFS_LABEL, "John Doe", True),
        mk("conv2", "c2", ns2 + "john_doe", RDFS_LABEL, "John Doe Sr", True),
        # singleton in A (no group): stays unmapped
        mk("conv1", "c1", ns1 + "acme", RDFS_LABEL, "ACME Corp", True),
    ])
    rewr_a, map_a = canonicalize_crossdoc(batch_a, kg_namespace="https://x.com/kg/")
    map_a_rows = {(r["original_iri"], r["canonical_iri"]) for r in map_a.collect()}
    assert {c for _, c in map_a_rows} == {"https://x.com/kg/john_doe"}
    canon_meta = canonical_entity_meta(rewr_a)

    batch_b = _facts_df(spark, [
        # adopts the existing canonical (same local name, no types)
        mk("conv3", "c3", ns3 + "john_doe", RDFS_LABEL, "John Doe Jr", True),
        # re-appearing already-mapped original -> reuse
        mk("conv3", "c3", ns2 + "john_doe", RDFS_LABEL, "John Doe Sr", True),
        # fresh group colliding with an existing canonical NAME:
        # two new john_doe-named entities in disjoint-type land would
        # not match canon if types conflicted; instead use a new name
        mk("conv3", "c3", ns3 + "beta_llc", RDFS_LABEL, "Beta LLC", True),
        mk("conv3", "c3", ns3 + "beta_llcx", RDFS_LABEL, "Beta LLCx", True),
    ])
    rewr_b, full_map = incremental_canonicalize(
        batch_b, map_a, canon_meta, kg_namespace="https://x.com/kg/"
    )
    full = {r["original_iri"]: r["canonical_iri"] for r in full_map.collect()}

    # stability: A's entries unchanged
    for o, c in map_a_rows:
        assert full[o] == c
    # adoption: the new john_doe joins the EXISTING canonical
    assert full[ns3 + "john_doe"] == "https://x.com/kg/john_doe"
    # reuse: the re-appearing original keeps its mapping
    assert full[ns2 + "john_doe"] == "https://x.com/kg/john_doe"
    # fresh mint for the new group
    assert full[ns3 + "beta_llc"] == full[ns3 + "beta_llcx"]
    assert full[ns3 + "beta_llc"].startswith("https://x.com/kg/beta_llc")
    # rewritten batch-B triples use canonical IRIs
    subs = {r["subj"] for r in rewr_b.collect()}
    assert "https://x.com/kg/john_doe" in subs
    assert ns3 + "john_doe" not in subs


def test_incremental_mint_suffix_offset(spark):
    """A fresh batch group whose representative name collides with an
    already-minted canonical gets the next _N suffix, never re-using an
    existing canonical IRI."""
    from ontocast_spark.operators.crossdoc import incremental_canonicalize

    ns3 = "https://x.com/doc/3/chunk/c3/"
    mk = lambda c, h, s, p, o, lit: (  # noqa: E731
        c, f"https://x.com/doc/{c[-1]}", h, f"https://x.com/doc/{c[-1]}/chunk/{h}",
        s, p, o, lit, None,
    )
    # existing KG already minted kg/gamma
    existing_map = spark.createDataFrame(
        [("https://old/a", "https://x.com/kg/gamma"),
         ("https://old/b", "https://x.com/kg/gamma")],
        "original_iri string, canonical_iri string",
    )
    # canon meta with a DIFFERENT label/type so the new group does NOT
    # adopt it (disjoint types), forcing a fresh mint under the same name
    canon_meta = spark.createDataFrame(
        [("https://x.com/kg/gamma", "gamma", "Gamma Fund",
          ["https://x.com/T/Fund"])],
        "entity string, local_name string, label string, types array<string>",
    )
    batch = _facts_df(spark, [
        # gamma carries the LONGEST label -> it becomes the group
        # representative, so the minted base name collides with the
        # existing canonical "gamma"
        mk("conv3", "c3", ns3 + "gamma", RDF_TYPE, "https://x.com/T/Person", False),
        mk("conv3", "c3", ns3 + "gamma", RDFS_LABEL, "Gamma Persons", True),
        mk("conv3", "c3", ns3 + "gammax", RDF_TYPE, "https://x.com/T/Person", False),
        mk("conv3", "c3", ns3 + "gammax", RDFS_LABEL, "Gamma Person", True),
    ])
    _, full = incremental_canonicalize(
        batch, existing_map, canon_meta, kg_namespace="https://x.com/kg/"
    )
    m = {r["original_iri"]: r["canonical_iri"] for r in full.collect()}
    assert m[ns3 + "gamma"] == m[ns3 + "gammax"]
    assert m[ns3 + "gamma"] == "https://x.com/kg/gamma_1"  # offset past existing
    assert m["https://old/a"] == "https://x.com/kg/gamma"  # untouched


def _mint(spark, reps, existing=None, ns="https://x.com/kg/"):
    """Helper: run _mint_from_reps over (comp, cname) tuples with an
    optional existing-local-name list; returns {comp: local_name}."""
    from ontocast_spark.operators.crossdoc import _mint_from_reps, _slot_pairs

    rep = spark.createDataFrame(reps, "comp string, cname string")
    taken = None
    if existing:
        taken = _slot_pairs(
            spark.createDataFrame([(n,) for n in existing], "nm string")
        )
    out = _mint_from_reps(rep, ns, taken)
    return {r["comp"]: r["canonical_iri"][len(ns):] for r in out.collect()}


def test_mint_natural_digit_suffix_names(spark):
    """r2 ADVICE medium: natural names ending in _<digits> (covid_19
    from label 'COVID 19') must never be silently merged with the
    collision-suffix sequence of their regex-stripped base. 18 fresh
    'covid' components mint AROUND the existing natural covid_19."""
    existing = ["covid", "covid_19"]
    reps = [(f"c{i:02d}", "covid") for i in range(18)]
    minted = _mint(spark, reps, existing)
    assert len(set(minted.values())) == 18          # all distinct
    assert not set(minted.values()) & set(existing)  # none reuse existing
    # slots 0 and 19 are taken -> 18 mints occupy 1..18 exactly
    assert set(minted.values()) == {f"covid_{i}" for i in range(1, 19)}
    # and the 19th+ fresh component skips past the natural covid_19
    reps2 = [(f"d{i:02d}", "covid") for i in range(20)]
    minted2 = _mint(spark, reps2, existing)
    assert "covid_19" not in minted2.values()
    assert set(minted2.values()) == {f"covid_{i}" for i in range(1, 19)} | {
        "covid_20", "covid_21"
    }


def test_mint_batch_sibling_natural_names(spark):
    """Within ONE batch, a base's suffixed mints skip slots occupied by
    sibling components' natural names (batch path and incremental path
    share this algorithm)."""
    reps = [("c1", "covid"), ("c2", "covid"), ("c3", "covid"),
            ("c4", "covid_1")]
    minted = _mint(spark, reps)
    assert minted["c4"] == "covid_1"
    assert minted["c1"] == "covid"        # rank 1 keeps the bare name
    assert set(minted.values()) == {"covid", "covid_1", "covid_2", "covid_3"}


def test_mint_property_no_collisions(spark):
    """Property (seeded random): for arbitrary mixes of natural and
    _<digits>-bearing names minted in two phases (phase 2 sees phase
    1's output as existing), every minted name is globally unique and
    never collides with any existing name — and on disjoint bases the
    two-phase result equals the one-batch result."""
    import random

    rng = random.Random(13)
    bases = ["acme", "acme_2", "x_1", "x", "beta_10", "beta"]
    for trial in range(5):
        phase1 = [(f"a{i:03d}", rng.choice(bases)) for i in range(rng.randrange(1, 15))]
        phase2 = [(f"b{i:03d}", rng.choice(bases)) for i in range(rng.randrange(1, 15))]
        m1 = _mint(spark, phase1)
        names1 = set(m1.values())
        assert len(names1) == len(m1), (trial, m1)
        m2 = _mint(spark, phase2, existing=sorted(names1))
        names2 = set(m2.values())
        assert len(names2) == len(m2), (trial, m2)
        assert not names1 & names2, (trial, names1 & names2)
    # disjoint-base agreement: splitting a batch by base across phases
    # yields exactly the names one combined batch would mint
    p1 = [("a1", "covid"), ("a2", "covid"), ("a3", "covid_19")]
    p2 = [("b1", "zeta"), ("b2", "zeta")]
    both = _mint(spark, p1 + p2)
    m1 = _mint(spark, p1)
    m2 = _mint(spark, p2, existing=sorted(set(m1.values())))
    assert set(m1.values()) | set(m2.values()) == set(both.values())


@pytest.mark.slow
def test_incremental_vs_batch_corpus_agreement(spark, reference_chain):
    """Corpus-level: split the synthetic corpus into two batches, run
    batch-all canonicalization vs batch-A + incremental-B, and compare
    the induced same-canonical pair sets. The incremental path may only
    LOSE bridge merges (a B entity that would have bridged two A groups
    adopts one) — precision vs batch must stay high, and batch-A
    entries must be bit-stable through the incremental merge."""
    from ontocast_spark.operators.crossdoc import (
        canonical_entity_meta,
        incremental_canonicalize,
    )
    from ontocast_spark.schemas import CONVERSATIONS
    from ontocast_spark.synth import gen_corpus

    rows = gen_corpus(24, seed=11, mega_every=0)
    conv = spark.createDataFrame(rows, schema=CONVERSATIONS)
    triples = reference_chain(conv)
    facts = triples.filter(F.col("part") == "facts").drop("part").persist()
    convs = sorted({r[0] for r in rows})
    half = set(convs[: len(convs) // 2])
    fa = facts.filter(F.col("conv_id").isin(half))
    fb = facts.filter(~F.col("conv_id").isin(half))

    _, map_all = canonicalize_crossdoc(facts)
    rew_a, map_a = canonicalize_crossdoc(fa)
    meta_a = canonical_entity_meta(rew_a)
    _, map_inc = incremental_canonicalize(fb, map_a, meta_a)

    def pairs(mapping):
        groups = {}
        for r in mapping.collect():
            groups.setdefault(r["canonical_iri"], []).append(r["original_iri"])
        out = set()
        for g in groups.values():
            g = sorted(g)
            for i, x in enumerate(g):
                for y in g[i + 1:]:
                    out.add((x, y))
        return out

    p_all, p_inc = pairs(map_all), pairs(map_inc)
    assert p_inc, "incremental produced no merges at all"
    precision = len(p_inc & p_all) / len(p_inc)
    recall = len(p_inc & p_all) / len(p_all)
    assert precision >= 0.95, (precision, len(p_inc), len(p_all))
    assert recall >= 0.8, (recall, len(p_inc), len(p_all))

    # stability: every batch-A mapping entry survives verbatim
    inc = {r["original_iri"]: r["canonical_iri"] for r in map_inc.collect()}
    for r in map_a.collect():
        assert inc[r["original_iri"]] == r["canonical_iri"]
    facts.unpersist()


def test_pairwise_er_metrics(spark):
    """Contingency-based pair P/R vs a brute-force pair enumeration on
    random clusterings (no pair explosion in the operator; identical
    numbers)."""
    import itertools
    import random

    from ontocast_spark.operators.crossdoc import pairwise_er_metrics

    rng = random.Random(5)
    for trial in range(3):
        n = rng.randrange(8, 40)
        elems = [f"e{i}" for i in range(n)]
        ca = {e: f"A{rng.randrange(1, 6)}" for e in elems}
        cb = {e: f"B{rng.randrange(1, 5)}" for e in elems}
        ma = spark.createDataFrame(list(ca.items()),
                                   "original_iri string, canonical_iri string")
        mb = spark.createDataFrame(list(cb.items()),
                                   "original_iri string, canonical_iri string")
        row = pairwise_er_metrics(ma, mb).collect()[0]

        def pairs(cl):
            return {frozenset(p) for p in itertools.combinations(elems, 2)
                    if cl[p[0]] == cl[p[1]]}

        sa, sb = pairs(ca), pairs(cb)
        assert row["pairs_a"] == len(sa)
        assert row["pairs_b"] == len(sb)
        assert row["common_pairs"] == len(sa & sb)
        want_p = round(len(sa & sb) / max(len(sa), 1), 6)
        want_r = round(len(sa & sb) / max(len(sb), 1), 6)
        assert row["precision"] == want_p and row["recall"] == want_r, trial


def test_resolve_sameas(spark):
    """owl:sameAs collapse: transitive chains rewrite to the min-IRI
    representative, sameAs triples drop, literals never rewrite, and
    payloads dedup after the collapse."""
    from ontocast_spark.operators.canonicalize import OWL_SAMEAS, resolve_sameas

    rows = [
        ("b", OWL_SAMEAS, "c", False),
        ("a", OWL_SAMEAS, "b", False),       # chain a~b~c -> rep 'a'
        ("c", "likes", "z", False),
        ("a", "likes", "z", False),          # duplicates after collapse
        ("b", "label", "a", True),           # literal 'a' must survive
        ("z", "knows", "b", False),          # object position rewrites
        ("solo", "likes", "z", False),
    ]
    tri = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_literal boolean"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in resolve_sameas(tri).collect()}
    assert got == {
        ("a", "likes", "z"),
        ("a", "label", "a"),
        ("z", "knows", "a"),
        ("solo", "likes", "z"),
    }
