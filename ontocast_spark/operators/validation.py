"""Predicate diagnostics and RDFS inference over triple tables.

- V4 predicate usage (:func:`predicate_violations`): label presence
  per used predicate and domain/range usage-consistency, cf. the
  reference's ``tool/validate.py:157-248``;
- RDFS entailment: domain/range typing (rdfs2/rdfs3,
  :func:`infer_types`), subclass types (rdfs9) and subproperty triples
  (rdfs7) over the transitive closure of ``plans/bgp.py``.

Chunk connectivity and hub auto-connect (``validate.py:94-155,
250-379``) run inside the fused kernel, in
:func:`ontocast_spark.kernels.graphs.sublimate_and_connect`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def predicate_violations(triples: DataFrame) -> DataFrame:
    """Diagnostics rows for predicate misuse, cf. ``missing_labels`` and
    ``domain_range_violations`` in /root/reference/ontocast/tool/
    validate.py:157-248, re-expressed as triples-joins-types hash joins
    (no graph iteration, no UDF):

    - ``missing_label``: a used predicate with no (pred, rdfs:label, _)
      triple;
    - ``domain_violation``: a usage row whose subject has >= 1 declared
      rdf:type and the predicate's rdfs:domain is not among them
      (reference checks ``subject_type != domain`` on the FIRST type
      found — set-iteration-order-dependent; the set-containment form
      here is the deterministic strengthening);
    - ``range_violation``: the symmetric check on IRI objects.

    Declared domain/range per predicate = max(obj) for determinism (the
    reference's last-write-wins over arbitrary set order).

    Columns: (kind, pred, node, expected, actual) — ``actual`` is the
    sorted comma-joined type set of the offending node.
    """
    from pyspark.sql import functions as F

    from ..kernels.rdfterms import (
        RDF_TYPE,
        RDFS_DOMAIN,
        RDFS_LABEL,
        RDFS_RANGE,
    )

    used = triples.select("pred").distinct()
    labeled = (
        triples.filter(F.col("pred") == RDFS_LABEL)
        .select(F.col("subj").alias("p"))
        .distinct()
    )
    missing = (
        used.join(F.broadcast(labeled), used.pred == labeled.p, "left_anti")
        .select(
            F.lit("missing_label").alias("kind"),
            "pred",
            # empty strings, not NULLs: violation rows sort/hash
            # identically across engines (driver value-hash contract)
            F.lit("").alias("node"),
            F.lit("").alias("expected"),
            F.lit("").alias("actual"),
        )
    )
    domains = (
        triples.filter((F.col("pred") == RDFS_DOMAIN) & ~F.col("obj_is_literal"))
        .groupBy(F.col("subj").alias("p"))
        .agg(F.max("obj").alias("domain"))
    )
    ranges = (
        triples.filter((F.col("pred") == RDFS_RANGE) & ~F.col("obj_is_literal"))
        .groupBy(F.col("subj").alias("p"))
        .agg(F.max("obj").alias("rng"))
    )
    types = (
        triples.filter((F.col("pred") == RDF_TYPE) & ~F.col("obj_is_literal"))
        .groupBy(F.col("subj").alias("node"))
        .agg(F.array_sort(F.collect_set("obj")).alias("types"))
    )
    usage = triples.select("subj", "pred", "obj", "obj_is_literal")
    dom_v = (
        usage.join(F.broadcast(domains), usage.pred == domains.p)
        .join(types, usage.subj == types.node)
        .filter(~F.array_contains("types", F.col("domain")))
        .select(
            F.lit("domain_violation").alias("kind"),
            "pred",
            F.col("subj").alias("node"),
            F.col("domain").alias("expected"),
            F.array_join("types", ",").alias("actual"),
        )
        .distinct()
    )
    rng_v = (
        usage.filter(~F.col("obj_is_literal"))
        .join(F.broadcast(ranges), usage.pred == ranges.p)
        .join(types, usage.obj == types.node)
        .filter(~F.array_contains("types", F.col("rng")))
        .select(
            F.lit("range_violation").alias("kind"),
            "pred",
            F.col("obj").alias("node"),
            F.col("rng").alias("expected"),
            F.array_join("types", ",").alias("actual"),
        )
        .distinct()
    )
    return missing.union(dom_v).union(rng_v)


def infer_types(triples: DataFrame) -> DataFrame:
    """RDFS domain/range type inference (rules rdfs2/rdfs3) — the
    KG-completion counterpart of :func:`predicate_violations`: for each
    usage (s, p, o) where the graph declares (p, rdfs:domain, D),
    infer (s, rdf:type, D); where it declares (p, rdfs:range, R) and o
    is an IRI, infer (o, rdf:type, R). Returns only NOVEL assertions
    (anti-joined against declared types) as (node, type, rule).

    Plan: two hash joins against the per-predicate domain/range side
    (predicate-count-sized — broadcastable) plus one anti-join; no
    iteration (single-step RDFS, not full materialization). Declared
    domain/range per predicate = max(obj) for determinism, same
    convention as predicate_violations."""
    from pyspark.sql import functions as F

    from ..kernels.rdfterms import RDF_TYPE, RDFS_DOMAIN, RDFS_RANGE

    doms = (
        triples.filter(F.col("pred") == RDFS_DOMAIN)
        .groupBy(F.col("subj").alias("p"))
        .agg(F.max("obj").alias("dom"))
    )
    rngs = (
        triples.filter(F.col("pred") == RDFS_RANGE)
        .groupBy(F.col("subj").alias("p"))
        .agg(F.max("obj").alias("rng"))
    )
    usage = triples.filter(
        ~F.col("pred").isin(RDF_TYPE, RDFS_DOMAIN, RDFS_RANGE)
    )
    inf_d = usage.join(F.broadcast(doms), usage.pred == doms.p).select(
        F.col("subj").alias("node"),
        F.col("dom").alias("type"),
        F.lit("rdfs2").alias("rule"),
    )
    obj_usage = (
        usage.filter(~F.col("obj_is_literal"))
        if "obj_is_literal" in triples.columns
        else usage
    )
    inf_r = obj_usage.join(F.broadcast(rngs), obj_usage.pred == rngs.p).select(
        F.col("obj").alias("node"),
        F.col("rng").alias("type"),
        F.lit("rdfs3").alias("rule"),
    )
    declared = triples.filter(F.col("pred") == RDF_TYPE).select(
        F.col("subj").alias("node"), F.col("obj").alias("type")
    )
    return (
        inf_d.union(inf_r)
        # min(rule), not dropDuplicates: when BOTH rules infer the same
        # (node, type) the surviving rule must be deterministic
        .groupBy("node", "type")
        .agg(F.min("rule").alias("rule"))
        .join(declared, ["node", "type"], "left_anti")
    )


RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def materialize_subclass_types(triples: DataFrame) -> DataFrame:
    """RDFS rule rdfs9 (subclass inheritance), materialized: for every
    declared (x, rdf:type, C) and every superclass S reachable via
    ``rdfs:subClassOf+``, emit the NOVEL (x, rdf:type, S) assertions
    as (node, type). The transitive closure over the class hierarchy
    reuses the BGP compiler's iterative-squaring loop
    (plans/bgp.py:_closure — O(log depth) rounds, localCheckpoint
    lineage truncation); class hierarchies are ontology-sized, so the
    closure side of the join is tiny and broadcastable while the
    instance side streams through one hash join."""
    from pyspark.sql import functions as F

    from ..kernels.rdfterms import RDF_TYPE
    from ..plans.bgp import _closure

    sub = triples.filter(F.col("pred") == RDFS_SUBCLASSOF).select(
        F.col("subj").alias("s"), F.col("obj").alias("o")
    )
    closure = _closure(sub, max_iter=25).select(
        F.col("s").alias("cls"), F.col("o").alias("super")
    )
    declared = triples.filter(F.col("pred") == RDF_TYPE).select(
        F.col("subj").alias("node"), F.col("obj").alias("type")
    )
    inherited = (
        declared.join(F.broadcast(closure), declared.type == closure.cls)
        .select("node", F.col("super").alias("type"))
        .distinct()
    )
    return inherited.join(declared, ["node", "type"], "left_anti")


RDFS_SUBPROPERTYOF = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"


def materialize_subproperty_triples(triples: DataFrame) -> DataFrame:
    """RDFS rule rdfs7 (subproperty entailment): for every usage
    (s, p, o) and every superproperty q reachable via
    ``rdfs:subPropertyOf+``, emit the NOVEL (s, q, o) triples —
    completing the rule family with :func:`infer_types` (rdfs2/3) and
    :func:`materialize_subclass_types` (rdfs9). Same shape as rdfs9:
    tiny property-hierarchy closure (iterative squaring,
    broadcastable) x one hash join on the usage stream, then a
    novelty anti-join."""
    from pyspark.sql import functions as F

    from ..kernels.rdfterms import RDF_TYPE
    from ..plans.bgp import _closure

    sub = triples.filter(F.col("pred") == RDFS_SUBPROPERTYOF).select(
        F.col("subj").alias("s"), F.col("obj").alias("o")
    )
    closure = _closure(sub, max_iter=25).select(
        F.col("s").alias("p0"), F.col("o").alias("p1")
    )
    usage = triples.filter(
        ~F.col("pred").isin(RDF_TYPE, RDFS_SUBPROPERTYOF)
    )
    extra = [c for c in triples.columns if c not in ("subj", "pred", "obj")]
    inferred = (
        usage.join(F.broadcast(closure), usage.pred == closure.p0)
        .select(
            "subj", F.col("p1").alias("pred"), "obj",
            *[F.col(c) for c in extra],
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return inferred.join(
        triples.select("subj", "pred", "obj"),
        ["subj", "pred", "obj"],
        "left_anti",
    )
