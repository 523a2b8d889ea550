"""V4 predicate-usage validation (reference tool/validate.py:157-248):
label presence per used predicate + domain/range usage-consistency."""

import pytest
from pyspark.sql import functions as F

from ontocast_spark.kernels.rdfterms import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_LABEL,
    RDFS_RANGE,
)
from ontocast_spark.operators.validation import predicate_violations

T = "subj string, pred string, obj string, obj_is_literal boolean"

EX = "https://ex.com/"


def _triples(spark):
    rows = [
        # ontology: worksFor labelled, domain Person, range Company
        (EX + "worksFor", RDFS_LABEL, "works for", True),
        (EX + "worksFor", RDFS_DOMAIN, EX + "Person", False),
        (EX + "worksFor", RDFS_RANGE, EX + "Company", False),
        # knows: no label declared -> missing_label
        (EX + "knows", RDFS_DOMAIN, EX + "Person", False),
        # instance types
        (EX + "alice", RDF_TYPE, EX + "Person", False),
        (EX + "acme", RDF_TYPE, EX + "Company", False),
        (EX + "rover", RDF_TYPE, EX + "Dog", False),
        # valid usage
        (EX + "alice", EX + "worksFor", EX + "acme", False),
        # domain violation: Dog subject on a Person-domain predicate
        (EX + "rover", EX + "worksFor", EX + "acme", False),
        # range violation: Dog object on a Company-range predicate
        (EX + "alice", EX + "worksFor", EX + "rover", False),
        # untyped subject -> no violation (reference skips type-less nodes)
        (EX + "ghost", EX + "worksFor", EX + "acme", False),
        # knows used consistently (alice is a Person)
        (EX + "alice", EX + "knows", EX + "alice", False),
    ]
    return spark.createDataFrame(rows, T)


def test_violations_mirror_reference_semantics(spark):
    out = predicate_violations(_triples(spark)).collect()
    by_kind = {}
    for r in out:
        by_kind.setdefault(r.kind, []).append(r)

    missing = {r.pred for r in by_kind["missing_label"]}
    # every used predicate without a label triple, incl. the RDF/RDFS
    # meta-predicates themselves (reference iterates ALL graph preds)
    assert EX + "knows" in missing
    assert RDF_TYPE in missing and RDFS_DOMAIN in missing
    assert EX + "worksFor" not in missing

    dom = {(r.node, r.expected, r.actual) for r in by_kind["domain_violation"]}
    assert (EX + "rover", EX + "Person", EX + "Dog") in dom
    assert all(n != EX + "alice" for n, _, _ in dom)
    assert all(n != EX + "ghost" for n, _, _ in dom)  # type-less: skipped

    rng = {(r.node, r.expected, r.actual) for r in by_kind["range_violation"]}
    assert (EX + "rover", EX + "Company", EX + "Dog") in rng
    assert all(n != EX + "acme" for n, _, _ in rng)


def test_consistent_graph_is_clean(spark):
    rows = [
        (EX + "p", RDFS_LABEL, "p", True),
        (EX + "a", RDF_TYPE, EX + "T", False),
        (EX + "b", RDF_TYPE, EX + "T", False),
        (EX + "p", RDFS_DOMAIN, EX + "T", False),
        (EX + "p", RDFS_RANGE, EX + "T", False),
        (EX + "a", EX + "p", EX + "b", False),
    ]
    df = spark.createDataFrame(rows, T)
    out = predicate_violations(df).collect()
    # only the unlabelled RDF/RDFS meta-predicates are flagged
    assert {r.kind for r in out} == {"missing_label"}
    assert EX + "p" not in {r.pred for r in out}


def test_infer_types(spark):
    """RDFS rdfs2/rdfs3 inference: domain types subjects, range types
    IRI objects (literals never), already-declared types are filtered,
    and both-rules-same-conclusion picks the deterministic min rule."""
    from ontocast_spark.operators.validation import infer_types

    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [
        ("employs", RDFS + "domain", "T:Org", False),
        ("employs", RDFS + "range", "T:Person", False),
        ("acme", "employs", "dana", False),
        ("acme", "employs", "lee", False),
        # dana already declared -> no novel assertion for (dana, Person)
        ("dana", RDF_TYPE, "T:Person", False),
        # literal object: range rule must NOT fire
        ("acme", "label_like", "Acme Corp", True),
        ("label_like", RDFS + "range", "T:Text", False),
        # node inferred by BOTH rules -> single row, rule = min
        ("selfemploys", RDFS + "domain", "T:Solo", False),
        ("selfemploys", RDFS + "range", "T:Solo", False),
        ("indie", "selfemploys", "indie", False),
    ]
    tri = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_literal boolean"
    )
    got = {(r["node"], r["type"]): r["rule"] for r in infer_types(tri).collect()}
    assert got[("acme", "T:Org")] == "rdfs2"
    assert got[("lee", "T:Person")] == "rdfs3"
    assert ("dana", "T:Person") not in got          # already declared
    assert ("Acme Corp", "T:Text") not in got       # literal object
    assert got[("indie", "T:Solo")] == "rdfs2"      # deterministic min
    assert len(got) == 3, got


def test_materialize_subclass_types(spark):
    """rdfs9: a 3-deep subClassOf chain (with a diamond) inherits all
    ancestors; declared types are excluded; closure handles the diamond
    without duplicates."""
    from ontocast_spark.operators.validation import (
        RDFS_SUBCLASSOF,
        materialize_subclass_types,
    )

    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [
        ("Cat", RDFS_SUBCLASSOF, "Mammal"),
        ("Mammal", RDFS_SUBCLASSOF, "Animal"),
        ("Pet", RDFS_SUBCLASSOF, "Animal"),     # diamond top
        ("Cat", RDFS_SUBCLASSOF, "Pet"),
        ("felix", RDF_TYPE, "Cat"),
        ("rex", RDF_TYPE, "Mammal"),
        ("rex", RDF_TYPE, "Animal"),            # already declared
    ]
    tri = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {(r["node"], r["type"])
           for r in materialize_subclass_types(tri).collect()}
    assert got == {("felix", "Mammal"), ("felix", "Animal"), ("felix", "Pet")}


def test_materialize_subproperty_triples(spark):
    """rdfs7: usages entail all superproperties transitively; already-
    asserted entailments are excluded; the hierarchy triples themselves
    never entail."""
    from ontocast_spark.operators.validation import (
        RDFS_SUBPROPERTYOF,
        materialize_subproperty_triples,
    )

    rows = [
        ("hasCEO", RDFS_SUBPROPERTYOF, "hasOfficer"),
        ("hasOfficer", RDFS_SUBPROPERTYOF, "hasMember"),
        ("acme", "hasCEO", "dana"),
        ("acme", "hasMember", "dana"),   # already asserted entailment
        ("org", "hasOfficer", "lee"),
    ]
    tri = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {(r["subj"], r["pred"], r["obj"])
           for r in materialize_subproperty_triples(tri).collect()}
    assert got == {
        ("acme", "hasOfficer", "dana"),
        ("org", "hasMember", "lee"),
    }
