"""Spark-level tests: assembly equality, the reference goldens through
the production sublimate + connect kernel and the Spark canonicalizer,
and the end-to-end pipeline on the synthetic corpus."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ontocast_spark.kernels.graphs import connected_components, sublimate_and_connect
from ontocast_spark.kernels.rdfterms import RDFS_LABEL, render_text_hash
from ontocast_spark.ontology import builtin_ontology_index
from ontocast_spark.operators.assemble import assemble_documents
from ontocast_spark.operators.canonicalize import canonicalize_combined
from ontocast_spark.operators.chunking import chunk_documents
from ontocast_spark.operators.extraction import extract_triples
from ontocast_spark.schemas import CONVERSATIONS, TRIPLES
from ontocast_spark.synth import gen_corpus
from tests.test_kernels_golden import DOMAIN, iri_triple, lit_triple, sample_chunk


@pytest.fixture(scope="module")
def conversations(spark):
    rows = gen_corpus(12, seed=42, mega_every=10, mega_turns=40)
    return spark.createDataFrame(rows, schema=CONVERSATIONS)


def test_assembly_matches_ordered_concat(spark, conversations):
    docs = assemble_documents(conversations).orderBy("conv_id").collect()
    pdf = conversations.toPandas()
    expected = {
        conv_id: "\n\n".join(
            g.sort_values("turn_idx")["text"].tolist()
        )
        for conv_id, g in pdf.groupby("conv_id")
    }
    assert len(docs) == len(expected)
    for row in docs:
        assert row["text"] == expected[row["conv_id"]]
        assert row["doc_hid"] == render_text_hash(row["text"])


def test_assembly_bucketing_invariant(spark, conversations):
    """Hierarchical concat must be byte-identical across bucket sizes."""
    a = assemble_documents(conversations, bucket_size=2).orderBy("conv_id").collect()
    b = assemble_documents(conversations, bucket_size=1024).orderBy("conv_id").collect()
    assert [(r["conv_id"], r["text"]) for r in a] == [
        (r["conv_id"], r["text"]) for r in b
    ]


def test_chunking_ids_and_coverage(spark, conversations):
    docs = assemble_documents(conversations)
    chunks = chunk_documents(docs).toPandas()
    assert (chunks["chunk_hid"] == chunks["text"].map(render_text_hash)).all()
    # chunk text joined per doc covers the document text (modulo the
    # separator normalization of the sentence splitter)
    assert chunks.groupby("conv_id")["chunk_idx"].min().eq(0).all()


def _sublimated(chunk_id: str, extra=()):
    """The reference sample chunk (plus ``extra`` triples) through the
    production sublimate + hub-connect kernel:
    (chunk_iri, input, facts, onto)."""
    chunk_iri, triples = sample_chunk(chunk_id)
    triples = triples + list(extra)
    facts, onto = sublimate_and_connect(triples, chunk_iri, chunk_iri + "/")
    return chunk_iri, triples, facts, onto


def test_spark_connect_golden_10():
    for chunk_id in ("abc123", "def456"):
        _, _, facts, _ = _sublimated(chunk_id)
        assert len(facts) == 10
        assert len(connected_components(facts)) == 1


def test_spark_canonicalize_golden_22(spark):
    """The 22-triple/1-component golden through Spark operators.

    The reference test aggregates with doc_namespace
    ``{domain}/123/`` (test_00_validation.py:88) while the canonicalize
    operator uses the doc_iri column — so build the df with doc_iri set
    to the test namespace root.
    """
    rows = []
    for chunk_id in ("abc123", "def456"):
        chunk_iri, _, facts, _ = _sublimated(chunk_id)
        rows += [("conv0", f"{DOMAIN}/123", chunk_id, chunk_iri, *t) for t in facts]
    facts = spark.createDataFrame(rows, schema=TRIPLES)
    agg = canonicalize_combined(facts).filter(F.col("row_kind") == "triple")
    out = agg.collect()
    assert len(out) == 22


def test_sublimate_split_is_partition():
    for chunk_id in ("abc123", "def456"):
        # nothing in the sample graph lives outside the chunk namespace
        chunk_iri, triples, facts, onto = _sublimated(chunk_id)
        assert onto == [] and set(triples) <= set(facts)
        # outside it: an IRI object inside the namespace makes a fact, a
        # literal that merely spells one does not
        ns = chunk_iri + "/"
        linked = iri_triple(f"{DOMAIN}/onto/Thing", f"{DOMAIN}/onto/about", ns + "person1")
        foreign = lit_triple(f"{DOMAIN}/onto/Thing", RDFS_LABEL, ns + "person1")
        _, triples, facts, onto = _sublimated(chunk_id, [linked, foreign])
        assert onto == [foreign]
        assert set(triples) - set(onto) <= set(facts)
        assert not set(facts) & set(onto)


def test_end_to_end_pipeline(spark, conversations):
    from ontocast_spark.pipeline import run_pipeline

    out = run_pipeline(spark, conversations)
    kg = out["kg_triples"].cache()
    n = kg.count()
    assert n > 0
    assert kg.filter(F.col("subj").isNull()).count() == 0
    # provenance rows present
    prov = kg.filter(
        F.col("pred") == "http://www.w3.org/ns/prov#wasGeneratedBy"
    ).count()
    assert prov > 0
    # determinism: running twice yields identical triple sets
    kg2 = run_pipeline(spark, conversations)["kg_triples"]
    sym_diff = kg.select("conv_id", "subj", "pred", "obj").exceptAll(
        kg2.select("conv_id", "subj", "pred", "obj")
    ).count()
    assert sym_diff == 0
    assert out["ontology_alignments"].count() > 0
    kg.unpersist()
