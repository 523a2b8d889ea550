"""Golden-count tests ported from the reference's own deterministic
suite (/root/reference/test/test_00_validation.py) against the pure
Python kernels. These are the correctness anchors:

- sanitize + auto-connect two 4-triple chunk graphs -> 10 triples each
  (test_00_validation.py:78)
- aggregate the two connected chunks -> 22 triples, 1 component
  (test_00_validation.py:95-96)
- the six scenario suites (basic similarity, predicate disambiguation,
  edge cases, type blocking, large scale, complex predicates)
"""

from ontocast_spark.kernels.aggregate import ChunkGraph, aggregate_chunks
from ontocast_spark.kernels.graphs import connect_via_hub, connected_components
from ontocast_spark.kernels.rdfterms import (
    FOAF_NS,
    RDF_PROPERTY,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_DOMAIN,
    RDFS_LABEL,
    RDFS_RANGE,
    SKOS_NS,
)

DOMAIN = "https://example.com"
FOAF_PERSON = FOAF_NS + "Person"


def iri_triple(s, p, o):
    return (s, p, o, False, None)


def lit_triple(s, p, o):
    return (s, p, o, True, None)


def sample_chunk(chunk_id: str):
    """The reference's create_sample_chunk_graph (4 triples)."""
    ns = f"{DOMAIN}/doc/123/chunk/{chunk_id}/"
    triples = [
        lit_triple(ns + "person1", RDFS_LABEL, "John Doe"),
        iri_triple(ns + "person1", ns + "knows", ns + "person2"),
        lit_triple(ns + "person3", RDFS_LABEL, "Alexander Bell"),
        lit_triple(ns + "person2", RDFS_LABEL, "Jane Smith"),
    ]
    chunk_iri = f"{DOMAIN}/doc/123/chunk/{chunk_id}"
    return chunk_iri, triples


def test_validation_connect_10_triples():
    for chunk_id in ("abc123", "def456"):
        chunk_iri, triples = sample_chunk(chunk_id)
        connected = connect_via_hub(triples, chunk_iri)
        assert len(connected) == 10


def test_aggregation_22_triples_1_component():
    chunks = []
    for chunk_id in ("abc123", "def456"):
        chunk_iri, triples = sample_chunk(chunk_id)
        connected = connect_via_hub(triples, chunk_iri)
        chunks.append(ChunkGraph(chunk_id, chunk_iri, sorted(connected)))
    out, emap, pmap = aggregate_chunks(chunks, doc_namespace=f"{DOMAIN}/123/")
    assert len(out) == 22
    assert len(connected_components(out)) == 1
    # person1/2/3 pairs merged across chunks; knows predicates merged
    assert len(emap) == 6
    assert len(pmap) == 2
    assert set(pmap.values()) == {f"{DOMAIN}/123/knows"}


def _chunk(doc: str, hid: str, triples):
    chunk_iri = f"{DOMAIN}/doc/{doc}/chunk/{hid}"
    return ChunkGraph(hid, chunk_iri, triples), chunk_iri + "/"


def test_basic_similarity_aggregation():
    doc_iri = f"{DOMAIN}/doc/test1"
    c1, ns1 = _chunk("test1", "chunk_001", [])
    c1.triples = [
        lit_triple(ns1 + "john_doe", RDFS_LABEL, "John Doe"),
        iri_triple(ns1 + "john_doe", RDF_TYPE, FOAF_PERSON),
        iri_triple(ns1 + "john_doe", ns1 + "worksAt", ns1 + "acme_corp"),
        lit_triple(ns1 + "jane_smith", RDFS_LABEL, "Jane Smith"),
        iri_triple(ns1 + "jane_smith", RDF_TYPE, FOAF_PERSON),
        lit_triple(ns1 + "acme_corp", RDFS_LABEL, "ACME Corporation"),
        iri_triple(ns1 + "acme_corp", RDF_TYPE, ns1 + "Company"),
    ]
    c2, ns2 = _chunk("test1", "chunk_002", [])
    c2.triples = [
        lit_triple(ns2 + "john_d", RDFS_LABEL, "John D."),
        iri_triple(ns2 + "john_d", RDF_TYPE, FOAF_PERSON),
        iri_triple(ns2 + "john_d", ns2 + "employedBy", ns2 + "acme_company"),
        lit_triple(ns2 + "bob_johnson", RDFS_LABEL, "Robert Johnson"),
        iri_triple(ns2 + "bob_johnson", RDF_TYPE, FOAF_PERSON),
        lit_triple(ns2 + "acme_company", RDFS_LABEL, "ACME Corp"),
        iri_triple(ns2 + "acme_company", RDF_TYPE, ns2 + "Organization"),
    ]
    c3, ns3 = _chunk("test1", "chunk_003", [])
    c3.triples = [
        lit_triple(ns3 + "j_doe", RDFS_LABEL, "J. Doe"),
        lit_triple(ns3 + "j_doe", RDFS_COMMENT, "Software developer"),
        iri_triple(ns3 + "j_doe", RDF_TYPE, FOAF_PERSON),
        iri_triple(ns3 + "j_doe", ns3 + "hasSkill", ns3 + "programming"),
        lit_triple(ns3 + "jane_s", RDFS_LABEL, "Jane S."),
        iri_triple(ns3 + "jane_s", RDF_TYPE, FOAF_PERSON),
        lit_triple(ns3 + "programming", RDFS_LABEL, "Programming"),
        iri_triple(ns3 + "programming", RDF_TYPE, SKOS_NS + "Concept"),
    ]
    out, emap, pmap = aggregate_chunks([c1, c2, c3], doc_namespace=doc_iri)
    assert len(out) > 0
    assert len(connected_components(out)) > 0


def test_predicate_disambiguation_domain_gate():
    """Same local name 'knows' with conflicting domain/range must NOT
    merge (aggregate.py:753-764)."""
    doc_iri = f"{DOMAIN}/doc/test2"
    c1, ns1 = _chunk("test2", "chunk_101", [])
    c1.triples = [
        lit_triple(ns1 + "alice", RDFS_LABEL, "Alice Johnson"),
        lit_triple(ns1 + "bob", RDFS_LABEL, "Bob Wilson"),
        iri_triple(ns1 + "alice", ns1 + "knows", ns1 + "bob"),
        iri_triple(ns1 + "alice", ns1 + "friendOf", ns1 + "bob"),
        lit_triple(ns1 + "knows", RDFS_LABEL, "knows"),
        iri_triple(ns1 + "knows", RDFS_DOMAIN, FOAF_PERSON),
        iri_triple(ns1 + "knows", RDFS_RANGE, FOAF_PERSON),
        lit_triple(ns1 + "friendOf", RDFS_LABEL, "friend of"),
        iri_triple(ns1 + "friendOf", RDF_TYPE, RDF_PROPERTY),
    ]
    c3, ns3 = _chunk("test2", "chunk_103", [])
    c3.triples = [
        lit_triple(ns3 + "book1", RDFS_LABEL, "Programming Guide"),
        lit_triple(ns3 + "author1", RDFS_LABEL, "Expert Author"),
        iri_triple(ns3 + "author1", ns3 + "knows", ns3 + "book1"),
        lit_triple(ns3 + "knows", RDFS_LABEL, "knows"),
        iri_triple(ns3 + "knows", RDFS_DOMAIN, ns3 + "Author"),
        iri_triple(ns3 + "knows", RDFS_RANGE, ns3 + "Book"),
    ]
    out, emap, pmap = aggregate_chunks([c1, c3], doc_namespace=doc_iri)
    # the two 'knows' predicates have conflicting domains -> no merge
    assert ns1 + "knows" not in pmap
    assert ns3 + "knows" not in pmap
    assert len(out) > 0


def test_edge_cases_exact_uri_and_unicode():
    doc_iri = f"{DOMAIN}/doc/test3"
    c1, ns1 = _chunk("test3", "chunk_201", [])
    c1.triples = [
        iri_triple(ns1 + "mysterious_entity", ns1 + "weird-relation", ns1 + "unknown_thing"),
        iri_triple(ns1 + "mysterious_entity", RDF_TYPE, ns1 + "Thing"),
    ]
    c2, ns2 = _chunk("test3", "chunk_202", [])
    c2.triples = [
        lit_triple(ns1 + "mysterious_entity", RDFS_LABEL, "Mysterious Entity"),
        iri_triple(ns1 + "mysterious_entity", ns1 + "weird-relation", ns2 + "another_entity"),
        lit_triple(ns2 + "another_entity", RDFS_LABEL, "Another Entity"),
    ]
    c3, ns3 = _chunk("test3", "chunk_203", [])
    c3.triples = [
        lit_triple(ns3 + "café_owner", RDFS_LABEL, "Café Owner"),
        lit_triple(ns3 + "company@location", RDFS_LABEL, "Company @ Location"),
        iri_triple(ns3 + "café_owner", ns3 + "works@", ns3 + "company@location"),
        lit_triple(ns3 + "cafe_owner", RDFS_LABEL, "Cafe Owner"),
    ]
    out, emap, pmap = aggregate_chunks([c1, c2, c3], doc_namespace=doc_iri)
    assert len(out) > 0
    # café_owner / cafe_owner labels are 90.9-similar (no shared types)
    # -> merged; canonical local name must be URI-cleaned
    assert ns3 + "café_owner" in emap or ns3 + "cafe_owner" in emap


def test_type_blocking_apple():
    """'apple' as Person vs Company vs Fruit: disjoint types => the
    typed ones must not merge (aggregate.py:521-529)."""
    doc_iri = f"{DOMAIN}/doc/test4"
    c1, ns1 = _chunk("test4", "chunk_301", [])
    c1.triples = [
        lit_triple(ns1 + "apple", RDFS_LABEL, "Apple Johnson"),
        iri_triple(ns1 + "apple", RDF_TYPE, FOAF_PERSON),
        lit_triple(ns1 + "john", RDFS_LABEL, "John Smith"),
        iri_triple(ns1 + "john", RDF_TYPE, FOAF_PERSON),
        iri_triple(ns1 + "john", ns1 + "knows", ns1 + "apple"),
    ]
    c2, ns2 = _chunk("test4", "chunk_302", [])
    c2.triples = [
        lit_triple(ns2 + "apple", RDFS_LABEL, "Apple Inc."),
        iri_triple(ns2 + "apple", RDF_TYPE, ns2 + "Company"),
        lit_triple(ns2 + "employee1", RDFS_LABEL, "Jane Doe"),
        iri_triple(ns2 + "employee1", RDF_TYPE, FOAF_PERSON),
        iri_triple(ns2 + "employee1", ns2 + "worksFor", ns2 + "apple"),
    ]
    c3, ns3 = _chunk("test4", "chunk_303", [])
    c3.triples = [
        lit_triple(ns3 + "apple", RDFS_LABEL, "Apple"),
        iri_triple(ns3 + "apple", RDF_TYPE, ns3 + "Fruit"),
        iri_triple(ns3 + "apple", ns3 + "hasColor", ns3 + "red"),
        lit_triple(ns3 + "red", RDFS_LABEL, "Red"),
    ]
    out, emap, pmap = aggregate_chunks([c1, c2, c3], doc_namespace=doc_iri)
    # all three 'apple's carry mutually disjoint types -> no merging at all
    assert ns1 + "apple" not in emap
    assert ns2 + "apple" not in emap
    assert ns3 + "apple" not in emap
    assert len(out) > 0


def test_large_scale_overlap():
    doc_iri = f"{DOMAIN}/doc/test5"
    chunks = []
    for chunk_num in range(5):
        hid = f"chunk_{400 + chunk_num:03d}"
        c, ns = _chunk("test5", hid, [])
        triples = []
        for i in range(20):
            entity_id = (chunk_num * 15 + i) % 50
            entity = ns + f"entity_{entity_id:03d}"
            if entity_id % 10 == 0:
                labels = [
                    f"Entity {entity_id}",
                    f"Entity-{entity_id}",
                    f"Entity_{entity_id}",
                    f"Entity#{entity_id}",
                    f"Ent {entity_id}",
                ]
                label = labels[chunk_num % len(labels)]
            else:
                label = f"Entity {entity_id}"
            triples.append(lit_triple(entity, RDFS_LABEL, label))
            triples.append(iri_triple(entity, RDF_TYPE, ns + f"Type{entity_id % 5}"))
            if i > 0:
                prev = ns + f"entity_{((chunk_num * 15 + i - 1) % 50):03d}"
                relation_name = "relatedTo" if i % 2 == 0 else "connectedTo"
                relation = ns + relation_name
                triples.append(iri_triple(entity, relation, prev))
                if i == 1:
                    triples.append(
                        lit_triple(relation, RDFS_LABEL, relation_name.replace("To", " to"))
                    )
        c.triples = triples
        chunks.append(c)
    out, emap, pmap = aggregate_chunks(chunks, doc_namespace=doc_iri)
    assert len(out) > 0
    # same entity_NNN local names across chunks merge (same Type type)
    assert len(emap) > 50


def test_complex_predicates():
    doc_iri = f"{DOMAIN}/doc/test6"
    c1, ns1 = _chunk("test6", "chunk_501", [])
    c1.triples = [
        lit_triple(ns1 + "john_senior", RDFS_LABEL, "John Senior"),
        lit_triple(ns1 + "john_junior", RDFS_LABEL, "John Junior"),
        lit_triple(ns1 + "mary", RDFS_LABEL, "Mary Johnson"),
        iri_triple(ns1 + "john_senior", ns1 + "parentOf", ns1 + "john_junior"),
        iri_triple(ns1 + "john_senior", ns1 + "fatherOf", ns1 + "john_junior"),
        iri_triple(ns1 + "john_senior", ns1 + "parentOf", ns1 + "mary"),
        iri_triple(ns1 + "john_junior", ns1 + "childOf", ns1 + "john_senior"),
        lit_triple(ns1 + "parentOf", RDFS_LABEL, "parent of"),
        iri_triple(ns1 + "parentOf", RDFS_DOMAIN, FOAF_PERSON),
        iri_triple(ns1 + "parentOf", RDFS_RANGE, FOAF_PERSON),
        lit_triple(ns1 + "fatherOf", RDFS_LABEL, "father of"),
        iri_triple(ns1 + "fatherOf", RDFS_DOMAIN, FOAF_PERSON),
        lit_triple(ns1 + "childOf", RDFS_LABEL, "child of"),
    ]
    c2, ns2 = _chunk("test6", "chunk_502", [])
    c2.triples = [
        lit_triple(ns2 + "susan", RDFS_LABEL, "Susan Wilson"),
        lit_triple(ns2 + "alice", RDFS_LABEL, "Alice Wilson"),
        iri_triple(ns2 + "susan", ns2 + "isParentOf", ns2 + "alice"),
        iri_triple(ns2 + "susan", ns2 + "motherOf", ns2 + "alice"),
        iri_triple(ns2 + "susan", ns2 + "hasOffspring", ns2 + "alice"),
        lit_triple(ns2 + "isParentOf", RDFS_LABEL, "is parent of"),
        iri_triple(ns2 + "isParentOf", RDFS_DOMAIN, FOAF_PERSON),
        iri_triple(ns2 + "isParentOf", RDFS_RANGE, FOAF_PERSON),
        lit_triple(ns2 + "motherOf", RDFS_LABEL, "mother of"),
        lit_triple(ns2 + "hasOffspring", RDFS_LABEL, "has offspring"),
        lit_triple(ns2 + "hasOffspring", RDFS_COMMENT, "Indicates parental relationship"),
    ]
    out, emap, pmap = aggregate_chunks([c1, c2], doc_namespace=doc_iri)
    assert len(out) > 0
    # 'parent of' vs 'is parent of' is 85.7-similar with compatible
    # domain/range -> merged
    assert ns1 + "parentOf" in pmap and ns2 + "isParentOf" in pmap
    assert pmap[ns1 + "parentOf"] == pmap[ns2 + "isParentOf"]


def test_hash_embed_windows_matches_naive_combine():
    """The vectorized window embedding (_hash_embed_windows) must be
    bit-identical to hash_embed over _combine_sentences, including the
    separator-free token-fusion edge ("abc" + "5def" -> token "abc5def")
    and the all-zero fallback window."""
    import numpy as np

    from ontocast_spark.kernels.chunker import (
        _combine_sentences,
        _hash_embed_windows,
        hash_embed,
    )

    cases = [
        # plain prose (punctuation-terminated: no fusion)
        ["Alice met Bob.", "Revenue grew 12.5 %.", "The court convened.",
         "ACME Corp filed a report.", "He left."] * 4,
        # fusing boundaries: alnum end meets alnum start
        ["abc", "5def", "ghi7", "jkl", "m n o", "8", "p."],
        # pure-token chain (fusion spanning 3+ sentences)
        ["run1", "2", "3end", "normal text.", "More Text!"],
        # windows with no tokens at all (zero-vector fallback)
        ["...", "!!!", "???", "..", "!?"],
        # unicode (outside the ASCII token class: no fusion)
        ["Müller spoke", "ünïcode végé", "naïve café"],
        # single alnum chars and mixed
        ["a", "b", "c", "d", "e", "f", "g"],
    ]
    for sentences in cases:
        for buf in (1, 2, 5):
            naive = np.stack(
                [hash_embed(c) for c in _combine_sentences(sentences, buf)]
            )
            fast = _hash_embed_windows(sentences, buf)
            assert np.array_equal(naive, fast), (sentences, buf)
