"""Chunk-graph connectivity kernels (pure Python, no Spark).

Triple model: a triple is a 5-tuple ``(s, p, o, o_is_literal, o_datatype)``
with full IRI strings (no prefixes, no blank nodes). A graph is a *set* of
such tuples — matching rdflib's set semantics on ``Graph.add``
(deduplication is implicit, cf. reference golden counts).

Re-expressed public behavior:
- connected components:
  /root/reference/ontocast/tool/validate.py:94-155
- hub auto-connect of disconnected components:
  /root/reference/ontocast/tool/validate.py:283-379

These run inside the fused ``mapInArrow`` task (one chunk graph per
call — chunk graphs are small by construction), so they are
plain-Python hot loops over at most a few hundred triples.
"""

from __future__ import annotations

from .rdfterms import (
    PROV_WAS_QUOTED_FROM,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_LABEL,
    SCHEMA_HAS_PART,
    SCHEMA_TEXT_DIGITAL_DOCUMENT,
)

Triple = tuple  # (s: str, p: str, o: str, o_is_literal: bool, o_datatype: str|None)


def connected_components(triples) -> list[set[str]]:
    """Connected components over the entity set (union-find with path
    halving — one pass over the triples instead of materializing an
    adjacency-set map and BFS-ing it; optimization round 6).

    Output is identical to the previous sorted-BFS implementation:
    components are returned in ascending order of their minimal entity
    (the order in which a sorted scan would first discover them).
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path halving
            parent[x], x = root, parent[x]
        return root

    for s, _, o, lit, _ in triples:
        if s not in parent:
            parent[s] = s
        if not lit:
            if o not in parent:
                parent[o] = o
            rs, ro = find(s), find(o)
            if rs != ro:
                # union by smaller root keeps roots = min(component),
                # giving the deterministic component order for free
                if rs < ro:
                    parent[ro] = rs
                else:
                    parent[rs] = ro

    groups: dict[str, set[str]] = {}
    for e in parent:
        groups.setdefault(find(e), set()).add(e)
    return [groups[r] for r in sorted(groups)]


def _degree_label_maps(triples):
    """Whole-graph degree + labeled maps. Degree per entity equals the
    per-component count the reference computes (every triple touching an
    entity involves only that entity's own component), so computing the
    maps ONCE and slicing per component is decision-identical to the
    per-component scan — but O(T + C) instead of O(T x C)."""
    degrees: dict[str, int] = {}
    labeled: set[str] = set()
    get = degrees.get
    for s, p, o, lit, _ in triples:
        degrees[s] = get(s, 0) + 1
        if not lit and o != s:
            degrees[o] = get(o, 0) + 1
        if p in (RDFS_LABEL, RDFS_COMMENT):
            labeled.add(s)
    return degrees, labeled


def connect_via_hub(triples, chunk_iri: str) -> set[Triple]:
    """Hub auto-connect: if the graph has >1 component, add a chunk-hub
    entity plus bridging triples to one representative per component.

    A component's representative is its max-degree entity (degree = the
    triples it takes part in), preferring labeled/commented entities;
    ties break on IRI order for determinism. Returns the (possibly
    extended) graph as a set.
    """
    graph = set(triples)
    components = connected_components(graph)
    if len(components) <= 1:
        return graph
    hub = chunk_iri
    hub_id = hub.split("/")[-1]
    graph.add((hub, RDF_TYPE, SCHEMA_TEXT_DIGITAL_DOCUMENT, False, None))
    graph.add((hub, RDFS_LABEL, f"Chunk {hub_id}", True, None))
    degrees, labeled = _degree_label_maps(triples)
    for component in components:
        if not component:
            continue
        pool = (labeled & component) or component
        rep = max(sorted(pool), key=lambda e: degrees.get(e, 0))
        graph.add((hub, SCHEMA_HAS_PART, rep, False, None))
        graph.add((rep, PROV_WAS_QUOTED_FROM, hub, False, None))
    return graph


def sublimate_and_connect(
    triples, chunk_iri: str, chunk_ns: str
) -> tuple[list[Triple], list[Triple]]:
    """Split one chunk's extraction into (facts, ontology addendum) and
    hub-connect the facts side.

    The split is the STRSTARTS filter of ontocast's
    ``agent/sublimate_ontology.py:31-72``: a triple is a fact when its
    subject, predicate or IRI object lies in the chunk namespace
    ``chunk_ns``. Facts come back sorted; the addendum keeps
    extraction order.
    """
    facts, onto = [], []
    for t in triples:
        s, p, o, lit, _ = t
        in_cd = (
            s.startswith(chunk_ns)
            or p.startswith(chunk_ns)
            or ((not lit) and o.startswith(chunk_ns))
        )
        (facts if in_cd else onto).append(t)
    return sorted(connect_via_hub(facts, chunk_iri)), onto
