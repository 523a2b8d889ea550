"""Per-document entity/predicate canonicalization kernel.

This is the deterministic heart of the engine: a faithful replay of the
reference aggregator's semantics —
/root/reference/ontocast/tool/aggregate.py:70-764 — over the plain
triple model of :mod:`ontocast_spark.kernels.graphs`.

It processes ONE document's chunks per call (the reference's
disambiguation scope is a single document). In Spark it runs inside the
fused ``mapInPandas`` task of ``operators/fused.py``, once per document
as the task streams its ``conv_id``-sorted turns: each document is small
(a conversation's worth of triples) while the corpus-level parallelism
is unbounded. The cross-document/scale variant (blocked candidate pairs
+ distributed connected components) lives in
``ontocast_spark/operators/crossdoc.py``.

Entity grouping, the greedy O(n²) pair pass that dominates
mega-documents, runs in C (``_group.c``, built and loaded by
:mod:`.native` when this module is imported, so Spark's Python workers
find it cached). :func:`_find_similar_entities_py` is the same pass in
Python: the reference the tests compare against, and the path taken
when the native kernel cannot be built or loaded. Everything else here
is Python.

Where the reference depends on rdflib set/dict iteration order (greedy
pair grouping, tie-breaking argmax), this kernel imposes a deterministic
order: triples are sorted lexicographically before the first pass, and
all ties break on IRI sort order. Counts and ≥0.95 of triples are
unaffected; reruns are bit-stable.
"""

from __future__ import annotations

import sys
from array import array
from collections import defaultdict
from dataclasses import dataclass, field
from itertools import accumulate

from .fuzz import cached_ratio
from .native import load_group_entities
from .rdfterms import (
    PROV_ENTITY,
    PROV_WAS_GENERATED_BY,
    PROV_WAS_PART_OF,
    RDF_PROPERTY,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_DOMAIN,
    RDFS_LABEL,
    RDFS_RANGE,
    clean_local_name,
    derive_ontology_id,
)

Triple = tuple  # (s, p, o, o_is_literal, o_datatype)

SIMILARITY_THRESHOLD = 85.0  # aggregate.py:55-69
SEMANTIC_THRESHOLD = 90.0  # higher bar when entities share a type


@dataclass
class EntityMetadata:
    local_name: str
    label: str | None = None
    comment: str | None = None


@dataclass
class PredicateMetadata:
    local_name: str
    label: str | None = None
    comment: str | None = None
    domain: str | None = None
    range: str | None = None
    is_explicit_property: bool = False


@dataclass
class ChunkGraph:
    """One chunk's triples plus identity."""

    chunk_hid: str
    chunk_iri: str
    triples: list = field(default_factory=list)


def extract_entity_labels(triples) -> dict[str, EntityMetadata]:
    """Entity → (local_name, label, comment); local-name fallback for
    every IRI in the graph (aggregate.py:444-482)."""
    labels: dict[str, EntityMetadata] = {}
    for s, p, o, lit, _ in triples:
        if p in (RDFS_LABEL, RDFS_COMMENT) and lit:
            if s not in labels:
                labels[s] = EntityMetadata(local_name=derive_ontology_id(s))
            if p == RDFS_LABEL:
                labels[s].label = o
            else:
                labels[s].comment = o
    for s, _, o, lit, _ in triples:
        for entity in (s,) if lit else (s, o):
            if entity not in labels:
                labels[entity] = EntityMetadata(local_name=derive_ontology_id(entity))
    return labels


def extract_predicate_info(triples) -> dict[str, PredicateMetadata]:
    """Predicate → metadata (label/comment/domain/range/explicit),
    only for subjects that are themselves used as predicates
    (aggregate.py:648-690)."""
    info: dict[str, PredicateMetadata] = {}
    for _, p, _, _, _ in triples:
        if p not in info:
            info[p] = PredicateMetadata(local_name=derive_ontology_id(p))
    for s, p, o, lit, _ in triples:
        if s not in info:
            continue
        if p == RDF_TYPE and o == RDF_PROPERTY and not lit:
            info[s].is_explicit_property = True
        elif p == RDFS_LABEL and lit:
            info[s].label = o
        elif p == RDFS_COMMENT and lit:
            info[s].comment = o
        elif p == RDFS_DOMAIN:
            info[s].domain = o
        elif p == RDFS_RANGE:
            info[s].range = o
    return info


def _merge_pred_field(existing: PredicateMetadata, new: PredicateMetadata) -> None:
    """Cross-chunk predicate-metadata merge: prefer non-None, then
    longer string values (aggregate.py:147-172)."""
    for key in ("label", "comment", "domain", "range"):
        cur = getattr(existing, key)
        val = getattr(new, key)
        if cur is None and val is not None:
            setattr(existing, key, val)
        elif (
            cur is not None
            and val is not None
            and isinstance(val, str)
            and len(str(val)) > len(str(cur))
        ):
            setattr(existing, key, val)
    if new.is_explicit_property:
        existing.is_explicit_property = True


def _find_similar_entities_py(
    entities: dict[str, EntityMetadata],
    entity_types: dict[str, set[str]],
) -> list[list[str]]:
    """Greedy single-pass grouping (aggregate.py:484-559): type-gate,
    then exact lowercase local-name match, then label fuzz >= threshold
    (90 when types shared, else 85).

    Pure-speedup shortcuts (identical decisions): strings are lowered
    once, ratio values are memoized worker-lifetime (labels repeat
    across documents; see fuzz.cached_ratio), and pairs whose length skew already bounds
    the ratio below the lower threshold skip the LCS entirely
    (LCS <= min(la, lb), so ratio <= 200*min/(la+lb))."""
    groups: list[list[str]] = []
    # prefetch per-entity fields into one tuple list — the O(n^2) inner
    # loop then touches no dicts (same iteration order, same decisions)
    items = []
    for e, m in entities.items():
        lb = m.label.lower() if m.label is not None else ""
        # length bound uses the LOWERED label's length (Unicode case
        # expansion; see operators/crossdoc.py)
        items.append((
            e, m.local_name.lower(), lb, len(lb),
            entity_types.get(e) or None,  # empty set -> None (falsy)
        ))
    n = len(items)
    processed = bytearray(n)
    for i in range(n):
        if processed[i]:
            continue
        e1, ln1, label1, l1, types1 = items[i]
        group = [e1]
        processed[i] = 1
        for j in range(i + 1, n):
            if processed[j]:
                continue
            e2, ln2, label2, l2, types2 = items[j]
            if types1 is not None and types2 is not None:
                shared = types1 & types2
                if not shared:
                    continue  # conflicting type info
            else:
                shared = None
            if ln1 == ln2:
                group.append(e2)
                processed[j] = 1
                continue
            if label1 and label2:
                threshold = SEMANTIC_THRESHOLD if shared else SIMILARITY_THRESHOLD
                if 200.0 * (l1 if l1 < l2 else l2) < threshold * (l1 + l2):
                    continue  # ratio upper bound below threshold
                r = cached_ratio(label1, label2)
                if r >= threshold:
                    group.append(e2)
                    processed[j] = 1
        if len(group) > 1:
            groups.append(group)
    return groups


_group_entities = load_group_entities()
_UTF32 = "utf-32-le" if sys.byteorder == "little" else "utf-32-be"
_WORD = (1 << 64) - 1


def find_similar_entities(
    entities: dict[str, EntityMetadata],
    entity_types: dict[str, set[str]],
) -> list[list[str]]:
    """:func:`_find_similar_entities_py`'s groups, computed by one C call.

    Python lowers the labels exactly as the loop does and passes them as
    UTF-32 code points with offsets, the lowered local names as int ids,
    and each entity's types as a bitset over the document's distinct
    types (as many 64-bit words as needed). The C code returns each
    entity's group leader; the groups are rebuilt here in the loop's
    order (leaders ascending, members in insertion order)."""
    if _group_entities is None:
        return _find_similar_entities_py(entities, entity_types)
    n = len(entities)
    if n < 2:
        return []
    labels = []
    name_ids: dict[str, int] = {}
    lname = array("i")
    type_ids: dict[str, int] = {}
    type_masks = []
    for e, m in entities.items():
        labels.append(m.label.lower() if m.label is not None else "")
        lname.append(name_ids.setdefault(m.local_name.lower(), len(name_ids)))
        mask = 0
        for t in entity_types.get(e) or ():
            mask |= 1 << type_ids.setdefault(t, len(type_ids))
        type_masks.append(mask)
    offsets = array("q", [0, *accumulate(map(len, labels))])
    words = max(1, (len(type_ids) + 63) // 64)
    types = array("Q", [(mask >> (64 * k)) & _WORD
                        for mask in type_masks for k in range(words)])
    cps = "".join(labels).encode(_UTF32, "surrogatepass")
    leader = array("i", bytes(4 * n))
    rc = _group_entities(n, cps, offsets.buffer_info()[0], lname.buffer_info()[0],
                         types.buffer_info()[0], words, SIMILARITY_THRESHOLD,
                         SEMANTIC_THRESHOLD, leader.buffer_info()[0])
    if rc != 0:
        raise MemoryError("native entity grouping ran out of memory")
    members: dict[int, list[str]] = {}
    for e, lead in zip(entities, leader):
        members.setdefault(lead, []).append(e)
    return [g for g in members.values() if len(g) > 1]


def _domain_range_compatible(a: PredicateMetadata, b: PredicateMetadata) -> bool:
    return (a.domain == b.domain or a.domain is None or b.domain is None) and (
        a.range == b.range or a.range is None or b.range is None
    )


def find_similar_predicates(
    predicates: dict[str, PredicateMetadata],
) -> list[list[str]]:
    """Greedy predicate grouping with domain/range gate
    (aggregate.py:692-764)."""
    groups: list[list[str]] = []
    # same prefetch as find_similar_entities: the O(n^2) loop reads one
    # tuple list, no dicts (identical iteration order and decisions)
    items = []
    for p, m in predicates.items():
        lb = m.label.lower() if m.label is not None else None
        items.append((p, m.local_name.lower(), lb,
                      len(lb) if lb is not None else 0, m))
    n = len(items)
    processed = bytearray(n)
    for i in range(n):
        if processed[i]:
            continue
        p1, ln1, label1, l1, info1 = items[i]
        group = [p1]
        processed[i] = 1
        for j in range(i + 1, n):
            if processed[j]:
                continue
            p2, ln2, label2, l2, info2 = items[j]
            if ln1 == ln2:
                if _domain_range_compatible(info1, info2):
                    group.append(p2)
                    processed[j] = 1
                continue
            if label1 is not None and label2 is not None:
                if 200.0 * (l1 if l1 < l2 else l2) \
                        < SIMILARITY_THRESHOLD * (l1 + l2):
                    continue
                r = cached_ratio(label1, label2)
                if r >= SIMILARITY_THRESHOLD and _domain_range_compatible(
                    info1, info2
                ):
                    group.append(p2)
                    processed[j] = 1
        if len(group) > 1:
            groups.append(group)
    return groups


def create_canonical_iri(
    group: list[str], doc_namespace: str, entities: dict[str, EntityMetadata]
) -> str:
    """Representative = longest label; IRI = ``{doc_ns}{clean_local}``
    (aggregate.py:561-592)."""
    best = max(group, key=lambda e: len((entities.get(e) or EntityMetadata("")).label or ""))
    info = entities.get(best) or EntityMetadata(local_name=derive_ontology_id(best))
    return f"{doc_namespace}{clean_local_name(info.local_name)}"


def create_canonical_predicate(
    group: list[str], doc_namespace: str, predicates: dict[str, PredicateMetadata]
) -> str:
    """Representative = most non-null metadata fields
    (aggregate.py:594-633)."""

    def completeness(p: str) -> int:
        info = predicates.get(p) or PredicateMetadata("")
        return sum(
            1 for v in (info.label, info.comment, info.domain, info.range) if v is not None
        )

    best = max(group, key=completeness)
    info = predicates.get(best) or PredicateMetadata(local_name=derive_ontology_id(best))
    return f"{doc_namespace}{clean_local_name(info.local_name)}"


def _mint_unique(groups, mint_fn, doc_namespace: str):
    """Assign canonical IRIs to groups with ``_N`` collision suffixes
    (aggregate.py:188-222)."""
    mapping: dict[str, str] = {}
    taken: set[str] = set()
    for group in groups:
        canonical = mint_fn(group)
        base = canonical
        counter = 1
        while canonical in taken:
            local = base.split(doc_namespace)[-1]
            canonical = f"{doc_namespace}{local}_{counter}"
            counter += 1
        taken.add(canonical)
        for member in group:
            mapping[member] = canonical
    return mapping


def aggregate_chunks(chunks: list[ChunkGraph], doc_namespace: str):
    """Aggregate a document's chunk graphs with disambiguation.

    Returns ``(triples, entity_mapping, predicate_mapping)`` where
    ``triples`` is the deduplicated set of output triples
    (aggregate.py:70-273).
    """
    if not doc_namespace.endswith(("/", "#")):
        doc_namespace = doc_namespace + "/"

    all_entities: dict[str, EntityMetadata] = {}
    all_predicates: dict[str, PredicateMetadata] = {}
    entity_types: dict[str, set[str]] = defaultdict(set)

    # Deterministic replay order: chunks as given, triples sorted.
    prepared: list[ChunkGraph] = [
        ChunkGraph(c.chunk_hid, c.chunk_iri, sorted(set(map(tuple, c.triples))))
        for c in chunks
    ]

    for chunk in prepared:
        entities = extract_entity_labels(chunk.triples)
        # dict.update preserves first-seen insertion order for existing
        # keys while overwriting their metadata — same as the reference.
        all_entities.update(entities)
        for s, p, o, lit, _ in chunk.triples:
            if p == RDF_TYPE and not lit:
                entity_types[s].add(o)
        preds = extract_predicate_info(chunk.triples)
        for p, info in preds.items():
            if p not in all_predicates:
                all_predicates[p] = info
            else:
                _merge_pred_field(all_predicates[p], info)

    entity_groups = find_similar_entities(all_entities, entity_types)
    predicate_groups = find_similar_predicates(all_predicates)

    entity_mapping = _mint_unique(
        entity_groups,
        lambda g: create_canonical_iri(g, doc_namespace, all_entities),
        doc_namespace,
    )
    predicate_mapping = _mint_unique(
        predicate_groups,
        lambda g: create_canonical_predicate(g, doc_namespace, all_predicates),
        doc_namespace,
    )

    out: set[Triple] = set()

    # --- canonical metadata (aggregate.py:275-362) ---
    canonical_to_originals: dict[str, list[str]] = defaultdict(list)
    for original, canonical in entity_mapping.items():
        canonical_to_originals[canonical].append(original)
    for canonical, originals in canonical_to_originals.items():
        labels = [
            all_entities[o].label
            for o in originals
            if o in all_entities and all_entities[o].label is not None
        ]
        if labels:
            out.add((canonical, RDFS_LABEL, max(labels, key=len), True, None))
        types: set[str] = set()
        for o in originals:
            types |= entity_types.get(o, set())
        for t in sorted(types):
            out.add((canonical, RDF_TYPE, t, False, None))

    mapped_entities = set(entity_mapping)
    for entity in sorted(set(all_entities) | set(entity_types)):
        if entity in mapped_entities:
            continue
        meta = all_entities.get(entity)
        if meta is not None and meta.label is not None:
            out.add((entity, RDFS_LABEL, meta.label, True, None))
        for t in sorted(entity_types.get(entity, set())):
            out.add((entity, RDF_TYPE, t, False, None))

    canonical_pred_to_originals: dict[str, list[str]] = defaultdict(list)
    for original, canonical in predicate_mapping.items():
        if canonical.startswith(doc_namespace):
            canonical_pred_to_originals[canonical].append(original)
    for canonical, originals in canonical_pred_to_originals.items():
        merged = PredicateMetadata(local_name="")
        for o in originals:
            info = all_predicates.get(o)
            if info is not None:
                _merge_pred_field(merged, info)
        if merged.label:
            out.add((canonical, RDFS_LABEL, merged.label, True, None))
        if merged.comment:
            out.add((canonical, RDFS_COMMENT, merged.comment, True, None))
        if merged.domain:
            out.add((canonical, RDFS_DOMAIN, merged.domain, False, None))
        if merged.range:
            out.add((canonical, RDFS_RANGE, merged.range, False, None))
        if merged.is_explicit_property:
            out.add((canonical, RDF_TYPE, RDF_PROPERTY, False, None))

    mapped_predicates = set(predicate_mapping)
    for predicate, info in all_predicates.items():
        if not predicate.startswith(doc_namespace) or predicate in mapped_predicates:
            continue
        if info.label:
            out.add((predicate, RDFS_LABEL, info.label, True, None))
        if info.comment:
            out.add((predicate, RDFS_COMMENT, info.comment, True, None))
        if info.domain:
            out.add((predicate, RDFS_DOMAIN, info.domain, False, None))
        if info.range:
            out.add((predicate, RDFS_RANGE, info.range, False, None))
        if info.is_explicit_property:
            out.add((predicate, RDF_TYPE, RDF_PROPERTY, False, None))

    # --- rewrite + provenance (aggregate.py:234-265) ---
    doc_uri = doc_namespace.rstrip("#/")
    for chunk in prepared:
        chunk_iri = chunk.chunk_iri
        out.add((chunk_iri, RDF_TYPE, PROV_ENTITY, False, None))
        out.add((chunk_iri, PROV_WAS_PART_OF, doc_uri, False, None))
        for s, p, o, lit, dt in chunk.triples:
            if s == chunk_iri:
                continue
            new_s = entity_mapping.get(s, s)
            new_p = predicate_mapping.get(p, p)
            new_o = o if lit else entity_mapping.get(o, o)
            out.add((new_s, new_p, new_o, lit, dt))
            if new_s.startswith(doc_namespace):
                out.add((new_s, PROV_WAS_GENERATED_BY, chunk_iri, False, None))

    return out, entity_mapping, predicate_mapping
