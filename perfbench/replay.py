"""Single-threaded replay of sampled documents through the public kernels.

The fused Spark operator runs, per document: chunk -> select ontology ->
extract -> split facts from ontology rows -> hub-connect -> aggregate
(which groups similar entities and predicates). The replay calls the
same public kernel functions in the same order on the driver and times
each call, so the benchmark gets per-kernel spans without tracing inside
the program. The triple rows it produces per document are also the
reference for the output check on the sampled conversations.
"""

from __future__ import annotations

import hashlib
import time
from collections import defaultdict

from ontocast_spark.kernels import aggregate as agg_mod
from ontocast_spark.kernels.aggregate import ChunkGraph, aggregate_chunks
from ontocast_spark.kernels.chunker import chunk_document
from ontocast_spark.kernels.extract import extract_chunk_triples
from ontocast_spark.kernels.fuzz import cached_ratio
from ontocast_spark.kernels.graphs import connect_via_hub
from ontocast_spark.kernels.rdfterms import chunk_iri_for, iri2namespace, render_text_hash
from ontocast_spark.operators.assemble import TURN_SEPARATOR
from ontocast_spark.ontology import OntologyIndex

SPAN_KEYS = ("chunk_ms", "select_ms", "extract_ms", "connect_ms",
             "aggregate_ms", "group_ms")
COUNT_KEYS = ("docs", "turns", "chunks", "triples", "pairs_scored", "ratio_hits",
              "merged")


def assemble(texts: list[str], domain: str) -> tuple[str, str]:
    """(doc_iri, text) exactly as document assembly builds them from a
    conversation's turn texts in turn order."""
    text = TURN_SEPARATOR.join(t for t in texts if t is not None)
    return f"{domain}/doc/{hashlib.sha256(text.encode()).hexdigest()[:12]}", text


class Replay:
    """Accumulates spans and counts over the documents it replays."""

    def __init__(self, index: OntologyIndex, domain: str):
        self.index = index
        self.domain = domain
        self.totals: dict[str, float] = defaultdict(float)

    def _grouping(self, fn):
        def timed(*args):
            info0 = cached_ratio.cache_info()
            t0 = time.perf_counter()
            groups = fn(*args)
            self.totals["group_ms"] += (time.perf_counter() - t0) * 1e3
            info1 = cached_ratio.cache_info()
            self.totals["pairs_scored"] += (info1.hits + info1.misses
                                            - info0.hits - info0.misses)
            self.totals["ratio_hits"] += info1.hits - info0.hits
            self.totals["merged"] += sum(len(g) - 1 for g in groups)
            return groups
        return timed

    def document(self, texts: list[str]) -> list[tuple]:
        """Replay one conversation; returns its ``triple`` rows."""
        doc_iri, text = assemble(texts, self.domain)
        tot = self.totals
        clock = time.perf_counter
        t0 = clock()
        chunks = chunk_document(text)
        tot["chunk_ms"] += (clock() - t0) * 1e3
        graphs = []
        for chunk_text in chunks:
            hid = render_text_hash(chunk_text)
            chunk_iri = chunk_iri_for(doc_iri, hid)
            chunk_ns = iri2namespace(chunk_iri)
            t0 = clock()
            ontology_id = self.index.select_ontology(chunk_text)
            t1 = clock()
            triples = extract_chunk_triples(chunk_text, chunk_ns, self.index, ontology_id)
            t2 = clock()
            facts = [
                t for t in triples
                if t[0].startswith(chunk_ns) or t[1].startswith(chunk_ns)
                or (not t[3] and t[2].startswith(chunk_ns))
            ]
            facts = sorted(connect_via_hub(facts, chunk_iri))
            t3 = clock()
            tot["select_ms"] += (t1 - t0) * 1e3
            tot["extract_ms"] += (t2 - t1) * 1e3
            tot["connect_ms"] += (t3 - t2) * 1e3
            graphs.append(ChunkGraph(hid, chunk_iri, facts))
        # aggregate_chunks calls the grouping functions through the
        # module, so wrapping the module attributes times them in place
        originals = (agg_mod.find_similar_entities, agg_mod.find_similar_predicates)
        agg_mod.find_similar_entities = self._grouping(originals[0])
        agg_mod.find_similar_predicates = self._grouping(originals[1])
        group_before = tot["group_ms"]
        try:
            t0 = clock()
            rows, _, _ = aggregate_chunks(graphs, doc_iri)
            elapsed = (clock() - t0) * 1e3
        finally:
            agg_mod.find_similar_entities, agg_mod.find_similar_predicates = originals
        tot["aggregate_ms"] += elapsed - (tot["group_ms"] - group_before)
        tot["docs"] += 1
        tot["turns"] += len(texts)
        tot["chunks"] += len(chunks)
        tot["triples"] += len(rows)
        return list(rows)


def triple_checksum(rows) -> tuple[int, int]:
    """(row count, total characters of subj + pred + obj): the same
    figures the Spark side observes on the sampled conversations."""
    return len(rows), sum(len(s) + len(p) + len(o) for s, p, o, _, _ in rows)
