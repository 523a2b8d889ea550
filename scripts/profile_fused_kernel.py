#!/usr/bin/env python
"""Profile the document-local fused-kernel work (chunk -> select ->
extract -> sublimate -> connect -> aggregate) single-threaded over the
same synthetic corpus bench.py uses, without Spark. cProfile output
tells us which kernel dominates q_kg_pipeline's Python cost."""
import cProfile
import pstats
import sys
import time
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ontocast_spark.synth import gen_conversation
from ontocast_spark.ontology import builtin_ontology_index
from ontocast_spark.kernels.aggregate import ChunkGraph, aggregate_chunks
from ontocast_spark.kernels.chunker import chunk_document
from ontocast_spark.kernels.extract import extract_chunk_triples
from ontocast_spark.kernels.graphs import sublimate_and_connect
from ontocast_spark.kernels.rdfterms import chunk_iri_for, iri2namespace, render_text_hash

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2000

idx = builtin_ontology_index()

# assemble documents driver-side (mirrors assemble_documents semantics)
docs = []
for i in range(N):
    rows = gen_conversation(i, seed=42)
    text = "\n\n".join(r[3] for r in sorted(rows, key=lambda r: r[1]))
    docs.append((f"conv{i:08d}", f"https://example.com/doc/x{i}", text))

def run():
    n_triples = 0
    for conv_id, doc_iri, text in docs:
        chunks = chunk_document(text or "")
        chunk_graphs = []
        onto_rows = set()
        for chunk_text in chunks:
            hid = render_text_hash(chunk_text)
            chunk_iri = chunk_iri_for(doc_iri, hid)
            chunk_ns = iri2namespace(chunk_iri)
            ontology_id = idx.select_ontology(chunk_text)
            triples = extract_chunk_triples(chunk_text, chunk_ns, idx, ontology_id)
            facts, onto = sublimate_and_connect(triples, chunk_iri, chunk_ns)
            onto_rows.update(onto)
            chunk_graphs.append(ChunkGraph(hid, chunk_iri, facts))
        agg, emap, pmap = aggregate_chunks(chunk_graphs, doc_iri)
        n_triples += len(agg)
    return n_triples

t0 = time.perf_counter()
nt = run()
t1 = time.perf_counter()
print(f"warm pass: {N} docs, {nt} triples, {t1-t0:.3f}s -> {N/(t1-t0):.0f} docs/s")

pr = cProfile.Profile()
pr.enable()
run()
pr.disable()
st = pstats.Stats(pr)
st.sort_stats("cumulative").print_stats(35)
