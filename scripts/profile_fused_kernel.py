#!/usr/bin/env python
"""Profile the document-local fused-kernel work (chunk -> select ->
extract -> sublimate -> connect -> aggregate -> emit) single-threaded
over the same synthetic corpus bench.py uses, without Spark. It calls
the fused task's own per-document kernel
(``kernels.construct.construct_document``), so the profile is the task
body minus Arrow I/O. cProfile output tells us which kernel dominates
q_kg_pipeline's Python cost. Usage: profile_fused_kernel.py [N_DOCS]"""
import cProfile
import pstats
import sys
import time
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ontocast_spark.synth import gen_conversation
from ontocast_spark.ontology import builtin_ontology_index
from ontocast_spark.kernels.construct import (
    COMBINED_COLUMNS, TURN_SEPARATOR, construct_document,
)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2000

idx = builtin_ontology_index()

# assemble documents driver-side (mirrors assemble_documents semantics)
docs = []
for i in range(N):
    rows = gen_conversation(i, seed=42)
    text = TURN_SEPARATOR.join(r[3] for r in sorted(rows, key=lambda r: r[1]))
    docs.append((f"conv{i:08d}", f"https://example.com/doc/x{i}", text))

def run():
    out = {k: [] for k in COMBINED_COLUMNS}
    for conv_id, doc_iri, text in docs:
        construct_document(conv_id, doc_iri, text, idx, out, None)
    return out["row_kind"].count("triple")

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
