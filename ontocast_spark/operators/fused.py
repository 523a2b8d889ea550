"""Fused per-document KG construction: one ``mapInPandas`` pass from
raw turns straight to canonical triples + mappings + ontology-addendum
rows. This is the production KG path (``pipeline.run_pipeline``).

Why this exists (the 100-TB argument): after document assembly, every
remaining stage of the reference's semantics — chunking, ontology
selection, extraction, sublimation, hub-connect, aggregation/
canonicalization — is *document-local* (the reference's disambiguation
scope is one document, /root/reference/ontocast/tool/aggregate.py:70-84).
A document lives inside one task, so all of its intermediate data does
too. The staged operators (assemble.py / chunking.py / extraction.py /
canonicalize.py) materialize ~60 intermediate triple rows per
conversation through Arrow and shuffle them for the canonicalize
groupBy; this fused operator eliminates that exchange and all
intermediate Arrow crossings.

Document assembly is fused as well: one hash repartition on
``conv_id`` + an in-partition sort replace the two ``collect_list``
aggregation exchanges of the staged assembly, and the per-conversation
concatenation happens as a streaming pass inside the same Python task
that runs the extraction kernels. The whole pipeline is then exactly
ONE exchange: turns cross the wire once, sorted, and never cross again.
Per-conversation state is bounded by the pipeline's ``max_turns`` cap
(the same skew guard the staged assembly has). The staged chain stays
as the reference: tests/test_fused.py asserts the fused rows equal it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.aggregate import ChunkGraph, aggregate_chunks
from ..kernels.chunker import MAX_CHUNK_SIZE, MIN_CHUNK_SIZE, chunk_document
from ..kernels.extract import extract_chunk_triples
from ..kernels.graphs import sublimate_and_connect
from ..kernels.rdfterms import chunk_iri_for, iri2namespace, render_text_hash
from ..ontology import OntologyIndex
from .assemble import TURN_SEPARATOR
from .canonicalize import CANON_COMBINED_SCHEMA

_COLS = ("conv_id", "doc_iri", "row_kind", "subj", "pred", "obj",
         "obj_is_literal", "obj_datatype")


def _construct_document(
    conv_id: str,
    doc_iri: str,
    text: str,
    idx: OntologyIndex,
    out: dict,
    max_chunks: int | None,
    min_chunk_size: int,
    max_chunk_size: int,
) -> None:
    """Run the full document-local kernel chain (chunk -> select ->
    extract -> sublimate -> connect -> aggregate) for one document and
    append the combined canon rows to ``out``."""

    def emit(kind, rows):
        for s, p, o, lit, dt in rows:
            out["conv_id"].append(conv_id)
            out["doc_iri"].append(doc_iri)
            out["row_kind"].append(kind)
            out["subj"].append(s)
            out["pred"].append(p)
            out["obj"].append(o)
            out["obj_is_literal"].append(lit)
            out["obj_datatype"].append(dt)

    chunks = chunk_document(
        text or "",
        min_chunk_size=min_chunk_size,
        max_chunk_size=max_chunk_size,
    )
    if max_chunks is not None:
        chunks = chunks[:max_chunks]
    chunk_graphs: list[ChunkGraph] = []
    onto_rows: set[tuple] = set()
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
    emit("triple", sorted(agg))
    emit("entity_map", [(o, "", c, False, None) for o, c in emap.items()])
    emit("predicate_map", [(o, "", c, False, None) for o, c in pmap.items()])
    emit("ontology", sorted(onto_rows))


def kg_construct_fused_turns(
    spark: SparkSession,
    conversations: DataFrame,
    index: OntologyIndex,
    domain: str = "https://example.com",
    max_turns: int | None = None,
    max_chunks: int | None = None,
    min_chunk_size: int = MIN_CHUNK_SIZE,
    max_chunk_size: int = MAX_CHUNK_SIZE,
    separator: str = TURN_SEPARATOR,
) -> DataFrame:
    """conversations(conv_id, turn_idx, text, ...) -> combined canon
    rows, with document assembly fused into the kernel pass.

    Equivalent row for row to the staged chain ``assemble_documents``
    -> ``chunk_documents`` -> ``extract_triples`` ->
    ``canonicalize_combined`` (ontology rows: as a distinct set): the
    repartition + in-partition sort reproduce the staged assembly's
    ``array_sort(collect_list(struct(turn_idx, text)))`` ordering
    (turn_idx, then text as tie-break; null texts skipped like
    ``array_join`` skips null elements), and ``sha256(text)[:12]`` /
    the doc IRI are computed with hashlib over the same UTF-8 bytes
    Spark's ``sha2`` hashes. One exchange total.
    """
    bc_index = spark.sparkContext.broadcast(index)
    doc_prefix = domain + "/doc/"

    conv = conversations.select("conv_id", "turn_idx", "text")
    if max_turns is not None:
        conv = conv.filter(F.col("turn_idx") < F.lit(max_turns))
    # hash-cluster conversations, order turns; a conversation is then a
    # contiguous, ordered run inside exactly one partition (it may span
    # Arrow batches — the carry below stitches them back together)
    conv = conv.repartition(F.col("conv_id")).sortWithinPartitions(
        "conv_id", "turn_idx", "text"
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: OntologyIndex = bc_index.value
        carry_conv: str | None = None
        carry_texts: list[str] = []
        out = {k: [] for k in _COLS}

        def finish(conv_id: str, texts: list[str]) -> None:
            text = separator.join(t for t in texts if t is not None)
            doc_hid = hashlib.sha256(text.encode("utf-8")).hexdigest()[:12]
            _construct_document(
                conv_id, doc_prefix + doc_hid, text, idx, out,
                max_chunks, min_chunk_size, max_chunk_size,
            )

        for pdf in batches:
            conv_ids = pdf["conv_id"].values
            texts = pdf["text"].values
            n = len(conv_ids)
            i = 0
            while i < n:
                cid = conv_ids[i]
                j = i
                while j < n and conv_ids[j] == cid:
                    j += 1
                if carry_conv is not None and carry_conv != cid:
                    finish(carry_conv, carry_texts)
                    carry_texts = []
                carry_conv = cid
                carry_texts.extend(texts[i:j])
                if j < n:  # run ended inside this batch: document done
                    finish(carry_conv, carry_texts)
                    carry_conv, carry_texts = None, []
                i = j
            if out["conv_id"]:
                yield pd.DataFrame(out, columns=list(_COLS))
                out = {k: [] for k in _COLS}
        if carry_conv is not None:
            finish(carry_conv, carry_texts)
        if out["conv_id"]:
            yield pd.DataFrame(out, columns=list(_COLS))

    return conv.mapInPandas(process, schema=CANON_COMBINED_SCHEMA)
