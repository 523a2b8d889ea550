"""The fused KG-construction task body: Arrow batches of sorted turns in,
Arrow batches of combined canon rows out.

``operators/fused.kg_construct_fused_turns`` plans the one exchange
(hash-repartition on ``conv_id`` + in-partition sort) and hands
:func:`construct_batches` to ``mapInArrow``. Everything per document —
assembly, chunk, select, extract, sublimate, connect, aggregate, emit —
runs here.

This module imports neither pandas nor ``pyspark.sql``: a module-level
function is pickled by reference, so a fresh Python worker imports only
this module and the kernels it calls, on top of what ``pyspark.worker``
already loaded. Output is built column-wise per document and leaves as
``pa.RecordBatch.from_pydict`` — no per-row appends, no pandas frame.
pyarrow itself imports pandas the first time it converts a Python list
(its pandas shim); :mod:`ontocast_spark.daemon`, the daemon Spark forks
workers from under ``build_spark`` on a local master, has already done
that and imported this module, so a fresh worker pays neither at its
first emit.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pyarrow as pa

from ..ontology import OntologyIndex
from .aggregate import ChunkGraph, aggregate_chunks
from .chunker import chunk_document
from .extract import extract_chunk_triples
from .graphs import sublimate_and_connect
from .rdfterms import chunk_iri_for, iri2namespace, render_text_hash

# Joins a conversation's turns into its document text; the staged
# ``operators/assemble.assemble_documents`` re-exports it.
TURN_SEPARATOR = "\n\n"

# The combined-row format: one row per aggregated triple, entity/
# predicate mapping and ontology-addendum triple, told apart by
# ``row_kind``. The staged reference (``canonicalize_combined``) emits
# the same schema.
COMBINED_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("doc_iri", pa.string()),
    ("row_kind", pa.string()),
    ("subj", pa.string()),
    ("pred", pa.string()),
    ("obj", pa.string()),
    ("obj_is_literal", pa.bool_()),
    ("obj_datatype", pa.string()),
])
COMBINED_COLUMNS = tuple(COMBINED_ARROW_SCHEMA.names)
_TRIPLE_COLUMNS = COMBINED_COLUMNS[3:]


def construct_document(
    conv_id: str,
    doc_iri: str,
    text: str,
    idx: OntologyIndex,
    out: dict[str, list],
    max_chunks: int | None,
) -> None:
    """Run the full document-local kernel chain (chunk -> select ->
    extract -> sublimate -> connect -> aggregate) for one document and
    extend the columns of ``out`` with its combined canon rows."""
    chunks = chunk_document(text or "")
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

    parts = (
        ("triple", sorted(agg)),
        ("entity_map", [(o, "", c, False, None) for o, c in emap.items()]),
        ("predicate_map", [(o, "", c, False, None) for o, c in pmap.items()]),
        ("ontology", sorted(onto_rows)),
    )
    rows = [r for _, part in parts for r in part]
    if not rows:
        return
    out["conv_id"].extend([conv_id] * len(rows))
    out["doc_iri"].extend([doc_iri] * len(rows))
    for kind, part in parts:
        out["row_kind"].extend([kind] * len(part))
    for name, values in zip(_TRIPLE_COLUMNS, zip(*rows)):
        out[name].extend(values)


def construct_batches(
    batches: Iterator[pa.RecordBatch],
    *,
    index,
    doc_prefix: str,
    max_chunks: int | None,
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body over one partition of ``(conv_id, text, ...)``
    batches sorted by ``conv_id`` then turn order. A conversation is a
    contiguous run that may span batches; the carry stitches it back
    together. ``index`` is a broadcast of the :class:`OntologyIndex`.
    One output batch per input batch that finished a document."""
    idx: OntologyIndex = index.value
    carry_conv: str | None = None
    carry_texts: list[str] = []
    out: dict[str, list] = {k: [] for k in COMBINED_COLUMNS}

    def finish(conv_id: str, texts: list[str]) -> None:
        text = TURN_SEPARATOR.join(t for t in texts if t is not None)
        doc_hid = hashlib.sha256(text.encode("utf-8")).hexdigest()[:12]
        construct_document(
            conv_id, doc_prefix + doc_hid, text, idx, out, max_chunks
        )

    def flush() -> pa.RecordBatch:
        nonlocal out
        batch = pa.RecordBatch.from_pydict(out, schema=COMBINED_ARROW_SCHEMA)
        out = {k: [] for k in COMBINED_COLUMNS}
        return batch

    for batch in batches:
        conv_ids = batch.column("conv_id").to_pylist()
        texts = batch.column("text").to_pylist()
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
            yield flush()
    if carry_conv is not None:
        finish(carry_conv, carry_texts)
    if out["conv_id"]:
        yield flush()
