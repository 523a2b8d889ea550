"""Triple extraction operator: chunks -> triples via ``mapInPandas``.

Wraps the frozen deterministic extractor kernel
(:mod:`ontocast_spark.kernels.extract`) over Arrow batches. Per chunk it

1. selects the ontology by entity-link scoring of the first 1000 chars
   against the broadcast term index (the reference's LLM selection,
   /root/reference/ontocast/agent/select_ontology.py:26-82, replaced by
   a deterministic scorer — same I/O contract incl. the null fallback),
2. extracts ontology-constrained triples in the chunk namespace
   (replacing /root/reference/ontocast/agent/render_facts.py:25-98),
3. applies the sublimation split + facts-side hub auto-connect inline
   (:func:`ontocast_spark.kernels.graphs.sublimate_and_connect`): the
   chunk's full graph is already in hand inside the UDF, so splitting
   and connecting here saves the (conv_id, chunk_hid) shuffle that a
   separate grouped validation stage would cost.

This is the staged reference for the fused kernel pass
(``operators/fused.py``), and critique retry re-extracts failed chunks
through it. The ontology index is broadcast once per job
(``sparkContext.broadcast``) — it is the only shared state and is a few
KB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..kernels.extract import extract_chunk_triples
from ..kernels.graphs import sublimate_and_connect
from ..kernels.rdfterms import iri2namespace
from ..ontology import OntologyIndex
from ..schemas import TRIPLES

# chunk_idx rides along so the canonicalize groupBy can replay chunks
# in DOCUMENT order (the reference aggregator's and the fused path's
# order — greedy disambiguation is chunk-order-sensitive)
TRIPLES_WITH_PART = StructType(
    list(TRIPLES.fields)
    + [
        StructField("chunk_idx", IntegerType(), False),
        StructField("part", StringType(), False),
    ]
)


def extract_triples(
    spark: SparkSession,
    chunks: DataFrame,
    index: OntologyIndex,
) -> DataFrame:
    """chunks -> triples with a ``part`` column ('facts' | 'ontology');
    facts graphs are already hub-connected."""
    bc_index = spark.sparkContext.broadcast(index)

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: OntologyIndex = bc_index.value
        cols = ("conv_id", "doc_iri", "chunk_hid", "chunk_iri", "subj",
                "pred", "obj", "obj_is_literal", "obj_datatype",
                "chunk_idx", "part")
        for pdf in batches:
            out = {k: [] for k in cols}

            def emit(conv_id, doc_iri, hid, chunk_iri, cidx, triples, part):
                for s, p, o, lit, dt in triples:
                    out["conv_id"].append(conv_id)
                    out["doc_iri"].append(doc_iri)
                    out["chunk_hid"].append(hid)
                    out["chunk_iri"].append(chunk_iri)
                    out["subj"].append(s)
                    out["pred"].append(p)
                    out["obj"].append(o)
                    out["obj_is_literal"].append(lit)
                    out["obj_datatype"].append(dt)
                    out["chunk_idx"].append(cidx)
                    out["part"].append(part)

            for conv_id, doc_iri, hid, chunk_iri, cidx, text in zip(
                pdf["conv_id"], pdf["doc_iri"], pdf["chunk_hid"],
                pdf["chunk_iri"], pdf["chunk_idx"], pdf["text"],
            ):
                chunk_ns = iri2namespace(chunk_iri)
                ontology_id = idx.select_ontology(text or "")
                triples = extract_chunk_triples(
                    text or "", chunk_ns, idx, ontology_id
                )
                facts, onto = sublimate_and_connect(triples, chunk_iri, chunk_ns)
                emit(conv_id, doc_iri, hid, chunk_iri, cidx, facts, "facts")
                emit(conv_id, doc_iri, hid, chunk_iri, cidx, onto, "ontology")
            yield pd.DataFrame(out, columns=list(cols))

    return chunks.select(
        "conv_id", "doc_iri", "chunk_hid", "chunk_iri", "chunk_idx", "text"
    ).mapInPandas(extract_batches, schema=TRIPLES_WITH_PART)
