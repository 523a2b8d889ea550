"""Semantic chunking operator: documents -> chunks via ``mapInPandas``.

One Arrow batch of documents in, one batch of chunk rows out (the
1-to-many explode happens inside the UDF — no separate ``posexplode``
pass, no per-row Python). The chunking math itself is the pure kernel
:mod:`ontocast_spark.kernels.chunker`; ids are
``sha256(chunk_text)[:12]`` exactly like the reference
(/root/reference/ontocast/agent/chunk_text.py:37-44).

``max_chunks`` replicates the reference's head-limit
(``chunks[:max_chunks]``, /root/reference/ontocast/agent/
chunk_text.py:34-35) — applied inside the UDF (the chunks of one doc
are all local), so no window shuffle is needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.chunker import chunk_document
from ..kernels.rdfterms import chunk_iri_for, render_text_hash
from ..schemas import CHUNKS


def chunk_documents(documents: DataFrame, max_chunks: int | None = None) -> DataFrame:
    """documents(conv_id, doc_iri, text) -> chunks table."""

    def chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "doc_iri", "chunk_idx", "chunk_hid", "chunk_iri", "text")}
            for conv_id, doc_iri, text in zip(
                pdf["conv_id"], pdf["doc_iri"], pdf["text"]
            ):
                chunks = chunk_document(text or "")
                if max_chunks is not None:
                    chunks = chunks[:max_chunks]
                for idx, chunk_text in enumerate(chunks):
                    hid = render_text_hash(chunk_text)
                    out["conv_id"].append(conv_id)
                    out["doc_iri"].append(doc_iri)
                    out["chunk_idx"].append(idx)
                    out["chunk_hid"].append(hid)
                    out["chunk_iri"].append(chunk_iri_for(doc_iri, hid))
                    out["text"].append(chunk_text)
            yield pd.DataFrame(out)

    return documents.select("conv_id", "doc_iri", "text").mapInPandas(
        chunk_batches, schema=CHUNKS
    )
