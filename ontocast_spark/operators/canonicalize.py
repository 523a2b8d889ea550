"""Entity/predicate canonicalization (the aggregation heart).

Two strategies over the same contract (facts triples -> aggregated doc
graphs + entity/predicate mappings):

1. :func:`canonicalize_combined` — grouped pandas UDF per ``conv_id``
   replaying the reference aggregator exactly
   (:mod:`ontocast_spark.kernels.aggregate`). The reference's
   disambiguation scope is one document
   (/root/reference/ontocast/tool/aggregate.py:70-84), so grouping by
   conversation is semantically exact AND embarrassingly parallel:
   group state is one conversation's triples, corpus parallelism is the
   number of conversations. It ends the staged reference chain
   (assemble -> chunk -> extract -> canonicalize) that the fused
   production pass (``operators/fused.py``) is tested against; the
   fused pass runs the same ``aggregate_chunks`` call inside its
   kernel task.

2. :func:`ontocast_spark.operators.cc` + blocked candidate pairs — the
   distributed variant for *cross-document* canonicalization, where a
   single group no longer fits: block keys (lower local name, label
   prefix) -> within-block self-join -> fuzz scoring in a pandas UDF ->
   edges -> large-star/small-star connected components. See
   ``crossdoc.py``.

The one shuffle here is the ``groupBy(conv_id)``; skew from
mega-conversations is bounded upstream (``max_turns``/``max_chunks``
caps) and by AQE.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels.aggregate import ChunkGraph, aggregate_chunks
from ..kernels.construct import COMBINED_ARROW_SCHEMA


def _group_chunks(pdf: pd.DataFrame) -> list[ChunkGraph]:
    """Rebuild per-chunk graphs in DOCUMENT order (``chunk_idx``) when
    the column is present — greedy disambiguation and first-seen
    metadata are chunk-order-sensitive, and both the reference
    aggregator and the fused path (kernels/construct.py) process chunks
    in document order; content-hash order is only the fallback for
    callers that dropped the index (round-2 ADVICE, medium)."""
    has_idx = "chunk_idx" in pdf.columns
    keyed: list[tuple] = []
    for (chunk_hid, chunk_iri), cpdf in pdf.groupby(
        ["chunk_hid", "chunk_iri"], sort=False
    ):
        key = (
            (int(cpdf["chunk_idx"].iloc[0]), chunk_hid)
            if has_idx
            else (chunk_hid,)
        )
        triples = [
            (s, p, o, bool(lit), None if dt is None or pd.isna(dt) else dt)
            for s, p, o, lit, dt in zip(
                cpdf["subj"], cpdf["pred"], cpdf["obj"],
                cpdf["obj_is_literal"], cpdf["obj_datatype"],
            )
        ]
        keyed.append((key, ChunkGraph(chunk_hid, chunk_iri, triples)))
    return [g for _, g in sorted(keyed, key=lambda kv: kv[0])]


CANON_COMBINED_SCHEMA = from_arrow_schema(COMBINED_ARROW_SCHEMA)


def canonicalize_combined(facts: DataFrame) -> DataFrame:
    """One grouped pass emitting BOTH the aggregated triples
    (row_kind='triple') and the canonicalization audit rows
    (row_kind='entity_map'/'predicate_map', subj=original,
    obj=canonical). The greedy disambiguation is O(n^2) per document,
    so it runs once and callers split by row_kind afterwards."""

    def combined_group(pdf: pd.DataFrame) -> pd.DataFrame:
        conv_id = pdf["conv_id"].iloc[0]
        doc_iri = pdf["doc_iri"].iloc[0]
        out, emap, pmap = aggregate_chunks(_group_chunks(pdf), doc_namespace=doc_iri)
        rows = sorted(out)
        data = {
            "conv_id": [conv_id] * (len(rows) + len(emap) + len(pmap)),
            "doc_iri": [doc_iri] * (len(rows) + len(emap) + len(pmap)),
            "row_kind": ["triple"] * len(rows)
            + ["entity_map"] * len(emap)
            + ["predicate_map"] * len(pmap),
            "subj": [t[0] for t in rows] + list(emap) + list(pmap),
            "pred": [t[1] for t in rows] + [""] * (len(emap) + len(pmap)),
            "obj": [t[2] for t in rows] + list(emap.values()) + list(pmap.values()),
            "obj_is_literal": [t[3] for t in rows] + [False] * (len(emap) + len(pmap)),
            "obj_datatype": [t[4] for t in rows] + [None] * (len(emap) + len(pmap)),
        }
        return pd.DataFrame(data)

    return facts.groupBy("conv_id").applyInPandas(
        combined_group, schema=CANON_COMBINED_SCHEMA
    )


OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def resolve_sameas(triples):
    """owl:sameAs resolution: connected components over the sameAs
    graph pick one representative per alias set (min IRI —
    deterministic), every subject/IRI-object rewrites to it, the
    sameAs triples themselves drop, and the result dedups — the
    standard alias-collapse step when ingesting external KGs that
    assert equivalences (the reference has no sameAs handling; this is
    the corpus-scale form: distributed CC + two hash joins, no
    iteration outside the CC loop).

    Input needs (subj, pred, obj) and optionally ``obj_is_literal``
    (literal objects are never rewritten). Returns the same columns."""
    from pyspark.sql import functions as F

    from .cc import connected_components

    edges = triples.filter(F.col("pred") == OWL_SAMEAS).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    labels = connected_components(edges)
    mapping = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("_o"), F.col("comp").alias("_c")
    )
    rest = triples.filter(F.col("pred") != OWL_SAMEAS)
    out = (
        rest.join(mapping, rest.subj == mapping._o, "left")
        .withColumn("subj", F.coalesce("_c", "subj"))
        .drop("_o", "_c")
    )
    not_literal = (
        ~F.col("obj_is_literal")
        if "obj_is_literal" in triples.columns
        else F.lit(True)
    )
    out = (
        out.join(mapping, (out.obj == mapping._o) & not_literal, "left")
        .withColumn("obj", F.coalesce("_c", "obj"))
        .drop("_o", "_c")
    )
    return out.dropDuplicates(["subj", "pred", "obj"])
