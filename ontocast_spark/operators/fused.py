"""Fused per-document KG construction: one ``mapInArrow`` pass from
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

This module only plans; the task body is
:func:`ontocast_spark.kernels.construct.construct_batches`, in a module
that imports neither pandas nor ``pyspark.sql``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.construct import construct_batches
from ..ontology import OntologyIndex
from .canonicalize import CANON_COMBINED_SCHEMA


def kg_construct_fused_turns(
    spark: SparkSession,
    conversations: DataFrame,
    index: OntologyIndex,
    domain: str = "https://example.com",
    max_turns: int | None = None,
    max_chunks: int | None = None,
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
    # Arrow batches — the task's carry stitches them back together)
    conv = conv.repartition(F.col("conv_id")).sortWithinPartitions(
        "conv_id", "turn_idx", "text"
    )

    task = functools.partial(
        construct_batches, index=bc_index, doc_prefix=doc_prefix,
        max_chunks=max_chunks,
    )
    return conv.mapInArrow(task, schema=CANON_COMBINED_SCHEMA)
