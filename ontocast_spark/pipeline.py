"""End-to-end KG-construction pipeline (the Spark form of the
reference's whole langgraph state machine,
/root/reference/ontocast/stategraph/create.py:24-146).

Stage graph (each stage is set-oriented over the whole corpus — the
reference's per-document/per-chunk loops disappear)::

    conversations ──repartition(conv_id)+sort──▶ one mapInArrow pass
        (assemble, chunk, select, extract, sublimate, connect,
         canonicalize: operators/fused.kg_construct_fused_turns)
        ──▶ kg_canon{triple, entity_map, predicate_map, ontology}
    projections of kg_canon (io.kg_projections), computed when read:
        triple ──▶ kg_triples;  *_map ──▶ entity_mappings
        ontology ──dedup──▶ ontology_alignments

Shuffle budget (what actually moves at 100 TB): ONE hash repartition
of the raw turns on conv_id — every document-local stage runs inside
the single downstream ``mapInArrow`` task. The staged operators
(assemble -> chunk -> extract -> canonicalize) compute the same rows
and serve as the test reference (tests/test_fused.py).
The ontology-addendum dedup is a small distinct over ontology-namespace
rows (term declarations repeat per chunk — high map-side combine
ratio).

``run_pipeline`` optionally persists ``kg_canon`` through
:mod:`ontocast_spark.io` (parquet/Iceberg, one lineage checkpoint row
per write) and resumes by anti-join when re-invoked with the same
warehouse (north-rule resumability). ``kg_canon`` is the only stored KG
table: a run appends the rows it adds and nothing else, and the three
public tables are the same projections with or without a warehouse.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import io as kgio
from .ontology import OntologyIndex, builtin_ontology_index
from .operators.fused import kg_construct_fused_turns


@dataclass
class PipelineConfig:
    domain: str = "https://example.com"
    max_turns: int | None = 100_000  # mega-conversation cap (skew guard)
    max_chunks: int | None = None  # reference AgentState.max_chunks analog


def run_pipeline(
    spark: SparkSession,
    conversations: DataFrame,
    index: OntologyIndex | None = None,
    config: PipelineConfig | None = None,
    warehouse: str | None = None,
    run_id: str = "run0",
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns :func:`io.kg_projections` of its
    ``kg_canon`` rows. When ``warehouse`` is set, the new rows are
    appended to the stored ``kg_canon`` (with a lineage checkpoint),
    already-completed conversations are skipped, and the projections
    cover the whole store."""
    index = index or builtin_ontology_index()
    cfg = config or PipelineConfig()

    if warehouse is not None:
        # kg_canon is the incremental store and the resume key: a
        # conversation present there is done and is never recomputed.
        conversations = kgio.resume_filter(
            conversations, spark, warehouse, "kg_canon"
        )

    combined = kg_construct_fused_turns(
        spark, conversations, index, domain=cfg.domain,
        max_turns=cfg.max_turns, max_chunks=cfg.max_chunks,
    )
    if warehouse is not None:
        mode = (
            "append"
            if kgio.stage_exists(spark, warehouse, "kg_canon")
            else "overwrite"
        )
        # partition by row_kind: each projection's row_kind filter is
        # partition pruning instead of a data scan
        kgio.write_stage(
            combined, warehouse, "kg_canon", run_id, mode=mode,
            partition_by=("row_kind",),
        )
        combined = kgio.read_stage(spark, warehouse, "kg_canon")
    return kgio.kg_projections(combined)


def run_pipeline_documents(
    spark: SparkSession,
    documents: DataFrame,
    index: OntologyIndex | None = None,
    config: PipelineConfig | None = None,
    warehouse: str | None = None,
    run_id: str = "run0",
    id_col: str = "doc_path",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """Document-direct entry (the reference's one-file-one-document
    mode, fed by ``sources.documents.read_documents_dir``): each row is
    one whole document. Implemented as single-turn conversations through
    :func:`run_pipeline` — assembly of a one-turn conversation is
    byte-identical to the document, so ``doc_hid = sha256(text)[:12]``
    matches the reference's file hashing exactly
    (/root/reference/ontocast/onto.py:986-993) and every downstream
    stage, checkpoint, and resume contract is shared with the
    transcript path."""
    conversations = documents.select(
        F.col(id_col).cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("document").alias("role"),
        F.col(text_col).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    return run_pipeline(
        spark, conversations, index=index, config=config,
        warehouse=warehouse, run_id=run_id,
    )
