"""Warehouse I/O: one stored KG table plus lineage checkpoints.

Production target is Iceberg (``df.writeTo(table).append()``); without
a configured ``kg`` catalog the writer falls back to partitioned
Parquet under a warehouse directory — both paths share this module,
mirroring the reference's pluggable triple-store managers
(ontocast/toolbox.py:98-117: Fuseki > Neo4j > filesystem).

The warehouse stores ``kg_canon`` (every row the pipeline emits, by
``row_kind``) and ``checkpoints``, nothing else: ``kg_triples``,
``entity_mappings`` and ``ontology_alignments`` are
:func:`kg_projections` of ``kg_canon``, computed when read
(:func:`read_stage` serves them under their names), so a run writes
only the rows it adds and the store holds each fact once.

Resumability contract (north rule): every stage write also appends one
``checkpoints`` row (stage, partition_id = -1, row_count, conv_count,
run_id) counted on the write pass itself — the Spark analog of the
reference's AgentState JSON checkpoint (ontocast/onto.py:112-136).
A killed job resumes by anti-joining the input's ``conv_id`` against
the completed stage output (:func:`resume_filter`) — no recompute of
finished conversations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import split_lang_columns

KG_PROJECTIONS = ("kg_triples", "entity_mappings", "ontology_alignments")


def _use_iceberg(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.catalog.kg", None) is not None


def write_stage(
    df: DataFrame,
    warehouse: str,
    stage: str,
    run_id: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> str:
    """Write a stage table + its checkpoint row. Returns the path.

    The counters ride the write pass itself (``df.observe``
    accumulators — zero extra I/O), so the stage data is scanned
    exactly once."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    path = os.path.join(warehouse, stage)

    has_conv = "conv_id" in df.columns
    obs = Observation(f"ckpt_{stage}_{run_id}")
    metrics = [F.count(F.lit(1)).alias("row_count")]
    if has_conv:
        metrics.append(F.approx_count_distinct("conv_id").alias("conv_count"))
    df = df.observe(obs, *metrics)

    if _use_iceberg(spark):
        writer = df.writeTo(f"kg.{stage}")
        if mode == "overwrite":
            # bucket the store by conv_id so per-conversation reads and
            # the resume anti-join are partition-pruned at cluster scale
            if has_conv:
                writer = writer.partitionedBy(F.bucket(64, F.col("conv_id")))
            writer.createOrReplace()
        else:
            writer.append()
    else:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    # global counters observed on the write pass (no re-scan); the
    # store's own metadata (parquet footers, Iceberg manifests) already
    # lists its files, so one summary row per write is the lineage
    got = obs.get
    ckpt = spark.createDataFrame(
        [(stage, -1, int(got["row_count"]),
          int(got["conv_count"]) if has_conv else None, run_id)],
        "stage string, partition_id int, row_count long, "
        "conv_count long, run_id string",
    )
    ckpt.write.mode("append").parquet(os.path.join(warehouse, "checkpoints"))
    return path


def kg_projections(canon: DataFrame) -> dict[str, DataFrame]:
    """The public KG tables, each a projection of ``kg_canon`` rows:
    ``kg_triples`` (``row_kind='triple'``), ``entity_mappings``
    (``*_map``) and ``ontology_alignments``. Ontology-addendum rows
    repeat per chunk, so they collapse to the distinct term-declaration
    graph (the reference merges addenda into the managed ontology by
    graph-union set semantics, ontocast/tool/ontology_manager.py:36-46).
    Triples and alignments carry the explicit ``obj_lang`` column."""
    kind = F.col("row_kind")
    onto = canon.filter(kind == "ontology").select(
        "subj", "pred", "obj", "obj_is_literal", "obj_datatype"
    )
    return {
        "kg_triples": split_lang_columns(
            canon.filter(kind == "triple").select(
                "conv_id", "doc_iri", "subj", "pred", "obj",
                "obj_is_literal", "obj_datatype",
            )
        ),
        "entity_mappings": canon.filter(
            kind.isin("entity_map", "predicate_map")
        ).select(
            "conv_id",
            F.col("subj").alias("original_iri"),
            F.col("obj").alias("canonical_iri"),
            F.when(kind == "entity_map", F.lit("entity"))
            .otherwise(F.lit("predicate"))
            .alias("kind"),
        ),
        "ontology_alignments": split_lang_columns(
            onto.dropDuplicates(["subj", "pred", "obj"])
        ),
    }


def read_stage(spark: SparkSession, warehouse: str, stage: str) -> DataFrame:
    """A stored table, or one of :func:`kg_projections` of the stored
    ``kg_canon``."""
    if stage in KG_PROJECTIONS:
        return kg_projections(read_stage(spark, warehouse, "kg_canon"))[stage]
    if _use_iceberg(spark):
        return spark.read.table(f"kg.{stage}")
    return spark.read.parquet(os.path.join(warehouse, stage))


def stage_exists(spark: SparkSession, warehouse: str, stage: str) -> bool:
    path = os.path.join(warehouse, stage)
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def resume_filter(
    inputs: DataFrame, spark: SparkSession, warehouse: str, stage: str
) -> DataFrame:
    """Drop conversations already present in a completed stage output —
    the anti-join resume path. No-op if the stage doesn't exist yet."""
    if not stage_exists(spark, warehouse, stage):
        return inputs
    done = read_stage(spark, warehouse, stage).select("conv_id").distinct()
    return inputs.join(done, on="conv_id", how="left_anti")

