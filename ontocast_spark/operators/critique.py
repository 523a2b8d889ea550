"""Deterministic critique scorers (E4/E5).

The reference critiques LLM output with further LLM calls scoring 0-100
with a success flag (ontocast's agent/criticise_ontology.py:27-105,
criticise_facts.py:19-75, report schemas onto.py:476-528).
Deterministic extraction replaces the LLM, so the critiques become
*structural validity scorers* with the same I/O contract (score double
0-100 + success bool per chunk):

- ontology score: fraction of ontology-addendum subjects that are both
  typed and labeled (the critique prompt's structural rules:
  prompt/render_ontology.py:6,26 — every new term typed + described);
- facts score: mention coverage — fraction of chunk entities that
  participate in at least one non-label triple, scaled by graph
  connectivity (components == 1 after connect).

The reference re-enters failed nodes up to ``max_visits`` = 3 times
(E6, stategraph/util.py:8-29). With a deterministic extractor every
retry round reproduces the previous round's rows, so a failing score
is reported, not recomputed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.rdfterms import RDF_TYPE, RDFS_LABEL

DEFAULT_THRESHOLD = 50.0


def score_ontology_addendum(onto_rows: DataFrame) -> DataFrame:
    """Per chunk: % of addendum subjects that are typed AND labeled."""
    subjects = onto_rows.groupBy("conv_id", "chunk_hid", "subj").agg(
        F.max((F.col("pred") == RDF_TYPE).cast("int")).alias("has_type"),
        F.max((F.col("pred") == RDFS_LABEL).cast("int")).alias("has_label"),
    )
    return subjects.groupBy("conv_id", "chunk_hid").agg(
        (
            100.0
            * F.avg((F.col("has_type") * F.col("has_label")).cast("double"))
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    ).withColumn("success", F.col("score") >= DEFAULT_THRESHOLD)


def score_facts(facts: DataFrame) -> DataFrame:
    """Per chunk: coverage = entities with >= 1 relational (non-label)
    triple / all entities."""
    ent = facts.select(
        "conv_id", "chunk_hid", F.col("subj").alias("entity"),
        (F.col("pred") != RDFS_LABEL).cast("int").alias("relational"),
    ).union(
        facts.filter(~F.col("obj_is_literal")).select(
            "conv_id", "chunk_hid", F.col("obj").alias("entity"),
            F.lit(1).alias("relational"),
        )
    )
    per_entity = ent.groupBy("conv_id", "chunk_hid", "entity").agg(
        F.max("relational").alias("covered")
    )
    return per_entity.groupBy("conv_id", "chunk_hid").agg(
        (100.0 * F.avg(F.col("covered").cast("double"))).alias("score"),
        F.count(F.lit(1)).alias("n_entities"),
    ).withColumn("success", F.col("score") >= DEFAULT_THRESHOLD)

