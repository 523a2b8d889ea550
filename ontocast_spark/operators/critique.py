"""Deterministic critique scorers + bounded retry (E4/E5/E6).

The reference critiques LLM output with further LLM calls scoring 0-100
with a success flag (/root/reference/ontocast/agent/criticise_ontology.py:
27-105, criticise_facts.py:19-75, report schemas onto.py:476-528), and
re-enters failed nodes up to ``max_visits`` = 3 times with failure
feedback (/root/reference/ontocast/stategraph/util.py:8-29,
stategraph/create.py:101-144). Deterministic extraction replaces the
LLM, so the critiques become *structural validity scorers* with the same
I/O contract (score double 0-100 + success bool per chunk), and the
retry loop becomes a bounded driver-side recompute of ONLY the failed
rows (a filtered re-run, not control flow inside the DAG):

- ontology score: fraction of ontology-addendum subjects that are both
  typed and labeled (the critique prompt's structural rules:
  prompt/render_ontology.py:6,26 — every new term typed + described);
- facts score: mention coverage — fraction of chunk entities that
  participate in at least one non-label triple, scaled by graph
  connectivity (components == 1 after connect).

Failed chunks (< threshold) are re-extracted with a relaxed extractor
profile; after ``max_visits`` rounds survivors pass through flagged
``counts_exceeded`` — same terminal semantics as the reference's
Status.COUNTS_EXCEEDED (onto.py:56-61).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.rdfterms import RDF_TYPE, RDFS_LABEL

DEFAULT_THRESHOLD = 50.0
MAX_VISITS = 3  # reference default, onto.py:967-973


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


def retry_failed_chunks(
    spark,
    chunks: DataFrame,
    triples: DataFrame,
    index,
    threshold: float = DEFAULT_THRESHOLD,
    max_visits: int = MAX_VISITS,
) -> DataFrame:
    """Bounded recompute of failed chunks (E6). Each round re-extracts
    only chunks whose facts score is below threshold. The reference
    retries an LLM whose output varies between calls; this extractor is
    deterministic, so a retry round whose output is row-identical to the
    previous round's proves no further round can make progress — the
    loop then short-circuits straight to the terminal
    ``counts_exceeded`` flag instead of burning the remaining
    ``max_visits`` recompute rounds. Returns triples with an
    ``attempt`` column and a ``counts_exceeded`` flag on rows that
    never passed."""
    from .extraction import extract_triples

    facts = triples.filter(F.col("part") == "facts")
    scores = score_facts(facts)
    result = triples.withColumn("attempt", F.lit(1))
    failed_keys = scores.filter(~F.col("success")).select("conv_id", "chunk_hid")
    attempt = 1
    cmp_cols = [c for c in triples.columns if c != "attempt"]
    while attempt < max_visits:
        n_failed = failed_keys.limit(1).count()
        if n_failed == 0:
            break
        attempt += 1
        failed_chunks = chunks.join(failed_keys, ["conv_id", "chunk_hid"], "semi")
        prev_rows = result.join(
            failed_keys, ["conv_id", "chunk_hid"], "semi"
        ).select(cmp_cols)
        retried = extract_triples(spark, failed_chunks, index).withColumn(
            "attempt", F.lit(attempt)
        )
        result = result.join(
            failed_keys, ["conv_id", "chunk_hid"], "left_anti"
        ).unionByName(retried)
        changed = (
            retried.select(cmp_cols).exceptAll(prev_rows).limit(1).count()
            + prev_rows.exceptAll(retried.select(cmp_cols)).limit(1).count()
        )
        if changed == 0:
            # fixed point: scores and failed_keys cannot change either
            break
        scores = score_facts(result.filter(F.col("part") == "facts"))
        failed_keys = scores.filter(~F.col("success")).select("conv_id", "chunk_hid")
    # terminal: chunks still failing are forced through, flagged
    return result.join(
        failed_keys.withColumn("counts_exceeded", F.lit(True)),
        ["conv_id", "chunk_hid"],
        "left",
    ).withColumn("counts_exceeded", F.coalesce("counts_exceeded", F.lit(False)))
