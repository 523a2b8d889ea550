"""The fused per-document pass must produce exactly the rows of the
staged reference chain (assemble -> chunk -> extract ->
canonicalize_combined), and the pipeline must stay one exchange."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ontocast_spark.ontology import builtin_ontology_index
from ontocast_spark.operators.canonicalize import canonicalize_combined
from ontocast_spark.operators.fused import kg_construct_fused_turns
from ontocast_spark.pipeline import PipelineConfig, run_pipeline
from ontocast_spark.schemas import CONVERSATIONS
from ontocast_spark.synth import gen_corpus

COLS = ["conv_id", "doc_iri", "row_kind", "subj", "pred", "obj",
        "obj_is_literal", "obj_datatype"]


def _synthetic(spark):
    return spark.createDataFrame(
        gen_corpus(10, seed=11, mega_every=5, mega_turns=60), CONVERSATIONS
    )


def _adversarial(spark):
    """Duplicate turn_idx (text tie-break), null texts (array_join skip
    semantics), empty texts, a conversation large enough to span Arrow
    batches, a turn past the cap, and unordered input rows."""
    rows = []
    # conv A: duplicate turn_idx with different texts (tie-break on text)
    rows += [("a", 0, "Bob Smith works at ACME Corp."),
             ("a", 1, "Zed met Ann."),
             ("a", 1, "Ann met Zed."),
             ("a", 2, None)]
    # conv B: empty + whitespace text
    rows += [("b", 0, ""), ("b", 1, "  ")]
    # conv C: spans multiple Arrow batches (maxRecordsPerBatch=16)
    rows += [("c", i, f"Turn {i} mentions Jane Doe and Initech Corp.")
             for i in range(200)]
    # conv D: single turn; turn 500 is cut by max_turns=300
    rows += [("d", 0, "Diana Prince holds shares of Wayne Corp."),
             ("d", 500, "dropped by the cap")]
    random.Random(7).shuffle(rows)
    return spark.createDataFrame(
        [(c, t, "u", x, None, "2024-01-01 00:00:00") for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    )


CASES = {
    # corpus, max_turns, arrow batch size (None: session default)
    "synthetic": (_synthetic, PipelineConfig().max_turns, None),
    "adversarial": (_adversarial, 300, "16"),
}


@pytest.mark.parametrize("case", list(CASES))
def test_fused_equals_reference_chain(spark, reference_chain, case):
    make, max_turns, batch = CASES[case]
    conv = make(spark)
    cfg = PipelineConfig(max_turns=max_turns)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(key)
    if batch is not None:
        spark.conf.set(key, batch)
    try:
        fused = [tuple(r) for r in kg_construct_fused_turns(
            spark, conv, builtin_ontology_index(), domain=cfg.domain,
            max_turns=cfg.max_turns, max_chunks=cfg.max_chunks,
        ).select(COLS).collect()]
        triples = reference_chain(conv, max_turns=max_turns)
        facts = triples.filter(F.col("part") == "facts").drop("part")
        chain = [tuple(r) for r in
                 canonicalize_combined(facts).select(COLS).collect()]
        chain_onto = {tuple(r) for r in triples.filter(
            F.col("part") == "ontology"
        ).select([c for c in COLS if c != "row_kind"]).collect()}
        plan = run_pipeline(spark, conv, config=cfg)["kg_triples"]
        # count on the pre-execution physical plan: the AQE executed-plan
        # string repeats the tree under "== Initial Plan =="
        plan = plan._jdf.queryExecution().sparkPlan().toString()
    finally:
        spark.conf.set(key, old_batch)

    kinds = {r[2] for r in fused}
    assert {"triple", "ontology"} <= kinds
    # triple / entity_map / predicate_map rows: equal as multisets
    canon = Counter(r for r in fused if r[2] != "ontology")
    assert canon == Counter(chain)
    # ontology addendum: the chain repeats it per chunk, the fused pass
    # dedups per document, so compare distinct sets
    onto = {r[:2] + r[3:] for r in fused if r[2] == "ontology"}
    assert onto == chain_onto
    # assembly, kernel pass and canonicalization share ONE exchange
    assert plan.count("Exchange") == 1, plan
