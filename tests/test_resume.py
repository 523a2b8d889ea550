"""Checkpoint/resume: a second run over a superset input must only
process the new conversations and produce the same final store as a
single full run (north-rule resumability)."""

import os

from pyspark.sql import functions as F

from ontocast_spark import io as kgio
from ontocast_spark.pipeline import run_pipeline
from ontocast_spark.schemas import CONVERSATIONS
from ontocast_spark.synth import gen_corpus


def test_resume_no_recompute(spark, tmp_path):
    warehouse = os.path.join(str(tmp_path), "wh")
    rows = gen_corpus(8, seed=42, mega_every=0)
    full = spark.createDataFrame(rows, schema=CONVERSATIONS)
    first_half = full.filter(F.col("conv_id") < "conv00000004")

    run_pipeline(spark, first_half, warehouse=warehouse, run_id="r1")
    canon1 = kgio.read_stage(spark, warehouse, "kg_canon")
    convs1 = {r["conv_id"] for r in canon1.select("conv_id").distinct().collect()}
    assert convs1 == {f"conv{i:08d}" for i in range(4)}

    # resume with the full input: only conv 4..7 get computed/appended
    run_pipeline(spark, full, warehouse=warehouse, run_id="r2")
    canon2 = kgio.read_stage(spark, warehouse, "kg_canon")
    convs2 = {r["conv_id"] for r in canon2.select("conv_id").distinct().collect()}
    assert convs2 == {f"conv{i:08d}" for i in range(8)}

    # no duplicates from the append (each conv appears exactly once)
    dup = (
        canon2.groupBy("conv_id", "row_kind", "subj", "pred", "obj")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0

    # fresh single-shot run equals the resumed store
    warehouse2 = os.path.join(str(tmp_path), "wh2")
    run_pipeline(spark, full, warehouse=warehouse2, run_id="r0")
    canon_ref = kgio.read_stage(spark, warehouse2, "kg_canon")
    cols = ["conv_id", "row_kind", "subj", "pred", "obj"]
    assert canon2.select(cols).exceptAll(canon_ref.select(cols)).count() == 0
    assert canon_ref.select(cols).exceptAll(canon2.select(cols)).count() == 0

    # lineage checkpoints exist for the one persisted stage
    ckpt = spark.read.parquet(os.path.join(warehouse, "checkpoints"))
    stages = {r["stage"] for r in ckpt.select("stage").distinct().collect()}
    assert stages == {"kg_canon"}


def test_warehouse_stores_only_kg_canon(spark, tmp_path, monkeypatch):
    """Three cumulative batches into one warehouse: each run writes one
    stage, kg_canon, whose checkpoint counts that batch's rows only;
    the warehouse holds kg_canon and checkpoints, and read_stage serves
    kg_triples and ontology_alignments as projections equal to a
    one-shot run without a warehouse."""
    from collections import Counter

    warehouse = os.path.join(str(tmp_path), "wh")
    full = spark.createDataFrame(
        gen_corpus(9, seed=7, mega_every=0), schema=CONVERSATIONS
    )
    written = []
    write_stage = kgio.write_stage

    def recording_write_stage(df, wh, stage, run_id, *args, **kwargs):
        written.append((run_id, stage))
        return write_stage(df, wh, stage, run_id, *args, **kwargs)

    monkeypatch.setattr(kgio, "write_stage", recording_write_stage)
    cuts = ["conv00000003", "conv00000006", "conv00000009"]
    for i, cut in enumerate(cuts):
        # cumulative input: earlier batches are resumed away
        run_pipeline(spark, full.filter(F.col("conv_id") < cut),
                     warehouse=warehouse, run_id=f"b{i}")
    assert written == [(f"b{i}", "kg_canon") for i in range(len(cuts))]
    assert sorted(os.listdir(warehouse)) == ["checkpoints", "kg_canon"]

    canon = kgio.read_stage(spark, warehouse, "kg_canon")
    ckpt = spark.read.parquet(os.path.join(warehouse, "checkpoints"))
    assert ckpt.count() == len(cuts)
    lo = ""
    for i, cut in enumerate(cuts):
        (row,) = ckpt.filter(F.col("run_id") == f"b{i}").collect()
        assert row["stage"] == "kg_canon" and row["partition_id"] == -1
        batch = canon.filter((F.col("conv_id") >= lo) & (F.col("conv_id") < cut))
        assert row["row_count"] == batch.count() > 0
        lo = cut

    one_shot = run_pipeline(spark, full)
    for name in ("kg_triples", "ontology_alignments"):
        stored = kgio.read_stage(spark, warehouse, name)
        assert stored.columns == one_shot[name].columns
        assert Counter(stored.collect()) == Counter(one_shot[name].collect())


def test_crash_resume_at_scale(spark, tmp_path):
    """North-rule crash consistency on a >= 100k-conversation corpus:
    a run killed mid-write, with torn task files left under the
    kg_canon directory, must resume to a byte-identical store while
    recomputing ONLY the conversations the store does not yet hold
    (recompute counts asserted from the checkpoint table's write-pass
    observations, not from re-scans)."""
    warehouse = os.path.join(str(tmp_path), "wh")
    ref_wh = os.path.join(str(tmp_path), "wh_ref")
    n = 100_000
    rows = gen_corpus(n, seed=5, mega_every=0)
    corpus_path = os.path.join(str(tmp_path), "corpus")
    # materialize the corpus as parquet ONCE: every pipeline run then
    # scans files instead of re-shipping a 750k-row python list in its
    # task closures (23 MB per task without this)
    spark.createDataFrame(rows, schema=CONVERSATIONS).write.parquet(corpus_path)
    del rows
    full = spark.read.parquet(corpus_path)
    cut2 = f"conv{85_000:08d}"

    # run 2 ("the crashed run"): commits kg_canon for its 85k
    # conversations (its only write, an atomic job commit), then DIES
    # while a later append is in flight
    run_pipeline(spark, full.filter(F.col("conv_id") < cut2),
                 warehouse=warehouse, run_id="r2")
    # torn-task debris: a killed IN-FLIGHT task attempt lives under the
    # nested attempt directory (_temporary/0/_temporary/attempt_*) — a
    # bare _temporary/0/task_* dir would mean the task had COMMITTED,
    # and the v1 committer of a later append job would legitimately
    # merge it into the output (so don't emulate torn bytes there)
    canon_dir = os.path.join(warehouse, "kg_canon")
    torn = os.path.join(
        canon_dir, "_temporary", "0", "_temporary",
        "attempt_20260817000000_0001_m_000000_0",
    )
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn bytes, not a parquet file")
    with open(os.path.join(canon_dir, ".part-crash.parquet.crc"), "wb") as f:
        f.write(b"\x00")
    rows_before_resume = spark.read.parquet(canon_dir).count()

    # run 3: resume over the FULL corpus
    run_pipeline(spark, full, warehouse=warehouse, run_id="r3")

    # reference: fresh single-shot run over the same corpus
    run_pipeline(spark, full, warehouse=ref_wh, run_id="ref")

    # byte-identical store: order-independent multiset fingerprint
    # (count + sum of per-row xxhash64) — one scan per table instead of
    # the four full exceptAll shuffles, same discriminating power for a
    # million-row test table
    def fingerprint(df, cols):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    canon = kgio.read_stage(spark, warehouse, "kg_canon")
    canon_ref = kgio.read_stage(spark, ref_wh, "kg_canon")
    cols = ["conv_id", "row_kind", "subj", "pred", "obj"]
    assert fingerprint(canon, cols) == fingerprint(canon_ref, cols)
    tri = kgio.read_stage(spark, warehouse, "kg_triples")
    tri_ref = kgio.read_stage(spark, ref_wh, "kg_triples")
    tcols = ["conv_id", "subj", "pred", "obj"]
    assert fingerprint(tri, tcols) == fingerprint(tri_ref, tcols)

    # recompute accounting from the checkpoint table (df.observe rows
    # recorded on the write pass): the resume run's kg_canon append
    # carried EXACTLY the rows of the 15k missing conversations —
    # nothing already in the store was recomputed
    ckpt = spark.read.parquet(os.path.join(warehouse, "checkpoints"))
    r3 = ckpt.filter(
        (F.col("run_id") == "r3") & (F.col("stage") == "kg_canon")
        & (F.col("partition_id") == -1)
    ).collect()
    assert len(r3) == 1
    expected_new = canon_ref.filter(F.col("conv_id") >= cut2).count()
    assert r3[0]["row_count"] == expected_new
    assert r3[0]["row_count"] == canon.count() - rows_before_resume
    # and the crashed run's own write was the 85k-conversation batch
    r2 = ckpt.filter(
        (F.col("run_id") == "r2") & (F.col("stage") == "kg_canon")
        & (F.col("partition_id") == -1)
    ).collect()
    assert len(r2) == 1
    assert r2[0]["row_count"] == canon_ref.filter(
        F.col("conv_id") < cut2
    ).count()
