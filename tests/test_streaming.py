"""Structured Streaming front-end: file-source turn stream -> idempotent
incremental KG via foreachBatch over the batch pipeline, with the
state-store session gate releasing finished conversations' turns."""

import datetime
import os
from collections import Counter, defaultdict

import pytest

from pyspark.sql import functions as F

from ontocast_spark import io as kgio
from ontocast_spark.pipeline import run_pipeline
from ontocast_spark.schemas import CONVERSATIONS
from ontocast_spark.streaming.stream import (
    session_gate,
    start_incremental_kg,
    stream_conversations_from_files,
    stream_dedup_turns,
)
from ontocast_spark.synth import gen_corpus

T0 = datetime.datetime(2026, 1, 1, 10, 0, 0)


def turn(conv, idx, text, minutes):
    return (conv, idx, "user", text, None, T0 + datetime.timedelta(minutes=minutes))


def _drop(spark, rows, in_dir):
    spark.createDataFrame(rows, CONVERSATIONS).write.mode("append").parquet(in_dir)


def _canon_convs(spark, warehouse):
    if not kgio.stage_exists(spark, warehouse, "kg_canon"):
        return set()
    return {
        r["conv_id"]
        for r in kgio.read_stage(spark, warehouse, "kg_canon")
        .select("conv_id").distinct().collect()
    }


def _canon_rows(spark, warehouse):
    """kg_canon as conv_id -> multiset of rows."""
    out = defaultdict(Counter)
    for r in kgio.read_stage(spark, warehouse, "kg_canon").collect():
        out[r["conv_id"]][r] += 1
    return out


def test_incremental_kg_stream(spark, tmp_path):
    in_dir = str(tmp_path / "turns")
    warehouse = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    rows = gen_corpus(6, seed=13, mega_every=0)
    half1 = [r for r in rows if r[0] < "conv00000003"]
    half2 = [r for r in rows if r[0] >= "conv00000003"]
    _drop(spark, half1, in_dir)

    stream = stream_conversations_from_files(spark, in_dir, CONVERSATIONS)
    q = start_incremental_kg(stream, warehouse, ckpt, trigger_seconds=0)
    try:
        q.processAllAvailable()
        assert len(_canon_convs(spark, warehouse)) == 3
        # second file arrives; plus a REPLAY of conv0 (at-least-once
        # delivery) — the kg_canon resume key must keep it exactly-once
        _drop(spark, half2 + [r for r in rows if r[0] == "conv00000000"], in_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    canon = kgio.read_stage(spark, warehouse, "kg_canon")
    assert canon.select("conv_id").distinct().count() == 6
    dup = (
        canon.groupBy("conv_id", "row_kind", "subj", "pred", "obj")
        .count().filter(F.col("count") > 1).count()
    )
    assert dup == 0  # replayed conversation did not double-write


def test_quiet_for_gate_assembles_split_conversations(spark, tmp_path):
    """A conversation whose turns span micro-batches must be assembled
    from ALL its turns (the completeness gate), not frozen at the first
    batch."""
    in_dir = str(tmp_path / "turns_gate")
    warehouse = str(tmp_path / "wh_gate")
    ckpt = str(tmp_path / "ckpt_gate")
    os.makedirs(in_dir)

    # conv A splits across two drops; conv B advances the watermark later
    drop1 = [turn("convA", 0, "Acme Corp employs Dana Fox.", 0)]
    drop2 = [
        turn("convA", 1, "Beta Inc employs Alice Reed.", 1),
        turn("convB", 0, "Gamma LLC employs Bob Stone.", 60),
    ]
    _drop(spark, drop1, in_dir)

    stream = stream_conversations_from_files(spark, in_dir, CONVERSATIONS)
    q = start_incremental_kg(
        stream, warehouse, ckpt, trigger_seconds=0, quiet_for_seconds=600
    )
    try:
        # first batch: watermark 09:50, convA quiet until 10:10 -> held
        q.processAllAvailable()
        assert not kgio.stage_exists(spark, warehouse, "kg_canon")

        _drop(spark, drop2, in_dir)
        # second batch moves the watermark to 10:50 (11:00 - 10 min):
        # convA (newest turn 10:01, quiet until 10:11) is released,
        # convB (quiet until 11:10) is still held
        q.processAllAvailable()
    finally:
        q.stop()

    done = _canon_convs(spark, warehouse)
    assert "convA" in done
    assert "convB" not in done  # still gated (quiet window not elapsed)
    canon = kgio.read_stage(spark, warehouse, "kg_canon")
    objs = {r["obj"] for r in canon.filter("conv_id = 'convA'").collect()}
    # triples from BOTH turns present -> document assembled complete
    assert "Dana Fox" in objs and "Alice Reed" in objs


def test_stateful_session_assembly(spark, tmp_path):
    """The state-store session gate: turns spanning micro-batches buffer
    in the state store; the event-time timeout (watermark past
    max(ts) + quiet) releases every turn of the conversation at once,
    with turns at or past ``max_turns`` cut before the state write."""
    in_dir = str(tmp_path / "turns_state")
    ckpt = str(tmp_path / "ckpt_state")
    os.makedirs(in_dir)

    a_turns = [
        turn("convA", 0, "Acme Corp employs Dana Fox.", 0),
        turn("convA", 1, "Beta Inc employs Alice Reed.", 1),
        turn("convA", 2, "Dana Fox manages Beta Inc.", 2),
    ]
    capped = turn("convA", 3, "Past the turn cap.", 2)
    drops = [
        a_turns[:2],                                           # A split across
        [a_turns[2], capped, turn("convB", 0, "Gamma LLC.", 30)],  # two batches
        [turn("convD", 0, "Omega AG.", 120)],
    ]
    _drop(spark, drops[0], in_dir)

    stream = stream_conversations_from_files(
        spark, in_dir, CONVERSATIONS, watermark="0 seconds"
    )
    released = session_gate(stream, quiet_for_seconds=60, max_turns=3)
    q = (
        released.writeStream.format("memory").queryName("released_turns")
        .outputMode("append").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM released_turns").count() == 0
        for d in drops[1:]:
            _drop(spark, d, in_dir)
            q.processAllAvailable()
        got = {
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in spark.sql("SELECT * FROM released_turns").collect()
        }
    finally:
        q.stop()

    # A (quiet since 10:02) and B (10:30) fired; D's quiet window
    # hasn't elapsed
    assert {c for c, _, _ in got} == {"convA", "convB"}
    assert {t for t in got if t[0] == "convA"} == {
        (c, i, text) for c, i, _, text, _, _ in a_turns
    }


@pytest.mark.parametrize("quiet_for_seconds", [0, 600])
def test_micro_batch_plan_runs_once(spark, tmp_path, quiet_for_seconds):
    """Each micro-batch's plan runs once although the body both checks
    it for rows and feeds it to the pipeline: the query progress counts
    every source row once and, gated, one state update per conversation
    and batch. With no-data batches off, the gated run's third batch
    both ingests convC and releases convA."""
    in_dir = str(tmp_path / "turns")
    warehouse, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    drops = [
        [turn("convA", 0, "Acme Corp employs Dana Fox.", 0),
         turn("convA", 1, "Beta Inc employs Alice Reed.", 1)],
        [turn("convB", 0, "Gamma LLC employs Bob Stone.", 60)],
        [turn("convC", 0, "Delta Co employs Carl Ames.", 61)],
    ]
    stream = stream_conversations_from_files(spark, in_dir, CONVERSATIONS)
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(conf, "false")
    try:
        q = start_incremental_kg(
            stream, warehouse, ckpt, trigger_seconds=0,
            quiet_for_seconds=quiet_for_seconds,
        )
    finally:
        spark.conf.unset(conf)
    try:
        for d in drops:
            _drop(spark, d, in_dir)
            q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()

    assert sum(p["numInputRows"] for p in progress) == sum(map(len, drops))
    gate = [
        o for p in progress for o in p["stateOperators"]
        if o["operatorName"] == "applyInPandasWithState"
    ]
    if quiet_for_seconds:
        # convA, convB, convC each open a session once; convA's release
        # removes it once
        assert sum(o["numRowsUpdated"] for o in gate) == 3
        assert sum(o["numRowsRemoved"] for o in gate) == 1
        assert _canon_convs(spark, warehouse) == {"convA"}
    else:
        assert gate == []
        assert _canon_convs(spark, warehouse) == {"convA", "convB", "convC"}


@pytest.fixture(scope="module")
def gated_restart(spark, tmp_path_factory):
    """One gated stream stopped mid-session and restarted from its
    checkpoint, with a replayed turn and a null-text turn, next to a
    batch run_pipeline over the deduplicated turns. Returns
    (released conv_ids, streamed kg_canon, batch kg_canon, held turns)."""
    tmp = tmp_path_factory.mktemp("gated_restart")
    in_dir, warehouse, ckpt = str(tmp / "turns"), str(tmp / "wh"), str(tmp / "ckpt")
    os.makedirs(in_dir)

    a_turns = [
        turn("convA", 0, "Acme Corp employs Dana Fox.", 0),
        turn("convA", 1, "Beta Inc employs Alice Reed.", 1),
        turn("convA", 2, "Gamma LLC employs Bob Stone.", 2),
    ]
    r_turns = [
        turn("convR", 0, "Delta Co employs Carl Ames.", 0),
        turn("convR", 1, None, 1),
        turn("convR", 2, "Omega AG employs Eve Lund.", 2),
    ]
    s_turns = [turn("convS", 0, "Sigma Ltd employs Finn Holt.", 0)]
    held = [turn("convT", 0, "Tau GmbH.", 60)]

    def run_until_idle():
        stream = stream_conversations_from_files(spark, in_dir, CONVERSATIONS)
        q = start_incremental_kg(
            stream, warehouse, ckpt, trigger_seconds=0, quiet_for_seconds=60
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _drop(spark, a_turns[:2] + r_turns[:2] + s_turns, in_dir)
    run_until_idle()
    assert not kgio.stage_exists(spark, warehouse, "kg_canon")
    # after the restart: the sessions' last turns, a replay of convR's
    # first turn, and convT moving the watermark to 10:50, past every
    # other conversation's quiet window
    _drop(spark, [a_turns[2], r_turns[0], r_turns[2]] + held, in_dir)
    run_until_idle()

    batch_wh = str(tmp / "wh_batch")
    run_pipeline(
        spark, spark.createDataFrame(a_turns + r_turns + s_turns, CONVERSATIONS),
        warehouse=batch_wh,
    )
    return (
        _canon_convs(spark, warehouse), _canon_rows(spark, warehouse),
        _canon_rows(spark, batch_wh), held,
    )


def test_gate_restart_from_checkpoint(gated_restart):
    """Stop the gated query mid-session and restart it from the same
    checkpoint: the open session resumes from the state store, the
    release holds the turns from both sides of the restart, and kg_canon
    equals a batch run_pipeline over the same turns."""
    released, streamed, batch, _ = gated_restart
    assert released == {"convA", "convR", "convS"}  # convT still held
    objs = {r["obj"] for r in streamed["convA"]}
    assert "Dana Fox" in objs and "Bob Stone" in objs
    assert streamed["convA"] == batch["convA"]


def test_gate_replay_and_null_text_match_batch(gated_restart):
    """A replayed turn collapses in the dedup ahead of the gate and a
    null-text turn reaches the pipeline as null, so the streamed
    kg_canon equals a batch run_pipeline over the deduplicated turns
    (same documents, same doc_hid)."""
    _, streamed, batch, _ = gated_restart
    assert streamed["convR"] == batch["convR"]
    assert streamed["convS"] == batch["convS"]


def test_stream_dedup_turns(spark, tmp_path):
    """dropDuplicatesWithinWatermark collapses replayed turns across
    micro-batches while the duplicate is inside the watermark window
    (state-store dedup with watermark-bounded state)."""
    import datetime as dt

    src = str(tmp_path / "turns")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    b1 = [
        ("c1", 0, "user", "hi", None, t0),
        ("c1", 1, "agent", "hello", None, t0),
        ("c2", 0, "user", "yo", None, t0),
    ]
    # second file replays (c1, 1) with different text plus new turns
    b2 = [
        ("c1", 1, "agent", "hello-REPLAY", None, t0 + dt.timedelta(seconds=30)),
        ("c2", 1, "agent", "sup", None, t0 + dt.timedelta(seconds=60)),
    ]
    spark.createDataFrame(b1, schema=CONVERSATIONS).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, schema=CONVERSATIONS).coalesce(1).write.mode(
        "append").parquet(src)

    stream = stream_conversations_from_files(spark, src, CONVERSATIONS)
    # the file source already attached its watermark; defaults must
    # detect it via the public column metadata and not stack another
    assert "spark.watermarkDelayMs" in stream.schema["ts"].metadata
    deduped = stream_dedup_turns(stream)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    keys = {(r["conv_id"], r["turn_idx"]) for r in got}
    assert len(got) == 4, got  # the replayed (c1, 1) collapsed
    assert keys == {("c1", 0), ("c1", 1), ("c2", 0), ("c2", 1)}
