"""Structured Streaming front-end: file-source turn stream -> idempotent
incremental KG via foreachBatch over the batch pipeline."""

import os
import time

from pyspark.sql import functions as F

from ontocast_spark import io as kgio
from ontocast_spark.schemas import CONVERSATIONS
from ontocast_spark.streaming.stream import (
    start_incremental_kg,
    stream_conversations_from_files,
)
from ontocast_spark.synth import gen_corpus


def test_incremental_kg_stream(spark, tmp_path):
    in_dir = str(tmp_path / "turns")
    warehouse = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    rows = gen_corpus(6, seed=13, mega_every=0)
    half1 = [r for r in rows if r[0] < "conv00000003"]
    half2 = [r for r in rows if r[0] >= "conv00000003"]
    spark.createDataFrame(half1, CONVERSATIONS).write.mode("append").parquet(in_dir)

    stream = stream_conversations_from_files(spark, in_dir, CONVERSATIONS)
    q = start_incremental_kg(stream, warehouse, ckpt, trigger_seconds=1)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if kgio.stage_exists(spark, warehouse, "kg_canon"):
                done = {
                    r["conv_id"]
                    for r in kgio.read_stage(spark, warehouse, "kg_canon")
                    .select("conv_id").distinct().collect()
                }
                if len(done) >= 3:
                    break
            time.sleep(2)
        # second file arrives; plus a REPLAY of conv0 (at-least-once
        # delivery) — the kg_canon resume key must keep it exactly-once
        spark.createDataFrame(
            half2 + [r for r in rows if r[0] == "conv00000000"], CONVERSATIONS
        ).write.mode("append").parquet(in_dir)
        deadline = time.time() + 120
        while time.time() < deadline:
            done = {
                r["conv_id"]
                for r in kgio.read_stage(spark, warehouse, "kg_canon")
                .select("conv_id").distinct().collect()
            }
            if len(done) == 6:
                break
            time.sleep(2)
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
    batch (round-2 ADVICE, high)."""
    import datetime

    in_dir = str(tmp_path / "turns_gate")
    warehouse = str(tmp_path / "wh_gate")
    ckpt = str(tmp_path / "ckpt_gate")
    os.makedirs(in_dir)

    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def turn(conv, idx, text, minutes):
        return (conv, idx, "user", text,
                None, t0 + datetime.timedelta(minutes=minutes))

    # conv A splits across two drops; conv B advances stream time later
    drop1 = [turn("convA", 0, "Acme Corp employs Dana Fox.", 0)]
    drop2 = [
        turn("convA", 1, "Beta Inc employs Alice Reed.", 1),
        turn("convB", 0, "Gamma LLC employs Bob Stone.", 60),
    ]
    spark.createDataFrame(drop1, CONVERSATIONS).write.mode("append").parquet(in_dir)

    stream = stream_conversations_from_files(spark, in_dir, CONVERSATIONS)
    q = start_incremental_kg(
        stream, warehouse, ckpt, trigger_seconds=1, quiet_for_seconds=600
    )
    try:
        # first batch: stream time = 10:00, gate = 09:50 -> nothing ready
        deadline = time.time() + 60
        while time.time() < deadline and not os.path.exists(
            os.path.join(warehouse, "turn_buffer_g0")
        ):
            time.sleep(1)
        assert not kgio.stage_exists(spark, warehouse, "kg_canon")

        spark.createDataFrame(drop2, CONVERSATIONS).write.mode("append").parquet(in_dir)
        # second batch: stream time = 11:00, gate = 10:50 -> convA ready
        # (newest turn 10:01), convB still pending
        deadline = time.time() + 120
        done = set()
        while time.time() < deadline:
            if kgio.stage_exists(spark, warehouse, "kg_canon"):
                done = {
                    r["conv_id"]
                    for r in kgio.read_stage(spark, warehouse, "kg_canon")
                    .select("conv_id").distinct().collect()
                }
                if "convA" in done:
                    break
            time.sleep(2)
    finally:
        q.stop()

    assert "convA" in done
    assert "convB" not in done  # still gated (quiet window not elapsed)
    canon = kgio.read_stage(spark, warehouse, "kg_canon")
    objs = {r["obj"] for r in canon.filter("conv_id = 'convA'").collect()}
    # triples from BOTH turns present -> document assembled complete
    assert "Dana Fox" in objs and "Alice Reed" in objs


def test_stateful_session_assembly(spark, tmp_path):
    """applyInPandasWithState session gate: turns spanning micro-batches
    buffer in the state store; the event-time timeout (watermark past
    max(ts)+gap) emits a document byte-identical to the batch
    assemble_documents operator."""
    import datetime

    from ontocast_spark.operators.assemble import assemble_documents
    from ontocast_spark.streaming.stateful import assemble_sessions_stateful

    in_dir = str(tmp_path / "turns_state")
    ckpt = str(tmp_path / "ckpt_state")
    os.makedirs(in_dir)

    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def turn(conv, idx, text, minutes):
        return (conv, idx, "user", text,
                None, t0 + datetime.timedelta(minutes=minutes))

    a_turns = [
        turn("convA", 0, "Acme Corp employs Dana Fox.", 0),
        turn("convA", 1, "Beta Inc employs Alice Reed.", 1),
        turn("convA", 2, "Dana Fox manages Beta Inc.", 2),
    ]
    drops = [
        a_turns[:2],                                   # A split across
        [a_turns[2], turn("convB", 0, "Gamma LLC.", 30)],  # two batches
        [turn("convC", 0, "Delta Co.", 60)],
        [turn("convD", 0, "Omega AG.", 120)],
    ]
    spark.createDataFrame(drops[0], CONVERSATIONS).write.mode("append").parquet(in_dir)

    stream = stream_conversations_from_files(
        spark, in_dir, CONVERSATIONS, watermark="0 seconds"
    )
    docs = assemble_sessions_stateful(stream, gap_seconds=60)
    q = (
        docs.writeStream.format("memory").queryName("stateful_docs")
        .outputMode("append").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        for d in drops[1:]:
            spark.createDataFrame(d, CONVERSATIONS).write.mode("append").parquet(in_dir)
            q.processAllAvailable()
        got = {
            r["conv_id"]: r
            for r in spark.sql("SELECT * FROM stateful_docs").collect()
        }
    finally:
        q.stop()

    # A (quiet since 10:02) and B (10:30) fired; D's gap hasn't elapsed
    assert "convA" in got and "convB" in got
    assert "convD" not in got
    a = got["convA"]
    assert a["n_turns"] == 3  # state buffered across micro-batches

    batch = assemble_documents(
        spark.createDataFrame(a_turns, CONVERSATIONS)
    ).collect()[0]
    assert a["text"] == batch["text"]
    assert a["doc_hid"] == batch["doc_hid"]
    assert a["doc_iri"] == batch["doc_iri"]


def test_stream_dedup_turns(spark, tmp_path):
    """dropDuplicatesWithinWatermark collapses replayed turns across
    micro-batches while the duplicate is inside the watermark window
    (state-store dedup with watermark-bounded state)."""
    import datetime as dt

    from ontocast_spark.schemas import CONVERSATIONS
    from ontocast_spark.streaming.stream import (
        stream_conversations_from_files,
        stream_dedup_turns,
    )

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
