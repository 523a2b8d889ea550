"""Structured Streaming front-end: incremental KG construction.

The reference is strictly batch (no watermarks/state anywhere —
SURVEY.md §2.7); this module is the additional streaming surface a
transcript pipeline needs: conversations arrive as turn events, and the
KG store is maintained incrementally.

Design: ``readStream`` -> watermark on ``ts`` -> [session gate] ->
``foreachBatch`` running the SAME batch pipeline (``run_pipeline`` with
a warehouse) on each micro-batch of turns. Documents are assembled only
inside that pipeline's fused kernel, so a streamed conversation yields
exactly the rows a batch run over the same turns yields. Each
micro-batch appends only its new rows to ``kg_canon``, the one stored
KG table, so it costs what it adds, not a rewrite of the store.

Completeness gate (``quiet_for_seconds > 0``): turns are deduplicated
(:func:`stream_dedup_turns`) and held per ``conv_id`` in Spark's state
store (:func:`session_gate`, ``applyInPandasWithState`` with an
event-time timeout). A conversation's turns are released together once
the **watermark** passes its newest ``ts`` + ``quiet_for_seconds``, so a
conversation whose turns span micro-batches is built from all of them;
release therefore also waits out the source's watermark delay. Turns
behind the watermark are dropped by Spark. A straggler still inside the
watermark but after its conversation's release opens a new session; the
kg_canon resume key anti-joins that second release away.
``quiet_for_seconds=0`` is process-at-sight mode for sources that
deliver whole conversations: no gate, the same batch body.

Crash safety: the gate's open sessions live in the state store, which
is part of the stream checkpoint, so a query restarted from its
checkpoint resumes them with the turns buffered before the stop. The
batch pipeline's kg_canon resume key (a conversation present there is
done and never recomputed) makes a replayed micro-batch, or a
conversation re-delivered by an at-least-once source, a no-op: the KG
rows stay exactly-once.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..ontology import OntologyIndex
from ..pipeline import PipelineConfig, run_pipeline

RELEASED_TURNS = "conv_id string, turn_idx int, text string"
SESSION_STATE = "turn_idx array<int>, texts array<string>, max_ts_ms bigint"


def stream_conversations_from_files(
    spark: SparkSession,
    input_path: str,
    schema,
    fmt: str = "parquet",
    watermark: str = "10 minutes",
) -> DataFrame:
    """File-source stream of turn events with an event-time watermark."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .load(input_path)
        .withWatermark("ts", watermark)
    )


def session_gate(
    turns: DataFrame, quiet_for_seconds: int, max_turns: int | None
) -> DataFrame:
    """Streaming turns(conv_id, turn_idx, text, ts, ...) — watermarked
    on ``ts`` — to the released turns ``(conv_id, turn_idx, text)`` of
    finished conversations.

    A conversation's turns accumulate in ``GroupState``; when the
    watermark passes ``max(ts) + quiet_for_seconds`` the event-time
    timeout fires, all of its turns are emitted and the state is
    cleared. ``max_turns`` (the pipeline's skew cap) is applied before
    the state write, so an adversarial conversation cannot grow the
    state store. The state shuffles by ``conv_id`` once per micro-batch;
    there are no global windows."""
    quiet_ms = quiet_for_seconds * 1000

    def gate(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            idxs, texts, _ = state.get
            state.remove()
            yield pd.DataFrame(
                {"conv_id": conv_id, "turn_idx": list(idxs), "text": list(texts)}
            )
            return
        idxs: list[int] = []
        texts: list[str | None] = []
        max_ts_ms = 0
        if state.exists:
            old_idx, old_txt, max_ts_ms = state.get
            idxs, texts = list(old_idx), list(old_txt)
        for pdf in pdfs:
            if max_turns is not None:
                pdf = pdf[pdf["turn_idx"] < max_turns]
            if len(pdf) == 0:
                continue
            idxs.extend(int(v) for v in pdf["turn_idx"])
            texts.extend(pdf["text"])
            batch_max = pdf["ts"].max()
            if pd.notna(batch_max):
                max_ts_ms = max(max_ts_ms, batch_max.value // 1_000_000)
        if not idxs:
            return
        state.update((idxs, texts, max_ts_ms))
        # clamp: when several file drops collapse into one micro-batch
        # the watermark can already sit past max(ts) + quiet for an
        # older session; Spark rejects a timeout at/behind the
        # watermark, so fire at the earliest legal instant instead (the
        # session is overdue either way: same turns, next trigger)
        state.setTimeoutTimestamp(
            max(max_ts_ms + quiet_ms, state.getCurrentWatermarkMs() + 1)
        )

    return (
        turns.select("conv_id", "turn_idx", "text", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            gate,
            outputStructType=RELEASED_TURNS,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def start_incremental_kg(
    stream: DataFrame,
    warehouse: str,
    checkpoint_dir: str,
    index: OntologyIndex | None = None,
    config: PipelineConfig | None = None,
    trigger_seconds: int = 30,
    quiet_for_seconds: int = 0,
):
    """Start the incremental KG sink. Returns the StreamingQuery.

    ``quiet_for_seconds > 0`` feeds the pipeline through
    :func:`stream_dedup_turns` and :func:`session_gate` (see module
    docstring); 0 processes every conversation seen in the batch
    immediately (whole-conversation sources)."""
    cfg = config or PipelineConfig()
    if quiet_for_seconds > 0:
        stream = session_gate(
            stream_dedup_turns(stream), quiet_for_seconds, cfg.max_turns
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the emptiness check and the pipeline both read the batch: one
        # persisted copy runs the gate and its state-store commit once
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            run_pipeline(
                batch_df.sparkSession, batch_df, index=index, config=cfg,
                warehouse=warehouse, run_id=f"stream-batch-{batch_id}",
            )
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def stream_dedup_turns(
    stream: DataFrame,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """State-store-native exact dedup of an at-least-once turn stream:
    ``dropDuplicatesWithinWatermark`` keeps one row per
    ``(conv_id, turn_idx)`` and — unlike plain streaming
    ``dropDuplicates`` — EXPIRES each key's state once the watermark
    passes its event time, so state is bounded by the in-flight window
    instead of growing with the whole corpus (the only viable form at
    10^12 turns; a replayed source can re-emit a turn minutes later and
    still collapse to one row). It runs ahead of :func:`session_gate`,
    so a released conversation holds each turn once.

    An existing watermark on ``ts`` is detected through the PUBLIC
    column-metadata key ``spark.watermarkDelayMs`` (what
    ``withWatermark`` stamps on the column) — no private plan
    internals — and is never re-attached over;
    ``stream_conversations_from_files`` streams therefore work with
    the defaults. Pass ``watermark=None`` to force-skip attaching."""
    if "ts" not in stream.columns:
        raise ValueError("stream_dedup_turns needs an event-time 'ts' column")
    has_wm = "spark.watermarkDelayMs" in (stream.schema["ts"].metadata or {})
    if watermark is not None and not has_wm:
        stream = stream.withWatermark("ts", watermark)
    return stream.dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
