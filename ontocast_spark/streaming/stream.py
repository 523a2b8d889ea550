"""Structured Streaming front-end: incremental KG construction.

The reference is strictly batch (no watermarks/state anywhere —
SURVEY.md §2.7); this module is the additional streaming surface a
transcript pipeline needs: conversations arrive as turn events, and the
KG store is maintained incrementally.

Design: ``readStream`` -> watermark on ``ts`` -> session-style
completion gate (a conversation is processed once its turns have been
quiet for ``quiet_for_seconds`` of event time) -> ``foreachBatch``
running the SAME batch pipeline (``run_pipeline`` with a warehouse) per
micro-batch. The batch path's kg_canon resume key makes the sink
idempotent: a conversation re-delivered in a later micro-batch is
anti-joined away, so at-least-once delivery upstream still yields
exactly-once KG rows.

Completeness gate: incoming turns are staged in a pending-turns buffer
(generation-numbered parquet under the warehouse; Iceberg MERGE in
production) and a conversation is fed to ``run_pipeline`` only once
``max(ts)`` over its buffered turns trails the observed stream time by
``quiet_for_seconds`` — so a conversation whose turns span micro-batches
is assembled from ALL its turns, not frozen at the first batch. Turns
arriving after a conversation was gated out (later than
``quiet_for_seconds`` behind) are dropped by the resume key — the same
contract as a watermark discarding late data. ``quiet_for_seconds=0``
is process-at-sight mode for sources that deliver whole conversations.

Crash safety: the buffer generation for batch N is written before the
stream checkpoint commits batch N; on replay, turn-level
``dropDuplicates`` and the kg_canon resume key make the rerun a no-op.

``foreachBatch`` is the deliberate choice over a custom
``applyInPandasWithState`` operator: the whole batch pipeline (chunker,
extractor, canonicalizer) is reused unchanged, and state (which convs
are done) lives in the warehouse, not the state store — surviving
restarts with the stream checkpoint. The state-store-native session
gate also exists — ``streaming.stateful.assemble_sessions_stateful``
(``GroupState`` + event-time timeout, byte-identical document output) —
for deployments that prefer the built-in state store over a buffer
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ontology import OntologyIndex
from ..pipeline import PipelineConfig, run_pipeline


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


def split_ready(
    pending: DataFrame, quiet_for_seconds: int
) -> tuple[DataFrame, DataFrame]:
    """Partition buffered turns into (ready, still_pending) by the
    event-time session gate: a conversation is ready when its newest
    turn trails the observed stream time (max ts over the buffer) by at
    least ``quiet_for_seconds``.

    Stream time is one scalar aggregate (driver-side, like the CC
    convergence counts) — not a global window, which would funnel the
    whole buffer through a single partition at scale; the per-
    conversation max is a conv_id-partitioned window (one shuffle)."""
    import datetime

    stream_time = pending.agg(F.max("ts").alias("m")).collect()[0]["m"]
    if stream_time is None:
        return pending.limit(0), pending
    gate_ts = stream_time - datetime.timedelta(seconds=int(quiet_for_seconds))
    w_max = F.max("ts").over(Window.partitionBy("conv_id"))
    flagged = pending.withColumn("_ready", w_max <= F.lit(gate_ts))
    return (
        flagged.filter(F.col("_ready")).drop("_ready"),
        flagged.filter(~F.col("_ready")).drop("_ready"),
    )


def _buffer_generations(warehouse: str) -> list[str]:
    import glob
    import os

    return sorted(
        glob.glob(os.path.join(warehouse, "turn_buffer_g*")),
        key=lambda p: int(p.rsplit("g", 1)[1]),
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

    ``quiet_for_seconds > 0`` enables the buffered completeness gate
    (see module docstring); 0 processes every conversation seen in the
    batch immediately (whole-conversation sources)."""
    import os
    import shutil

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        if quiet_for_seconds <= 0:
            if batch_df.isEmpty():
                return
            run_pipeline(
                spark, batch_df, index=index, config=config,
                warehouse=warehouse, run_id=f"stream-batch-{batch_id}",
            )
            return

        gens = _buffer_generations(warehouse)
        pending = batch_df
        if gens:
            pending = spark.read.parquet(gens[-1]).unionByName(batch_df)
        # replay-safe: at-least-once sources and buffer-generation
        # replays collapse to one row per turn
        pending = pending.dropDuplicates(["conv_id", "turn_idx"])
        if pending.isEmpty():
            return

        ready, rest = split_ready(pending, quiet_for_seconds)

        # stage the next buffer generation BEFORE running the pipeline:
        # if the pipeline crashes mid-batch, the replay sees the same
        # pending set (dedup above) and the resume key skips finished
        # conversations
        next_gen = os.path.join(warehouse, f"turn_buffer_g{batch_id}")
        rest.write.mode("overwrite").parquet(next_gen)

        if not ready.isEmpty():
            run_pipeline(
                spark, ready, index=index, config=config,
                warehouse=warehouse, run_id=f"stream-batch-{batch_id}",
            )
        for old in _buffer_generations(warehouse):
            if old != next_gen:
                shutil.rmtree(old, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def stream_dedup_turns(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """State-store-native exact dedup of an at-least-once turn stream:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and — unlike
    plain streaming ``dropDuplicates`` — EXPIRES each key's state once
    the watermark passes its event time, so state is bounded by the
    in-flight window instead of growing with the whole corpus (the only
    viable form at 10^12 turns; a replayed source can re-emit a turn
    minutes later and still collapse to one row). Complements the
    batch-side ``dropDuplicates`` in ``start_incremental_kg``'s
    foreachBatch, which guards buffer-generation replays.

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
    return stream.dropDuplicatesWithinWatermark(list(keys))
