"""Document assembly: window-ordered turn concatenation (pure Catalyst).

Replaces the reference's one-file-one-document ingest
(/root/reference/ontocast/agent/convert_document.py:48-57 and
``doc_hid = sha256(text)[:12]`` at /root/reference/ontocast/onto.py:986-993)
with a set-oriented pass over the transcript table: per ``conv_id``,
turns are ordered by ``turn_idx`` and concatenated with a blank-line
separator; the per-turn text-equality invariant under stable
``(conv_id, turn_idx)`` ordering is therefore preserved by
construction.

Scale design (10^12 turns, skewed conversations):

- The naive ``groupBy(conv_id).agg(collect_list(...))`` holds an entire
  conversation in one aggregation buffer — a mega-conversation OOMs the
  executor. Assembly is therefore hierarchical: turns first combine
  within fixed-size ``turn_idx`` buckets (bounded buffers, map-side
  partial aggregation applies), then the few bucket rows per
  conversation concatenate in bucket order. The bucket id is exactly a
  *deterministic salt* on the grouping key — this is the "salted
  repartition by conv_id with skew-aware splitting of
  mega-conversations" of the north rule, expressed so the salt is
  derivable (contiguous index ranges) and the output byte-identical to
  the single-level concat.
- A hard ``max_turns`` cap (the analog of the reference's
  ``max_chunks`` head-limit, /root/reference/ontocast/agent/
  chunk_text.py:34-35) drops turn_idx >= cap before any shuffle, so a
  10^9-turn adversarial conversation costs one filter, not one task.
- Everything is built-in expressions — no Python, full whole-stage
  codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.construct import TURN_SEPARATOR
DEFAULT_BUCKET_SIZE = 1024


def assemble_documents(
    conversations: DataFrame,
    domain: str = "https://example.com",
    bucket_size: int = DEFAULT_BUCKET_SIZE,
    max_turns: int | None = None,
    separator: str = TURN_SEPARATOR,
) -> DataFrame:
    """conversations(conv_id, turn_idx, text, ...) -> documents
    (conv_id, doc_hid, doc_iri, n_turns, text)."""
    df = conversations.select("conv_id", "turn_idx", "text")
    if max_turns is not None:
        df = df.filter(F.col("turn_idx") < F.lit(max_turns))

    df = df.withColumn("bucket", (F.col("turn_idx") / F.lit(bucket_size)).cast("int"))
    bucketed = (
        df.groupBy("conv_id", "bucket")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda x: x["text"],
                ),
                separator,
            ).alias("bucket_text"),
            F.count(F.lit(1)).alias("bucket_turns"),
        )
    )

    docs = (
        bucketed.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bucket", "bucket_text"))),
                    lambda x: x["bucket_text"],
                ),
                separator,
            ).alias("text"),
            F.sum("bucket_turns").alias("n_turns"),
        )
    )

    doc_hid = F.substring(F.sha2(F.col("text"), 256), 1, 12)
    return docs.select(
        "conv_id",
        doc_hid.alias("doc_hid"),
        F.concat(F.lit(domain + "/doc/"), doc_hid).alias("doc_iri"),
        "n_turns",
        "text",
    )
