"""Structured Streaming ingest: transcripts stream → incremental edges.

The reference has no event-time streaming (its ``hls::stream`` is a
hardware FIFO — ``spmv_coo_multi_stream.hpp:89-104``), so streaming is
*additive* capability: a 10^12-turn transcript table is append-only in
practice, and the graph should absorb new turns without full rebuilds.

``stream_edge_updates`` consumes a transcripts stream (file source in
tests; Kafka/Iceberg CDC in production) and derives the batch ETL's
stateless edge rules (late turns beyond the watermark are dropped);
``stateful_consecutive_edges`` adds consecutive-turn linking with the
per-conversation previous entity kept in ``applyInPandasWithState``
state. ``edge_count_query`` maintains incremental edge counts per
(src_entity, dst_entity) in the sink, from which weights are
re-derivable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_edge_updates(transcripts_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming DataFrame of edge observations (src_entity, dst_entity).

    The conv→tool and role→conv rules are stateless projections
    (consecutive-turn linking is :func:`stateful_consecutive_edges`).
    Returns the *union* stream ready for a counting sink:
    ``writeStream.outputMode("update")`` over
    ``groupBy(src_entity, dst_entity).count()``.
    """
    t = transcripts_stream.withWatermark("ts", watermark)
    conv_tool = t.where(F.col("role") == "tool").select(
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("src_entity"),
        F.concat(F.lit("tool:"), F.col("tool")).alias("dst_entity"),
        "ts",
    )
    role_conv = t.select(
        F.concat(F.lit("role:"), F.col("role")).alias("src_entity"),
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("dst_entity"),
        "ts",
    )
    return conv_tool.unionAll(role_conv)


def edge_count_query(edge_updates: DataFrame, checkpoint_dir: str, sink_path: str):
    """Windowed incremental edge-observation counts → parquet sink."""
    counts = edge_updates.groupBy(
        F.window("ts", "1 hour").alias("w"), "src_entity", "dst_entity"
    ).count()
    return (
        counts.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", sink_path)
    )


def stateful_consecutive_edges(transcripts_stream: DataFrame) -> DataFrame:
    """Cross-micro-batch consecutive-turn linking via
    ``applyInPandasWithState`` — the custom stateful operator a plain
    window cannot express: per ``conv_id`` the state
    carries ``(last_turn, last_entity)``, so a conversation's first
    turn in batch N links back to its last turn from batch N-1 (and a
    restart from the checkpoint restores the state). Rows are
    processed as pandas batches (vectorized shift/where — no per-row
    Python); replayed or stale turns (``turn_idx`` ≤ seen) are
    dropped, making the operator idempotent under at-least-once
    delivery.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, src_entity string, dst_entity string"
    state_schema = "last_turn long, last_entity string"

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        _link_group,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _link_group(key, pdf_iter, state):
    """Stateful linker for one conversation's micro-batch rows.

    The whole group is MATERIALIZED and sorted once before linking:
    ``applyInPandasWithState`` gives no intra-group ordering guarantee
    across Arrow chunks, so chunk-at-a-time linking silently dropped a
    later chunk carrying earlier turns (ADVICE r1). Memory is bounded by
    one conversation's rows within one micro-batch — inherently small
    next to the Arrow chunk size that triggers multi-chunk groups.
    """
    import pandas as pd

    conv_id = key[0]
    if state.exists:
        last_turn, last_entity = state.get
    else:
        last_turn, last_entity = -1, None
    chunks = list(pdf_iter)
    pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    if len(pdf):
        pdf = pdf[pdf["turn_idx"] > last_turn].sort_values("turn_idx")
    if len(pdf):
        ents = ("tool:" + pdf["tool"].astype(str)).where(
            pdf["role"].eq("tool"), "role:" + pdf["role"].astype(str)
        )
        src = ents.shift(1)
        if last_entity is not None:
            src.iloc[0] = last_entity
        mask = src.notna()
        state.update((int(pdf["turn_idx"].iloc[-1]), str(ents.iloc[-1])))
        if mask.any():
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "src_entity": src[mask],
                    "dst_entity": ents[mask],
                }
            )
    else:
        state.update((last_turn, last_entity))
