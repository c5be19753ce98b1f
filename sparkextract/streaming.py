"""Structured Streaming surface.

The reference is strictly batch over files (tasks/ocr/task.py:58-86;
SURVEY.md §2.8) and BASELINE.json targets batch-at-rest tables, so
streaming is *additive* capability: the same extraction engine applied to
a stream of transcript files. Three arrival-mode patterns:

- ``extract_stream``: ``foreachBatch`` reusing the fused batch path
  verbatim — one engine, two arrival modes; the lineage table doubles as
  the exactly-once progress record alongside Spark's checkpoint.
- ``conversation_stats_stream``: custom stateful operator via
  ``applyInPandasWithState`` — per-conversation running stats carried in
  group state across micro-batches (the "custom stateful operator"
  pattern for ops no built-in aggregation expresses).
- ``windowed_doc_counts``: event-time tumbling window with a watermark —
  the late-data pattern for time-bucketed rollups.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import pyworker, schema
from .fused import extract_fused


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(schema.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
) -> StreamingQuery:
    """stream of transcripts → extracted parquet, exactly-once per
    micro-batch (idempotent overwrite by batch id)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            extract_fused(batch_df)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CONV_STATS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("n_doc_turns", LongType()),
        StructField("max_turn_idx", IntegerType()),
    ]
)
_CONV_STATE = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("n_doc_turns", LongType()),
        StructField("max_turn_idx", IntegerType()),
    ]
)


def conversation_stats_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    per-conversation running turn count, document-payload turn count, and
    max turn_idx, carried in group state across micro-batches. Each batch
    emits the group's UPDATED totals (output mode "update"); the final
    emission per conv equals the batch groupBy truth (tested)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pyworker.install()
        n, nd, mx = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            n += len(pdf)
            has_doc = (
                pdf["text"].fillna("").str.contains("@page ", regex=False)
                | pdf["tool"].fillna("").str.contains("@page ", regex=False)
            )
            nd += int(has_doc.sum())
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
        state.update((n, nd, mx))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n],
                "n_doc_turns": [nd],
                "max_turn_idx": [mx],
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, CONV_STATS, _CONV_STATE, "update", GroupStateTimeout.NoTimeout
    )


def dedup_stream(
    stream: DataFrame, prefix: int = 64, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup — the ingest-side analog of
    ``textops.exact_dedup``: each arriving turn gets the same md5 content
    key; ``dropDuplicatesWithinWatermark`` emits only the FIRST
    occurrence of a key, carrying seen-keys in state bounded by the
    event-time watermark (duplicates arriving within ``watermark`` of the
    first copy are dropped; the state store never grows unboundedly — the
    property that matters when the stream is 100 TB/week of crawl).
    Output: the surviving (deduplicated) rows with their key."""
    keyed = stream.withColumn(
        "key", F.md5(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, prefix))
    )
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["key"])


def quality_scrub_stream(doc_stream: DataFrame) -> DataFrame:
    """Stateless text-filter chain on a DOCUMENT stream: Gopher quality
    gate → PII scrub, the exact same Catalyst expressions as batch
    (``textops._gopher_pass_col`` / ``textops.pii_scrub``). Map-only
    operators need no watermark, no state, and no foreachBatch — they
    run unchanged under Structured Streaming, which is the point: the
    ingest-side filter IS the batch filter, so batch backfill and live
    ingest cannot drift."""
    from .textops import _gopher_pass_col, pii_scrub

    return pii_scrub(
        doc_stream.where(_gopher_pass_col()).select("doc_id", "text")
    )


def split_stream(doc_stream: DataFrame, val_frac: float = 0.1) -> DataFrame:
    """Stateless leakage-safe train/val routing on a document stream —
    ``textops.leakage_safe_split`` unchanged under Structured Streaming
    (map-only, no state, no watermark). Because the split bit is keyed
    on md5(text), a duplicate arriving WEEKS after its twin still lands
    on the same side — the streaming property a random or arrival-order
    split cannot give, and the reason the content-keyed rule matters at
    ingest time, not just in batch backfill."""
    from .textops import leakage_safe_split

    return leakage_safe_split(doc_stream, val_frac=val_frac)


def html_extract_stream(doc_stream: DataFrame) -> DataFrame:
    """Stateless HTML main-content extraction on a document stream —
    the ``htmlops.html_main_content`` zero-shuffle projection runs
    unchanged under Structured Streaming (no state, no watermark), so
    live ingest and batch backfill share one extractor definition."""
    from .htmlops import documents_as_html, html_main_content

    return html_main_content(documents_as_html(doc_stream))


def enrich_clicks_stream(
    events: DataFrame, lookback_minutes: int = 10, watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the last Structured
    Streaming join type this engine exercises: each click joins the
    purchases of the same user in the preceding ``lookback_minutes``.
    Both sides carry watermarks so the state store evicts rows older
    than watermark + lookback (bounded state — the property that
    matters when both streams are unbounded). The SAME function works
    on batch DataFrames (no watermark applied there), which is what the
    batch-equality test exploits.

    Output: click_id, user_id, purchase_id, purchase_value."""
    is_stream = events.isStreaming
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    if is_stream:
        clicks = clicks.withWatermark("c_ts", watermark)
        purchases = purchases.withWatermark("p_ts", watermark)
    cond = (
        (clicks["c_user"] == purchases["p_user"])
        & (purchases["p_ts"] <= clicks["c_ts"])
        & (
            purchases["p_ts"]
            >= clicks["c_ts"] - F.expr(f"INTERVAL {lookback_minutes} MINUTES")
        )
    )
    return clicks.join(purchases, cond, "inner").select(
        "click_id", F.col("c_user").alias("user_id"),
        "purchase_id", "purchase_value",
    )


def windowed_doc_counts(
    stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Event-time tumbling-window rollup with a watermark: document-payload
    turns per (window, conv_id). The watermark bounds state for late data;
    with update/append sinks, windows older than it are finalized."""
    doc = stream.where(
        F.col("text").contains("@page ") | F.col("tool").contains("@page ")
    )
    return (
        doc.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_doc_turns"))
        .select("win", "conv_id", "n_doc_turns")
    )
