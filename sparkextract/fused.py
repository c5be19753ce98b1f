"""Fused extraction pipeline — the production fast path.

Every turn is independent, so parse+detect+extract fuse into ONE narrow
``mapInPandas`` (all detections of a turn are produced inside the same
batch — no grouping shuffle is ever needed). The only exchange in the
whole job is the mandated O8 ordering window over (conv_id, turn_idx).

Plan shape at any scale:
  Scan → Filter(contains @page) → MapInPandas → Window

vs the staged pipeline's ~6 exchanges. Same golden-equality guarantee:
tests/test_e2e_golden.py pins BOTH paths to tests/oracle.py. Use the
staged path to study operators relationally; use this to run 10^12 turns.

Batch internals are columnar from parse to emit: ``parse._parse_batch``
tokenizes the whole Arrow batch with pyarrow.compute and hands its
columns to ``turnkernel.run_turn_arrays`` as arrays (no frame between
them), which runs every turn of the batch as segment-wise numpy over
(turn → page → det) segments, the sequential folds included
(``kernels``), and builds every string with pyarrow.compute over whole
columns — per-turn or per-page frames, array slices and per-span Python
cost more than the extraction itself at this granularity. The only
per-span Python left is emitting ``spans`` as tuples, which the
``mapInPandas`` converter takes by position; ``main_text`` leaves as an
Arrow-backed column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pyworker, schema
from .parse import _parse_batch, payload_turn
from .turnkernel import run_turn_arrays


def _extract_batch(batch: pd.DataFrame) -> pd.DataFrame:
    conv, turn, text, spans = run_turn_arrays(_parse_batch(batch))
    return pd.DataFrame(
        {
            "conv_id": pd.Series(conv, dtype=object),
            "turn_idx": pd.Series(turn, dtype="int32"),
            "main_text": pd.arrays.ArrowExtensionArray(text),
            "spans": pd.Series(spans, dtype=object),
        }
    )


def salted_repartition(df: DataFrame, n: int) -> DataFrame:
    """Skew control for power-law conversation lengths (north_rule): salt
    on turn_idx so one huge conversation spreads over
    ``schema.SALT_BUCKETS`` partitions. Turn-level extraction is
    embarrassingly parallel; conversation-level grouping only happens at
    the final window, which re-shuffles anyway."""
    return df.repartition(
        n, F.col("conv_id"), F.pmod(F.hash("turn_idx"), F.lit(schema.SALT_BUCKETS))
    )


def _conv_keyed_partitions(df: DataFrame) -> int:
    """If the caller handed us an input explicitly repartitioned by
    conv_id ALONE (plan root = RepartitionByExpression(conv_id)), return
    its partition count, else 0.

    Why fused cares (guide §2.5 — skew): turn-level extraction is
    embarrassingly parallel, and the narrow map stage inherits whatever
    partitioning the input has — conversation-keyed partitioning puts a
    hot conversation's ENTIRE Python extraction on one task (north_rule:
    one conv can hold ~80% of turns). Conversation-keyed input buys
    fused nothing in exchange: mapInPandas hides partitioning from the
    planner, so the O8 window re-exchanges by conv_id regardless. The
    engine therefore converts such an input into its own salted spread
    (``salted_repartition``) — identical rows out, hot conversations
    spread over the salt buckets."""
    try:
        jp = df._jdf.queryExecution().logical()
        if jp.getClass().getSimpleName() != "RepartitionByExpression":
            return 0
        exprs = jp.partitionExpressions()
        if exprs.size() != 1:
            return 0
        e = exprs.apply(0)
        # the raw (pre-analysis) plan carries UnresolvedAttribute; an
        # analyzed child carries AttributeReference — both name the column
        if e.getClass().getSimpleName() not in (
            "AttributeReference", "UnresolvedAttribute"
        ):
            return 0
        if e.name() != "conv_id":
            return 0
        n = jp.optNumPartitions()
        return (
            int(n.get())
            if n.isDefined()
            else df.sparkSession.sparkContext.defaultParallelism
        )
    except Exception:  # plan introspection is best-effort, never fatal
        return 0


def extract_fused(transcripts: DataFrame, repartition: int = 0) -> DataFrame:
    """transcripts → extracted (schema.EXTRACTED + turn_seq), one Python
    stage, one shuffle (the O8 window). A caller-supplied conv_id-only
    repartition at the plan root is converted to the salted spread — see
    ``_conv_keyed_partitions``."""
    if repartition == 0:
        repartition = _conv_keyed_partitions(transcripts)
    doc_turns = transcripts.filter(payload_turn()).select(
        "conv_id", "turn_idx", "text", "tool"
    )
    if repartition > 0:
        doc_turns = salted_repartition(doc_turns, repartition)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.install()
        for batch in it:
            yield _extract_batch(batch)

    out = doc_turns.mapInPandas(gen, schema=schema.EXTRACTED)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return out.withColumn("turn_seq", F.row_number().over(w))
