"""Stage 3 — span→block assembly.

J1 ``fill_spans_in_blocks`` (merge_blocks_and_spans.py:111-155) becomes a
pure-Catalyst theta join + first-wins window: a span joins every need-fix
block with overlap_area/span_area > 0.6, and ``row_number() == 1`` over
blocks ordered by their list position reproduces the reference's
*consuming, first-block-wins* semantics exactly (a span always lands in
the earliest qualifying block; later blocks never see it).

O3 line sessionization + A2 ``merge_para_with_text``
(merge_blocks_and_spans.py:19-51,228-268) are order-dependent folds →
one ``applyInPandas`` per (conv_id, salted turn bucket) group running
the batch-level ``kernels.merge_para`` over all of the group's blocks
(SURVEY.md §7.5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from . import kernels, pyworker, schema

PAGE_KEY = ["conv_id", "turn_idx", "page_seq"]

SPAN_CATS = ["inline", "text", "isolated"]

PARA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_seq", IntegerType()),
        StructField("block_order", IntegerType()),
        StructField("para_text", StringType()),
    ]
)


def build_spans(dets: DataFrame) -> DataFrame:
    """convert2md span pool (pdf2markdown.py:272-282): pool order = det_order."""
    return dets.filter(F.col("category").isin(SPAN_CATS)).select(
        *PAGE_KEY,
        F.col("det_order").alias("span_order"),
        F.col("category").alias("span_type"),
        F.col("x0").alias("sx0"),
        F.col("y0").alias("sy0"),
        F.col("x1").alias("sx1"),
        F.col("y1").alias("sy1"),
        F.col("content").alias("span_content"),
    )


def build_blocks(dets: DataFrame) -> DataFrame:
    """convert2md block list (pdf2markdown.py:283-298): non-span dets plus
    each isolated det duplicated as an isolate_formula block."""
    blocks = dets.filter(
        (F.col("branch") == 0) & ~F.col("category").isin(SPAN_CATS)
    ).unionByName(
        dets.filter(F.col("category") == "isolated").withColumn(
            "category", F.lit("isolate_formula")
        )
    )
    return blocks.select(
        *PAGE_KEY,
        "page_no",
        F.col("det_order").alias("block_order"),
        F.col("category").alias("block_type"),
        "score",
        F.col("x0").alias("bx0"),
        F.col("y0").alias("by0"),
        F.col("x1").alias("bx1"),
        F.col("y1").alias("by1"),
        F.col("category").isin(schema.FIX_BLOCK_TYPES).alias("is_fixed"),
    )


def fill_spans(spans: DataFrame, blocks: DataFrame) -> DataFrame:
    """J1: theta join + first-wins window (DESIGN.md §3). Equivalence proof:
    removal from the pool only affects *later* blocks, so every span ends in
    the earliest block whose overlap ratio exceeds 0.6 — exactly
    row_number()==1 over blocks ordered by block_order."""
    need_fix = blocks.filter("is_fixed")
    ox = F.least("sx1", "bx1") - F.greatest("sx0", "bx0")
    oy = F.least("sy1", "by1") - F.greatest("sy0", "by0")
    area = (F.col("sx1") - F.col("sx0")) * (F.col("sy1") - F.col("sy0"))
    ratio = F.when(
        (ox >= 0) & (oy >= 0) & (area > 0), ox * oy / area
    ).otherwise(F.lit(0.0))
    joined = spans.join(need_fix, PAGE_KEY, "inner").where(
        ratio > F.lit(schema.FILL_RATIO)
    )
    w = Window.partitionBy(*PAGE_KEY, "span_order").orderBy("block_order")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _para_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel over a salted-conversation group: one
    batch-level ``kernels.merge_para`` over all of its (turn, page, block)
    segments."""
    pyworker.install()
    srt = pdf.sort_values(
        ["turn_idx", "page_seq", "block_order", "span_order"], kind="stable"
    )
    turn = srt["turn_idx"].to_numpy(np.int64)
    pseq = srt["page_seq"].to_numpy(np.int64)
    border = srt["block_order"].to_numpy(np.int64)
    btype = srt["block_type"].to_numpy(object)
    starts = kernels.run_starts(turn, pseq, border)
    texts = kernels.merge_para(
        starts, srt["span_type"].to_numpy(object), srt["span_content"].to_numpy(object),
        srt[["sx0", "sy0", "sx1", "sy1"]].to_numpy(np.float64),
        srt["span_order"].to_numpy(np.int64), btype == "isolate_formula",
    )
    return pd.DataFrame({
        "conv_id": pdf["conv_id"].iat[0],
        "turn_idx": turn[starts], "page_seq": pseq[starts],
        "block_order": border[starts],
        "para_text": texts.to_numpy(zero_copy_only=False),
    })


def merge_paragraphs(filled: DataFrame) -> DataFrame:
    """O3+A2 fold per block, grouped by (conv_id, salted turn bucket) —
    coarse groups amortize applyInPandas' per-group frame cost; the salt
    caps group size under conversation skew (block ⊂ turn ⊂ bucket)."""
    salted = filled.withColumn(
        "salt", F.pmod(F.hash("turn_idx"), F.lit(schema.SALT_BUCKETS))
    )
    return salted.groupBy("conv_id", "salt").applyInPandas(
        _para_group, schema=PARA
    )


def assemble_blocks(dets: DataFrame) -> DataFrame:
    """detections → blocks with paragraph text (fixed blocks get A2 output,
    others keep empty text; blocks with no spans get '')."""
    spans = build_spans(dets)
    blocks = build_blocks(dets)
    paras = merge_paragraphs(fill_spans(spans, blocks))
    return blocks.join(
        paras,
        on=[*PAGE_KEY, "block_order"],
        how="left",
    ).withColumn(
        "text",
        F.when(F.col("is_fixed"), F.coalesce(F.col("para_text"), F.lit(""))).otherwise(
            F.lit("")
        ),
    ).drop("para_text")
