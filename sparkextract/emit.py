"""Stage 4 — reading order + markdown emission (O1, P5, A3, A4, O8).

All pure Catalyst: the category→template render (pdf2markdown.py:311-324)
is a when/otherwise chain (P5 boilerplate strip falls out of the
otherwise('')); reading order (pdf2markdown.py:262-266) is the
``ymin*3000 + xmin`` key with the stable-sort tiebreak
(untouched-blocks-first, then list position — DESIGN.md §3) encoded in an
``array_sort`` over structs; page and turn aggregation are
``collect_list`` + ``array_join`` (A3/A4). Final ordering of the output
table is the mandated window over (conv_id, turn_idx) (O8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import schema
from .assemble import PAGE_KEY


def render_blocks(blocks: DataFrame) -> DataFrame:
    """A3 piece per block + O1 sort key. P5: abandon/figure/table/
    table_footnote/formula_caption render '' (emitted-but-stripped)."""
    t = F.col("text")
    piece = (
        F.when(F.col("block_type") == "title", F.concat(F.lit("\n# "), t, F.lit("\n")))
        .when(
            F.col("block_type") == "isolate_formula",
            F.concat(F.lit("\n"), t, F.lit("\n")),
        )
        .when(
            F.col("block_type").isin("plain text", "figure_caption", "table_caption"),
            F.concat(F.lit(" "), t, F.lit(" ")),
        )
        .otherwise(F.lit(""))
    )
    okey = F.col("by0") * F.lit(schema.READ_ORDER_W) + F.col("bx0")
    return blocks.select(
        *PAGE_KEY,
        "page_no",
        okey.alias("okey"),
        F.col("is_fixed").cast("int").alias("fixed_rank"),
        "block_order",
        piece.alias("piece"),
        F.struct(
            F.col("block_type").alias("type"),
            F.col("bx0").alias("x0"),
            F.col("by0").alias("y0"),
            F.col("bx1").alias("x1"),
            F.col("by1").alias("y1"),
            F.col("text").alias("content"),
            F.col("score").alias("score"),
        ).alias("span"),
    )


def emit_extracted(blocks: DataFrame, pages: DataFrame) -> DataFrame:
    """rendered blocks + page markers → extracted(conv_id, turn_idx,
    main_text, spans). Page markers are UNIONED as sentinel rows (null
    okey/piece/span) rather than joined back — empty pages stay alive in
    the A4 join with one less exchange in the plan."""
    rendered = render_blocks(blocks)
    sentinel = pages.select(
        *PAGE_KEY,
        "page_no",
        F.lit(None).cast("double").alias("okey"),
        F.lit(None).cast("int").alias("fixed_rank"),
        F.lit(None).cast("int").alias("block_order"),
        F.lit(None).cast("string").alias("piece"),
        F.lit(None).cast(rendered.schema["span"].dataType).alias("span"),
    )
    # Tail fuse (round-5 VERDICT item 5): ONE explicit conv_id exchange
    # here satisfies the ClusteredDistribution of BOTH aggregations below
    # (hash partitioning on a SUBSET of the grouping keys co-locates every
    # group) AND the caller's turn_seq window partitionBy(conv_id) — the
    # planner then emits zero further exchanges for the A3 → A4 → O8 tail
    # (was: three, one per stage; plan-guarded by test_staged_tail_fused).
    # Trade, stated: page-level agg parallelism becomes conv-level; turns
    # per conversation is bounded (north_rule transcripts), and the hot-
    # conversation skew axis already existed at the window — unchanged.
    both = rendered.unionByName(sentinel).repartition(F.col("conv_id"))
    ordered = F.filter(
        F.array_sort(
            F.collect_list(
                F.struct("okey", "fixed_rank", "block_order", "piece", "span")
            )
        ),
        lambda x: x.piece.isNotNull(),
    )
    per_page = both.groupBy(*PAGE_KEY).agg(
        F.first("page_no").alias("page_no"),
        F.array_join(F.transform(ordered, lambda x: x.piece), "").alias("page_md"),
        F.transform(ordered, lambda x: x.span).alias("page_spans"),
    )
    by_page = F.array_sort(
        F.collect_list(F.struct("page_no", "page_seq", "page_md", "page_spans"))
    )
    return per_page.groupBy("conv_id", "turn_idx").agg(
        F.array_join(F.transform(by_page, lambda x: x.page_md), "\n\n").alias(
            "main_text"
        ),
        F.flatten(F.transform(by_page, lambda x: x.page_spans)).alias("spans"),
    )


def page_markers(dets: DataFrame) -> DataFrame:
    return dets.filter(F.col("branch") == -1).select(*PAGE_KEY, "page_no")

