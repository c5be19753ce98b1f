"""Stage 2 — OCR merge layer (M6-M9, O2, O7, J2, P3).

The reference runs OCR per cropped layout region with formula masks
(pdf2markdown.py:195-256 + paddle_ocr.py:388-450). ``ocr_page_arrays``
runs that layer for many pages at once, on flat arrays where every row
carries its page id:
- region × raw center containment per page (in chunks of
  ``kernels.page_pairs``), crop shifts and centers, and the region × mask
  bounds test;
- the reference's sequential folds as segment-wise passes over every
  region at once (``kernels``): (y0,x0) sort + 10px bubble pass (O2,
  the Python pass only on regions with a swap candidate), line merge
  (O7), formula-mask x-interval subtraction (J2);
- the score/content join: merged box × member pairs per region, a
  left-to-right score sum over rank, ``round(s, 2)`` per kept box to
  the bit (``_round2``: numpy, with Python's correctly rounded ``round``
  kept for scores near a half-way point — ``round(0.765, 2)`` is 0.77,
  ``np.round`` gives 0.76), and one pyarrow list join of the member
  contents per box;
- M7 angle classification as pyarrow.compute over the raw content
  column.

It is called once per Arrow batch by the fused turn kernel and once per
(conv_id, salted turn bucket) group by the staged pipeline's
``applyInPandas``. One implementation, two call sites.

Output: the final ``text`` span rows, with ``det_order`` continuing after
the page's model detections — the reference's layout_dets append order
(pdf2markdown.py:251-256).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import kernels, pyworker, schema

_PAD = float(schema.OCR_PAD)

ROT_MARK = "@rot180 "


def angle_cls(contents) -> pa.Array:
    """M7 angle classification (paddle_ocr.py:428-433: use_angle_cls flips
    180°-rotated crops before recognition). Deterministic stand-in: the
    payload marks rotated content with ``@rot180 `` + the reversed string;
    the classifier detects the marker and un-rotates (strip + reverse, by
    code point), on the marked rows only."""
    c = kernels.strings(contents)
    rot = np.flatnonzero(pc.starts_with(c, ROT_MARK).to_numpy(zero_copy_only=False))
    flipped = pc.utf8_reverse(pc.utf8_slice_codeunits(c.take(pa.array(rot)), len(ROT_MARK)))
    return kernels.put(c, rot, flipped)


@np.errstate(invalid="ignore", over="ignore")
def _round2(s: np.ndarray) -> list:
    """``[round(x, 2) for x in s]``, bit for bit, in numpy. For y = x·100
    more than 1e-9·max(1, |y|) from a half-way point — far more than
    the product's rounding error — ``rint(y) / 100`` picks the integer
    ``round`` picks and divides as exactly; the rest (near a half-way
    point, non-finite, or |y| ≥ 2**52, where y has no fraction left)
    keep Python's ``round``."""
    y = s * 100.0
    out = (np.rint(y) / 100.0).tolist()
    ay = np.abs(y)
    slow = ~(ay < 2.0**52) | (np.abs(y - np.floor(y) - 0.5) <= 1e-9 * np.maximum(ay, 1.0))
    for i in np.flatnonzero(slow).tolist():
        out[i] = round(float(s[i]), 2)
    return out


@np.errstate(invalid="ignore")  # inf payload coords: inf - inf
def ocr_page_arrays(
    region_page: np.ndarray,  # (n,) page id per OCR-able region
    region_boxes: np.ndarray,  # (n,4) regions in (page, det_order) order
    mask_page: np.ndarray,  # (m,) page id per formula mask
    masks: np.ndarray,  # (m,4) formula masks (int coords as float)
    raw_page: np.ndarray,  # (r,) page id per raw text det
    raw_boxes: np.ndarray,  # (r,4) raw text dets in (page, det_idx) order
    raw_scores: np.ndarray,  # (r,)
    raw_contents,  # (r,) str: a list or a pyarrow string array
    use_angle_cls: bool = True,
) -> tuple[np.ndarray, np.ndarray, list, pa.Array]:
    """→ (page ids, boxes (k,4) [x0,y0,x1,y1], scores, contents) of the OCR
    text spans in emission order: by page, then region, then merged box.
    Page ids are any non-decreasing integers, the same on all three
    inputs."""
    none = (np.empty(0, dtype=np.int64), np.empty((0, 4)), [], pa.array([], pa.string()))
    if len(raw_boxes) == 0 or len(region_boxes) == 0:
        return none
    raw_contents = kernels.strings(raw_contents)
    if use_angle_cls:
        raw_contents = angle_cls(raw_contents)
    rcx = (raw_boxes[:, 0] + raw_boxes[:, 2]) / 2.0
    rcy = (raw_boxes[:, 1] + raw_boxes[:, 3]) / 2.0
    rx0, ry0, rx1, ry1 = region_boxes.T
    # members: (region, raw) pairs with the raw's center inside the region,
    # region-major, raws in det_idx order within a region
    mem_reg, mem_raw = kernels.pairs_where(
        region_page, raw_page,
        lambda a, b: (rx0[a] <= rcx[b]) & (rcx[b] <= rx1[a])
        & (ry0[a] <= rcy[b]) & (rcy[b] <= ry1[a]),
    )
    if len(mem_reg) == 0:
        return none
    # segments: the member regions, k = 0.. in region order
    starts = kernels.run_starts(mem_reg)
    seg = np.cumsum(starts) - 1
    regs = mem_reg[starts]
    # crop space: shifted by the region origin, padded (P1)
    sx = rx0 - _PAD
    sy = ry0 - _PAD
    shift = np.stack([sx, sy, sx, sy], axis=1)
    crop = raw_boxes[mem_raw] - shift[mem_reg]
    # O2 sort + bubble pass, O7 line merge
    box_seg, boxes = kernels.merge_boxes(starts, crop[kernels.sort_boxes(starts, crop)])
    # J2: formula masks in each member region's crop space, kept unless
    # they lie wholly outside the padded crop (paddle_ocr.py:405-414)
    if len(masks):
        nw = rx1 - rx0 + 2 * _PAD
        nh = ry1 - ry0 + 2 * _PAD

        def inside_crop(a, b):
            g = regs[a]
            m = masks[b] - shift[g]
            return ~((m[:, 2] < 0) | (m[:, 3] < 0) | (m[:, 0] > nw[g]) | (m[:, 1] > nh[g]))

        mask_seg, mb = kernels.pairs_where(region_page[regs], mask_page, inside_crop)
        box_seg, boxes = kernels.split_masks(
            box_seg, boxes, mask_seg, masks[mb] - shift[regs[mask_seg]]
        )
    # score/content join: each box's members with their crop center inside
    # it, by (center_x, det_idx)
    ccx = (crop[:, 0] + crop[:, 2]) / 2.0
    ccy = (crop[:, 1] + crop[:, 3]) / 2.0
    a, b = kernels.pairs_where(
        box_seg, seg,
        lambda a, b: (boxes[a, 0] <= ccx[b]) & (ccx[b] <= boxes[a, 2])
        & (boxes[a, 1] <= ccy[b]) & (ccy[b] <= boxes[a, 3]),
    )
    o = np.lexsort((ccx[b], a))  # stable: member (det_idx) order breaks ties
    a, raw = a[o], mem_raw[b[o]]
    first = kernels.run_starts(a)
    # sequential sum ÷ count: the reference's sum()/len() to the last bit
    count = np.bincount(a, minlength=len(boxes))
    total = np.zeros(len(boxes))
    total[a[first]] = kernels.run_sum(raw_scores[raw], first)
    score = total / np.maximum(count, 1)
    keep = (count > 0) & ~(score < schema.DROP_SCORE)
    k = np.flatnonzero(keep)
    g = regs[box_seg[k]]
    text = kernels.join_runs(np.r_[0, np.cumsum(count)], raw_contents.take(pa.array(raw)), " ")
    return (
        region_page[g],
        boxes[k] + shift[g],
        _round2(score[k]),
        text.take(pa.array(k)),
    )


def _ocr_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel over a salted-conversation group: one
    ``ocr_page_arrays`` call over all of the group's (turn, page)
    segments (one pandas frame per GROUP is applyInPandas' own overhead —
    keep groups coarse, work in arrays)."""
    pyworker.install()
    turn = pdf["turn_idx"].to_numpy(np.int64)
    pseq = pdf["page_seq"].to_numpy(np.int64)
    branch = pdf["branch"].to_numpy(np.int64)
    dord = pdf["det_order"].to_numpy(np.int64)
    didx = pdf["det_idx"].to_numpy(np.int64)
    # regions and masks in det_order, raws in det_idx order — the order
    # the fake detector requires (DESIGN.md §2)
    o = np.lexsort((np.where(branch == 2, didx, dord), branch, pseq, turn))
    turn, pseq, branch, dord = turn[o], pseq[o], branch[o], dord[o]
    boxes = pdf[["x0", "y0", "x1", "y1"]].to_numpy(np.float64)[o]
    score = pdf["score"].to_numpy(np.float64)[o]
    content = pdf["content"].to_numpy(object)[o]
    cat = pdf["category"].to_numpy(object)[o]
    page = np.cumsum(kernels.run_starts(turn, pseq)) - 1
    regions = np.flatnonzero(
        (branch == 0) & pd.Series(cat).isin(schema.OCR_REGION_CLASSES).to_numpy()
    )
    masks = np.flatnonzero(branch == 1)
    raws = np.flatnonzero(branch == 2)
    tpage, tboxes, tscores, tcontents = ocr_page_arrays(
        page[regions], boxes[regions], page[masks], boxes[masks],
        page[raws], boxes[raws], score[raws], content[raws].tolist(),
    )
    cols = [f.name for f in schema.DETECTIONS.fields]
    if len(tpage) == 0:
        return pd.DataFrame(columns=cols)
    # det_order continues after the page's model dets
    model = np.flatnonzero(branch < 2)
    last = np.full(page[-1] + 1, -1, dtype=np.int64)
    np.maximum.at(last, page[model], dord[model])
    rank = kernels.rank_in_run(kernels.run_starts(tpage))
    row = np.searchsorted(page, tpage)  # first row of each span's page
    n = len(tpage)
    return pd.DataFrame({
        "conv_id": pdf["conv_id"].iat[0],
        "turn_idx": turn[row].astype(np.int32),
        "page_seq": pseq[row].astype(np.int32),
        "page_no": pdf["page_no"].to_numpy(np.int64)[o][row].astype(np.int32),
        "page_w": pdf["page_w"].to_numpy(np.float64)[o][row],
        "page_h": pdf["page_h"].to_numpy(np.float64)[o][row],
        "det_idx": np.full(n, -1, dtype=np.int32),
        "det_order": (last[tpage] + 1 + rank).astype(np.int32),
        "branch": np.full(n, 2, dtype=np.int32),
        "category": "text",
        "score": np.asarray(tscores, dtype=np.float64),
        "x0": tboxes[:, 0], "y0": tboxes[:, 1], "x1": tboxes[:, 2], "y1": tboxes[:, 3],
        "content": tcontents.to_numpy(zero_copy_only=False),
    })[cols]


def ocr_crop_assign(detections: DataFrame) -> DataFrame:
    """P1 region crop + the region×raw center-containment join
    (pdf2markdown.py:195-226 + paddle_ocr shape): for every OCR-able
    region, the raw text dets whose center falls inside it, with their
    crop-space coordinates (shifted by the region origin, padded 25px).
    This is the SQL-expressible prefix of the OCR merge stage — pure
    Catalyst theta join, DuckDB-twinned (tasks.ocr_crop_assign_sql);
    the sequential bubble/merge folds stay in ``ocr_page_arrays``."""
    pad = F.lit(_PAD)
    regions = detections.filter(
        (F.col("branch") == 0) & F.col("category").isin(schema.OCR_REGION_CLASSES)
    ).select(
        "conv_id", "turn_idx", "page_seq",
        F.col("det_order").alias("region_order"),
        F.col("x0").alias("rx0"), F.col("y0").alias("ry0"),
        F.col("x1").alias("rx1"), F.col("y1").alias("ry1"),
    )
    raws = detections.filter(F.col("branch") == 2).select(
        F.col("conv_id").alias("r_conv"), F.col("turn_idx").alias("r_turn"),
        F.col("page_seq").alias("r_page"),
        F.col("det_idx").alias("raw_idx"), "x0", "y0", "x1", "y1", "score",
    )
    cx = (F.col("x0") + F.col("x1")) / 2
    cy = (F.col("y0") + F.col("y1")) / 2
    joined = regions.join(
        raws,
        (F.col("r_conv") == F.col("conv_id"))
        & (F.col("r_turn") == F.col("turn_idx"))
        & (F.col("r_page") == F.col("page_seq"))
        & cx.between(F.col("rx0"), F.col("rx1"))
        & cy.between(F.col("ry0"), F.col("ry1")),
    )
    return joined.select(
        "conv_id", "turn_idx", "page_seq", "region_order", "raw_idx",
        (F.col("x0") - F.col("rx0") + pad).alias("crop_x0"),
        (F.col("y0") - F.col("ry0") + pad).alias("crop_y0"),
        (F.col("x1") - F.col("rx0") + pad).alias("crop_x1"),
        (F.col("y1") - F.col("ry0") + pad).alias("crop_y1"),
        "score",
    )


def ocr_text_spans(detections: DataFrame) -> DataFrame:
    """detections → final OCR text span rows (branch 2, DETECTIONS schema).

    Catalyst pre-filter shrinks the shuffle to exactly the rows the kernel
    needs: OCR-able regions (pdf2markdown.py:209), formula masks, raw dets.
    Grouping key = (conv_id, salted turn bucket): coarse enough to
    amortize per-group overhead, salted so one huge conversation spreads
    over ``schema.SALT_BUCKETS`` groups (pages never split — page ⊂ turn ⊂ bucket)."""
    need = detections.filter(
        (F.col("branch") == 2)
        | (F.col("branch") == 1)
        | ((F.col("branch") == 0) & F.col("category").isin(schema.OCR_REGION_CLASSES))
    ).withColumn("salt", F.pmod(F.hash("turn_idx"), F.lit(schema.SALT_BUCKETS)))
    return (
        need.groupBy("conv_id", "salt")
        .applyInPandas(lambda pdf: _ocr_group(pdf), schema=schema.DETECTIONS)
    )
