"""Stage 2 — OCR merge layer (M6-M9, O2, O7, J2, P3).

The reference runs OCR per cropped layout region with formula masks
(pdf2markdown.py:195-256 + paddle_ocr.py:388-450). ``ocr_page_arrays``
runs that layer for many pages at once, on flat arrays where every row
carries its page id:
- batch-wide numpy: region × raw center containment per page (in
  chunks of ``kernels.page_pairs``), crop shifts and centers, and the
  region × mask bounds test;
- per region, on Python lists: the sequential folds — (y0,x0) sort +
  10px bubble pass (O2), line merge (O7), formula-mask x-interval
  subtraction (J2) — and the score/content join of each merged box.

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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import kernels, schema

_PAD = float(schema.OCR_PAD)

ROT_MARK = "@rot180 "


def angle_cls(contents: list[str]) -> list[str]:
    """M7 angle classification (paddle_ocr.py:428-433: use_angle_cls flips
    180°-rotated crops before recognition). Deterministic stand-in: the
    payload marks rotated content with ``@rot180 `` + the reversed string;
    the classifier detects the marker and un-rotates (strip + reverse)."""
    return [
        c[len(ROT_MARK):][::-1] if c.startswith(ROT_MARK) else c
        for c in contents
    ]


def ocr_page_arrays(
    region_page: np.ndarray,  # (n,) page id per OCR-able region
    region_boxes: np.ndarray,  # (n,4) regions in (page, det_order) order
    mask_page: np.ndarray,  # (m,) page id per formula mask
    masks: np.ndarray,  # (m,4) formula masks (int coords as float)
    raw_page: np.ndarray,  # (r,) page id per raw text det
    raw_boxes: np.ndarray,  # (r,4) raw text dets in (page, det_idx) order
    raw_scores: np.ndarray,  # (r,)
    raw_contents: list[str],
    use_angle_cls: bool = True,
) -> tuple[np.ndarray, np.ndarray, list, list]:
    """→ (page ids, boxes (k,4) [x0,y0,x1,y1], scores, contents) of the OCR
    text spans in emission order: by page, then region, then merged box.
    Page ids are any non-decreasing integers, the same on all three
    inputs."""
    none = (np.empty(0, dtype=np.int64), np.empty((0, 4)), [], [])
    if len(raw_boxes) == 0 or len(region_boxes) == 0:
        return none
    if use_angle_cls:
        raw_contents = angle_cls(raw_contents)
    rcx = (raw_boxes[:, 0] + raw_boxes[:, 2]) / 2.0
    rcy = (raw_boxes[:, 1] + raw_boxes[:, 3]) / 2.0
    rx0, ry0, rx1, ry1 = region_boxes.T
    # members: (region, raw) pairs with the raw's center inside the region,
    # region-major, raws in det_idx order within a region
    mem_reg, mem_raw = [], []
    for a, b in kernels.page_pairs(region_page, raw_page):
        inside = (
            (rx0[a] <= rcx[b]) & (rcx[b] <= rx1[a])
            & (ry0[a] <= rcy[b]) & (rcy[b] <= ry1[a])
        )
        mem_reg.append(a[inside])
        mem_raw.append(b[inside])
    mem_reg = np.concatenate(mem_reg)
    mem_raw = np.concatenate(mem_raw)
    if len(mem_reg) == 0:
        return none
    # crop space: shifted by the region origin, padded (P1)
    sx = rx0 - _PAD
    sy = ry0 - _PAD
    shift = np.stack([sx, sy, sx, sy], axis=1)
    crop = raw_boxes[mem_raw] - shift[mem_reg]
    ccx = ((crop[:, 0] + crop[:, 2]) / 2.0).tolist()
    ccy = ((crop[:, 1] + crop[:, 3]) / 2.0).tolist()
    starts = np.flatnonzero(kernels.run_starts(mem_reg))
    regs = mem_reg[starts]
    # formula masks in each member region's crop space, kept unless they
    # lie wholly outside the padded crop (paddle_ocr.py:405-414)
    reg_masks: dict[int, list] = {}
    if len(masks):
        nw = rx1 - rx0 + 2 * _PAD
        nh = ry1 - ry0 + 2 * _PAD
        for a, b in kernels.page_pairs(region_page[regs], mask_page):
            g = regs[a]
            adj = masks[b] - shift[g]
            ok = ~(
                (adj[:, 2] < 0) | (adj[:, 3] < 0)
                | (adj[:, 0] > nw[g]) | (adj[:, 1] > nh[g])
            )
            for g_k, box in zip(g[ok].tolist(), adj[ok].tolist()):
                reg_masks.setdefault(g_k, []).append(box)
    crop_l = crop.tolist()
    raw_l = mem_raw.tolist()
    scores_l = raw_scores.tolist()
    pages_l = region_page.tolist()
    sx_l, sy_l = sx.tolist(), sy.tolist()
    bounds = np.r_[starts, len(mem_reg)].tolist()
    out_page: list[int] = []
    out_boxes: list = []
    out_scores: list = []
    out_contents: list = []
    for k, g in enumerate(regs.tolist()):
        s, e = bounds[k], bounds[k + 1]
        rows = crop_l[s:e]
        boxes = kernels.merge_det_boxes([rows[i] for i in kernels.bubble_pass(rows)])
        adj = reg_masks.get(g)
        if adj:  # reference: `if mfd_res:` (paddle_ocr.py:414)
            boxes = kernels.split_by_masks(boxes, adj)
        cx, cy, mine = ccx[s:e], ccy[s:e], raw_l[s:e]
        m = e - s
        gx, gy, page = sx_l[g], sy_l[g], pages_l[g]
        for b0, b1, b2, b3 in boxes:
            cons = [
                j for j in range(m)
                if b0 <= cx[j] <= b2 and b1 <= cy[j] <= b3
            ]
            cons.sort(key=cx.__getitem__)  # stable: (center_x, det_idx)
            if cons:
                # sequential sum: the reference's sum()/len() to the last bit
                t = 0.0
                for j in cons:
                    t += scores_l[mine[j]]
                score = t / len(cons)
            else:
                score = 0.0
            if score < schema.DROP_SCORE:
                continue
            out_page.append(page)
            out_boxes.append([b0 + gx, b1 + gy, b2 + gx, b3 + gy])
            out_scores.append(round(score, 2))
            out_contents.append(" ".join(raw_contents[mine[j]] for j in cons))
    return (
        np.asarray(out_page, dtype=np.int64),
        np.asarray(out_boxes, dtype=np.float64).reshape(-1, 4),
        out_scores,
        out_contents,
    )


def _ocr_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel over a salted-conversation group: one
    ``ocr_page_arrays`` call over all of the group's (turn, page)
    segments (one pandas frame per GROUP is applyInPandas' own overhead —
    keep groups coarse, work in arrays)."""
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
        "content": pd.Series(tcontents, dtype=object),
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


def ocr_text_spans(detections: DataFrame, salt: int = 16) -> DataFrame:
    """detections → final OCR text span rows (branch 2, DETECTIONS schema).

    Catalyst pre-filter shrinks the shuffle to exactly the rows the kernel
    needs: OCR-able regions (pdf2markdown.py:209), formula masks, raw dets.
    Grouping key = (conv_id, salted turn bucket): coarse enough to
    amortize per-group overhead, salted so one huge conversation spreads
    over ``salt`` groups (pages never split — page ⊂ turn ⊂ bucket)."""
    need = detections.filter(
        (F.col("branch") == 2)
        | (F.col("branch") == 1)
        | ((F.col("branch") == 0) & F.col("category").isin(schema.OCR_REGION_CLASSES))
    ).withColumn("salt", F.pmod(F.hash("turn_idx"), F.lit(salt)))
    return (
        need.groupBy("conv_id", "salt")
        .applyInPandas(lambda pdf: _ocr_group(pdf), schema=schema.DETECTIONS)
    )
