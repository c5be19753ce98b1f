"""Batch-level extraction kernel for the fused pipeline (fused.py).

Runs the post-detection stages — MFR (F1), OCR merge (O2/O7/J2), span→block
fill (J1), line/paragraph assembly (O3/A2), reading order (O1), markdown
emit (A3/A4) — for every turn of one Arrow batch at once. The batch is
one set of flat arrays with segment ids (turn → page → det), so each
stage is one numpy pass over the whole batch instead of a Python loop
per turn and per page:
- one lexsort brings each page's dets together in det_order; page and
  turn segments come from key changes;
- region and mask selection, the OCR merge layer
  (``ocr.ocr_page_arrays``, its region folds segment-wise over every
  region), the J1 first-wins fill (span × fixed-block pairs per page,
  via ``kernels.page_pairs``), and the O1 reading-order sort are
  segment-wise numpy;
- A2 is one ``kernels.merge_para`` call over every filled block; the
  Python work left is string building: one piece per span and block,
  and one join per block, page and turn.

Why this exists: every turn is independent (SURVEY.md §3.1), so the
scale-optimal plan is parse+extract fused in one narrow mapInPandas —
zero shuffles before the final (conv_id, turn_idx) ordering window. The
staged pipeline (pipeline.extract) keeps each operator as a first-class
relational op; this kernel is the production fast path. Both must match
tests/oracle.py exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import kernels, schema
from .ocr import ocr_page_arrays

_SPAN_CATS = ("inline", "text", "isolated")
_PIECE = {  # A3 block render (pdf2markdown.py:311-324); others render ''
    "title": ("\n# ", "\n"),
    "isolate_formula": ("\n", "\n"),
    "plain text": (" ", " "),
    "figure_caption": (" ", " "),
    "table_caption": (" ", " "),
}


def _member(codes: np.ndarray, uniques, names) -> np.ndarray:
    """codes → bool: the code's unique value is one of ``names``."""
    hit = [i for i, u in enumerate(uniques) if u in names]
    return np.isin(codes, hit)


def _fill_first_wins(s_page, sboxes, b_page, bboxes) -> np.ndarray:
    """J1 (merge_blocks_and_spans.py:111-155): for each span, index of the
    earliest fixed block on its page with overlap_area/span_area > 0.6,
    else -1. Spans and blocks come sorted by (page, list order); pairs are
    checked chunk by chunk."""
    @np.errstate(invalid="ignore")  # inf payload coords: inf - inf, 0 * inf
    def hit(a, b):
        s, k = sboxes[a], bboxes[b]
        ox = np.minimum(s[:, 2], k[:, 2]) - np.maximum(s[:, 0], k[:, 0])
        oy = np.minimum(s[:, 3], k[:, 3]) - np.maximum(s[:, 1], k[:, 1])
        inter = np.where((ox >= 0) & (oy >= 0), ox * oy, 0.0)
        area = (s[:, 2] - s[:, 0]) * (s[:, 3] - s[:, 1])
        ratio = np.divide(inter, area, out=np.zeros_like(inter), where=area > 0)
        return ratio > schema.FILL_RATIO

    a, b = kernels.pairs_where(s_page, b_page, hit)
    first = kernels.run_starts(a)  # pairs are a-major, b ascending
    assign = np.full(len(sboxes), -1, dtype=np.int64)
    assign[a[first]] = b[first]
    return assign


def run_turn_arrays(dets: pd.DataFrame) -> tuple[list, list, list, list]:
    """One batch's detection rows (schema.DETECTIONS, any row order) →
    (conv_ids, turn_idxs, main_texts, spans) of every turn with a page,
    turns in (conv_id, turn_idx) order; spans are lists of SPAN_STRUCT
    dicts."""
    if len(dets) == 0:
        return [], [], [], []
    conv = dets["conv_id"].to_numpy(object)
    ccode = pd.factorize(conv, sort=True)[0]
    turn = dets["turn_idx"].to_numpy(np.int64)
    pseq = dets["page_seq"].to_numpy(np.int64)
    dord = dets["det_order"].to_numpy(np.int64)
    # one sort: turn → page (in payload order) → det_order; the page
    # marker (det_order -1) leads its page
    o = np.lexsort((dord, pseq, turn, ccode))
    ccode, turn, pseq, dord = ccode[o], turn[o], pseq[o], dord[o]
    pstart = np.flatnonzero(kernels.run_starts(ccode, turn, pseq))
    page = np.repeat(np.arange(len(pstart)), np.diff(np.r_[pstart, len(o)]))
    n_pages = len(pstart)

    branch = dets["branch"].to_numpy(np.int64)[o]
    d = np.flatnonzero(branch >= 0)  # det rows, by (page, det_order)
    branch, dord, dpage = branch[d], dord[d], page[d]
    od = o[d]
    cat = dets["category"].to_numpy(object)[od]
    score = dets["score"].to_numpy(np.float64)[od]
    boxes = dets[["x0", "y0", "x1", "y1"]].to_numpy(np.float64)[od]
    content = dets["content"].to_numpy(object)[od]
    didx = dets["det_idx"].to_numpy(np.int64)[od]
    ccodes, cuniq = pd.factorize(cat)
    cuniq = list(cuniq)

    # MFR (F1) on the formula branch, once per distinct formula string
    form = np.flatnonzero(branch == 1)
    if len(form):
        fs = content[form].tolist()
        memo = {c: kernels.latex_rm_whitespace(c) for c in set(fs)}
        content[form] = [memo[c] for c in fs]

    # OCR merge: regions = OCR-able layout dets (pdf2markdown.py:209) in
    # det_order; raws in det_idx (payload) order — the bubble-pass
    # tiebreak and the content join follow input order (paddle_ocr.py
    # sorted_boxes); det_order for branch 2 is score-desc, so re-sort
    regions = np.flatnonzero(
        (branch == 0) & _member(ccodes, cuniq, schema.OCR_REGION_CLASSES)
    )
    raws = np.flatnonzero(branch == 2)
    raws = raws[np.lexsort((didx[raws], dpage[raws]))]
    tpage, tboxes, tscores, tcontents = ocr_page_arrays(
        dpage[regions], boxes[regions], dpage[form], boxes[form],
        dpage[raws], boxes[raws], score[raws], content[raws].tolist(),
    )

    # final page dets = model dets (det_order 0..n_model-1, layout then
    # mfd) + OCR text spans appended in emission order
    model = np.flatnonzero(branch < 2)
    n_model = np.bincount(dpage[model], minlength=n_pages)
    t_rank = kernels.rank_in_run(kernels.run_starts(tpage))
    fpage = np.r_[dpage[model], tpage]
    ford = np.r_[dord[model], n_model[tpage] + t_rank]
    fo = np.lexsort((ford, fpage))
    fpage, ford = fpage[fo], ford[fo]
    fbox = np.concatenate([boxes[model], tboxes])[fo]
    fscore = np.r_[score[model], np.asarray(tscores, dtype=np.float64)][fo]
    cuniq_text = cuniq + ["text"]  # OCR spans: category "text"
    fcode = np.r_[ccodes[model], np.full(len(tpage), len(cuniq))][fo]
    fcontent = np.concatenate(
        [content[model], np.asarray(tcontents, dtype=object).reshape(-1)]
    )[fo]

    # spans pool + block list (pdf2markdown.py:272-298): non-span dets are
    # blocks, every isolated span is also an isolate_formula block
    is_span = _member(fcode, cuniq_text, _SPAN_CATS)
    iso = _member(fcode, cuniq_text, ("isolated",))
    sp = np.flatnonzero(is_span)
    bl = np.flatnonzero(~is_span | iso)
    btype = np.asarray(cuniq_text, dtype=object)[fcode[bl]]
    btype[iso[bl]] = "isolate_formula"
    bpage = fpage[bl]
    fixed = iso[bl] | _member(fcode[bl], cuniq_text, schema.FIX_BLOCK_TYPES)
    fx = np.flatnonzero(fixed)

    # J1 fill, then A2 per filled block over its spans in pool order
    assign = _fill_first_wins(fpage[sp], fbox[sp], bpage[fx], fbox[bl[fx]])
    btext = np.full(len(bl), "", dtype=object)
    took = np.flatnonzero(assign >= 0)
    if len(took):
        so = took[np.lexsort((ford[sp[took]], assign[took]))]
        blk = fx[assign[so]]
        rows = sp[so]
        starts = kernels.run_starts(blk)
        btext[blk[starts]] = kernels.merge_para(
            starts, np.asarray(cuniq_text, dtype=object)[fcode[rows]],
            fcontent[rows], fbox[rows], ford[rows], btype[blk] == "isolate_formula",
        )

    # O1 reading order per page: ymin*3000 + xmin, untouched blocks before
    # fixed ones on ties, then list position (DESIGN §3); pages of a turn
    # in (page_no, payload) order (A4)
    tstart = np.flatnonzero(kernels.run_starts(ccode[pstart], turn[pstart]))
    pg_turn = np.repeat(np.arange(len(tstart)), np.diff(np.r_[tstart, n_pages]))
    pg_no = dets["page_no"].to_numpy(np.int64)[o][pstart]
    pg_rank = np.empty(n_pages, dtype=np.int64)
    pg_rank[np.lexsort((pseq[pstart], pg_no, pg_turn))] = np.arange(n_pages)
    bbox = fbox[bl]
    okey = bbox[:, 1] * schema.READ_ORDER_W + bbox[:, 0]
    ro = np.lexsort((ford[bl], fixed, okey, pg_rank[bpage]))

    # A3/A4 emit: page markdown and spans in page, then reading order
    types = btype[ro].tolist()
    texts = btext[ro].tolist()
    box_l = bbox[ro].tolist()
    score_l = fscore[bl][ro].tolist()
    spans_all = [
        {"type": t, "x0": b[0], "y0": b[1], "x1": b[2], "y1": b[3],
         "content": x, "score": sc}
        for t, b, x, sc in zip(types, box_l, texts, score_l)
    ]
    pieces = [
        f"{p[0]}{x}{p[1]}" if (p := _PIECE.get(t)) else ""
        for t, x in zip(types, texts)
    ]
    # blocks per page in output order → page bounds in the sorted list;
    # ranking keeps each turn's pages together, so turn k holds the ranks
    # tstart[k] .. tstart[k+1]-1
    per_page = np.bincount(pg_rank[bpage], minlength=n_pages)
    pb = np.r_[0, np.cumsum(per_page)].tolist()
    page_md = ["".join(pieces[pb[r]:pb[r + 1]]) for r in range(n_pages)]
    tb = np.r_[tstart, n_pages].tolist()
    out_text = ["\n\n".join(page_md[tb[k]:tb[k + 1]]) for k in range(len(tstart))]
    out_spans = [spans_all[pb[tb[k]]:pb[tb[k + 1]]] for k in range(len(tstart))]
    first = pstart[tstart]
    return conv[o[first]].tolist(), turn[first].tolist(), out_text, out_spans
