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
- A2 is one ``kernels.merge_para`` call over every filled block, and
  the A3/A4 markdown is pyarrow.compute over whole columns: one piece
  per block (type prefix + paragraph + suffix), one list join per page
  and one per turn.
Input is ``parse._parse_batch``'s arrays, with its conv_id and category
codes; contents stay pyarrow string arrays from parse to emit. The
Python left per row is the F1 fixpoint per distinct formula string,
``round`` per OCR score (``ocr``) and one tuple per output span.

Why this exists: every turn is independent (SURVEY.md §3.1), so the
scale-optimal plan is parse+extract fused in one narrow mapInPandas —
zero shuffles before the final (conv_id, turn_idx) ordering window. The
staged pipeline (pipeline.extract) keeps each operator as a first-class
relational op; this kernel is the production fast path. Both must match
tests/oracle.py exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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


def run_turn_arrays(dets: dict) -> tuple[np.ndarray, np.ndarray, pa.Array, list]:
    """One batch's detection rows (``parse._parse_batch``'s arrays, any
    row order) → (conv_ids, turn_idxs, main_texts, spans) of every turn
    with a page, turns in (conv_id, turn_idx) order; spans are lists of
    SPAN_STRUCT-ordered tuples."""
    conv = dets["conv_id"]
    ccode = conv.codes.astype(np.int64)  # in conv_id order
    turn = dets["turn_idx"].astype(np.int64)
    pseq = dets["page_seq"].astype(np.int64)
    dord = dets["det_order"].astype(np.int64)
    # one sort: turn → page (in payload order) → det_order; the page
    # marker (det_order -1) leads its page
    o = np.lexsort((dord, pseq, turn, ccode))
    ccode, turn, pseq, dord = ccode[o], turn[o], pseq[o], dord[o]
    pstart = np.flatnonzero(kernels.run_starts(ccode, turn, pseq))
    page = np.repeat(np.arange(len(pstart)), np.diff(np.r_[pstart, len(o)]))
    n_pages = len(pstart)

    branch = dets["branch"].astype(np.int64)[o]
    d = np.flatnonzero(branch >= 0)  # det rows, by (page, det_order)
    branch, dord, dpage = branch[d], dord[d], page[d]
    od = o[d]
    # category codes; OCR spans are "text", the isolated spans' blocks
    # "isolate_formula"
    names = list(dets["category"].categories)
    names += [n for n in ("text", "isolate_formula") if n not in names]
    ccodes = dets["category"].codes.astype(np.int64)[od]
    score = dets["score"][od]
    boxes = np.stack([dets[k][od] for k in ("x0", "y0", "x1", "y1")], axis=1)
    content = dets["content"].take(pa.array(od))
    didx = dets["det_idx"].astype(np.int64)[od]

    # MFR (F1) on the formula branch, once per distinct formula string
    form = np.flatnonzero(branch == 1)
    fs = content.take(pa.array(form))
    distinct = pc.unique(fs)
    memo = kernels.strings([kernels.latex_rm_whitespace(c) for c in distinct.to_pylist()])
    content = kernels.put(content, form, memo.take(pc.index_in(fs, distinct)))

    # OCR merge: regions = OCR-able layout dets (pdf2markdown.py:209) in
    # det_order; raws in det_idx (payload) order — the bubble-pass
    # tiebreak and the content join follow input order (paddle_ocr.py
    # sorted_boxes); det_order for branch 2 is score-desc, so re-sort
    regions = np.flatnonzero(
        (branch == 0) & _member(ccodes, names, schema.OCR_REGION_CLASSES)
    )
    raws = np.flatnonzero(branch == 2)
    raws = raws[np.lexsort((didx[raws], dpage[raws]))]
    tpage, tboxes, tscores, tcontents = ocr_page_arrays(
        dpage[regions], boxes[regions], dpage[form], boxes[form],
        dpage[raws], boxes[raws], score[raws], content.take(pa.array(raws)),
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
    fcode = np.r_[ccodes[model], np.full(len(tpage), names.index("text"))][fo]
    fcontent = pa.concat_arrays([content.take(pa.array(model)), tcontents]).take(pa.array(fo))

    # spans pool + block list (pdf2markdown.py:272-298): non-span dets are
    # blocks, every isolated span is also an isolate_formula block
    is_span = _member(fcode, names, _SPAN_CATS)
    iso = _member(fcode, names, ("isolated",))
    sp = np.flatnonzero(is_span)
    bl = np.flatnonzero(~is_span | iso)
    bcode = np.where(iso[bl], names.index("isolate_formula"), fcode[bl])
    bpage = fpage[bl]
    fixed = _member(bcode, names, schema.FIX_BLOCK_TYPES)
    fx = np.flatnonzero(fixed)

    # J1 fill, then A2 per filled block over its spans in pool order;
    # para[k] is block k's paragraph in ``paras``, -1 for an unfilled block
    assign = _fill_first_wins(fpage[sp], fbox[sp], bpage[fx], fbox[bl[fx]])
    took = np.flatnonzero(assign >= 0)
    so = took[np.lexsort((ford[sp[took]], assign[took]))]
    blk = fx[assign[so]]
    rows = sp[so]
    starts = kernels.run_starts(blk)
    paras = kernels.merge_para(
        starts, np.asarray(names, dtype=object)[fcode[rows]],
        fcontent.take(pa.array(rows)), fbox[rows], ford[rows],
        bcode[blk] == names.index("isolate_formula"),
    )
    para = np.full(len(bl), -1)
    para[blk[starts]] = np.arange(len(paras))

    # O1 reading order per page: ymin*3000 + xmin, untouched blocks before
    # fixed ones on ties, then list position (DESIGN §3); pages of a turn
    # in (page_no, payload) order (A4)
    tstart = np.flatnonzero(kernels.run_starts(ccode[pstart], turn[pstart]))
    pg_turn = np.repeat(np.arange(len(tstart)), np.diff(np.r_[tstart, n_pages]))
    pg_no = dets["page_no"].astype(np.int64)[o][pstart]
    pg_rank = np.empty(n_pages, dtype=np.int64)
    pg_rank[np.lexsort((pseq[pstart], pg_no, pg_turn))] = np.arange(n_pages)
    bbox = fbox[bl]
    okey = bbox[:, 1] * schema.READ_ORDER_W + bbox[:, 0]
    ro = np.lexsort((ford[bl], fixed, okey, pg_rank[bpage]))

    # A3/A4 emit in page, then reading order: each block's piece, one
    # join per page and per turn, and the spans as tuples
    bcode, bbox, para = bcode[ro], bbox[ro], para[ro]
    texts = pc.fill_null(paras.take(pa.array(para, mask=para < 0)), "")
    code = pa.array(bcode)
    pre, post = (pa.array([_PIECE.get(n, ("", ""))[i] for n in names]).take(code)
                 for i in (0, 1))
    shown = pa.array(_member(bcode, names, _PIECE))
    pieces = pc.if_else(shown, pc.binary_join_element_wise(pre, texts, post, ""), "")
    # blocks per page in output order → page bounds in the sorted list;
    # ranking keeps each turn's pages together, so turn k holds the ranks
    # tstart[k] .. tstart[k+1]-1
    pb = np.r_[0, np.cumsum(np.bincount(pg_rank[bpage], minlength=n_pages))]
    tb = np.r_[tstart, n_pages]
    out_text = kernels.join_runs(tb, kernels.join_runs(pb, pieces, ""), "\n\n")
    spans = list(zip(
        np.asarray(names, dtype=object)[bcode].tolist(), *bbox.T.tolist(),
        texts.to_numpy(zero_copy_only=False).tolist(), fscore[bl][ro].tolist(),
    ))
    tpb = pb[tb].tolist()
    out_spans = [spans[tpb[k]:tpb[k + 1]] for k in range(len(tstart))]
    first = pstart[tstart]
    return np.asarray(conv[o[first]], dtype=object), turn[first], out_text, out_spans
