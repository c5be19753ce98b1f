"""Kernels used inside the Arrow-batched UDFs.

Every kernel runs over a whole batch at once. Rows carry a segment (a
page, an OCR region, a merged box, a block or an NMS group), segments
are contiguous, and a bool ``starts`` array (or a non-decreasing segment
id) marks where each begins. The reference's sequential folds (SURVEY.md
§7.5) reduce to segment-wise numpy passes (DESIGN.md §3):
- a fold that only looks at its predecessor (line sessionization, the
  x-touch and interval unions) is one adjacent-pair compare, with a
  segmented running max where the fold carries an envelope;
- a fold with real carried state (greedy NMS, the J2 subtraction's
  running ``lo``, the score's left-to-right sum) is a loop over rank in
  segment: one numpy step per rank, up to the largest segment;
- the O2 bubble pass runs as a Python fold, but only on the segments
  where one vectorized test finds a swap candidate.

The segment helpers (``run_starts``, ``rank_in_run``, and ``page_pairs``,
the chunked per-segment cross product) serve the batch-wide steps too:
page/det ordering, OCR containment, the J1 fill.

String work runs as pyarrow.compute over whole string columns: the F2
CJK test and F3 escape, the A2 piece templates with ``str.strip()`` as
a trim over ``WHITESPACE``, and every per-segment ``"".join`` as one
list join (``join_runs``). Only the F1 fixpoint stays a Python regex
loop, run once per distinct formula string by its caller.

Semantics are pinned in DESIGN.md with reference file:line citations.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# ---------- string kernels ----------

_PROT = re.compile(r"(\\(operatorname|mathrm|text|mathbf)\s?\*? {.*?})")
_R1 = re.compile(r"(?!\\ )([\W_^\d])\s+?([\W_^\d])")
_R2 = re.compile(r"(?!\\ )([\W_^\d])\s+?([a-zA-Z])")
_R3 = re.compile(r"([a-zA-Z])\s+?([\W_^\d])")


def latex_rm_whitespace(s: str) -> str:
    """F1 (pdf2markdown.py:23-39): fixpoint whitespace removal."""
    keep = [m[0].replace(" ", "") for m in _PROT.findall(s)]
    s = _PROT.sub(lambda _m: str(keep.pop(0)), s)
    prev = None
    while prev != s:
        prev = s
        s = _R3.sub(r"\1\2", _R2.sub(r"\1\2", _R1.sub(r"\1\2", prev)))
    return prev


def md_escape(c: pa.Array) -> pa.Array:
    """F3 (merge_blocks_and_spans.py:207-215) over a string column."""
    for ch in ("*", "`", "~", "$"):
        c = pc.replace_substring(c, ch, "\\" + ch)
    return c


def is_zh(c: pa.Array) -> np.ndarray:
    """F2 (merge_blocks_and_spans.py:195-205) over a string column: bool
    per row, the row has a CJK character."""
    return pc.match_substring_regex(c, "[一-鿿]").to_numpy(zero_copy_only=False)


def strings(values) -> pa.Array:
    """A list, numpy object array or pyarrow array of str as a pyarrow
    string array."""
    return values if isinstance(values, pa.Array) else pa.array(values, pa.string())


def put(values: pa.Array, rows: np.ndarray, new: pa.Array) -> pa.Array:
    """``values`` with ``values[rows] = new``."""
    idx = np.arange(len(values))
    idx[rows] = len(values) + np.arange(len(rows))
    return pa.concat_arrays([values, new]).take(pa.array(idx))


def join_runs(bounds: np.ndarray, values: pa.Array, sep: str) -> pa.Array:
    """``sep.join`` of each run of ``values``: run k is rows
    [bounds[k], bounds[k+1])."""
    lists = pa.ListArray.from_arrays(pa.array(bounds, pa.int32()), values)
    return pc.binary_join(lists, sep)


# ---------- segments (batch-wide geometry) ----------

def run_starts(*keys: np.ndarray) -> np.ndarray:
    """Bool per row: the row starts a run of equal consecutive key tuples."""
    change = np.zeros(len(keys[0]), dtype=bool)
    change[:1] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    return change


def rank_in_run(starts: np.ndarray) -> np.ndarray:
    """Position of each row within its run (a segment-wise cumcount)."""
    idx = np.arange(len(starts))
    return idx - np.maximum.accumulate(np.where(starts, idx, 0))


PAIR_CHUNK = 1 << 16  # pairs per chunk: bounds memory by chunk, not by page²


def page_pairs(a_page: np.ndarray, b_page: np.ndarray):
    """Yield (a, b) index arrays of every pair of an a-row and a b-row on
    the same page, a-major and b in input order. ``a_page``/``b_page`` are
    the rows' non-decreasing page ids. Chunks split between a-rows and
    hold at most ``PAIR_CHUNK`` pairs, or one a-row's pairs if it has
    more."""
    if len(a_page) == 0 or len(b_page) == 0:
        return
    chunk = PAIR_CHUNK
    n_pages = int(max(a_page[-1], b_page[-1])) + 1
    b_count = np.bincount(b_page, minlength=n_pages)
    b_start = np.cumsum(b_count) - b_count
    reps = b_count[a_page]
    ends = np.cumsum(reps)
    lo = 0
    while lo < len(a_page):
        base = int(ends[lo - 1]) if lo else 0
        hi = max(int(np.searchsorted(ends, base + chunk, side="right")), lo + 1)
        r = reps[lo:hi]
        a = np.repeat(np.arange(lo, hi), r)
        first = np.repeat(ends[lo:hi] - r - base, r)
        b = np.arange(len(a)) - first + np.repeat(b_start[a_page[lo:hi]], r)
        yield a, b
        lo = hi


def pairs_where(a_page: np.ndarray, b_page: np.ndarray, test):
    """(a, b) index arrays of the same-page pairs for which ``test(a, b)``
    (a bool array over one ``page_pairs`` chunk) holds; a-major, b in
    input order."""
    pa, pb = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for a, b in page_pairs(a_page, b_page):
        hit = test(a, b)
        pa.append(a[hit])
        pb.append(b[hit])
    return np.concatenate(pa), np.concatenate(pb)


def rank_steps(starts: np.ndarray) -> list[np.ndarray]:
    """Row positions by rank in run: element ``r`` holds every row that is
    the ``r``-th of its run. Drives the loops over rank that stand in
    for per-segment folds, one numpy step per rank."""
    rank = rank_in_run(starts)
    order = np.argsort(rank, kind="stable")
    return np.split(order, np.cumsum(np.bincount(rank))[:-1])


def run_sum(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Left-to-right float sum of each run, one per run. Bit-equal to a
    Python ``+=`` loop; ``np.add.reduceat`` sums pairwise past 8 terms."""
    run = np.cumsum(starts) - 1
    out = np.zeros(int(starts.sum()))
    for i in rank_steps(starts):
        out[run[i]] += values[i]
    return out


def islands(starts: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Bool per row: the row opens a new island of its segment. Rows are
    sorted by ``lo`` within each segment; an island grows while its
    running max of ``hi`` reaches the next ``lo`` — the union fold of O5
    and O6, whose envelope hi is that running max. The segment's running
    max serves as well as the island's: every earlier island's max is
    below a ``lo`` at or before this row. The running max is segmented
    (a global ``np.maximum.accumulate`` would carry across segments)."""
    top = hi.copy()
    for i in rank_steps(starts)[1:]:
        top[i] = np.maximum(top[i - 1], hi[i])
    new = starts.copy()
    new[1:] |= ~(top[:-1] >= lo[1:])
    return new


def _ends(starts: np.ndarray) -> list[int]:
    """Run bounds as a Python list: run k is rows [b[k], b[k+1])."""
    return np.r_[np.flatnonzero(starts), len(starts)].tolist()


# ---------- geometry kernels ----------

def y_overlaps(a: np.ndarray, b: np.ndarray, thr: float = 0.8) -> np.ndarray:
    """F8 (paddle_ocr.py:81-91 / merge_blocks_and_spans.py:7-17) on row
    pairs of two (n,4) [x0,y0,x1,y1] arrays. Pinned contract (DESIGN §3):
    min box height <= 0 → no overlap (the reference would
    ZeroDivisionError; tests/oracle.py pins the same guard)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        ov = np.minimum(a[:, 3], b[:, 3]) - np.maximum(a[:, 1], b[:, 1])
        ov = np.where(ov < 0.0, 0.0, ov)
        den = np.minimum(a[:, 3] - a[:, 1], b[:, 3] - b[:, 1])
        return (den > 0) & (ov / den > thr)


def nms_keep(starts: np.ndarray, boxes: np.ndarray, iou_thres: float) -> np.ndarray:
    """M3 greedy NMS for every group at once (layout_detection/models/
    yolo.py:74-80 semantics). Rows come grouped, each group's candidates
    in (score DESC, det_idx ASC) order; a candidate is suppressed when its
    IoU with a kept earlier candidate exceeds ``iou_thres``. → bool keep
    per row. A loop over rank in group: step ``r`` tests every group's
    ``r``-th candidate against its ``r`` predecessors."""
    keep = np.ones(len(boxes), dtype=bool)
    x0, y0, x1, y1 = boxes.T
    with np.errstate(invalid="ignore", divide="ignore"):
        area = (x1 - x0) * (y1 - y0)
        for r, i in enumerate(rank_steps(starts)[1:], start=1):
            c = np.repeat(i, r)
            k = np.repeat(i - r, r) + np.tile(np.arange(r), len(i))
            iw = np.minimum(x1[c], x1[k]) - np.maximum(x0[c], x0[k])
            ih = np.minimum(y1[c], y1[k]) - np.maximum(y0[c], y0[k])
            inter = np.where(iw > 0, iw, 0.0) * np.where(ih > 0, ih, 0.0)
            union = area[c] + area[k] - inter
            iou = np.where(union > 0, inter / union, 0.0)
            hit = (iou > iou_thres) & keep[k]
            keep[i] = ~hit.reshape(len(i), r).any(axis=1)
    return keep


def bubble_pass(rows: list) -> list[int]:
    """O2's 10px adjacent-swap pass (paddle_ocr.py:66-78) over one
    segment's [x0,y0,x1,y1] rows, already in stable (y0, x0) order;
    returns the new row order as indices."""
    n = len(rows)
    idx = list(range(n))
    for i in range(n - 1):
        for j in range(i, -1, -1):
            a, b = idx[j], idx[j + 1]
            if abs(rows[b][1] - rows[a][1]) < 10 and rows[b][0] < rows[a][0]:
                idx[j], idx[j + 1] = b, a
            else:
                break
    return idx


def sort_boxes(starts: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """O2 (paddle_ocr.py:57-78) for every segment: the stable (y0, x0)
    sort (input order breaks ties), then ``bubble_pass`` on just the
    segments with a swap candidate — an adjacent pair with |Δy0| < 10 and
    x0 below its predecessor's. Without one the pass swaps nothing.
    → row order."""
    seg = np.cumsum(starts) - 1
    o = np.lexsort((boxes[:, 0], boxes[:, 1], seg))
    b = boxes[o]
    with np.errstate(invalid="ignore"):
        cand = (np.abs(b[1:, 1] - b[:-1, 1]) < 10) & (b[1:, 0] < b[:-1, 0])
    cand &= ~starts[1:]
    if cand.any():
        ends = _ends(starts)
        for k in np.unique(seg[1:][cand]).tolist():
            s, e = ends[k], ends[k + 1]
            o[s:e] = o[s:e][bubble_pass(b[s:e].tolist())]
    return o


def merge_boxes(starts: np.ndarray, boxes: np.ndarray):
    """O7 (paddle_ocr.py:250-289) for every segment: y-sessionize into
    lines (O3), then union x-touching boxes per line (O6). Rows come
    grouped by segment, each in bubble order. → (segment id, envelope
    [x0,y0,x1,y1]) of each merged box, in emission order.

    O3: after a stable y0 sort a line breaks where a box does not
    y-overlap its predecessor (the fold compares with ``lines[-1][-1]``).
    O6: after a stable x0 sort per line a run breaks where the line's
    running max of x1 is below the next x0 — the fold's envelope x1 —
    which holds for inverted boxes too (``islands``)."""
    seg = np.cumsum(starts) - 1
    b = boxes[np.lexsort((boxes[:, 1], seg))]
    line_start = starts.copy()
    line_start[1:] |= ~y_overlaps(b[1:], b[:-1])
    b = b[np.lexsort((b[:, 0], np.cumsum(line_start)))]
    r = np.flatnonzero(islands(line_start, b[:, 0], b[:, 2]))
    env = np.stack([
        np.minimum.reduceat(b[:, 0], r), np.minimum.reduceat(b[:, 1], r),
        np.maximum.reduceat(b[:, 2], r), np.maximum.reduceat(b[:, 3], r),
    ], axis=1)
    return seg[r], env


def split_masks(box_seg: np.ndarray, boxes: np.ndarray,
                mask_seg: np.ndarray, masks: np.ndarray):
    """J2 (paddle_ocr.py:108-172) for every segment: subtract from each
    box the x-intervals of the segment's formula masks that y-overlap it.
    ``box_seg``/``mask_seg`` are non-decreasing segment ids, masks in
    mask order per segment. → (segment id, box) of each piece, in box
    then piece order.

    Per box the masks sort by (x0, mask order) and merge with the running
    max rule (O5); each merged interval, unless it misses [lo, hi],
    emits (lo, m0-1) when lo < m0 and lifts lo to max(m1+1, lo); the tail
    (lo, hi) is kept when lo <= hi. Boxes of a segment without masks pass
    through unchanged, inverted ones too; in a segment with masks an
    inverted box (x0 > x1) leaves nothing."""
    masked = np.isin(box_seg, mask_seg)
    a, b = pairs_where(
        box_seg, mask_seg, lambda a, b: y_overlaps(boxes[a], masks[b])
    )
    m0, m1 = masks[b, 0], masks[b, 2]
    o = np.lexsort((b, m0, a))
    a, m0, m1 = a[o], m0[o], m1[o]
    # O5: interval union per box
    g = np.flatnonzero(islands(run_starts(a), m0, m1))
    gbox, g0, g1 = a[g], m0[g], np.maximum.reduceat(m1, g)
    # subtraction: a loop over the rank of the merged interval in its box
    lo, hi = boxes[:, 0].copy(), boxes[:, 2]
    out_box, out_lo, out_hi = [], [], []
    for i in rank_steps(run_starts(gbox)):
        k, i0, i1 = gbox[i], g0[i], g1[i]
        live = ~((i0 > hi[k]) | (i1 < lo[k]))
        cut = live & (lo[k] < i0)
        out_box.append(k[cut])
        out_lo.append(lo[k][cut])
        out_hi.append(i0[cut] - 1)
        lo[k] = np.where(live, np.maximum(i1 + 1, lo[k]), lo[k])
    tail = ~masked | (lo <= hi)
    out_box.append(np.flatnonzero(tail))
    out_lo.append(lo[tail])
    out_hi.append(hi[tail])
    # pieces were made rank by rank, tails last: a stable sort by box
    # puts each box's pieces in emission order
    k = np.concatenate(out_box)
    o = np.argsort(k, kind="stable")
    k = k[o]
    piece = boxes[k].copy()
    piece[:, 0] = np.concatenate(out_lo)[o]
    piece[:, 2] = np.concatenate(out_hi)[o]
    return box_seg[k], piece


# ---------- paragraph assembly (A2) ----------

_TEXT, _INLINE, _ISOLATED, _FOOTNOTE = 1, 2, 3, 4
_TYPE_CODE = {"text": _TEXT, "inline": _INLINE, "ignore-formula": _INLINE,
              "isolated": _ISOLATED, "footnote": _FOOTNOTE}
# the code points for which str.isspace() holds: str.strip()'s trim set
WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002"
    "\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f"
    "\u205f\u3000"
)
_NONE = pa.scalar(None, pa.string())


def _text(c):
    # '' renders nothing: no piece and no trailing space
    return pc.if_else(pc.equal(pc.binary_length(c), 0), _NONE,
                      pc.utf8_trim(md_escape(c), WHITESPACE))


def _inline(c):
    return pc.binary_join_element_wise("$", pc.utf8_trim(c, "$"), "$", "")


def _isolated(c):
    return pc.binary_join_element_wise("$$\n", pc.utf8_trim(c, "$"), "\n$$", "")


def _footnote(c):
    body = pc.utf8_trim(c, "$")
    return pc.if_else(pc.match_substring(body, "^"),
                      pc.binary_join_element_wise("$", body, "$", ""),
                      pc.binary_join_element_wise("$^", body, "$", ""))


# A2 piece templates (merge_blocks_and_spans.py:245-262) with the
# reference's str.strip() applied; other types render nothing (null)
_RENDER = {_TEXT: _text, _INLINE: _inline, _ISOLATED: _isolated, _FOOTNOTE: _footnote}


def _pieces(t: np.ndarray, c: pa.Array) -> pa.Array:
    """Stripped A2 piece of every span, null for none; each template runs
    over its own rows only."""
    piece = pa.nulls(len(t), pa.string())
    for k, render in _RENDER.items():
        i = np.flatnonzero(t == k)
        piece = put(piece, i, render(c.take(pa.array(i))))
    return piece


def merge_para(starts: np.ndarray, types, contents, boxes: np.ndarray,
               pool_order: np.ndarray, interline: np.ndarray) -> pa.Array:
    """O3 + O4 + A2 for every block at once (merge_blocks_and_spans.py:
    19-88,228-268) → one paragraph string per block, in block order.

    Rows (spans) come grouped by block, ``starts`` marking each block's
    first; ``pool_order`` is the span-pool position standing in for
    Python list order (the stable-sort tiebreak, SURVEY.md §7.5);
    ``interline`` is per row, true for an isolate_formula block's spans.
    A line breaks where a span does not y-overlap its predecessor in
    (y0, pool order), or where it or its predecessor is ``isolated`` (an
    isolated span always sits alone in its line). A line is zh when any
    of its text spans has a CJK character.

    The string work is pyarrow.compute over the whole span column: the
    piece templates, str.strip() as a trim over ``WHITESPACE``, the
    zh-line space rule, and one join per block."""
    codes, uniq = pd.factorize(np.asarray(types, dtype=object))
    t = np.array([_TYPE_CODE.get(u, 0) for u in uniq], dtype=np.int64)[codes]
    t[(t == _ISOLATED) & ~interline] = _INLINE  # fix_text_block (:71-80)
    blk = np.cumsum(starts)
    yo = np.lexsort((pool_order, boxes[:, 1], blk))
    t, b = t[yo], boxes[yo]
    iso = t == _ISOLATED
    line_start = starts.copy()
    line_start[1:] |= iso[1:] | iso[:-1] | ~y_overlaps(b[1:], b[:-1])
    line = np.cumsum(line_start) - 1
    xo = np.lexsort((b[:, 0], line))  # O4: stable x0 sort over y order
    t = t[xo]
    c = strings(contents).take(pa.array(yo[xo]))
    cjk = (t == _TEXT) & is_zh(c)
    zh = np.logical_or.reduceat(cjk, np.flatnonzero(line_start))[line]
    piece = _pieces(t, c)
    spaced = pc.binary_join_element_wise(piece, "", " ")
    piece = pc.fill_null(pc.if_else(pa.array(zh), piece, spaced), "")
    return join_runs(np.r_[np.flatnonzero(starts), len(t)], piece, "")
