"""Stage 1 — payload tokenization + deterministic detection (M1/M3/M4).

One ``mapInPandas`` pass over transcripts. Each Arrow batch is tokenized
as whole columns with ``pyarrow.compute`` (line split, prefix tests,
field split, a masked numeric cast — DESIGN.md §1), then grouped and
ordered with numpy: stable sorts bring each turn's lines and each page's
dets together, and segment boundaries come from key changes. numpy then
applies the confidence filter (P2, score > 0.25), per-(page, branch,
category) greedy NMS (M3, IoU > 0.45), the reference's layout_dets
ordering (pdf2markdown.py:143-168: layout then mfd, each
confidence-sorted), and convert_format's int-truncation/round-2 (F7/F6,
pdf2markdown.py:88-96).

No shuffle: each input row (turn) expands to its detection rows in place.
Raw OCR text detections (branch 2) pass through unconverted — the OCR
stage (ocr.py) consumes them. ``@page`` markers are emitted as branch -1
rows so empty pages still contribute to the markdown join (A4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import kernels, schema

_BRANCH = {
    **{c: 0 for c in schema.LAYOUT_CLASSES},
    **{c: 1 for c in schema.FORMULA_CLASSES},
    "text": 2,
}


def _fields(lines: pa.Array, sep: str, ks: range, max_splits=None) -> list[pa.Array]:
    """Fields ``ks`` of every line split on ``sep``; null where a line has
    fewer fields (pandas ``str.split(expand=True)`` padding)."""
    parts = pc.split_pattern(lines, sep, max_splits=max_splits)
    flat = parts.flatten()
    offsets = parts.offsets.to_numpy()
    length = np.diff(offsets)
    return [flat.take(pa.array(offsets[:-1] + k, mask=length <= k)) for k in ks]


def _to_float(cols: list[pa.Array]) -> list[np.ndarray]:
    """``pd.to_numeric(errors="coerce")`` of each string column as float64,
    null → NaN.

    pyarrow's cast is correctly rounded and rejects padded numbers;
    pandas' parser strips whitespace, is not correctly rounded past 15
    digits or with an exponent, and reads an all-integer column as int64
    (so "-0" gives +0.0). The cast therefore serves only when every value
    is a plain decimal of at most 15 characters with a finite, non-(-0.0)
    result; any other input takes pandas, column by column."""
    both = pa.concat_arrays(cols)
    try:
        vals = pc.cast(both, pa.float64()).to_numpy(zero_copy_only=False)
    except pa.ArrowInvalid:
        vals = None
    if (
        vals is not None
        and (pc.max(pc.binary_length(both)).as_py() or 0) <= 15
        and not pc.any(pc.match_substring(both, "e", ignore_case=True)).as_py()
        and not np.isinf(vals).any()
        and not (np.signbit(vals) & (vals == 0)).any()
    ):
        return np.split(vals, np.cumsum([len(c) for c in cols])[:-1])
    return [
        pd.to_numeric(
            pd.Series(c.to_numpy(zero_copy_only=False), dtype=object), errors="coerce"
        ).to_numpy(np.float64)
        for c in cols
    ]


def _parse_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Vectorized payload → detection rows for one Arrow batch: det rows
    in (conv_id, turn_idx, page_seq, det_order) order, then one ``@page``
    marker row per page in (conv_id, turn_idx, page_seq) order."""
    conv = batch["conv_id"].to_numpy(object)
    turn = batch["turn_idx"].to_numpy(np.int64)
    # turn key per row: dense code in (conv_id, turn_idx) order; rows that
    # repeat a key form one turn
    ccode = pd.factorize(conv, sort=True)[0]
    ro = np.lexsort((turn, ccode))
    tkey = np.empty(len(batch), dtype=np.int64)
    tkey[ro] = np.cumsum(kernels.run_starts(ccode[ro], turn[ro])) - 1

    src = pc.binary_join_element_wise(
        pc.fill_null(pa.array(batch["text"], type=pa.string()), ""),
        pc.fill_null(pa.array(batch["tool"], type=pa.string()), ""),
        "\n",
    )
    per_row = pc.split_pattern(src, "\n")
    lines = per_row.flatten()
    is_page = pc.starts_with(lines, "@page ").to_numpy(zero_copy_only=False)
    is_det = pc.starts_with(lines, "@det ").to_numpy(zero_copy_only=False)
    keep = np.flatnonzero(is_page | is_det)
    # payload order within each turn: (row, line) — stable sort by turn
    lrow = pc.list_parent_indices(per_row).to_numpy()[keep]
    lo = np.argsort(tkey[lrow], kind="stable")
    keep, lrow = keep[lo], lrow[lo]
    lkey = tkey[lrow]
    lpage = is_page[keep]
    # page_seq: @page lines so far in the turn; a @det before any @page is
    # ignored
    seen = np.cumsum(lpage)
    first = kernels.run_starts(lkey)
    before = (seen - lpage)[first]
    n_seen = seen - np.repeat(before, np.diff(np.r_[np.flatnonzero(first), len(keep)]))
    page_ord = seen - 1  # batch-wide ordinal of each line's current page

    pg = np.flatnonzero(lpage)
    p_no, p_w, p_h = _to_float(_fields(lines.take(pa.array(keep[pg])), " ", range(1, 4)))
    p_no = pd.Series(p_no).fillna(0).astype("int32").to_numpy()
    p_w = np.where(np.isnan(p_w), 0.0, p_w)
    p_h = np.where(np.isnan(p_h), 0.0, p_h)
    p_row = lrow[pg]
    p_seq = n_seen[pg] - 1

    dl = np.flatnonzero(~lpage & (n_seen > 0))
    fields = _fields(lines.take(pa.array(keep[dl])), "|", range(7), max_splits=6)
    score, x0, y0, x1, y1 = _to_float(fields[1:6])
    valid = ~(np.isnan(score) | np.isnan(x0) | np.isnan(y0) | np.isnan(x1) | np.isnan(y1))
    d_page = page_ord[dl]  # a det's page: the batch's page_ord-th @page line
    # det_idx: payload position among the page's well-formed dets
    v = np.flatnonzero(valid)
    det_idx = kernels.rank_in_run(kernels.run_starts(d_page[v]))

    # category → branch (0 layout, 1 mfd, 2 raw OCR text, -9 unknown);
    # field 0 still carries the "@det " prefix
    head = pc.dictionary_encode(fields[0].take(pa.array(v)))
    names = [c[5:] for c in head.dictionary.to_pylist()]
    codes = head.indices.to_numpy()
    branch = np.array([_BRANCH.get(c, -9) for c in names], dtype=np.int64)[codes]
    # P2 conf filter for model branches (raw text dets are filtered later
    # by drop_score)
    sc = score[v]
    ok = np.flatnonzero((branch == 2) | ((branch >= 0) & (sc > schema.CONF_THRES)))
    v, det_idx, codes, branch, sc = v[ok], det_idx[ok], codes[ok], branch[ok], sc[ok]
    page = d_page[v]
    boxes = np.stack([x0[v], y0[v], x1[v], y1[v]], axis=1)

    # per (page, branch, category) greedy NMS on model branches, candidates
    # by (score desc, det_idx)
    m = np.flatnonzero(branch < 2)
    m = m[np.lexsort((det_idx[m], -sc[m], codes[m], branch[m], page[m]))]
    starts = np.flatnonzero(kernels.run_starts(page[m], branch[m], codes[m]))
    size = np.diff(np.r_[starts, len(m)])
    m_boxes = boxes[m]
    alive = np.ones(len(v), dtype=bool)
    for s, n in zip(starts[size > 1].tolist(), size[size > 1].tolist()):
        kept = kernels.nms_keep(m_boxes[s:s + n], range(n), schema.IOU_THRES)
        if len(kept) < n:
            alive[m[s:s + n]] = False
            alive[m[s + kept]] = True
    if not alive.all():
        sel = np.flatnonzero(alive)
        v, det_idx, codes, branch, sc, page, boxes = (
            v[sel], det_idx[sel], codes[sel], branch[sel], sc[sel], page[sel], boxes[sel]
        )

    # reference det ordering: (branch, score desc, det_idx) per page
    o = np.lexsort((det_idx, -sc, branch, page))
    v, det_idx, codes, branch, sc, page, boxes = (
        v[o], det_idx[o], codes[o], branch[o], sc[o], page[o], boxes[o]
    )
    det_order = kernels.rank_in_run(kernels.run_starts(page))
    # convert_format on model branches: F7 int() coords, F6 round-2 score
    model = branch < 2
    boxes[model] = np.trunc(boxes[model])
    sc = np.where(model, np.round(sc, 2), sc)

    d_row = lrow[dl][v]
    n_pg = len(pg)
    cats = np.asarray(names, dtype=object)[codes]
    content = pc.fill_null(fields[6].take(pa.array(v)), "").to_numpy(zero_copy_only=False)
    return pd.DataFrame({
        "conv_id": np.concatenate([conv[d_row], conv[p_row]]),
        "turn_idx": np.r_[turn[d_row], turn[p_row]].astype(np.int32),
        "page_seq": np.r_[n_seen[dl][v] - 1, p_seq].astype(np.int32),
        "page_no": np.r_[p_no[page], p_no].astype(np.int32),
        "page_w": np.r_[p_w[page], p_w],
        "page_h": np.r_[p_h[page], p_h],
        "det_idx": np.r_[det_idx, np.full(n_pg, -1)].astype(np.int32),
        "det_order": np.r_[det_order, np.full(n_pg, -1)].astype(np.int32),
        "branch": np.r_[branch, np.full(n_pg, -1)].astype(np.int32),
        "category": np.concatenate([cats, np.full(n_pg, "@page", dtype=object)]),
        "score": np.r_[sc, np.zeros(n_pg)],
        "x0": np.r_[boxes[:, 0], np.zeros(n_pg)],
        "y0": np.r_[boxes[:, 1], np.zeros(n_pg)],
        "x1": np.r_[boxes[:, 2], np.zeros(n_pg)],
        "y1": np.r_[boxes[:, 3], np.zeros(n_pg)],
        "content": np.concatenate([content, np.full(n_pg, "", dtype=object)]),
    })


def parse_detections(transcripts: DataFrame) -> DataFrame:
    """transcripts → detections (schema.DETECTIONS). Filters non-document
    turns Catalyst-side so the UDF only sees payload rows (pushdown-friendly:
    the contains() predicate reaches the parquet scan)."""
    doc_turns = transcripts.filter(
        F.col("text").contains("@page ") | F.col("tool").contains("@page ")
    ).select("conv_id", "turn_idx", "text", "tool")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in it:
            yield _parse_batch(batch)

    return doc_turns.mapInPandas(gen, schema=schema.DETECTIONS)
