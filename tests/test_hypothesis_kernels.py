"""Property-based (hypothesis) parity: engine kernels == oracle on
generated inputs. Each example packs many segments (regions, blocks, NMS
groups, pages) into one batch-level kernel call and checks every
segment against the oracle. Pure-Python/numpy — no Spark session needed."""

from hypothesis import given, settings
from hypothesis import strategies as st

import oracle
from sparkextract import kernels
from sparkextract.ocr import ocr_page_arrays
from test_kernels import (
    by_group, nms_batch, ocr_batch, oracle_ocr, oracle_para, pack, para_batch,
)

coord = st.floats(min_value=0, max_value=2000, allow_nan=False, width=32)
# ties on x0/y0 come from a few shared values
tied = st.one_of(coord, st.sampled_from([0.0, 100.0, 104.0]))
# inverted boxes and degenerate (zero or negative) heights
side = st.one_of(st.floats(min_value=1, max_value=300, allow_nan=False),
                 st.sampled_from([0.0, -1.0, -40.0]))


@st.composite
def bboxes(draw, max_n=12):
    n = draw(st.integers(min_value=0, max_value=max_n))
    out = []
    for _ in range(n):
        x0, y0 = draw(tied), draw(tied)
        out.append([x0, y0, x0 + draw(side), y0 + draw(side)])
    return out


segments = st.lists(bboxes(), min_size=1, max_size=6)


@given(segments)
@settings(max_examples=200, deadline=None)
def test_bubble_pass_prop(groups):
    seg, starts, rows = pack(groups)
    got = rows[kernels.sort_boxes(starts, rows)]
    for k, g in enumerate(groups):
        assert got[seg == k].tolist() == oracle.sorted_boxes([list(b) for b in g])


@given(segments)
@settings(max_examples=200, deadline=None)
def test_merge_det_boxes_prop(groups):
    groups = [oracle.sorted_boxes(g) for g in groups]
    seg, starts, rows = pack(groups)
    got = by_group(groups, *kernels.merge_boxes(starts, rows))
    for k, g in enumerate(groups):
        assert got[k] == oracle.merge_det_boxes([list(b) for b in g])


@given(st.lists(st.tuples(bboxes(max_n=8), bboxes(max_n=4)), min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_update_det_boxes_prop(pairs):
    groups, masks = [p[0] for p in pairs], [p[1] for p in pairs]
    bseg, _, brows = pack(groups)
    mseg, _, mrows = pack(masks)
    seg, pieces = kernels.split_masks(bseg, brows, mseg, mrows)
    for k, (g, ms) in enumerate(pairs):
        want = oracle.update_det_boxes([list(b) for b in g], [list(m) for m in ms]) if ms else g
        assert pieces[seg == k].tolist() == want


@given(segments)
@settings(max_examples=200, deadline=None)
def test_nms_prop(groups):
    dets = [[{"idx": i, "category": "c", "score": s, "bbox": b}
             for i, (b, s) in enumerate(zip(g, [0.3, 0.9, 0.5, 0.9] * 3))] for g in groups]
    starts, boxes, idx, gid = nms_batch(dets)
    keep = kernels.nms_keep(starts, boxes, 0.45)
    for k, d in enumerate(dets):
        want = [x["idx"] for x in oracle.nms([dict(x) for x in d])]
        assert idx[keep & (gid == k)].tolist() == want


span_type = st.sampled_from(["text", "inline", "isolated", "footnote", "ignore-formula"])
content = st.text(
    alphabet=st.one_of(
        st.characters(codec="utf-8", categories=("L", "N", "P", "S", "Z"),
                      max_codepoint=0x9FFF),
        # whitespace str.strip() removes beyond ASCII, and markup chars
        st.sampled_from(["\x1c", "\x85", "\xa0", "\u2003", "\u2028", "\u3000",
                         "\t", "$", "^", "*", "词"]),
    ),
    max_size=20,
)


@st.composite
def spans(draw, max_n=10):
    n = draw(st.integers(min_value=1, max_value=max_n))
    out = []
    for _ in range(n):
        x0 = draw(tied)
        y0 = draw(st.sampled_from([100.0, 104.0, 140.0, 141.0, 180.0]))
        out.append(
            {
                "type": draw(span_type),
                "bbox": [x0, y0, x0 + draw(st.floats(1, 200, allow_nan=False)),
                         y0 + draw(st.sampled_from([20.0, 25.0, 30.0, 0.0, -5.0]))],
                "content": draw(content),
            }
        )
    return out


@given(st.lists(st.tuples(spans(), st.booleans()), min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_merge_para_prop(blocks):
    got = kernels.merge_para(
        *para_batch([b for b, _ in blocks], [i for _, i in blocks])).to_pylist()
    assert got == [oracle_para(sp, interline) for sp, interline in blocks]


# OCR pages: int regions and masks (the engine's F7-truncated coords), raws
# on a half-unit grid so both crop-shift associations are exact
grid = st.integers(min_value=0, max_value=400)


@st.composite
def int_box(draw, inverted=False):
    x0, y0 = draw(grid), draw(grid)
    lo = -30 if inverted else 0
    return [x0, y0, x0 + draw(st.integers(lo, 300)), y0 + draw(st.integers(lo, 60))]


@st.composite
def raw_det(draw):
    x0, y0 = draw(grid) / 2, draw(grid) / 2
    box = [x0, y0, x0 + draw(st.integers(-20, 300)) / 2,
           y0 + draw(st.sampled_from([-1, 0, 10, 20, 21, 40]))]
    return box, draw(st.floats(0.0, 1.0)), draw(st.sampled_from(["a", "b*", "词", ""]))


@st.composite
def ocr_page(draw):
    return (
        draw(st.lists(int_box(), max_size=3)),
        draw(st.lists(int_box(inverted=True), max_size=3)),
        draw(st.lists(raw_det(), max_size=14)),
    )


@given(st.lists(ocr_page(), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_ocr_page_arrays_prop(pages):
    page, boxes, scores, contents = ocr_page_arrays(*ocr_batch(pages), use_angle_cls=False)
    got = list(zip(page.tolist(), boxes.tolist(), scores, contents.to_pylist()))
    assert got == oracle_ocr(pages)


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_latex_and_escape_prop(s):
    assert kernels.latex_rm_whitespace(s) == oracle.latex_rm_whitespace(s)
    col = kernels.strings([s])
    assert kernels.md_escape(col).to_pylist() == [oracle.md_escape(s)]
    assert ("zh" if kernels.is_zh(col)[0] else "en") == oracle.detect_lang(s)


@given(st.lists(st.text(max_size=30), max_size=8))
@settings(max_examples=200, deadline=None)
def test_angle_cls_prop(contents):
    from sparkextract.ocr import angle_cls

    got = angle_cls(contents).to_pylist()
    for raw, out in zip(contents, got):
        assert out == oracle.angle_cls(raw)
        if not raw.startswith("@rot180 "):
            assert out == raw
