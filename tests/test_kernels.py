"""Kernel ↔ oracle parity on the batch-level folds (no Spark).

The engine kernels (sparkextract/kernels.py, segment-wise numpy over a
whole batch) and the oracle (tests/oracle.py, row-at-a-time) are
independent implementations of the same cited reference semantics. Each
test packs many segments (regions, blocks, NMS groups, pages) into one
kernel call and checks every segment against the oracle, on handcrafted
edge cases and seeded random boxes.
"""

import random
import struct

import numpy as np
import pandas as pd

import oracle
from sparkextract import fused, kernels, schema
from sparkextract.ocr import _round2, ocr_page_arrays


def rand_boxes(rng, n, w=1000, h=1000, min_side=5, max_side=120):
    out = []
    for _ in range(n):
        x0 = rng.uniform(0, w)
        y0 = rng.uniform(0, h)
        out.append([x0, y0, x0 + rng.uniform(min_side, max_side),
                    y0 + rng.uniform(min_side, max_side)])
    return out


def odd_boxes(rng, n):
    """Boxes on a coarse grid: tied x0/y0, inverted (x0 > x1), zero and
    negative heights."""
    out = []
    for _ in range(n):
        x0 = rng.choice([0.0, 40.0, 100.0, 105.0, rng.uniform(0, 300)])
        y0 = rng.choice([10.0, 14.0, 30.0, rng.uniform(0, 60)])
        w = rng.choice([-30.0, 0.0, 5.0, 60.0, rng.uniform(-50, 200)])
        h = rng.choice([-5.0, 0.0, 20.0, 25.0, rng.uniform(1, 40)])
        out.append([x0, y0, x0 + w, y0 + h])
    return out


def pack(groups):
    """Per-segment row lists → (group id per row, starts, (n,4) rows)."""
    seg = np.repeat(np.arange(len(groups)), [len(g) for g in groups])
    rows = np.array([r for g in groups for r in g], dtype=float).reshape(-1, 4)
    return seg, kernels.run_starts(seg), rows


def by_group(groups, dense_seg, rows):
    """Kernel output keyed by dense segment id (non-empty segments only)
    → one row list per group."""
    nonempty = [i for i, g in enumerate(groups) if g]
    out = [[] for _ in groups]
    for s, r in zip(dense_seg.tolist(), rows.tolist()):
        out[nonempty[s]].append(r)
    return out


def test_latex_rm_whitespace_samples():
    samples = [
        "E = m c ^ { 2 }",
        "\\sum _ { i = 0 } ^ { n } x _ i",
        "\\mathrm { d } x \\, / \\mathrm { d } t",
        "\\operatorname {argmax} _ x f ( x )",
        "a  +  b",
        "x \\ y  z",
        "\\text {hello world} + 1",
        "\\mathbf {A B} \\mathrm {cd}  + 2",
        "",
        "   ",
        "a b c",
    ]
    for s in samples:
        assert kernels.latex_rm_whitespace(s) == oracle.latex_rm_whitespace(s), s


def test_md_escape_and_lang():
    cases = ["a*b `c` ~d~ $e$", "plain", "混合 mixed 文本", ""]
    col = kernels.strings(cases)
    assert kernels.md_escape(col).to_pylist() == [oracle.md_escape(s) for s in cases]
    zh = kernels.is_zh(col)
    assert [("zh" if z else "en") for z in zh] == [oracle.detect_lang(s) for s in cases]


def test_sorted_boxes_bubble():
    rng = random.Random(1)
    groups = []
    for _ in range(120):
        boxes = rand_boxes(rng, rng.randint(0, 15))
        # inject near-ties (dy < 10) to exercise the bubble pass
        if boxes and rng.random() < 0.8:
            b = list(boxes[0])
            boxes.append([b[0] - 50, b[1] + rng.uniform(0, 9), b[2] - 50, b[3]])
        groups.append(boxes + odd_boxes(rng, rng.randint(0, 3)))
    seg, starts, rows = pack(groups)
    got = rows[kernels.sort_boxes(starts, rows)]
    for k, g in enumerate(groups):
        assert got[seg == k].tolist() == oracle.sorted_boxes([list(b) for b in g]), k


def test_merge_det_boxes():
    rng = random.Random(2)
    groups = [
        oracle.sorted_boxes(rand_boxes(rng, rng.randint(0, 20), max_side=200)
                            + odd_boxes(rng, rng.randint(0, 6)))
        for _ in range(120)
    ]
    seg, starts, rows = pack(groups)
    got = by_group(groups, *kernels.merge_boxes(starts, rows))
    for k, g in enumerate(groups):
        assert got[k] == oracle.merge_det_boxes([list(b) for b in g]), k


def test_update_det_boxes():
    rng = random.Random(3)
    groups, masks = [], []
    for _ in range(120):
        groups.append(rand_boxes(rng, rng.randint(1, 10), max_side=300)
                      + odd_boxes(rng, rng.randint(0, 3)))
        ms = rand_boxes(rng, rng.randint(0, 5), max_side=80)
        if ms and rng.random() < 0.5:  # an inverted mask tied on x0
            m = ms[0]
            ms.append([m[0], m[1], m[0] - rng.choice([1, 30]), m[3]])
        masks.append(ms)
    bseg, _, brows = pack(groups)
    mseg, _, mrows = pack(masks)
    seg, pieces = kernels.split_masks(bseg, brows, mseg, mrows)
    for k, (g, ms) in enumerate(zip(groups, masks)):
        want = oracle.update_det_boxes([list(b) for b in g], [list(m) for m in ms]) if ms else g
        assert pieces[seg == k].tolist() == want, k


def test_merge_intervals_remove():
    """O5 merge + interval subtraction on one box per segment, every mask
    y-overlapping it; inverted intervals share x0 with a neighbour."""
    rng = random.Random(4)
    lo, hi = 10.0, 90.0
    intervals = []
    for _ in range(300):
        iv = [[a := float(rng.randint(0, 100)), a + rng.choice([-20, -1, 1, 5, 30])]
              for _ in range(rng.randint(0, 6))]
        intervals.append(iv)
    bseg = np.arange(len(intervals))
    boxes = np.tile([lo, 0.0, hi, 10.0], (len(intervals), 1))
    mseg, _, mrows = pack([[[m0, 0.0, m1, 10.0] for m0, m1 in iv] for iv in intervals])
    seg, pieces = kernels.split_masks(bseg, boxes, mseg, mrows)
    for k, iv in enumerate(intervals):
        got = pieces[seg == k][:, [0, 2]].tolist()
        want = oracle.remove_intervals([lo, hi], [list(m) for m in iv]) if iv else [[lo, hi]]
        assert got == want, (k, iv)


def rand_block(rng, n):
    spans = []
    for _ in range(n):
        t = rng.choices(
            ["text", "inline", "isolated", "footnote", "ignore-formula"],
            weights=[60, 15, 10, 10, 5],
        )[0]
        x0 = rng.choice([rng.uniform(0, 800), 100.0])  # ties on x0
        y0 = rng.choice([100, 103, 140, 180, 181])  # force y-overlap clusters
        c = rng.choice(
            ["hello *world*", "数据 引擎", "$x+y$", "a `b` c", "  pad  ", "",
             "x^2", "$$a^b$$", "2", "　全角　", "\xa0nbsp ", "  "]
        )
        h = rng.choice([20, 25, 30, 0, -4])  # zero/negative: no y-overlap
        spans.append({"type": t, "bbox": [x0, y0, x0 + rng.uniform(10, 200), y0 + h],
                      "content": c})
    return spans


def para_batch(blocks, interline):
    """Blocks of oracle-style spans → merge_para arguments."""
    blk = np.repeat(np.arange(len(blocks)), [len(b) for b in blocks])
    spans = [s for b in blocks for s in b]
    return (
        kernels.run_starts(blk),
        [s["type"] for s in spans],
        [s["content"] for s in spans],
        np.array([s["bbox"] for s in spans], dtype=float).reshape(-1, 4),
        np.arange(len(spans)),
        np.asarray(interline, dtype=bool)[blk],
    )


def oracle_para(spans, interline):
    blk = {"type": "isolate_formula" if interline else "plain text",
           "spans": [dict(s, bbox=list(s["bbox"])) for s in spans]}
    return oracle.merge_para_with_text(oracle.fix_block(blk))


def test_merge_para_parity():
    rng = random.Random(5)
    blocks = [rand_block(rng, rng.randint(1, 12)) for _ in range(300)]
    interline = [rng.random() < 0.3 for _ in blocks]
    got = kernels.merge_para(*para_batch(blocks, interline)).to_pylist()
    assert len(got) == len(blocks)
    for k, (spans, il) in enumerate(zip(blocks, interline)):
        assert got[k] == oracle_para(spans, il), k


def nms_batch(groups):
    """Groups of oracle-style dets → (starts, boxes) in (score desc, idx)
    candidate order, and the candidate idx per row."""
    rows, idx, gid = [], [], []
    for k, dets in enumerate(groups):
        for d in sorted(dets, key=lambda d: (-d["score"], d["idx"])):
            rows.append(d["bbox"])
            idx.append(d["idx"])
            gid.append(k)
    boxes = np.array(rows, dtype=float).reshape(-1, 4)
    return kernels.run_starts(np.array(gid, dtype=np.int64)), boxes, np.array(idx), np.array(gid)


def test_nms_parity():
    rng = random.Random(6)
    groups = []
    for _ in range(150):
        boxes = rand_boxes(rng, rng.randint(0, 12), w=300, h=300, max_side=150)
        if boxes and rng.random() < 0.3:
            boxes.append(list(boxes[0]))  # identical box
        groups.append([{"idx": i, "category": "c", "score": round(rng.uniform(0.26, 0.99), 2),
                        "bbox": b} for i, b in enumerate(boxes)])
    starts, boxes, idx, gid = nms_batch(groups)
    keep = kernels.nms_keep(starts, boxes, 0.45)
    for k, dets in enumerate(groups):
        want = [d["idx"] for d in oracle.nms([dict(d) for d in dets])]
        assert idx[keep & (gid == k)].tolist() == want, k


def ocr_batch(pages):
    """Pages of (regions, masks, raws) → ocr_page_arrays arguments; raws
    are (bbox, score, content)."""
    def col(part):
        page = np.repeat(np.arange(len(pages)), [len(p[part]) for p in pages])
        return page, [r for p in pages for r in p[part]]

    rp, regions = col(0)
    mp, masks = col(1)
    wp, raws = col(2)
    box = lambda rows: np.array(rows, dtype=float).reshape(-1, 4)  # noqa: E731
    return (rp, box(regions), mp, box(masks), wp, box([r[0] for r in raws]),
            np.array([r[1] for r in raws], dtype=float), [r[2] for r in raws])


def oracle_ocr(pages):
    out = []
    for p, (regions, masks, raws) in enumerate(pages):
        dets = [{"idx": i, "bbox": list(b), "score": s, "content": c}
                for i, (b, s, c) in enumerate(raws)]
        for reg in regions:
            for d in oracle.ocr_region(reg, dets, masks):
                out.append((p, d["bbox"], d["score"], d["content"]))
    return out


def check_ocr(pages):
    page, boxes, scores, contents = ocr_page_arrays(*ocr_batch(pages), use_angle_cls=False)
    got = list(zip(page.tolist(), boxes.tolist(), scores, contents.to_pylist()))
    assert got == oracle_ocr(pages)


def test_ocr_page_arrays_parity():
    """Whole OCR layer over many pages: regions, masks (inverted ones tied
    on x0), raws on a half-unit grid (exact in both crop-shift
    associations), and lines of more than 8 touching raws whose score
    sum depends on summation order."""
    rng = random.Random(7)
    pages = []
    for _ in range(60):
        regions = []
        for _ in range(rng.randint(0, 4)):
            x, y = rng.randrange(0, 400), rng.randrange(0, 400)
            regions.append([x, y, x + rng.randrange(0, 300), y + rng.randrange(0, 200)])
        masks = []
        for _ in range(rng.randint(0, 3)):
            x, y = rng.randrange(0, 600), rng.randrange(0, 500)
            masks.append([x, y, x + rng.choice([-20, 0, 15, 60]), y + rng.choice([0, 20, 30])])
            if rng.random() < 0.3:
                masks.append([x, y, x - 5, y + 20])
        raws = []
        for _ in range(rng.randint(0, 14)):
            x, y = rng.randrange(0, 1200) / 2, rng.randrange(0, 1000) / 2
            raws.append(([x, y, x + rng.randrange(-20, 300) / 2, y + rng.choice([-1, 0, 10, 20, 21])],
                         rng.random(), rng.choice(["a", "b*", "词", ""])))
        if regions and rng.random() < 0.5:  # a long touching line in region 0
            x0, y0 = regions[0][0] + 1.5, regions[0][1] + 2.0
            for j in range(rng.randint(9, 14)):
                raws.append(([x0 + 10 * j, y0, x0 + 10 * j + 12, y0 + 20],
                             rng.uniform(0.4, 1.0), f"w{j}"))
        pages.append((regions, masks, raws))
    # summation-order traps: left to right these scores average to 0.625
    # and 0.575; a pairwise sum lands one ulp higher and rounds up
    for scores in ([0.3, 0.7, 0.95, 0.9, 0.7, 0.95, 0.7, 0.85, 0.65, 0.1, 0.35, 0.45, 0.85, 0.3],
                   [0.45, 0.55, 0.9, 0.65, 0.05, 0.05, 0.95, 0.85, 0.35, 0.95]):
        raws = [([10.0 + 10 * j, 20.0, 22.0 + 10 * j, 40.0], s, f"w{j}")
                for j, s in enumerate(scores)]
        pages.append(([[0, 0, 400, 100]], [], raws))
    # round(0.765, 2) is 0.77 (correctly rounded); np.round gives 0.76
    pages.append(([[0, 0, 400, 100]], [], [([10.0, 20.0, 30.0, 40.0], 0.765, "r")]))
    check_ocr(pages)


def test_ocr_score_rounding_equals_python_round():
    """OCR span scores round in numpy except near a half-way point; the
    result must still be ``round(s, 2)`` to the bit (sign of zero and NaN
    included): random scores of every sign and scale, every k/200 and
    its neighbouring doubles, 0.765, ±inf, NaN and 1e300 — directly and
    through ``ocr_page_arrays`` (one raw per region, so each span's score
    is its raw score)."""
    rng = np.random.default_rng(11)
    k = np.arange(-400, 401) / 200
    scores = np.concatenate([
        rng.random(5000), rng.normal(0, 1e4, 2000), rng.uniform(-1, 1, 2000) * 1e15,
        k, np.nextafter(k, np.inf), np.nextafter(k, -np.inf),
        [0.765, np.inf, -np.inf, np.nan, 1e300, -1e300, -0.0, 0.001, -0.001],
    ])
    bits = [struct.pack("<d", x) for x in _round2(scores)]
    assert bits == [struct.pack("<d", round(s, 2)) for s in scores.tolist()]
    n = len(scores)
    page = np.arange(n)
    got = ocr_page_arrays(
        page, np.tile([0.0, 0.0, 400.0, 100.0], (n, 1)), page[:0], np.empty((0, 4)),
        page, np.tile([10.0, 20.0, 30.0, 40.0], (n, 1)), scores, ["r"] * n,
    )
    kept = scores[~(scores < schema.DROP_SCORE)]
    assert [struct.pack("<d", x) for x in got[2]] == [
        struct.pack("<d", round(s, 2)) for s in kept.tolist()
    ]


def test_non_finite_coords_do_not_raise():
    """Infinite payload coordinates lie outside the oracle's domain (it
    cannot int() them); the kernel must still run through."""
    text = "\n".join([
        "@page 0 800 600",
        "@det plain text|0.9|0|0|inf|inf|",
        "@det plain text|0.8|-inf|0|inf|600|",
        "@det title|0.9|10|10|inf|60|",
        "@det title|0.8|10|10|inf|60|",
        "@det inline|0.8|inf|20|inf|60|x",
        "@det inline|0.8|-inf|-inf|inf|inf|y",
        "@det text|0.9|inf|20|inf|60|a",
        "@det text|0.9|-inf|20|inf|60|b",
        "@det text|0.9|10|-inf|20|inf|c",
        "@det text|inf|10|20|30|40|d",
    ])
    out = fused._extract_batch(pd.DataFrame(
        [{"conv_id": "inf", "turn_idx": 0, "text": text, "tool": None}]))
    assert len(out) == 1


def test_angle_cls_hook_changes_output():
    """M7: the rotation hook must be live — disabling it changes the
    content join for marked payloads, enabling it matches the oracle."""
    regions = np.array([[0.0, 0.0, 700.0, 100.0]])
    masks = np.empty((0, 4))
    raws = np.array([[15.0, 20.0, 300.0, 60.0], [320.0, 20.0, 600.0, 60.0]])
    scores = np.array([0.8, 0.8])
    contents = ["@rot180 nwod edispu", "normal"]
    page = np.zeros(1, dtype=np.int64)
    args = (page, regions, page[:0], masks, np.zeros(2, dtype=np.int64), raws,
            scores, contents)
    on = ocr_page_arrays(*args, use_angle_cls=True)[3].to_pylist()
    off = ocr_page_arrays(*args, use_angle_cls=False)[3].to_pylist()
    assert on != off
    assert any("upside down" in c for c in on)
    assert any("@rot180" in c for c in off)
