"""Test-only oracle: row-at-a-time re-implementation of the reference's
deterministic extraction semantics (DESIGN.md), used to produce golden
outputs. The Spark engine never imports this module.

Reference citations (semantics, not code):
- merge layer: /root/reference/pdf_extract_kit/utils/merge_blocks_and_spans.py
- OCR geometry: /root/reference/pdf_extract_kit/tasks/ocr/models/paddle_ocr.py:57-289
- pipeline/emit: /root/reference/project/pdf2markdown/scripts/pdf2markdown.py:23-54,99-324
"""

from __future__ import annotations

import re

LAYOUT_CLASSES = [
    "title", "plain text", "abandon", "figure", "figure_caption",
    "table", "table_caption", "table_footnote", "isolate_formula",
    "formula_caption",
]
FORMULA_CLASSES = ["inline", "isolated"]
OCR_REGION_CLASSES = {"title", "plain text", "abandon", "figure_caption",
                      "table_caption", "table_footnote"}
FIX_BLOCK_TYPES = {"title", "plain text", "figure_caption", "table_caption",
                   "table_footnote", "isolate_formula", "formula_caption"}
CONF, IOU, DROP, RATIO = 0.25, 0.45, 0.5, 0.6


# ---------- scalar functions ----------

def latex_rm_whitespace(s: str) -> str:
    # pdf2markdown.py:23-39 (fixpoint whitespace deletion with protected groups)
    protected = r"(\\(operatorname|mathrm|text|mathbf)\s?\*? {.*?})"
    keep = [m[0].replace(" ", "") for m in re.findall(protected, s)]
    s = re.sub(protected, lambda _m: str(keep.pop(0)), s)
    letter, nonletter = "[a-zA-Z]", r"[\W_^\d]"
    prev = None
    cur = s
    while prev != cur:
        prev = cur
        nxt = re.sub(rf"(?!\\ )({nonletter})\s+?({nonletter})", r"\1\2", prev)
        nxt = re.sub(rf"(?!\\ )({nonletter})\s+?({letter})", r"\1\2", nxt)
        cur = re.sub(rf"({letter})\s+?({nonletter})", r"\1\2", nxt)
        # reference loops until no change, returning the value *before* the
        # last (no-op) rewrite; equivalent to fixpoint
    return prev


def detect_lang(s: str) -> str:
    # merge_blocks_and_spans.py:195-205
    return "zh" if any("一" <= ch <= "鿿" for ch in s) else "en"


def angle_cls(c: str) -> str:
    # M7 deterministic stand-in (paddle_ocr.py:428-433): '@rot180 ' marks
    # 180°-rotated content; un-rotation strips the marker and reverses
    return c[len("@rot180 "):][::-1] if c.startswith("@rot180 ") else c


def md_escape(s: str) -> str:
    # merge_blocks_and_spans.py:207-215 (fixed char order)
    for ch in ("*", "`", "~", "$"):
        s = s.replace(ch, "\\" + ch)
    return s


# ---------- geometry helpers ----------

def _y_overlap_exceeds(b1, b2, thr=0.8):
    # merge_blocks_and_spans.py:7-17 / paddle_ocr.py:81-91; pinned contract:
    # min box height <= 0 → no overlap (reference would ZeroDivisionError)
    ov = max(0.0, min(b1[3], b2[3]) - max(b1[1], b2[1]))
    den = min(b1[3] - b1[1], b2[3] - b2[1])
    if den <= 0:
        return False
    return ov / den > thr


def _overlap_in_a_ratio(a, b):
    # merge_blocks_and_spans.py:90-109
    xl, yt = max(a[0], b[0]), max(a[1], b[1])
    xr, yb = min(a[2], b[2]), min(a[3], b[3])
    if xr < xl or yb < yt:
        return 0.0
    area_a = (a[2] - a[0]) * (a[3] - a[1])
    return 0.0 if area_a == 0 else (xr - xl) * (yb - yt) / area_a


def _iou(a, b):
    xl, yt = max(a[0], b[0]), max(a[1], b[1])
    xr, yb = min(a[2], b[2]), min(a[3], b[3])
    inter = max(0.0, xr - xl) * max(0.0, yb - yt)
    ua = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
    return inter / ua if ua > 0 else 0.0


# ---------- OCR merge layer (paddle_ocr.py:57-289) ----------

def sorted_boxes(boxes):
    """O2: sort bboxes [(x0,y0,x1,y1),...] by (y0,x0) + 10px bubble pass."""
    bs = sorted(boxes, key=lambda b: (b[1], b[0]))
    for i in range(len(bs) - 1):
        for j in range(i, -1, -1):
            if abs(bs[j + 1][1] - bs[j][1]) < 10 and bs[j + 1][0] < bs[j][0]:
                bs[j], bs[j + 1] = bs[j + 1], bs[j]
            else:
                break
    return bs


def merge_intervals(iv):
    # O5: paddle_ocr.py:108-122
    iv = sorted(iv, key=lambda p: p[0])
    out = []
    for lo, hi in iv:
        if out and out[-1][1] >= lo:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def remove_intervals(rng, masks):
    # paddle_ocr.py:125-153
    lo, hi = rng
    out = []
    for m0, m1 in merge_intervals(masks):
        if m0 > hi or m1 < lo:
            continue
        if lo < m0:
            out.append([lo, m0 - 1])
        lo = max(m1 + 1, lo)
    if lo <= hi:
        out.append([lo, hi])
    return out


def ocr_lines(boxes):
    """paddle_ocr.py:175-210 variant (no isolated rule), boxes as bbox4."""
    if not boxes:
        return []
    bs = sorted(boxes, key=lambda b: b[1])
    lines, cur = [], [bs[0]]
    for b in bs[1:]:
        if _y_overlap_exceeds(b, cur[-1]):
            cur.append(b)
        else:
            lines.append(cur)
            cur = [b]
    lines.append(cur)
    return lines


def merge_overlapping_spans(spans):
    # O6: paddle_ocr.py:213-247
    spans = sorted(spans, key=lambda s: s[0])
    out = []
    for s in spans:
        if out and out[-1][2] >= s[0]:
            last = out.pop()
            out.append((min(last[0], s[0]), min(last[1], s[1]),
                        max(last[2], s[2]), max(last[3], s[3])))
        else:
            out.append(tuple(s))
    return out


def merge_det_boxes(boxes):
    # O7: paddle_ocr.py:250-289
    out = []
    for line in ocr_lines(boxes):
        out.extend(merge_overlapping_spans(line))
    return [list(b) for b in out]


def update_det_boxes(boxes, masks):
    # J2: paddle_ocr.py:156-172; masks = [(x0,y0,x1,y1)]
    out = []
    for b in boxes:
        xiv = [[m[0], m[2]] for m in masks if _y_overlap_exceeds(b, m)]
        for lo, hi in remove_intervals([b[0], b[2]], xiv):
            out.append([lo, b[1], hi, b[3]])
    return out


# ---------- block merge layer (merge_blocks_and_spans.py) ----------

def spans_to_lines(spans):
    """O3: merge_blocks_and_spans.py:19-51 (isolated starts its own line)."""
    if not spans:
        return []
    spans = sorted(spans, key=lambda s: s["bbox"][1])  # stable
    lines, cur = [], [spans[0]]
    for sp in spans[1:]:
        if sp["type"] == "isolated" or any(s["type"] == "isolated" for s in cur):
            lines.append(cur)
            cur = [sp]
        elif _y_overlap_exceeds(sp["bbox"], cur[-1]["bbox"]):
            cur.append(sp)
        else:
            lines.append(cur)
            cur = [sp]
    lines.append(cur)
    return lines


def sort_lines_lr(lines):
    # O4/A1: merge_blocks_and_spans.py:54-69
    out = []
    for line in lines:
        line = sorted(line, key=lambda s: s["bbox"][0])
        bbox = [min(s["bbox"][0] for s in line), min(s["bbox"][1] for s in line),
                max(s["bbox"][2] for s in line), max(s["bbox"][3] for s in line)]
        out.append({"bbox": bbox, "spans": line})
    return out


def fill_spans_in_blocks(blocks, spans, ratio=RATIO):
    """J1: merge_blocks_and_spans.py:111-155 (consuming, first-block-wins)."""
    filled = []
    pool = list(spans)
    for blk in blocks:
        mine = [sp for sp in pool
                if _overlap_in_a_ratio(sp["bbox"], blk["bbox"]) > ratio]
        filled.append({"type": blk["type"], "bbox": blk["bbox"],
                       "saved_info": blk["saved_info"], "spans": mine})
        for sp in mine:
            pool.remove(sp)
    return filled, pool


def fix_block(blk):
    # merge_blocks_and_spans.py:71-88,157-177
    if blk["type"] != "isolate_formula":
        for sp in blk["spans"]:
            if sp["type"] == "isolated":
                sp["type"] = "inline"
    blk["lines"] = sort_lines_lr(spans_to_lines(blk["spans"]))
    del blk["spans"]
    return blk


def merge_para_with_text(block):
    """A2: merge_blocks_and_spans.py:228-268, byte-exact."""
    out = ""
    for line in block["lines"]:
        joined = "".join(sp["content"].strip() for sp in line["spans"]
                         if sp["type"] == "text")
        lang = detect_lang(joined) if joined else ""
        for sp in line["spans"]:
            t, c = sp["type"], ""
            if t == "text":
                c = md_escape(sp["content"])
            elif t in ("inline", "ignore-formula"):
                c = f" ${sp['content'].strip('$')}$ "
            elif t == "isolated":
                c = f"\n$$\n{sp['content'].strip('$')}\n$$\n"
            elif t == "footnote":
                body = sp["content"].strip("$")
                c = f" ${body}$ " if "^" in body else f" $^{body}$ "
            if c != "":
                out += c.strip() if "zh" in lang else c.strip() + " "
    return out


# ---------- fake model stages (DESIGN.md §2) ----------

def _num(s):
    """Engine tokenization twin: pd.to_numeric(errors='coerce') → None."""
    if s is None:
        return None
    try:
        v = float(s)
    except ValueError:
        return None
    return None if v != v else v  # NaN literal coerces like unparseable


def parse_payload(text, tool):
    """Payload lines → list of pages [{page_no,w,h,dets:[...]}].

    Tokenization is pinned to the engine (parse.py): headers split on a
    SINGLE space (runs of whitespace are not collapsed), non-numeric header
    fields coerce to 0, and dets with non-numeric score/coords are dropped.
    """
    pages = []
    cur = None
    for src in (text, tool):
        if not src:
            continue
        for line in src.split("\n"):
            if line.startswith("@page "):
                parts = line.split(" ")
                pn = _num(parts[1]) if len(parts) > 1 else None
                w = _num(parts[2]) if len(parts) > 2 else None
                h = _num(parts[3]) if len(parts) > 3 else None
                cur = {"page_no": int(pn) if pn is not None else 0,
                       "w": w if w is not None else 0.0,
                       "h": h if h is not None else 0.0, "dets": []}
                pages.append(cur)
            elif line.startswith("@det ") and cur is not None:
                f = line[5:].split("|", 6)
                if len(f) < 6:
                    continue
                score = _num(f[1])
                bbox = [_num(x) for x in f[2:6]]
                if score is None or any(b is None for b in bbox):
                    continue  # engine: parse.py dropna(subset=score/coords)
                cur["dets"].append({
                    "idx": len(cur["dets"]), "category": f[0],
                    "score": score, "bbox": bbox,
                    "content": f[6] if len(f) > 6 else "",
                })
    return pages


def nms(dets):
    """M3: per-category greedy NMS, order (score desc, idx asc), IoU > 0.45."""
    out = []
    for cat in {d["category"] for d in dets}:
        cand = sorted([d for d in dets if d["category"] == cat],
                      key=lambda d: (-d["score"], d["idx"]))
        kept = []
        for d in cand:
            if all(_iou(d["bbox"], k["bbox"]) <= IOU for k in kept):
                kept.append(d)
        out.extend(kept)
    return out


def _branch_order(dets):
    return sorted(dets, key=lambda d: (-d["score"], d["idx"]))


def ocr_region(region, raws, masks):
    """OCR of one layout region (pdf2markdown.py:195-256): the page's raw
    text dets whose center lies in ``region``, merged, split by the
    formula ``masks`` (page bboxes) and joined → text dets in page
    coordinates."""
    rx0, ry0, rx1, ry1 = region
    nw, nh = rx1 - rx0 + 50, ry1 - ry0 + 50
    mine = [r for r in raws
            if rx0 <= (r["bbox"][0] + r["bbox"][2]) / 2 <= rx1
            and ry0 <= (r["bbox"][1] + r["bbox"][3]) / 2 <= ry1]
    crop = [[r["bbox"][0] - rx0 + 25, r["bbox"][1] - ry0 + 25,
             r["bbox"][2] - rx0 + 25, r["bbox"][3] - ry0 + 25] for r in mine]
    boxes = merge_det_boxes(sorted_boxes(crop))
    adj = []
    for m in masks:
        a = [m[0] - rx0 + 25, m[1] - ry0 + 25, m[2] - rx0 + 25, m[3] - ry0 + 25]
        if a[2] < 0 or a[3] < 0 or a[0] > nw or a[1] > nh:
            continue
        adj.append(a)
    if adj:
        boxes = update_det_boxes(boxes, adj)
    out = []
    for b in boxes:
        cons = sorted(
            [(c, r) for c, r in zip(crop, mine)
             if b[0] <= (c[0] + c[2]) / 2 <= b[2]
             and b[1] <= (c[1] + c[3]) / 2 <= b[3]],
            key=lambda cr: ((cr[0][0] + cr[0][2]) / 2, cr[1]["idx"]))
        score = (sum(r["score"] for _, r in cons) / len(cons)) if cons else 0.0
        if score < DROP:
            continue
        out.append({
            "category": "text",
            "bbox": [b[0] - 25 + rx0, b[1] - 25 + ry0,
                     b[2] - 25 + rx0, b[3] - 25 + ry0],
            "score": round(score, 2),
            "content": " ".join(r["content"] for _, r in cons)})
    return out


def run_page(page):
    """Full per-page fake-model + merge pipeline → ordered layout_dets list.

    Each det out: {category, bbox, score, content} mirroring
    pdf2markdown.py:143-256's layout_dets (post OCR append).
    """
    dets = page["dets"]
    layout = _branch_order(nms([d for d in dets if d["category"] in LAYOUT_CLASSES
                                and d["score"] > CONF]))
    mfd = _branch_order(nms([d for d in dets if d["category"] in FORMULA_CLASSES
                             and d["score"] > CONF]))
    raws = [dict(d, content=angle_cls(d["content"]))
            for d in dets if d["category"] == "text"]

    page_dets = []  # reference layout_dets order
    for d in layout:
        page_dets.append({"category": d["category"],
                          "bbox": [float(int(v)) for v in d["bbox"]],
                          "score": round(d["score"], 2), "content": ""})
    for d in mfd:
        page_dets.append({"category": d["category"],
                          "bbox": [float(int(v)) for v in d["bbox"]],
                          "score": round(d["score"], 2),
                          "content": latex_rm_whitespace(d["content"])})
    masks = [d["bbox"] for d in page_dets if d["category"] in FORMULA_CLASSES]

    # OCR per region (pdf2markdown.py:195-256)
    for reg in [d for d in page_dets if d["category"] in OCR_REGION_CLASSES]:
        page_dets.extend(ocr_region(reg["bbox"], raws, masks))
    return page_dets


def page_to_md(page_dets):
    """convert2md (pdf2markdown.py:268-324) → (md_text, ordered blocks)."""
    spans, blocks = [], []
    for d in page_dets:
        if d["category"] in ("inline", "text", "isolated"):
            spans.append({"type": d["category"], "bbox": list(d["bbox"]),
                          "content": d["content"]})
            if d["category"] == "isolated":
                dd = dict(d)
                dd["category"] = "isolate_formula"
                blocks.append(dd)
        else:
            blocks.append(dict(d))

    need_fix = [b for b in blocks if b["category"] in FIX_BLOCK_TYPES]
    final = [b for b in blocks if b["category"] not in FIX_BLOCK_TYPES]
    wrapped = [{"type": b["category"], "bbox": list(b["bbox"]), "saved_info": b}
               for b in need_fix]
    filled, _left = fill_spans_in_blocks(wrapped, spans)
    for blk in filled:
        para = merge_para_with_text(fix_block(blk))
        key = "latex" if blk["type"] == "isolate_formula" else "text"
        blk["saved_info"][key] = para
        final.append(blk["saved_info"])

    final = sorted(final, key=lambda b: b["bbox"][1] * 3000 + b["bbox"][0])  # stable O1
    md = ""
    for b in final:
        cat = b["category"]
        if cat == "title":
            md += "\n# " + b["text"] + "\n"
        elif cat == "isolate_formula":
            md += "\n" + b["latex"] + "\n"
        elif cat in ("plain text", "figure_caption", "table_caption"):
            md += " " + b["text"] + " "
    return md, final


def extract_turn(text, tool):
    """Full oracle for one turn → (main_text, spans) or None if no payload."""
    pages = parse_payload(text, tool)
    if not pages:
        return None
    pages = sorted(pages, key=lambda p: p["page_no"])  # stable on occurrence
    mds, out_spans = [], []
    for p in pages:
        md, final = page_to_md(run_page(p))
        mds.append(md)
        for b in final:
            content = b.get("text", b.get("latex", ""))
            out_spans.append({"type": b["category"],
                              "x0": b["bbox"][0], "y0": b["bbox"][1],
                              "x1": b["bbox"][2], "y1": b["bbox"][3],
                              "content": content, "score": b["score"]})
    return {"main_text": "\n\n".join(mds), "spans": out_spans}


def extract_corpus(pdf):
    """pandas transcripts frame → {(conv_id, turn_idx): extract_turn(...)}."""
    out = {}
    for row in pdf.itertuples(index=False):
        res = extract_turn(row.text, row.tool)
        if res is not None:
            out[(row.conv_id, int(row.turn_idx))] = res
    return out
