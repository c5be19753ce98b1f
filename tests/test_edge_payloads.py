"""Handcrafted edge-case payloads: oracle vs BOTH engines on turns the
random generator rarely/never produces."""

import datetime as dt

import pandas as pd
import pytest

import oracle
from sparkextract import pipeline, schema
from sparkextract.fused import extract_fused

TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

EDGE_TURNS = [
    # payload split across text AND tool (text pages first, then tool pages)
    ("both-fields", "@page 0 1000 1000\n@det title|0.9|10|10|500|60|\n"
     "@det text|0.9|12|14|400|52|from text",
     "@page 1 1000 1000\n@det plain text|0.9|10|100|600|200|\n"
     "@det text|0.8|20|110|500|140|from tool"),
    # duplicate page_no (stable occurrence order)
    ("dup-pageno", "@page 3 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.7|15|20|600|60|first page3\n"
     "@page 3 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.7|15|20|600|60|second page3", None),
    # pages out of order by page_no
    ("pageno-order", "@page 2 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.7|15|20|600|60|page two\n"
     "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.7|15|20|600|60|page zero", None),
    # empty pages and a det-less trailing page
    ("empty-pages", "@page 0 800 600\n@page 1 800 600\n"
     "@det title|0.9|10|10|500|60|\n@det text|0.9|12|14|400|52|only page1\n"
     "@page 2 800 600", None),
    # content containing pipes and grammar-ish text
    ("pipe-content", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|600|60|a|b|c @det not-a-det @page 9", None),
    # all dets below confidence → only empty pages
    ("all-dropped", "@page 0 800 600\n@det title|0.1|10|10|500|60|\n"
     "@det inline|0.2|10|80|100|110|x", None),
    # identical boxes (NMS tie + span dedup-by-value path)
    ("identical-boxes", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|600|60|dup\n@det text|0.8|15|20|600|60|dup", None),
    # zero-WIDTH span: area 0 → J1 ratio guard; height stays > 0 because
    # the reference itself divides by min box height (paddle_ocr.py:81-91)
    ("zero-width", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det inline|0.8|50|30|50|58|x ^ 2\n@det text|0.8|15|20|600|60|ok", None),
    # same-line raws whose SCORE order inverts payload order and whose boxes
    # coincide (equal merged-box center-x): the cons content-join tiebreak is
    # det_idx/payload order (paddle_ocr.py sorted order), NOT det_order
    # (score-desc) — regression for the fused-path raws re-sort (ADVICE r01)
    ("raw-order-tie", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.60|15|20|600|60|alpha\n@det text|0.90|15|20|600|60|beta",
     None),
    # same inversion but distinct touching boxes that merge into one line box:
    # exercises bubble_pass input-order stability too
    ("raw-order-merge", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.55|300|20|600|60|late\n@det text|0.95|15|20|320|60|early",
     None),
    # malformed headers: doubled space, missing fields, non-numeric fields —
    # tokenization pinned to the engine's single-space split (ADVICE r01)
    ("bad-headers", "@page  3 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|600|60|padded header\n"
     "@page 1\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|600|60|short header\n"
     "@page x 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|600|60|alpha pageno", None),
    # non-numeric det fields are dropped row-wise, not errors
    ("bad-det-fields", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|oops|15|20|600|60|bad score\n"
     "@det text|0.8|a|20|600|60|bad coord\n@det text|nan|15|20|600|60|nan\n"
     "@det text|0.8|15|20|600|60|kept", None),
    # M7 angle classification: '@rot180 ' marks 180°-rotated raw content;
    # the classifier un-rotates before the content join
    ("rot180", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|300|60|@rot180 nwod edispu\n"
     "@det text|0.8|320|20|600|60|normal", None),
    # zero-HEIGHT boxes: pinned contract min-height<=0 → no y-overlap
    # (raw det, inline mask, and block all degenerate)
    ("zero-height", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det text|0.8|15|20|600|20|flatline\n"
     "@det text|0.8|15|30|600|60|normal\n"
     "@det inline|0.8|200|40|300|40|z ^ 0\n"
     "@det title|0.9|10|500|700|500|", None),
    # J2 mask merge sorts by x0 alone, stable in mask order: the inverted
    # mask "b" shares its x0 with "a" and must not split off a second
    # interval (a (x0, x1) sort repeats "dup" in two pieces)
    ("mask-x0-tie", "@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
     "@det inline|0.8|100|20|200|60|a\n@det inline|0.7|100|20|70|60|b\n"
     "@det text|0.8|60|20|90|60|dup\n@det text|0.8|85|20|600|60|tail", None),
    # NMS divides by the union itself whenever it is > 0: two identical
    # titles of area 1e-13 have IoU 1 and one of them goes
    ("nms-tiny-union", "@page 0 800 600\n"
     "@det title|0.9|10|200|10.0000001|200.000001|\n"
     "@det title|0.8|10|200|10.0000001|200.000001|", None),
]


def _frame():
    rows = []
    for i, (name, text, tool) in enumerate(EDGE_TURNS):
        rows.append(
            {"conv_id": f"edge-{name}", "turn_idx": i, "role": "assistant",
             "text": text, "tool": tool, "ts": TS}
        )
    return pd.DataFrame(rows)


@pytest.mark.parametrize("engine", [pipeline.extract, extract_fused],
                         ids=["staged", "fused"])
def test_edge_payloads(spark, engine):
    pdf = _frame()
    golden = oracle.extract_corpus(pdf)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    got = {(r.conv_id, r.turn_idx): r for r in engine(sdf).collect()}
    assert set(got) == set(golden)
    for k, want in golden.items():
        assert got[k].main_text == want["main_text"], (
            k, got[k].main_text, want["main_text"])
        gs = [s.asDict() for s in got[k].spans]
        assert gs == want["spans"], (k, gs, want["spans"])
