"""The A2 trims (``str.strip()`` and ``str.strip("$")`` in
merge_blocks_and_spans.py:245-262) run as pyarrow ``utf8_trim`` over the
span column, so the trim set must be exactly the code points for which
``str.isspace()`` holds. Span content is built from each of them, plus
three that look blank but are not Python whitespace (U+180E, U+200B,
U+FEFF), placed leading, trailing and inside ``$…$``; ``kernels.merge_para``
and ``fused._extract_batch`` must equal the oracle on every one. No
Spark."""

import sys

import pandas as pd
import pytest

import oracle
from sparkextract import fused, kernels
from test_batch_invariance import span_dicts
from test_kernels import oracle_para, para_batch

SPACES = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
NOT_SPACES = ["\u180e", "\u200b", "\ufeff"]
CHARS = SPACES + NOT_SPACES


def test_trim_set_is_str_isspace():
    assert kernels.WHITESPACE == "".join(SPACES)


def _span(t, content, x0, y0=100.0):
    return {"type": t, "bbox": [x0, y0, x0 + 50.0, y0 + 20.0], "content": content}


def _blocks(w):
    """(spans, interline) blocks with ``w`` around and inside the pieces;
    spans of a block share a line unless their y differs."""
    return [
        ([_span("text", f"{w}a{w}b{w}", 0)], False),
        ([_span("text", w, 0), _span("text", f"{w}{w}", 60)], False),
        ([_span("text", f"{w}a", 0), _span("inline", f"{w}${w}x{w}${w}", 60),
          _span("text", f"b{w}", 120)], False),
        ([_span("isolated", f"{w}${w}y{w}$", 0)], True),
        ([_span("isolated", f"${w}y$", 0), _span("text", f"{w}c", 0, 200)], False),
        ([_span("text", f"{w}中{w}", 0), _span("inline", f"$z{w}$", 60),
          _span("text", f"{w}", 120)], False),
        ([_span("footnote", f"{w}$^{w}1$", 0), _span("footnote", f"$2{w}$", 60)], False),
        ([_span("text", f"*{w}`~{w}$", 0)], False),
    ]


@pytest.mark.parametrize("w", CHARS, ids=[f"U+{ord(c):04X}" for c in CHARS])
def test_merge_para_whitespace(w):
    blocks = _blocks(w)
    got = kernels.merge_para(*para_batch([b for b, _ in blocks], [i for _, i in blocks]))
    assert got.to_pylist() == [oracle_para(sp, il) for sp, il in blocks]


def _payload(w):
    """One page: a text region over raw text dets and formula dets whose
    content carries ``w``; a line holds no newline, so U+000A stays out."""
    return "\n".join([
        "@page 0 1000 1000",
        "@det plain text|0.9|0|0|900|500|",
        f"@det text|0.9|10|10|200|40|{w}lead",
        f"@det text|0.9|210|10|400|40|trail{w}",
        f"@det text|0.9|10|100|200|130|{w}",
        f"@det text|0.9|10|200|300|230|中{w}文{w}",
        f"@det text|0.8|310|200|600|230|{w}*x{w}",
        f"@det inline|0.9|610|10|700|40|{w}${w}x{w}${w}",
        f"@det isolated|0.9|10|300|300|330|${w}y{w}$",
        f"@det text|0.9|10|400|300|430|@rot180 {w}b{w}a",
    ])


def test_extract_batch_whitespace():
    chars = [c for c in CHARS if c != "\n"]
    batch = pd.DataFrame([
        {"conv_id": f"ws-{ord(w):04x}", "turn_idx": 0, "text": _payload(w), "tool": None}
        for w in chars
    ])
    out = fused._extract_batch(batch)
    assert len(out) == len(chars)
    for r in out.itertuples(index=False):
        want = oracle.extract_turn(_payload(chr(int(r.conv_id[3:], 16))), None)
        assert r.main_text == want["main_text"], r.conv_id
        assert span_dicts(r.spans) == want["spans"], r.conv_id
