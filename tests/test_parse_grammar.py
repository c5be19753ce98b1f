"""Numeric grammar of the payload tokenizer (``parse._parse_batch``).

Score and coordinate fields follow ``pd.to_numeric(errors="coerce")``:
whitespace-padded numbers parse, and anything the pandas float parser
rejects (or overflows) drops the det. Page-header fields coerce to 0.
The table pins which dets survive and with what value. No Spark."""

import math

import pandas as pd
import pytest

from sparkextract.parse import _parse_batch

INF = math.inf
DROP = None

# field text -> parsed value, or DROP when the det is discarded
NUMERIC_CASES = [
    (" 0.9", 0.9),
    ("0.9 ", 0.9),
    ("\t0.9", 0.9),
    ("0.9\r", 0.9),
    ("", DROP),
    (" ", DROP),
    ("1_000", DROP),
    ("0x10", DROP),
    ("1,5", DROP),
    ("nan", DROP),
    ("NaN", DROP),
    ("inf", INF),
    ("-inf", -INF),
    ("Infinity", INF),
    ("1e3", 1000.0),
    ("1E3", 1000.0),
    ("1e", DROP),
    ("1e400", DROP),
    ("+1", 1.0),
    ("+-1", DROP),
    ("1.", 1.0),
    (".5", 0.5),
    ("-.5", -0.5),
    ("00.9", 0.9),
    ("١٢", DROP),  # Arabic-Indic digits
    ("１", DROP),  # fullwidth digit one
    ("\xa00.9", DROP),  # no-break space is not stripped
    ("0.9f", DROP),
    # pandas' own float parser, not a correctly rounded one: these two
    # differ from float() in the last bit and must stay as pandas reads them
    ("0.12345678901234567891", 0.1234567890123456),
    ("1e-400", 0.0),
]


def _det_line(field: str, value: str) -> str:
    score, x0 = (value, "10") if field == "score" else ("0.9", value)
    return f"@det text|{score}|{x0}|20|300|60|{field}:{value!r}"


def _batch(field: str) -> pd.DataFrame:
    rows = []
    for i, (value, _want) in enumerate(NUMERIC_CASES):
        rows.append({
            "conv_id": f"grammar-{field}",
            "turn_idx": i,
            "text": "@page 0 800 600\n" + _det_line(field, value),
            "tool": None,
        })
    return pd.DataFrame(rows)


@pytest.mark.parametrize("field", ["score", "x0"])
def test_numeric_fields_follow_pandas_coerce(field):
    dets = _parse_batch(_batch(field))
    kept = dets[dets["branch"] >= 0]
    got = {int(r.turn_idx): getattr(r, field) for r in kept.itertuples()}
    for i, (value, want) in enumerate(NUMERIC_CASES):
        if want is DROP:
            assert i not in got, (value, got.get(i))
        else:
            assert i in got, value
            assert got[i] == want and math.copysign(1, got[i]) == math.copysign(1, want), (
                value, got[i], want)
    # every turn keeps its page marker, whatever happens to its det
    assert sorted(dets.loc[dets["branch"] == -1, "turn_idx"]) == list(range(len(NUMERIC_CASES)))


def test_negative_zero_follows_column_type():
    """An all-integer column parses as int64 in pandas, so "-0" reads +0.0;
    one non-integer value in the column keeps the float path and -0.0."""
    def x0s(values):
        text = "@page 0 800 600\n" + "\n".join(
            f"@det text|0.9|{v}|20|300|60|c" for v in values)
        dets = _parse_batch(pd.DataFrame(
            [{"conv_id": "z", "turn_idx": 0, "text": text, "tool": None}]))
        return [math.copysign(1, v) for v in dets.loc[dets["branch"] >= 0, "x0"]]

    assert x0s(["-0", "5"]) == [1.0, 1.0]
    assert x0s(["-0", "5.5"]) == [-1.0, 1.0]


def test_page_header_fields_coerce_to_zero():
    text = "\n".join([
        "@page 2.7 800.5 600",
        "@page x 800 600",
        "@page  3 800 600",  # doubled space: empty page_no field
        "@page 1",
        "@page +4 1e3 nan",
        "@page ٥ 800 600",
    ])
    dets = _parse_batch(pd.DataFrame(
        [{"conv_id": "p", "turn_idx": 0, "text": text, "tool": None}]))
    pages = dets[dets["branch"] == -1].sort_values("page_seq")
    assert pages["page_no"].tolist() == [2, 0, 0, 1, 4, 0]
    assert pages["page_w"].tolist() == [800.5, 800.0, 3.0, 0.0, 1000.0, 800.0]
    assert pages["page_h"].tolist() == [600.0, 600.0, 800.0, 0.0, 0.0, 600.0]
