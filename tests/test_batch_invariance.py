"""Batch invariance of the fused turn kernel (no Spark).

``fused._extract_batch`` processes a whole Arrow batch as flat arrays
with turn → page → det segments. A turn's output must not depend on
which other turns share its batch, where the batch is cut, or how the
page-pair work is chunked: one mixed batch goes through whole, in random
splits and one row at a time, and every turn must equal
``oracle.extract_turn`` exactly."""

import random

import pandas as pd
import pytest

import oracle
from sparkextract import docsource, fused, kernels, schema, synth
from test_edge_payloads import EDGE_TURNS

WORDS = ["alpha", "beta", "gamma", "词语", "a*b", "$d$", "spaced  out"]


def _template_payload(doc_id: int, text: str) -> str:
    """The docsource template rendered in Python (Spark substring is
    1-based; the document text has '|' and newlines blanked)."""
    t = text.translate(str.maketrans("|\n", "  "))
    lines = []
    for line in docsource.PAYLOAD_TEMPLATE:
        parts = []
        for p in line:
            if isinstance(p, str):
                parts.append(p)
            elif p[0] == "sub":
                parts.append(t[p[1] - 1 : p[1] - 1 + p[2]])
            else:
                parts.append(str(doc_id))
        lines.append("".join(parts))
    return "\n".join(lines)


def _crowded_page(rng: random.Random) -> str:
    """One page with 250 text regions on a grid and 300 raw text dets, so
    the region × raw pairs (75,000) cross a page_pairs chunk edge."""
    lines = ["@page 0 5000 4000"]
    for i in range(250):
        x, y = (i % 25) * 200, (i // 25) * 400
        lines.append(f"@det plain text|0.9|{x}|{y}|{x + 190}|{y + 300}|")
    for i in range(40):
        x, y = rng.randrange(0, 4900), rng.randrange(0, 3900)
        lines.append(f"@det inline|0.8|{x}|{y}|{x + 60}|{y + 20}|x _ {{ {i} }}")
    for i in range(300):
        x, y = rng.randrange(0, 4900), rng.randrange(0, 3950)
        w, h = rng.choice([20, 60, 150]), rng.choice([12, 24])
        score = rng.choice([0.45, 0.6, 0.85, 0.95])
        lines.append(f"@det text|{score}|{x}|{y}|{x + w}|{y + h}|{rng.choice(WORDS)}")
    return "\n".join(lines)


def _mixed_batch() -> pd.DataFrame:
    rows = [
        {"conv_id": f"edge-{name}", "turn_idx": i, "text": text, "tool": tool}
        for i, (name, text, tool) in enumerate(EDGE_TURNS)
    ]
    for seed in (3, 5, 8):
        pdf = synth.gen_transcripts(n_convs=15, seed=seed)
        pdf["conv_id"] = f"s{seed}-" + pdf["conv_id"]
        rows += pdf[["conv_id", "turn_idx", "text", "tool"]].to_dict("records")
    # varied pages whose regions the bubble pass does reorder
    pdf = synth.gen_transcripts(n_convs=8, seed=7, payload_prob=1.0)
    pdf["conv_id"] = "v7-" + pdf["conv_id"]
    rows += pdf[["conv_id", "turn_idx", "text", "tool"]].to_dict("records")
    rng = random.Random(11)
    for doc_id in range(12):
        text = " ".join(rng.choice(WORDS) for _ in range(120))
        rows.append({"conv_id": f"doc-{doc_id % 3}", "turn_idx": doc_id // 3,
                     "text": _template_payload(doc_id, text), "tool": None})
    rows.append({"conv_id": "crowded", "turn_idx": 0,
                 "text": _crowded_page(rng), "tool": None})
    rng.shuffle(rows)  # no conversation is contiguous
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def batch_and_gold():
    batch = _mixed_batch()
    gold = {}
    for r in batch.itertuples(index=False):
        res = oracle.extract_turn(r.text, r.tool)
        if res is not None:
            gold[(r.conv_id, int(r.turn_idx))] = res
    return batch, gold


def span_dicts(spans):
    """The engine's spans, tuples in SPAN_STRUCT field order, as the
    oracle's dicts."""
    return [dict(zip(schema.SPAN_STRUCT.names, s)) for s in spans]


def _check(outputs, gold):
    got = {}
    for out in outputs:
        for r in out.itertuples(index=False):
            key = (r.conv_id, int(r.turn_idx))
            assert key not in got, key
            got[key] = r
    assert set(got) == set(gold)
    for key, want in gold.items():
        assert got[key].main_text == want["main_text"], key
        assert span_dicts(got[key].spans) == want["spans"], key


def _splits(batch: pd.DataFrame, seed: int):
    rng = random.Random(seed)
    i = 0
    while i < len(batch):
        n = rng.randint(1, 40)
        yield batch.iloc[i : i + n].reset_index(drop=True)
        i += n


def test_whole_batch(batch_and_gold):
    batch, gold = batch_and_gold
    assert len(gold) > 80
    _check([fused._extract_batch(batch)], gold)


@pytest.mark.parametrize("seed", [1, 2])
def test_random_splits(batch_and_gold, seed):
    batch, gold = batch_and_gold
    _check([fused._extract_batch(b) for b in _splits(batch, seed)], gold)


def test_one_row_at_a_time(batch_and_gold):
    batch, gold = batch_and_gold
    _check([fused._extract_batch(batch.iloc[[i]].reset_index(drop=True))
            for i in range(len(batch))], gold)


def test_tiny_pair_chunks(batch_and_gold, monkeypatch):
    """Every page's pair work split over many chunks, including chunks
    that end inside one page."""
    batch, gold = batch_and_gold
    monkeypatch.setattr(kernels, "PAIR_CHUNK", 7)
    _check([fused._extract_batch(batch)], gold)


def test_bubble_swaps(batch_and_gold, monkeypatch):
    """The batch has regions where the O2 bubble pass really swaps boxes,
    so the tests above cover that path."""
    bubble_pass = kernels.bubble_pass
    swaps = []

    def counting(rows):
        idx = bubble_pass(rows)
        swaps.append(idx != sorted(idx))
        return idx

    monkeypatch.setattr(kernels, "bubble_pass", counting)
    batch, gold = batch_and_gold
    _check([fused._extract_batch(batch)], gold)
    assert sum(swaps) > 0
