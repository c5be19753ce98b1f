"""The three benchmark workloads: input generation, the timed job and the
output check.

Every input is made from the workload seed at set-up, written to parquet
under the run's work directory and read back by every job, so the engine
sees only the generated table. The testdata-derived inputs come from the
tables vendored in ``perfbench/data``; for those the seed sets the row
permutation and which rows land in which of the parquet files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")

# parquet files per generated table: one per local[4] core. Spark packs
# small files into read partitions by size plus an open cost; with more
# files than cores, whether two files share a partition depends on their
# sizes, and the map stage's task count would change with the seed.
N_FILES = 4
CHECK_SAMPLE = 64  # turns compared with the row-at-a-time oracle per run
UNIFORM_REPLICATE = 2  # sf0.1 documents x2 = 10,000 turns
HOT_CONVS = 190  # background conversations of extract_hot
HOT_TURNS = 2800  # turns of the one hot conversation (~80% of all turns)
REPLAY_ROWS = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch of build_session
CORPUS_QUERY = "training_corpus_v2"  # the corpus_chain query of __spark_entry__


def write_files(table: pa.Table, path: str, seed: int, n_files: int = N_FILES) -> None:
    """Permute ``table``'s rows by ``seed`` and split them over ``n_files``
    parquet files in directory ``path``."""
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    table = table.take(pa.array(perm))
    for i, part in enumerate(np.array_split(np.arange(table.num_rows), n_files)):
        pq.write_table(table.take(pa.array(part)), os.path.join(path, f"part-{i:02d}.parquet"))


def _transcripts_table(pdf: pd.DataFrame) -> pa.Table:
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark cannot read TIMESTAMP(NANOS) parquet: store microseconds
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))


def _payload_mask(pdf: pd.DataFrame) -> pd.Series:
    """The fused engine's input filter: turns whose text or tool holds a page."""
    return pdf["text"].fillna("").str.contains("@page ", regex=False) | pdf[
        "tool"
    ].fillna("").str.contains("@page ", regex=False)


class Extract:
    """Shared part of the two ``extract_fused`` workloads."""

    rate_name = "turns_per_s"
    rate_unit = "turns/s"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.input = os.path.join(work, "input", "transcripts")
        self.n_rows = 0
        self.sample: list[tuple] = []  # (conv_id, turn_idx) compared with the oracle

    def generate(self, spark) -> None:
        pdf = self._transcripts(spark)
        self.n_rows = len(pdf)
        write_files(_transcripts_table(pdf), self.input, self.seed)
        payload = pdf[_payload_mask(pdf)]
        keys = sorted(zip(payload["conv_id"], payload["turn_idx"]))
        self.sample = random.Random(self.seed).sample(keys, min(CHECK_SAMPLE, len(keys)))

    def _transcripts(self, spark) -> pd.DataFrame:
        raise NotImplementedError

    def _source(self, spark):
        return spark.read.parquet(self.input)

    def build(self, spark):
        from sparkextract.fused import extract_fused

        return extract_fused(self._source(spark))

    def payload_turns(self) -> pd.DataFrame:
        """The generated input rows the engine's filter keeps, in file order."""
        pdf = pq.read_table(self.input).to_pandas()
        return pdf[_payload_mask(pdf)].reset_index(drop=True)

    def replay_batches(self) -> list[pd.DataFrame]:
        """One Arrow-sized batch of the workload's own payload turns, shaped
        as the engine's ``mapInPandas`` receives it."""
        pdf = self.payload_turns()[["conv_id", "turn_idx", "text", "tool"]]
        return [pdf.iloc[:REPLAY_ROWS].reset_index(drop=True)]

    def check_view(self, df):
        """What the check collects: every row's keys and turn_seq, and the
        full output of the sampled turns only."""
        from pyspark.sql import functions as F

        sampled = F.concat_ws("|", "conv_id", "turn_idx").isin(
            [f"{c}|{t}" for c, t in self.sample]
        )
        return df.select(
            "conv_id", "turn_idx", "turn_seq",
            F.when(sampled, F.col("main_text")).alias("main_text"),
            F.when(sampled, F.col("spans")).alias("spans"),
        )

    def check(self, rows) -> list[str]:
        """Compare the collected output with the input and the oracle."""
        import oracle

        problems: list[str] = []
        want = self.payload_turns()
        got = {(r.conv_id, int(r.turn_idx)): r for r in rows}
        want_keys = set(zip(want["conv_id"], want["turn_idx"].astype(int)))
        if set(got) != want_keys:
            problems.append(
                f"turn set: {len(set(got) - want_keys)} extra, "
                f"{len(want_keys - set(got))} missing"
            )
        by_conv: dict[str, list] = {}
        for (conv, turn), r in got.items():
            by_conv.setdefault(conv, []).append((turn, r.turn_seq))
        for conv, seqs in by_conv.items():
            if [s for _, s in sorted(seqs)] != list(range(1, len(seqs) + 1)):
                problems.append(f"{conv}: turn_seq is not 1..{len(seqs)} in turn order")
        by_key = want.set_index(["conv_id", "turn_idx"])
        for key in self.sample:
            src = by_key.loc[key]
            gold = oracle.extract_turn(src["text"], src["tool"])
            r = got.get(key)
            if r is None or gold is None:
                continue  # already counted by the turn-set check
            spans = [s.asDict() for s in r.spans]
            if r.main_text != gold["main_text"] or spans != gold["spans"]:
                problems.append(f"{key}: output differs from the oracle")
        return problems


class ExtractUniform(Extract):
    """sf0.1 documents x2 through ``docsource.documents_as_transcripts``:
    97 conversations, one template page per turn, every turn a payload."""

    name = "extract_uniform"

    def _transcripts(self, spark) -> pd.DataFrame:
        from sparkextract.docsource import documents_as_transcripts, replicate_documents

        docs = pq.read_table(os.path.join(DATA, "sf0.1", "documents.parquet"))
        perm = np.random.default_rng(self.seed).permutation(docs.num_rows)
        docs = docs.take(pa.array(perm)).select(["doc_id", "text"]).to_pandas()
        tr = documents_as_transcripts(
            replicate_documents(spark.createDataFrame(docs), UNIFORM_REPLICATE)
        )
        return tr.toPandas()


class ExtractHot(Extract):
    """``synth.gen_transcripts`` with one conversation holding ~80% of the
    turns, read back repartitioned by ``conv_id`` alone so the engine's
    auto-salt path runs."""

    name = "extract_hot"

    def _transcripts(self, spark) -> pd.DataFrame:
        from sparkextract import synth

        return synth.gen_transcripts(
            n_convs=HOT_CONVS, seed=self.seed, payload_prob=1.0,
            skew_conv_turns=HOT_TURNS,
        )

    def _source(self, spark):
        n = 2 * spark.sparkContext.defaultParallelism
        return spark.read.parquet(self.input).repartition(n, "conv_id")

    def hot_share(self) -> float:
        """Share of the payload turns that belong to the hot conversation."""
        counts = self.payload_turns()["conv_id"].value_counts()
        return float(counts.iloc[0] / counts.sum())


class CorpusChain:
    """``__spark_entry__.queries()[CORPUS_QUERY]`` on the vendored sf0.01
    documents and embeddings."""

    name = "corpus_chain"
    rate_name = "docs_per_s"
    rate_unit = "docs/s"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.input = os.path.join(work, "input")
        self.n_rows = 0

    def generate(self, spark) -> None:
        for i, table in enumerate(("documents", "embeddings")):
            t = pq.read_table(os.path.join(DATA, "sf0.01", f"{table}.parquet"))
            if table == "documents":
                self.n_rows = t.num_rows
            write_files(t, os.path.join(self.input, f"{table}.parquet"), self.seed + i)

    def check_view(self, df):
        return df

    def build(self, spark):
        import __spark_entry__

        return __spark_entry__.queries()[CORPUS_QUERY](spark, self.input)

    def check(self, rows) -> list[str]:
        with open(GOLDEN) as f:
            want = json.load(f)[CORPUS_QUERY]
        cols = sorted(rows[0].asDict()) if rows else []
        got = {"rows": len(rows), "sha256": canonical_digest(cols, [r.asDict() for r in rows])}
        if got != want:
            return [f"manifest {got} != DuckDB twin {want}"]
        return []


def _canon(v):
    if isinstance(v, Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def canonical_digest(cols: list[str], rows: list[dict]) -> str:
    """Order-independent digest of a result set, shared by the Spark side
    and the DuckDB twin (integral decimals read as ints, floats to 9
    places)."""
    tuples = sorted(repr(tuple(_canon(r[c]) for c in cols)) for r in rows)
    return hashlib.sha256("\n".join([repr(cols)] + tuples).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (ExtractUniform, ExtractHot, CorpusChain)}
