"""Predicate pushdown / scan pruning assertions on the training-data ops
(SURVEY §4: filters and projections must reach the parquet scan)."""

import os

import pytest

from sparkextract import textops

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.skipif(not os.path.exists(SF), reason="testdata absent")
def test_jaccard_scan_prunes_columns(spark):
    # the uncapped whole-corpus jaccard must still read ONLY doc_id+text
    # from the parquet scan (shingling never touches lang/source/n_chars).
    # materialize=False exposes the un-checkpointed plan — the checkpoint
    # (round 6) executes exactly this plan, scan included.
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.ngram_jaccard_pairs(docs, materialize=False))
    scan = plan[plan.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema"): scan.index("\n", scan.index("ReadSchema"))]
    assert "text" in rs, rs
    assert "lang" not in rs and "source" not in rs and "n_chars" not in rs, rs


@pytest.mark.skipif(not os.path.exists(SF), reason="testdata absent")
def test_exact_dedup_reads_only_needed_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.exact_dedup(docs))
    scan = plan[plan.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema"): scan.index("\n", scan.index("ReadSchema"))]
    assert "lang" not in rs and "source" not in rs and "n_chars" not in rs, rs


def test_staged_tail_fused(spark):
    """Round-5 tail fuse (VERDICT item 5): the staged pipeline's
    A3 (page agg) → A4 (turn agg) → O8 (turn_seq window) tail must run
    on ONE conv_id exchange — hash partitioning on a subset of every
    grouping/window key set satisfies all three ClusteredDistributions,
    so the planner emits zero further exchanges above the Union (was
    three: one per stage)."""
    from sparkextract import schema, synth
    from sparkextract.pipeline import extract

    pdf = synth.gen_transcripts(n_convs=6, seed=9)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    plan = extract(sdf)._jdf.queryExecution().executedPlan().toString()
    head, _, _ = plan.partition("Union")
    assert "Window" in head and head.count("Exchange") == 1, head
    assert "REPARTITION_BY_COL" in head, head
