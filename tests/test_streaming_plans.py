"""Physical plan regression tests for the fused engine (the plan
*shape* is a deliverable at 100 TB: exchange counts and column pruning —
SURVEY.md §4)."""

from sparkextract import schema, synth
from sparkextract.fused import extract_fused


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_fused_plan_single_exchange(spark, tmp_path):
    pdf = synth.gen_transcripts(n_convs=4, seed=3)
    src = str(tmp_path / "t")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).write.parquet(src)
    df = extract_fused(spark.read.parquet(src))
    plan = _plan(df)
    # production path: exactly one exchange (the O8 ordering window);
    # formatted plans name each node twice (tree + details) → count tree edges
    tree = plan.split("\n\n")[0]
    assert tree.count("- Exchange") == 1, tree
    assert tree.count("- MapInPandas") == 1, tree


def test_fused_plan_column_pruning(spark, tmp_path):
    pdf = synth.gen_transcripts(n_convs=4, seed=3)
    src = str(tmp_path / "t2")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).write.parquet(src)
    df = extract_fused(spark.read.parquet(src))
    plan = _plan(df)
    scan = plan[plan.index("Scan parquet"):]
    readschema = scan[scan.index("ReadSchema"): scan.index("\n", scan.index("ReadSchema"))]
    # role/ts never reach the scan (nested-column pruning of the payload)
    assert "role" not in readschema and "ts" not in readschema, readschema
