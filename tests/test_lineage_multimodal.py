"""Lineage/resume semantics: run and exact resume, lineage row counts
observed inside the write, and content-addressed snapshot ids."""

import pytest

from sparkextract import lineage, synth
from sparkextract.lineage import committed_buckets, run_with_lineage, snapshot_id
from sparkextract.pipeline import extract
from sparkextract import schema


def test_lineage_run_and_resume(spark, tmp_path):
    pdf = synth.gen_transcripts(n_convs=10, seed=21)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    out = str(tmp_path / "out")

    s1 = run_with_lineage(spark, sdf, out, snapshot="snapA", buckets=8)
    assert s1["processed"] == 8 and s1["skipped"] == 0
    assert committed_buckets(spark, out, "snapA") == set(range(8))

    # full rerun is a no-op (exact resume: nothing uncommitted)
    s2 = run_with_lineage(spark, sdf, out, snapshot="snapA", buckets=8)
    assert s2["processed"] == 0 and s2["skipped"] == 8

    # simulate a crash: drop lineage rows for 3 buckets, resume
    lin = spark.read.parquet(f"{out}/_lineage")
    lin.where("partition_id >= 3").write.mode("overwrite").parquet(
        f"{out}/_lineage_tmp"
    )
    spark.read.parquet(f"{out}/_lineage_tmp").write.mode("overwrite").parquet(
        f"{out}/_lineage"
    )
    s3 = run_with_lineage(spark, sdf, out, snapshot="snapA", buckets=8)
    assert s3["processed"] == 3 and s3["skipped"] == 5

    # final output (fused engine) equals a direct staged-engine run
    got = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.main_text for r in extract(sdf).collect()
    }
    assert got == want


def test_lineage_keeps_conv_keyed_spread(spark, tmp_path, monkeypatch):
    """A caller's conv_id-only repartition reaches ``extract_fused`` as
    its partition count: the bucket column and the observed metrics wrap
    the input, so the engine cannot find it at the plan root itself."""
    seen = []
    real = lineage.extract_fused

    def spy(df, repartition=0):
        seen.append(repartition)
        return real(df, repartition=repartition)

    monkeypatch.setattr(lineage, "extract_fused", spy)
    pdf = synth.gen_transcripts(n_convs=6, seed=22)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).repartition(4, "conv_id")
    run_with_lineage(spark, sdf, str(tmp_path / "out"), snapshot="s", buckets=2)
    assert seen == [4]


def test_lineage_observe_counts_match_truth(spark, tmp_path):
    # rows_in/rows_out come from observe() inside the ONE write action —
    # they must equal independently recomputed per-bucket counts
    pdf = synth.gen_transcripts(n_convs=8, seed=33)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    out = str(tmp_path / "out")
    s = run_with_lineage(spark, sdf, out, snapshot="snapX", buckets=4)
    assert s["rows_in"] == sdf.count()
    lin = {r.partition_id: r for r in spark.read.parquet(f"{out}/_lineage").collect()}
    from pyspark.sql import functions as F

    truth_in = {
        r.b: r.n
        for r in sdf.groupBy(F.pmod(F.hash("conv_id"), F.lit(4)).alias("b"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    data = spark.read.parquet(f"{out}/data")
    truth_out = {
        r.bucket: r.n
        for r in data.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for b in range(4):
        assert lin[b].rows_in == truth_in.get(b, 0), b
        assert lin[b].rows_out == truth_out.get(b, 0), b


def test_lineage_snapshot_content_addressed(spark, tmp_path):
    # auto snapshot ids hash the input file listing: same files resume as
    # a no-op; a rewritten input is a NEW snapshot and reprocesses
    pdf = synth.gen_transcripts(n_convs=6, seed=34)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "out")

    sdf = spark.read.parquet(src_dir)
    sid1 = snapshot_id(sdf)
    s1 = run_with_lineage(spark, sdf, out, buckets=4)
    assert s1["processed"] == 4 and s1["snapshot"] == sid1
    s2 = run_with_lineage(spark, spark.read.parquet(src_dir), out, buckets=4)
    assert s2["processed"] == 0 and s2["skipped"] == 4  # unchanged input

    # rewrite the source (different content -> different size/mtime)
    pdf2 = synth.gen_transcripts(n_convs=7, seed=35)
    spark.createDataFrame(pdf2, schema=schema.TRANSCRIPTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    sdf2 = spark.read.parquet(src_dir)
    sid2 = snapshot_id(sdf2)
    assert sid2 != sid1
    s3 = run_with_lineage(spark, sdf2, out, buckets=4)
    assert s3["processed"] == 4 and s3["snapshot"] == sid2  # full reprocess

    # file-less frames must demand an explicit snapshot
    with pytest.raises(ValueError):
        snapshot_id(spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS))
