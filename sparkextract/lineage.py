"""Checkpointed, resumable batch runs with per-partition lineage
(north_rule; SURVEY.md §2.8/§4.3).

The unit of progress is a conv_id hash bucket. A bucket is *committed*
iff a lineage row (bucket, input snapshot, rows in/out, wall time)
exists — output data for uncommitted buckets is overwritten on retry, so
a crash between data-write and lineage-append resolves to "re-do that
bucket" (idempotent, exactly the reference-compatible semantics: the
reference has no resume at all — strictly batch over files,
tasks/ocr/task.py:58-86 — so this is new scale design).

Resume = anti-join pending buckets against committed lineage: one extra
metadata-sized read, no per-bucket driver loop.

Iceberg status (explicit): the project ships no iceberg-spark-runtime
jar, so storage is parquet with dynamic partition overwrite plus this
manifest-style lineage table. Snapshot ids are content-addressed
(``snapshot_id`` hashes the input file listing — path, size, mtime_ns,
inode — so a changed input is a NEW snapshot and resume against it
reprocesses, like pinning an Iceberg snapshot-id read), and data files
are laid out under ``data/snapshot=<id>/bucket=<b>/`` so a new snapshot
never overwrites an old one's files. Time travel, incremental reads,
compaction, stats pruning and snapshot expiry are what a real Iceberg
runtime supplies on top of this layout; none is reimplemented here. The
write path is isolated in ``run_with_lineage`` so an Iceberg writer can
be swapped in where the runtime jar exists (``spark.sql.catalog.*`` conf
+ ``writeTo(...).append()``).

rows_in / rows_out are computed with ``DataFrame.observe`` — metrics
collected as a side effect of the ONE write action (a per-bucket
count_if vector), so lineage costs zero extra passes over the corpus.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fused import _conv_keyed_partitions, extract_fused

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"


def _bucket(col, n: int):
    return F.pmod(F.hash(col), F.lit(n))


def snapshot_id(df: DataFrame) -> str:
    """Content-addressed input snapshot id: md5 over the sorted listing of
    the files backing ``df`` (path, size, mtime where statable). Stands in
    for an Iceberg snapshot id when no catalog is present: same inputs →
    same id; any rewritten/added input file → new id → resume reprocesses.

    Raises for non-file-backed DataFrames (createDataFrame, views): those
    have no listable input, so callers must pass an explicit snapshot.
    """
    files = sorted(df.inputFiles())
    if not files:
        raise ValueError(
            "snapshot_id: DataFrame has no input files; pass snapshot= explicitly"
        )
    h = hashlib.md5()
    for f in files:
        p = f[len("file:"):] if f.startswith("file:") else f
        try:
            st = os.stat(p)
            # mtime_ns + inode: a file rewritten in place within the same
            # second at identical size still changes the snapshot id
            h.update(
                f"{f}|{st.st_size}|{st.st_mtime_ns}|{st.st_ino}".encode()
            )
        except OSError:  # non-local scheme: path identity only
            h.update(f.encode())
    return h.hexdigest()


def committed_buckets(spark: SparkSession, out_dir: str, snapshot: str) -> set[int]:
    path = os.path.join(out_dir, LINEAGE_DIR)
    try:
        lin = spark.read.parquet(path)
    except Exception:
        return set()
    rows = lin.where(F.col("input_snapshot") == snapshot).select("partition_id").collect()
    return {r.partition_id for r in rows}


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    snapshot: str | None = None,
    buckets: int = 64,
    repartition: int = 0,
) -> dict:
    """Run (or resume) the extraction job (``fused.extract_fused``, with
    ``repartition`` passed through). Returns a summary dict.

    ``repartition=0`` takes the partition count of a caller's conv_id-only
    repartition of ``transcripts`` (``fused._conv_keyed_partitions``): the
    bucket column and the observed metrics wrap it below, so
    ``extract_fused`` would no longer see it at the plan root.

    ``snapshot=None`` derives a content-addressed id from the input file
    listing (``snapshot_id``); file-less DataFrames need an explicit one.
    """
    if snapshot is None:
        snapshot = snapshot_id(transcripts)
    if repartition == 0:
        repartition = _conv_keyed_partitions(transcripts)
    done = committed_buckets(spark, out_dir, snapshot)
    todo = sorted(set(range(buckets)) - done)
    if not todo:
        return {
            "buckets": buckets, "processed": 0, "skipped": len(done),
            "snapshot": snapshot,
        }

    src = transcripts.withColumn("bucket", _bucket(F.col("conv_id"), buckets))
    if done:  # resume: anti-join committed buckets
        src = src.where(~F.col("bucket").isin([int(b) for b in done]))

    # per-bucket input/output counts ride along inside the single write
    # action (CollectMetrics): no separate groupBy().collect() pre-pass,
    # which at 100 TB would be a full extra scan just for metadata
    def _counts(prefix: str):
        return [
            F.count_if(F.col("bucket") == int(b)).alias(f"{prefix}{b}") for b in todo
        ]

    obs_in = Observation("lineage_rows_in")
    obs_out = Observation("lineage_rows_out")
    src = src.observe(obs_in, F.count(F.lit(1)).alias("total"), *_counts("b"))

    t0 = time.perf_counter()
    out = extract_fused(src.drop("bucket"), repartition=repartition).withColumn(
        "bucket", _bucket(F.col("conv_id"), buckets)
    )
    out = out.observe(obs_out, F.count(F.lit(1)).alias("total"), *_counts("b"))
    data_path = os.path.join(out_dir, DATA_DIR)
    (
        # snapshot is the OUTER partition layer: a new input snapshot
        # writes to fresh directories and never touches an old snapshot's
        # files, so every committed snapshot stays readable under its own
        # directory. Dynamic overwrite still replaces exactly the
        # (snapshot, bucket) pairs being (re)written on retry.
        out.withColumn("snapshot", F.lit(snapshot))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot", "bucket")
        .parquet(data_path)
    )
    m_in, m_out = obs_in.get, obs_out.get
    rows_in = {b: int(m_in[f"b{b}"]) for b in todo}
    rows_out = {b: int(m_out[f"b{b}"]) for b in todo}
    wall = time.perf_counter() - t0

    committed_at = time.time()
    lineage_rows = [
        (int(b), snapshot, rows_in[b], rows_out[b],
         float(round(wall / max(len(todo), 1), 4)), committed_at,
         f"{DATA_DIR}/snapshot={snapshot}/bucket={int(b)}")
        for b in todo
    ]
    spark.createDataFrame(
        lineage_rows,
        "partition_id INT, input_snapshot STRING, rows_in BIGINT, "
        "rows_out BIGINT, wall_time_s DOUBLE, committed_at DOUBLE, "
        "data_path STRING",
    ).write.mode("append").parquet(os.path.join(out_dir, LINEAGE_DIR))
    return {
        "buckets": buckets,
        "processed": len(todo),
        "skipped": len(done),
        "snapshot": snapshot,
        "rows_in": sum(rows_in.values()),
        "rows_out": sum(rows_out.values()),
        "wall_time_s": round(wall, 3),
    }
