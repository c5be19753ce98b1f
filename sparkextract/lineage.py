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

Iceberg status (explicit): this sandbox ships no iceberg-spark-runtime
jar, so storage is parquet with dynamic partition overwrite plus this
manifest-style lineage table. What IS real Iceberg-like semantics here:
(a) content-addressed snapshot ids (``snapshot_id`` hashes the input
file listing — path, size, mtime_ns, inode — so a changed input is a
NEW snapshot and resume against it reprocesses, like pinning an Iceberg
snapshot-id read); (b) TIME TRAVEL — data files are laid out under
``data/snapshot=<id>/bucket=<b>/`` so a new snapshot never overwrites an
old one's files, ``read_snapshot`` resolves a pinned (or the latest)
snapshot through the lineage manifest with partition pruning doing the
file selection, and ``snapshot_log`` is the history table (snapshot,
committed_at range, buckets, row counts); (c) RETENTION —
``expire_snapshots`` drops all but the newest N snapshots: their data
directories are deleted and their manifest rows rewritten out, after
which a pinned read of an expired id raises (Iceberg
``expireSnapshots`` semantics); (d) INCREMENTAL READS —
``read_changes(from, to)`` resolves the data files committed by
snapshots in ``(from, to]`` through the manifest (Iceberg incremental
append-scan), and ``extract_incremental`` maintains the append-oriented
snapshot chain by extracting only input files no snapshot has covered
(exact for conversation-aligned appends; boundary documented on the
function); (e) SCHEMA EVOLUTION (add-column) — each snapshot's data
files carry their own schema, a pinned ``read_snapshot`` serves the
SNAPSHOT'S OWN schema (Iceberg records a schema-id per snapshot and a
time-travel read uses it), and ``read_changes`` spanning an add-column
boundary merges schemas so pre-evolution rows read NULL for the new
column (Iceberg's add-column read semantics; see ``read_changes``);
(f) COMPACTION — ``compact_snapshot`` is the bin-pack
``rewrite_data_files`` analog: it rewrites a snapshot's many small data
files into one file per bucket under a NEW physical directory, then
makes it visible with a single metadata append to the ``_replaces``
table — data is fully written BEFORE the commit record, so a crash at
any point leaves readers on the old files plus at worst an orphan
directory (``remove_orphan_files`` reclaims it). That write-ahead
protocol is a real Iceberg-style commit, strictly safer than the
directory swap ``expire_snapshots`` uses. Readers keep addressing the
LOGICAL snapshot id; resolution to the current physical directory
happens inside ``read_snapshot``/``read_changes``.
(g) FILE STATS + SCAN PRUNING — ``write_file_stats`` records per-file
column min/max into a ``_stats`` manifest (Iceberg manifest-entry
``lower_bounds``/``upper_bounds``; gathered from parquet FOOTERS on
executors, a metadata-only pass) and ``read_snapshot_pruned`` plans a
pinned read that opens ONLY files whose range overlaps the predicate —
paired with ``run_with_lineage(sort_by=)`` sorted writes (range
exchange on (bucket, key)), which is what makes the bounds selective.
What is NOT: no catalog, no Avro manifest-file FORMAT (the ``_stats``/
``_lineage``/``_replaces`` tables carry the same content as parquet),
no column renames/drops or type promotion (parquet schema merge cannot
express those without the field-id indirection a real manifest
provides), and the
manifest rewrite in ``expire_snapshots`` is a directory swap rather
than an atomic catalog commit (a crash mid-swap needs the ``_tmp``
directory recovered by hand — exactly the gap a real catalog closes).
The write path is isolated below so an Iceberg writer can be swapped in
where the runtime jar exists (``spark.sql.catalog.*`` conf +
``writeTo(...).append()``).

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

from . import pyworker
from .pipeline import extract

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"
INPUTS_DIR = "_inputs"
REPLACES_DIR = "_replaces"
STATS_DIR = "_stats"


def _replace_map(spark: SparkSession, out_dir: str) -> dict[str, str]:
    """logical snapshot id → CURRENT physical directory name. The
    ``_replaces`` table is append-only (one row per compaction commit);
    latest ``committed_at`` per logical id wins, so re-compacting a
    snapshot just appends a newer pointer. Metadata-sized."""
    try:
        rows = spark.read.parquet(os.path.join(out_dir, REPLACES_DIR)).collect()
    except Exception:
        return {}
    best: dict[str, tuple[str, float]] = {}
    for r in rows:
        if r.snapshot not in best or r.committed_at > best[r.snapshot][1]:
            best[r.snapshot] = (r.physical, r.committed_at)
    return {s: p for s, (p, _) in best.items()}


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


def snapshot_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """The table history (Iceberg ``snapshots`` metadata-table analog):
    one row per input snapshot, from the lineage manifest —
    (snapshot, first/last committed_at, n_buckets, rows_in, rows_out),
    newest last. Metadata-sized: reads only the manifest, never data."""
    lin = spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))
    return (
        lin.groupBy(F.col("input_snapshot").alias("snapshot"))
        .agg(
            F.min("committed_at").alias("first_committed_at"),
            F.max("committed_at").alias("last_committed_at"),
            F.countDistinct("partition_id").alias("n_buckets"),
            F.sum("rows_in").alias("rows_in"),
            F.sum("rows_out").alias("rows_out"),
        )
        .orderBy("first_committed_at")
    )


def _resolve_snapshot(
    spark: SparkSession, out_dir: str, snapshot: str | None
) -> tuple[str, str, list[int]]:
    """(logical id, CURRENT physical dir name, committed buckets) — the
    shared plan-time resolution for pinned and pruned reads. The logical
    id resolves to its physical directory through ``_replace_map``
    (identity unless compacted)."""
    lin = spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))
    if snapshot is None:
        latest = (
            lin.orderBy(F.col("committed_at").desc())
            .select("input_snapshot")
            .first()
        )
        if latest is None:
            raise ValueError(f"read_snapshot: no committed snapshots in {out_dir}")
        snapshot = latest.input_snapshot
    committed = [
        int(r.partition_id)
        for r in lin.where(F.col("input_snapshot") == snapshot)
        .select("partition_id").distinct().collect()
    ]
    if not committed:
        raise ValueError(f"read_snapshot: unknown snapshot {snapshot!r} in {out_dir}")
    phys = _replace_map(spark, out_dir).get(snapshot, snapshot)
    return snapshot, phys, committed


def read_snapshot(
    spark: SparkSession, out_dir: str, snapshot: str | None = None
) -> DataFrame:
    """Pinned snapshot read (Iceberg ``VERSION AS OF`` analog).

    ``snapshot=None`` resolves the LATEST snapshot from the manifest
    (max committed_at). Only buckets the manifest records as committed
    for that snapshot are visible — a crash between data-write and
    manifest-append stays invisible, the same read-committed contract the
    resume path relies on. Only the pinned snapshot's ``data/snapshot=<id>``
    directory is listed or read, so the result carries the SNAPSHOT'S OWN
    schema: a column added by a later snapshot does not appear in an
    older pinned read (Iceberg time travel reads with the snapshot's
    recorded schema-id — here the data files themselves are the record)."""
    snapshot, phys, committed = _resolve_snapshot(spark, out_dir, snapshot)
    data_path = os.path.join(out_dir, DATA_DIR)
    data = (
        spark.read.option("basePath", data_path)
        .parquet(os.path.join(data_path, f"snapshot={phys}"))
    )
    data = data.where(F.col("bucket").isin(committed))
    if phys != snapshot:
        data = data.withColumn("snapshot", F.lit(snapshot))
    return data


def read_changes(
    spark: SparkSession,
    out_dir: str,
    from_snapshot: str | None,
    to_snapshot: str | None = None,
) -> DataFrame:
    """Incremental (between-snapshot) read — the Iceberg incremental
    append-scan analog. Returns the rows committed by snapshots strictly
    AFTER ``from_snapshot`` up to and including ``to_snapshot``, resolved
    through the lineage manifest in commit order (``snapshot_log``).

    ``from_snapshot=None`` reads from the beginning (first snapshot
    inclusive) — so ``read_changes(spark, d, None)`` is the full
    current-state table under the append-oriented snapshot chain that
    ``extract_incremental`` maintains. ``to_snapshot=None`` = latest.

    Only (snapshot, bucket) pairs the manifest records as committed are
    visible (same read-committed contract as ``read_snapshot``); only the
    CHANGED snapshots' ``data/snapshot=<id>`` directories are listed or
    read, with parquet schema MERGE across them — so a range spanning an
    add-column schema evolution returns the union schema, and rows from
    pre-evolution snapshots read NULL for the added column (Iceberg's
    add-column incremental-read semantics)."""
    from functools import reduce
    from operator import or_

    log = [r.snapshot for r in snapshot_log(spark, out_dir).collect()]
    if to_snapshot is None:
        if not log:
            raise ValueError(f"read_changes: no committed snapshots in {out_dir}")
        to_snapshot = log[-1]
    if to_snapshot not in log:
        raise ValueError(f"read_changes: unknown to_snapshot {to_snapshot!r}")
    if from_snapshot is None:
        changed = log[: log.index(to_snapshot) + 1]
    else:
        if from_snapshot not in log:
            raise ValueError(
                f"read_changes: unknown from_snapshot {from_snapshot!r}"
            )
        i, j = log.index(from_snapshot), log.index(to_snapshot)
        if j < i:
            raise ValueError(
                f"read_changes: {from_snapshot!r} committed after {to_snapshot!r}"
            )
        changed = log[i + 1 : j + 1]
    data_path = os.path.join(out_dir, DATA_DIR)
    if not changed:
        # empty range: schema = the full table's merged schema, zero rows
        return (
            spark.read.option("mergeSchema", "true")
            .parquet(data_path).where(F.lit(False))
        )
    lin = spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))
    # ONE collect for the whole range (metadata-sized: ≤ snapshots ×
    # buckets rows), grouped client-side — a per-snapshot collect would
    # issue O(k) Spark jobs over the same lineage table on long chains
    committed: dict[str, list[int]] = {s: [] for s in changed}
    for r in (
        lin.where(F.col("input_snapshot").isin(changed))
        .select("input_snapshot", "partition_id")
        .distinct()
        .collect()
    ):
        committed[r.input_snapshot].append(int(r.partition_id))
    # compaction-aware: list each changed snapshot's CURRENT physical
    # directory, filter on physical ids, then map the snapshot column
    # back to logical ids so downstream code never sees a ".cK" name
    rmap = _replace_map(spark, out_dir)
    phys = {s: rmap.get(s, s) for s in changed}
    data = (
        spark.read.option("basePath", data_path)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(data_path, f"snapshot={phys[s]}") for s in changed])
    )
    pred = reduce(
        or_,
        [
            (F.col("snapshot") == phys[s]) & F.col("bucket").isin(bs)
            for s, bs in committed.items()
        ],
    )
    data = data.where(pred)
    back = {p: s for s, p in phys.items() if p != s}
    if back:
        m = F.create_map(*[F.lit(x) for kv in back.items() for x in kv])
        data = data.withColumn(
            "snapshot", F.coalesce(m[F.col("snapshot")], F.col("snapshot"))
        )
    return data


def _record_input_listing(
    spark: SparkSession, out_dir: str, snapshot: str, files: list[str]
) -> None:
    """Append the input-file listing for a snapshot (metadata-sized):
    what ``extract_incremental`` diffs against to find unseen files."""
    rows = [(snapshot, f) for f in sorted(files)]
    spark.createDataFrame(
        rows, "snapshot STRING, file STRING"
    ).write.mode("append").parquet(os.path.join(out_dir, INPUTS_DIR))


def _recorded_input_files(spark: SparkSession, out_dir: str) -> set[str]:
    path = os.path.join(out_dir, INPUTS_DIR)
    try:
        return {r.file for r in spark.read.parquet(path).collect()}
    except Exception:
        return set()


def extract_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    buckets: int = 64,
    strict: bool = False,
    **extract_kw,
) -> dict:
    """Resumable INCREMENTAL extraction: extract only the input files no
    committed snapshot has covered yet, appending one new snapshot per
    batch of new files. Composes ``run_with_lineage`` (whose bucket-level
    resume still applies within the new snapshot) with the input-listing
    manifest; ``read_changes(from, to)`` then reads exactly the turns the
    new files contributed, and ``read_changes(None)`` is the full table.

    Exactness boundary (documented, not hidden): per-turn extraction is
    embarrassingly parallel, but ``turn_seq`` is a window over the whole
    conversation — incremental output equals full recompute iff appends
    are CONVERSATION-ALIGNED (new files carry whole new conv_ids, the
    append shape of a transcript log). Files appending turns to an
    already-extracted conv_id need that conv's buckets reprocessed;
    ``strict=True`` DETECTS that case and raises instead of silently
    emitting a wrong turn_seq — one conv_id-only (column-pruned)
    distinct over the new slice joined against the committed output's
    conv set. Opt-in because the committed-conv distinct is a real scan
    of the output table (bounded by output, not input, size).

    Parquet-backed inputs only (the file listing IS the change signal);
    file-less DataFrames raise, same as ``snapshot_id``."""
    files = sorted(transcripts.inputFiles())
    if not files:
        raise ValueError(
            "extract_incremental: DataFrame has no input files; "
            "incremental ingestion needs a file-backed source"
        )
    seen = _recorded_input_files(spark, out_dir)
    new = [f for f in files if f not in seen]
    if not new:
        return {
            "processed": 0, "skipped": 0, "new_files": 0,
            "seen_files": len(files), "snapshot": None, "buckets": buckets,
        }
    df_new = spark.read.schema(transcripts.schema).parquet(*new)
    if strict and seen:
        committed_convs = read_changes(spark, out_dir, None).select(
            "conv_id"
        ).distinct()
        overlap = (
            df_new.select("conv_id").distinct()
            .join(committed_convs, "conv_id")
            .limit(5)
            .collect()
        )
        if overlap:
            sample = sorted(r.conv_id for r in overlap)
            raise ValueError(
                "extract_incremental(strict): new files carry turns for "
                f"already-extracted conversations (e.g. {sample}); a "
                "per-slice extraction would emit wrong turn_seq for them "
                "— reprocess those conversations' buckets via "
                "run_with_lineage over the full input instead"
            )
    summary = run_with_lineage(
        spark, df_new, out_dir, snapshot=None, buckets=buckets, **extract_kw
    )
    _record_input_listing(spark, out_dir, summary["snapshot"], new)
    summary["new_files"] = len(new)
    summary["seen_files"] = len(seen)
    return summary


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


def compact_snapshot(
    spark: SparkSession, out_dir: str, snapshot: str | None = None
) -> dict:
    """Bin-pack compaction (Iceberg ``rewrite_data_files`` analog): rewrite
    a committed snapshot's data files into ONE file per bucket, fixing the
    small-file problem a long-running 100 TB pipeline accumulates (every
    ``run_with_lineage`` retry and every executor task adds files; scan
    planning and open() overhead grow with file count, not data size).

    Commit protocol (the part worth copying): the compacted files are
    written COMPLETELY to a fresh physical directory
    ``data/snapshot=<id>.c<k>/`` first, and only then does ONE append to
    the ``_replaces`` table flip readers over. A crash before the append
    leaves readers on the old files with an orphan directory
    (``remove_orphan_files`` reclaims it); a crash after is a completed
    compaction. Nothing is deleted here — like Iceberg, the superseded
    files stay until ``remove_orphan_files``/``expire_snapshots`` so any
    in-flight reader of the old listing finishes correctly.

    The LOGICAL snapshot id is unchanged: pinned reads, incremental
    reads, the manifest, and the snapshot log are byte-identical before
    and after (tested). Re-compacting appends ``.c2``, ``.c3``, … with
    latest-wins resolution. ``snapshot=None`` compacts the latest.
    Rows move but never shuffle wide: one hash exchange on ``bucket``
    co-locates each bucket in one task → exactly one output file each.
    """
    lin = spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))
    if snapshot is None:
        latest = (
            lin.orderBy(F.col("committed_at").desc())
            .select("input_snapshot").first()
        )
        if latest is None:
            raise ValueError(f"compact_snapshot: no committed snapshots in {out_dir}")
        snapshot = latest.input_snapshot
    df = read_snapshot(spark, out_dir, snapshot)  # committed buckets only
    cur_phys = _replace_map(spark, out_dir).get(snapshot, snapshot)
    k = int(cur_phys.rsplit(".c", 1)[1]) + 1 if ".c" in cur_phys else 1
    physical = f"{snapshot}.c{k}"
    data_path = os.path.join(out_dir, DATA_DIR)
    src_dir = os.path.join(data_path, f"snapshot={cur_phys}")
    dest = os.path.join(data_path, f"snapshot={physical}")
    files_before = len(_data_files(src_dir))

    n_buckets = df.select("bucket").distinct().count()
    (
        df.drop("snapshot")
        .repartition(max(int(n_buckets), 1), "bucket")
        .write.partitionBy("bucket")
        .parquet(dest)
    )
    files_after = len(_data_files(dest))
    # THE commit: one metadata append makes the new directory current
    spark.createDataFrame(
        [(snapshot, physical, time.time())],
        "snapshot STRING, physical STRING, committed_at DOUBLE",
    ).write.mode("append").parquet(os.path.join(out_dir, REPLACES_DIR))
    return {
        "snapshot": snapshot,
        "physical": physical,
        "files_before": files_before,
        "files_after": files_after,
        "buckets": int(n_buckets),
    }


_VTYPES = {int: "int", float: "float", str: "str"}


def _footer_stats(spark: SparkSession, files: list[str], columns) -> list:
    """Per-file min/max for ``columns`` from the parquet FOOTERS — a
    metadata-only pass, no data pages are read (the Iceberg
    ``add_files``/migrate path builds manifests exactly this way).
    Footer reads run on EXECUTORS via mapInPandas over the file list;
    the collected result is one small row per (file, column) — the same
    size as the manifest entries Iceberg's planner reads on the driver.
    """
    import pandas as pd

    cols = list(columns)

    def scan(batches):
        pyworker.install()
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for f in pdf["file"]:
                md = pq.ParquetFile(f).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for c in cols:
                    lo = hi = None
                    ok = c in idx
                    if ok:
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(idx[c]).statistics
                            if st is None or not st.has_min_max:
                                ok = False
                                break
                            lo = st.min if lo is None else min(lo, st.min)
                            hi = st.max if hi is None else max(hi, st.max)
                    if ok and lo is not None:
                        # decode BOTH bounds before stringifying: bytes
                        # stats stored via str() would read "b'...'" and
                        # corrupt range compares in read_snapshot_pruned;
                        # non-UTF8 binary stats record as unbounded
                        try:
                            lo_v = lo.decode() if isinstance(lo, bytes) else lo
                            hi_v = hi.decode() if isinstance(hi, bytes) else hi
                        except UnicodeDecodeError:
                            out.append((f, c, None, None, "none", md.num_rows))
                            continue
                        out.append(
                            (f, c, str(lo_v), str(hi_v),
                             _VTYPES.get(type(lo_v), "str"), md.num_rows)
                        )
                    else:  # stats absent: recorded as unbounded (never pruned)
                        out.append((f, c, None, None, "none", md.num_rows))
            yield pd.DataFrame(
                out,
                columns=["file", "column", "vmin", "vmax", "vtype", "n_rows"],
            )

    fdf = spark.createDataFrame([(f,) for f in files], "file STRING")
    return (
        fdf.repartition(min(max(len(files), 1), 32))
        .mapInPandas(
            scan,
            "file STRING, column STRING, vmin STRING, vmax STRING, "
            "vtype STRING, n_rows BIGINT",
        )
        .collect()
    )


def write_file_stats(
    spark: SparkSession, out_dir: str, snapshot: str | None = None,
    columns=("conv_id",),
) -> dict:
    """Record per-data-file column min/max into the ``_stats`` manifest
    (the Iceberg manifest-entry ``lower_bounds``/``upper_bounds`` analog)
    for one snapshot's CURRENT physical file generation. Stats are read
    from parquet footers on executors (``_footer_stats``) and written
    once; plan-time pruning then reads this metadata-sized table instead
    of touching any footer. Keyed by PHYSICAL directory, so a later
    compaction naturally invalidates them — ``read_snapshot_pruned``
    falls back to a live footer scan when no stats row matches.

    Selectivity requires sorted writes (``run_with_lineage(sort_by=)``
    or a post-hoc compaction): hash-bucketed unsorted files each span
    the whole key range, and stats then prune nothing — the same truth
    table Iceberg documents for its own min/max pruning."""
    snapshot, phys, _ = _resolve_snapshot(spark, out_dir, snapshot)
    src = os.path.join(out_dir, DATA_DIR, f"snapshot={phys}")
    rows = _footer_stats(spark, _data_files(src), columns)
    dest = os.path.join(out_dir, STATS_DIR, f"snapshot={phys}")
    spark.createDataFrame(
        rows,
        "file STRING, column STRING, vmin STRING, vmax STRING, "
        "vtype STRING, n_rows BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(dest)
    return {"snapshot": snapshot, "physical": phys, "files": len({r.file for r in rows})}


def _typed(v: str | None, vtype: str):
    if v is None:
        return None
    return int(v) if vtype == "int" else float(v) if vtype == "float" else v


def read_snapshot_pruned(
    spark: SparkSession, out_dir: str, column: str, lo, hi,
    snapshot: str | None = None,
) -> DataFrame:
    """Pinned snapshot read with manifest-stats FILE PRUNING (the Iceberg
    scan-planning path): resolve the snapshot exactly like
    ``read_snapshot``, then open ONLY the data files whose recorded
    [min, max] for ``column`` overlaps [lo, hi] — files wholly outside
    the range are never listed in the scan. The residual predicate
    ``column BETWEEN lo AND hi`` still applies (file granularity is a
    superset), so the result equals
    ``read_snapshot(...).where(col BETWEEN lo AND hi)`` row-for-row while
    reading a subset of the files; files with no usable stats are kept
    (no evidence → no pruning). Stats come from the ``_stats`` manifest
    if ``write_file_stats`` ran for the current physical generation,
    else from a live executor-side footer scan at plan time."""
    snapshot, phys, committed = _resolve_snapshot(spark, out_dir, snapshot)
    data_path = os.path.join(out_dir, DATA_DIR)
    src = os.path.join(data_path, f"snapshot={phys}")
    try:
        stats = spark.read.parquet(
            os.path.join(out_dir, STATS_DIR, f"snapshot={phys}")
        ).where(F.col("column") == column).collect()
    except Exception:
        stats = []
    if not stats:
        stats = [
            r for r in _footer_stats(spark, _data_files(src), [column])
            if r.column == column
        ]
    keep = []
    for r in stats:
        vmin, vmax = _typed(r.vmin, r.vtype), _typed(r.vmax, r.vtype)
        if vmin is None or vmax is None or (vmax >= lo and vmin <= hi):
            keep.append(r.file)
    if not keep:  # every file pruned: empty result with the full schema
        base = read_snapshot(spark, out_dir, snapshot)
        return base.where(F.lit(False))
    data = (
        spark.read.option("basePath", data_path).parquet(*sorted(keep))
        .where(F.col("bucket").isin(committed))
        .where(F.col(column).between(F.lit(lo), F.lit(hi)))
    )
    if phys != snapshot:
        data = data.withColumn("snapshot", F.lit(snapshot))
    return data


def remove_orphan_files(spark: SparkSession, out_dir: str) -> dict:
    """Reclaim data directories no reader can reach (Iceberg
    ``remove_orphan_files`` + post-compaction cleanup): for every live
    logical snapshot only its CURRENT physical directory is referenced —
    superseded pre-compaction directories, older ``.cK`` generations,
    and crash leftovers (a compaction that died before its ``_replaces``
    append) are all deleted. Safe by construction: resolution happens
    through metadata committed before any data became current, so a
    directory is orphaned only once no resolution path can return it.
    (A production run would add an age threshold for writers mid-flight;
    this sandbox's writers are synchronous so none is needed.)"""
    import shutil

    live = {
        r.input_snapshot
        for r in spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))
        .select("input_snapshot").distinct().collect()
    }
    rmap = _replace_map(spark, out_dir)
    referenced = {rmap.get(s, s) for s in live}
    data_path = os.path.join(out_dir, DATA_DIR)
    removed, kept = [], []
    for d in sorted(os.listdir(data_path)):
        if not d.startswith("snapshot="):
            continue
        phys = d[len("snapshot="):]
        if phys in referenced:
            kept.append(phys)
        else:
            shutil.rmtree(os.path.join(data_path, d), ignore_errors=True)
            removed.append(phys)
    return {"removed": removed, "kept": kept}


def expire_snapshots(
    spark: SparkSession, out_dir: str, keep_last: int = 1
) -> dict:
    """Retention GC (Iceberg ``expireSnapshots`` analog): keep the newest
    ``keep_last`` snapshots (by first commit time, the ``snapshot_log``
    order), delete every older snapshot's ``data/snapshot=<id>``
    directory, and rewrite the manifest without their rows. Retained
    snapshots' reads are untouched; ``read_snapshot`` of an expired id
    raises ValueError afterwards.

    The manifest rewrite is write-new → swap — NOT an atomic catalog
    commit (see module docstring). Metadata-sized driver work only; the
    data deletes are O(#expired snapshot directories)."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    log = snapshot_log(spark, out_dir).collect()  # oldest → newest
    expired = [r.snapshot for r in log[:-keep_last]]
    if not expired:
        return {"expired": [], "kept": [r.snapshot for r in log]}
    lin_path = os.path.join(out_dir, LINEAGE_DIR)
    tmp_path = lin_path + "_tmp"
    retained = spark.read.parquet(lin_path).where(
        ~F.col("input_snapshot").isin(expired)
    )
    retained.write.mode("overwrite").parquet(tmp_path)
    # data first: an expired snapshot with its manifest rows still present
    # fails loudly on read (missing files) rather than silently serving a
    # half-deleted snapshot. An expired logical id takes EVERY physical
    # generation with it (original dir + all .cK compactions).
    rep_path = os.path.join(out_dir, REPLACES_DIR)
    try:
        reps = spark.read.parquet(rep_path).collect()
    except Exception:
        reps = []
    gone = set(expired)
    phys_by_logical: dict[str, list[str]] = {}
    for r in reps:
        phys_by_logical.setdefault(r.snapshot, []).append(r.physical)
    for snap in expired:
        for d in [snap, *phys_by_logical.get(snap, [])]:
            shutil.rmtree(
                os.path.join(out_dir, DATA_DIR, f"snapshot={d}"),
                ignore_errors=True,
            )
    if any(r.snapshot in gone for r in reps):
        keep_rows = [
            (r.snapshot, r.physical, r.committed_at)
            for r in reps if r.snapshot not in gone
        ]
        rep_tmp = rep_path + "_tmp"
        spark.createDataFrame(
            keep_rows,
            "snapshot STRING, physical STRING, committed_at DOUBLE",
        ).write.mode("overwrite").parquet(rep_tmp)
        shutil.rmtree(rep_path)
        os.rename(rep_tmp, rep_path)
    shutil.rmtree(lin_path)
    os.rename(tmp_path, lin_path)
    return {"expired": expired, "kept": [r.snapshot for r in log[-keep_last:]]}


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    snapshot: str | None = None,
    buckets: int = 64,
    transform=None,
    sort_by: str | None = None,
    sort_partitions: int | None = None,
    **extract_kw,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict.

    ``snapshot=None`` derives a content-addressed id from the input file
    listing (``snapshot_id``); file-less DataFrames need an explicit one.

    ``transform`` (default ``pipeline.extract``) maps the bucketed input
    slice to the output rows; a later snapshot may use a transform whose
    output ADDS columns (schema evolution) — pinned reads of older
    snapshots keep their own schema, ``read_changes`` merges across the
    boundary. It must keep ``conv_id`` (the bucket/partition key).

    ``sort_by`` (Iceberg sort-order analog): range-partition the output
    on (bucket, sort_by) before the write, so each bucket's data files
    carry CONTIGUOUS, largely disjoint ``sort_by`` ranges — the layout
    that makes footer/manifest min-max stats selective
    (``write_file_stats`` → ``read_snapshot_pruned``). Costs one range
    exchange (with its sampling pass), the standard sorted-write trade.
    ``sort_partitions`` bounds the output file count (files ≈ range
    partitions; defaults to Spark's shuffle partitioning — size it to
    the target file size at the corpus SF, like ``maxPartitionBytes``).
    """
    if snapshot is None:
        snapshot = snapshot_id(transcripts)
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
    fn = transform if transform is not None else extract
    out = fn(src.drop("bucket"), **extract_kw).withColumn(
        "bucket", _bucket(F.col("conv_id"), buckets)
    )
    if sort_by is not None:
        rng = (
            [sort_partitions] if sort_partitions else []
        ) + [F.col("bucket"), F.col(sort_by)]
        out = out.repartitionByRange(*rng).sortWithinPartitions(
            "bucket", sort_by
        )
    # observe AFTER the optional range exchange: repartitionByRange runs a
    # boundary-sampling job that re-executes its child subtree, so an
    # observe below it records every count at 2x truth (counts are
    # repartition-invariant, so above the exchange they execute exactly
    # once, in the write stage)
    out = out.observe(obs_out, F.count(F.lit(1)).alias("total"), *_counts("b"))
    data_path = os.path.join(out_dir, DATA_DIR)
    (
        # snapshot is the OUTER partition layer: a new input snapshot
        # writes to fresh directories and never touches an old snapshot's
        # files — that immutability is what makes read_snapshot a real
        # pinned read. Dynamic overwrite still replaces exactly the
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
