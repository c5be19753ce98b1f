"""Blocking recall of the IVF near-dup path (the semdedup candidate
stage): precision is 1.0 by construction (exact verify), so the quality
question is what fraction of true above-threshold pairs the cell
blocking surfaces. Committed sf0.01/sf0.1 numbers: BENCH/BASELINE.md
§near-dup recall."""

import logging
import os

import numpy as np
import pytest

from sparkextract import simsearch

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return simsearch.neardup_pair_recall(emb, nprobe_grid=(1, 2, 4))


def test_recall_bounds_and_monotone(recall):
    vals = [recall[p] for p in (1, 2, 4)]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # more probes can only add candidates (verify is the same filter)
    assert vals[0] <= vals[1] <= vals[2]


def test_default_nprobe_not_degenerate(recall):
    # a collapse at nprobe=2 on the 8-cell grid means the probe ranking
    # or the candidate join broke (the production default is higher)
    assert recall[2] >= 0.5, recall


def test_auto_default_recall_at_least_075(spark):
    """Round-5 VERDICT item 3: the EXPOSED production default (auto
    cells AND the coupled auto nprobe = max(4, cells//4)) must recover
    >= 0.75 of true above-threshold pairs. Measured across the
    (cells, nprobe) grid in BENCH/recall_grid.json: the coupled rule
    holds 0.9668 @ (16, 4) sf0.01 and 0.9978 @ (32, 8) sf0.1, vs the
    old fixed nprobe=2's 0.64/0.44 decay."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    auto = simsearch.auto_cells(emb.count())
    p = simsearch.auto_nprobe(auto)
    r = simsearch.neardup_pair_recall(emb, n_cells=auto, nprobe_grid=(p,))
    assert r[p] >= 0.75, (auto, p, r)


def test_auto_nprobe_rule_matches_sql_twin():
    """auto_nprobe must stay EXACTLY the params CTE's GREATEST(4,
    cells // 4) for every power-of-two cell count the auto rule can
    emit."""
    cells = 8
    while cells <= (1 << 30):
        assert simsearch.auto_nprobe(cells) == max(4, cells // 4)
        cells *= 2


def test_components_driver_equals_distributed(spark, monkeypatch):
    """Round-6 size-adaptive components: the driver union-find fast path
    (edges under the threshold) must label every node identically to the
    distributed min-label loop, including singletons, chains that force
    multi-round propagation, and nodes absent from every edge."""
    from pyspark.sql import functions as F

    edges = [
        (5, 3), (3, 9), (9, 7),          # chain -> min 3
        (20, 21), (21, 20),              # parallel/dup edges -> min 20
        (11, 2), (2, 15), (15, 11),      # cycle -> min 2
        (30, 31),
    ]
    nodes = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    fast = {
        (r.doc_id, r.cluster)
        for r in simsearch._propagate_min_labels(nodes, pairs).collect()
    }
    monkeypatch.setattr(simsearch, "_DRIVER_EDGE_THRESHOLD", 0)
    slow = {
        (r.doc_id, r.cluster)
        for r in simsearch._propagate_min_labels(nodes, pairs).collect()
    }
    assert fast == slow
    assert (5, 3) in fast and (7, 3) in fast and (15, 2) in fast
    assert (0, 0) in fast and (39, 39) in fast  # untouched nodes self-label


def test_components_gate_is_logged(spark, monkeypatch, caplog):
    """The components size gate logs driver with the edge count, or
    distributed when its bounded collect finds more edges than the
    limit (the distributed branch counts no edges)."""
    from pyspark.sql import functions as F

    nodes = spark.range(0, 4).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a BIGINT, doc_b BIGINT")
    caplog.set_level(logging.INFO, logger="sparkextract")
    simsearch._propagate_min_labels(nodes, pairs)
    monkeypatch.setattr(simsearch, "_DRIVER_EDGE_THRESHOLD", 1)
    simsearch._propagate_min_labels(nodes, pairs)
    lines = [
        r.getMessage() for r in caplog.records
        if r.name == "sparkextract.simsearch"
        and r.getMessage().startswith("components:")
    ]
    assert lines == [
        "components: driver (2 edges, driver limit 2000000)",
        "components: distributed (edges exceed driver limit 1)",
    ]


# the job-count pin holds for sf0.001, whichever scale PARITY_SF_DIR picks
SF0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.mark.skipif(not os.path.exists(SF0001), reason="testdata absent")
@pytest.mark.parametrize("query, jobs", [
    ("training_corpus_v2", 17),
    ("training_corpus_v3", 27),
])
def test_training_corpus_v2_job_count(spark, query, jobs):
    """Plan guard for the capstones: building and collecting v2 on
    sf0.001 runs 17 Spark jobs (the auto-cells count, IVF init and
    training rounds, the components gate's one bounded edge collect and
    the final collect), with no eager checkpoint, no keeper join-back
    and no representative self-join left to add jobs; v3 adds its
    classifier gate and the ``sem`` and ``kept`` checkpoints for 27. v4
    and v5 are not pinned: with AQE their counts move by one from run to
    run. A new materialization or driver action shows up here."""
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    group = f"{query}-job-count"
    sc.setJobGroup(group, f"{query} job-count guard")
    try:
        rows = entrymod.queries()[query](spark, SF0001).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


@pytest.mark.skipif(not os.path.exists(SF0001), reason="testdata absent")
def test_lsh_build_runs_no_job(spark):
    """Building ``cosine_neardup_lsh``'s DataFrame is lazy: it starts no
    Spark job until an action runs it."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    sc = spark.sparkContext
    group = "cosine_neardup_lsh-build"
    sc.setJobGroup(group, "cosine_neardup_lsh build guard")
    try:
        simsearch.cosine_neardup_lsh(docs, emb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _dict_min_labels(edges):
    """Reference: union-find on a dict with min-id roots (the component
    label is its smallest id)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_numpy_min_labels_equal_dict_unionfind():
    """No Spark: ``_min_labels`` labels every edge-touched id with its
    component minimum, like a dict union-find — on random graphs of
    several densities, a 2,000-node chain in both id orders and shuffled,
    duplicate and self edges, and an empty edge set."""
    rng = np.random.default_rng(5)
    graphs = []
    for n, m in ((10, 5), (50, 40), (200, 150), (200, 600), (1000, 900)):
        for _ in range(10):
            ids = rng.choice(10 * n, n, replace=False)
            graphs.append(ids[rng.integers(0, n, (m, 2))])
    chain = np.arange(2000)
    perm = rng.permutation(2000)
    graphs += [
        np.c_[chain[:-1], chain[1:]],
        np.c_[chain[:0:-1], chain[-2::-1]],
        np.c_[perm[:-1], perm[1:]],
        np.array([[7, 7], [3, 9], [9, 3], [3, 9], [5, 5], [9, 1]]),
        np.zeros((0, 2), np.int64),
    ]
    for g in graphs:
        ids, labels = simsearch._min_labels(g[:, 0], g[:, 1])
        assert dict(zip(ids.tolist(), labels.tolist())) == _dict_min_labels(
            g.tolist()
        )
        assert (np.diff(ids) > 0).all()
