"""Connected components (large-star/small-star) vs a Python union-find."""

import pytest
from pyspark.sql import functions as F
from test_pipeline_resume import _count_jobs

from calendar_event_entity_extraction_spark.operators.resolve import (
    _canonical,
    cluster_representatives,
    connected_components,
)
from calendar_event_entity_extraction_spark.sources.tables import materialize


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # comp = min node in component
    comp = {}
    for n in parent:
        comp[n] = min(comp.get(find(n), n), n)
    return {n: comp[find(n)] for n in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {}
    # both physical paths must agree with the ground truth: the distributed
    # star rounds (driver_threshold=0 forces them) and the small-graph
    # driver union-find fast path (default threshold)
    for thresh in (0, 1_000_000):
        got = {
            r["node"]: r["comp"]
            for r in connected_components(
                df, "src", "dst", driver_threshold=thresh
            ).collect()
        }
        assert got == _union_find(edges), f"driver_threshold={thresh}"
    return got


def test_long_chain_converges_in_log_rounds(spark):
    # a 64-node chain has diameter 63; min-label propagation would need 63
    # rounds — star rounds must close it within the max_rounds=50 guard
    edges = [(i, i + 1) for i in range(63)]
    got = _check(spark, edges)
    assert set(got.values()) == {0}
    # round-count pin: alternating star rounds are O(log^2 n), so the
    # 64-node chain must converge far below the diameter bound
    df = spark.createDataFrame(edges, "src long, dst long")
    _, rounds = connected_components(
        df, "src", "dst", return_rounds=True, driver_threshold=0
    )
    assert 1 <= rounds <= 10, rounds


def test_nonconvergence_raises(spark):
    # max_rounds too small for a chain -> loud failure, never silent labels
    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(
            df, "src", "dst", max_rounds=1, driver_threshold=0
        )


def test_hot_node_star_and_disjoint_components(spark):
    edges = (
        [(1000, i) for i in range(500)]  # hot hub, 500 neighbors
        + [(2000, 2001), (2001, 2002)]  # small chain
        + [(3000, 3001)]  # pair
        + [(7, 7)]  # self-loop: dropped; 7 is in the hub component anyway
    )
    got = _check(spark, edges)
    assert got[1000] == 0 and got[499] == 0
    assert got[2002] == 2000 and got[3001] == 3000


def test_duplicate_and_reversed_edges_are_canonicalized(spark):
    edges = [(5, 9), (9, 5), (5, 9), (9, 12), (12, 5)]
    got = _check(spark, edges)
    assert set(got.values()) == {5}


def test_cluster_representatives(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    labels = connected_components(df)
    reps = {
        r["comp"]: r["n_members"]
        for r in cluster_representatives(labels).collect()
    }
    assert reps == {1: 3, 10: 2}


def test_durable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to DURABLE checkpoints:
    labels are unchanged on both physical paths, and the distributed star
    path actually writes RDD checkpoint files into the directory."""
    edges = [(0, 1), (1, 2), (5, 6)]
    ck = str(tmp_path / "ck")
    df = spark.createDataFrame(edges, "src long, dst long")
    for thresh in (0, 1_000_000):
        got = {
            r["node"]: r["comp"]
            for r in connected_components(
                df, "src", "dst", driver_threshold=thresh, checkpoint_dir=ck
            ).collect()
        }
        assert got == _union_find(edges), f"driver_threshold={thresh}"
    import glob

    assert glob.glob(f"{ck}/**/rdd-*", recursive=True), (
        "no durable checkpoint files written"
    )


@pytest.mark.parametrize(
    "typ, edges",
    [
        ("bigint", [(1, 2), (2, 3), (10, 11)]),
        ("string", [("b", "a"), ("c", "b"), ("x", "y")]),
        ("bigint", []),
    ],
)
def test_driver_path_labels_hold_no_python_rdd(spark, typ, edges):
    """The driver path hands its labels to Spark as JVM-side data: the
    labels and their types are the union-find's, and their lineage holds
    no PythonRDD (which would start a Python worker per core), also for
    an edge set with no edges, where pyspark would skip Arrow."""
    df = spark.createDataFrame(edges, f"src {typ}, dst {typ}")
    labels = connected_components(df, "src", "dst")
    assert labels.schema.simpleString() == f"struct<node:{typ},comp:{typ}>"
    assert {r["node"]: r["comp"] for r in labels.collect()} == _union_find(edges)
    lineage = labels._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage


def test_driver_path_decides_and_collects_in_one_job(spark):
    """Past the checkpoint of the canonical edges, the driver path runs
    ONE job: a collect of at most ``driver_threshold + 1`` edges both
    picks the path and brings the edges back (no count job first)."""
    df = spark.createDataFrame([(i, i + 1) for i in range(3000)], "src long, dst long")
    uv = df.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    _, checkpoint_jobs = _count_jobs(spark, lambda: materialize(_canonical(uv)))
    _, cc_jobs = _count_jobs(spark, lambda: connected_components(df, "src", "dst"))
    assert cc_jobs == checkpoint_jobs + 1, (cc_jobs, checkpoint_jobs)


@pytest.mark.parametrize("thresh, star_path", [(3, True), (4, False)])
def test_driver_threshold_boundary(spark, thresh, star_path):
    """A graph of exactly ``driver_threshold`` canonical edges takes the
    driver path; one edge more takes the star rounds. Both label alike."""
    edges = [(1, 2), (2, 3), (3, 1), (2, 1), (7, 8)]  # 4 canonical edges
    df = spark.createDataFrame(edges, "src long, dst long")
    labels, rounds = connected_components(
        df, "src", "dst", return_rounds=True, driver_threshold=thresh
    )
    assert (rounds > 0) == star_path
    assert {r["node"]: r["comp"] for r in labels.collect()} == _union_find(edges)
