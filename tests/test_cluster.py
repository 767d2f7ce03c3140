"""Connected-components semantics (replacement for the reference's greedy
star clustering, dna_benchmark.h:361-417; SURVEY §2.6)."""

import math
import random

import pytest
from pyspark.sql import functions as F

from lshdedup.cluster import assign_clusters, cluster_sizes, connected_components


def test_two_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain_converges(spark):
    n = 24
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n)], ["src", "dst"]
    )
    got = connected_components(edges, max_iter=64).collect()
    assert {r["cluster_id"] for r in got} == {"v000"}
    assert len(got) == n + 1


def test_partitioning_determinism(spark):
    edges = [(f"e{i}", f"e{(i*7)%20}") for i in range(20)]
    df2 = spark.createDataFrame(edges, ["src", "dst"]).repartition(2)
    df16 = spark.createDataFrame(edges, ["src", "dst"]).repartition(16)
    c2 = {(r["id"], r["cluster_id"]) for r in connected_components(df2).collect()}
    c16 = {(r["id"], r["cluster_id"]) for r in connected_components(df16).collect()}
    assert c2 == c16


def test_assign_clusters_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], ["image_id"])
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {r["image_id"]: r["cluster_id"] for r in assign_clusters(ids, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}
    sizes = {
        r["cluster_id"]: r["n_members"]
        for r in cluster_sizes(assign_clusters(ids, edges)).collect()
    }
    assert sizes == {"a": 2, "c": 1}


def _union_find(edges):
    """{vertex: min vertex id of its component} — the Python oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["id"]: r["cluster_id"] for r in connected_components(df, **kw).collect()}


@pytest.fixture(scope="module")
def path_1000(spark):
    edges = [(i, i + 1) for i in range(999)]
    stats = {}
    return edges, _cc(spark, edges, stats=stats), stats


def test_path_1000_matches_union_find(path_1000):
    edges, got, _ = path_1000
    assert got == _union_find(edges)


def test_path_1000_rounds_logarithmic(path_1000):
    _, _, stats = path_1000
    assert stats["rounds"] <= 4 * math.ceil(math.log2(1000))
    assert len(stats["changed"]) == stats["rounds"]
    assert stats["changed"][-1] == [0, 0]


def test_shuffled_path_matches_union_find(spark):
    ids = list(range(200))
    random.Random(3).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(199)]
    assert _cc(spark, edges) == _union_find(edges)


def test_random_forest_matches_union_find(spark):
    rng = random.Random(7)
    edges = [(v, rng.randrange(v)) for v in range(1, 3000) if rng.random() < 0.97]
    assert _cc(spark, edges) == _union_find(edges)


def test_zigzag_matches_union_find(spark):
    """Small ids only ever neighbour large ones, so the first large-star
    rewrites nothing and convergence must wait on small-star too."""
    k = 40
    edges = [(i, 1000 + i) for i in range(k)] + [(i + 1, 1000 + i) for i in range(k)]
    assert _cc(spark, edges) == _union_find(edges)


def test_path_80_edges_is_one_component(spark):
    """Min-label propagation capped at 50 rounds returned 30 labels here."""
    edges = [(f"v{i:03d}", f"v{i+1:03d}") for i in range(80)]
    got = _cc(spark, edges)
    assert got == _union_find(edges)
    assert set(got.values()) == {"v000"}


def test_max_iter_exhaustion_raises(spark):
    edges = [(i, i + 1) for i in range(80)]
    with pytest.raises(RuntimeError, match="no fixpoint after 2 rounds"):
        _cc(spark, edges, max_iter=2)


def test_empty_edges(spark):
    """A corpus with no duplicates: the round's observation must still be
    filled, or ``Observation.get`` fails."""
    stats = {}
    edges = spark.createDataFrame([], "src string, dst string")
    assert connected_components(edges, stats=stats).collect() == []
    assert stats == {"rounds": 1, "changed": [[0, 0]]}


def test_assign_clusters_without_edges(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], ["image_id"])
    edges = spark.createDataFrame([], "src string, dst string")
    got = {r["image_id"]: r["cluster_id"] for r in assign_clusters(ids, edges).collect()}
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_rounds_release_their_checkpoints(spark):
    """Only the final round's edges stay in executor storage."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = rdds().size()
    stats = {}
    _cc(spark, [(i, i + 1) for i in range(80)], stats=stats)
    assert stats["rounds"] > 2
    assert rdds().size() <= before + 1
