"""Connected components (functions.components): pair list → duplicate
clusters with min-doc_id canonical labels."""

from __future__ import annotations

import pytest

from bearysta_spark.functions.components import cluster_sizes, connected_components


def _labels(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = connected_components(df)
    return {r["node"]: r["component"] for r in got.collect()}


def test_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_multiple_iterations(spark):
    # Diameter-5 path: the min label must propagate hop by hop.
    got = _labels(spark, [(5, 6), (4, 5), (3, 4), (2, 3), (1, 2)])
    assert got == {i: 1 for i in range(1, 7)}


def test_direction_and_duplicates_irrelevant(spark):
    got = _labels(spark, [(9, 2), (2, 9), (9, 2), (7, 9)])
    assert got == {2: 2, 7: 2, 9: 2}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_cluster_sizes(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    got = {
        r["component"]: r["n_docs"]
        for r in cluster_sizes(connected_components(df)).collect()
    }
    assert got == {1: 3, 10: 2}


def test_unconverged_raises(spark):
    # a 12-node path needs ~11 min-label rounds; cap at 2 → must raise,
    # not silently return split components (ADVICE r01)
    import pytest as _pytest

    from bearysta_spark.functions.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a: long, id_b: long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def _mats() -> set:
    import os

    from bearysta_spark.scratch import scratch_root

    root = scratch_root()
    if not os.path.isdir(root):
        return set()
    return {d for d in os.listdir(root) if d.startswith("mat_")}


def test_max_iter_below_one_raises_before_writing(spark):
    before = _mats()
    edges = spark.createDataFrame([(1, 2)], "id_a: long, id_b: long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=0)
    assert _mats() == before


def test_deep_path_converges_at_default_max_iter(spark):
    # a 16-node path has diameter 15: min-label needs one round per hop
    # (plus the round that sees nothing move), inside the default cap
    got = _labels(spark, [(i, i + 1) for i in range(15)])
    assert got == {i: 0 for i in range(16)}


def test_empty_edges_keep_the_label_schema(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    got = connected_components(df)
    assert got.dtypes == [("node", "bigint"), ("component", "bigint")]
    assert got.collect() == []


def test_leaves_only_the_returned_labels_in_scratch(spark):
    # the edge frame and every round's labels are scratch parquet: after
    # one call only the returned labels' directory is left, and nothing
    # is pinned
    import os

    from bearysta_spark.scratch import path_of

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before, pinned_before = _mats(), pinned()
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)], ["id_a", "id_b"]
    )
    got = connected_components(df)
    new = _mats() - before
    assert len(new) == 1
    assert os.path.basename(path_of(got)) in new
    assert pinned() == pinned_before
    assert {r["node"]: r["component"] for r in got.collect()} == {
        **{i: 0 for i in range(6)},
        10: 10,
        11: 10,
    }


def _union_find_labels(edges):
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
    # union by min root keeps every root the minimum of its component
    return {x: find(x) for x in parent}


# Property coverage over seeded random graphs, deselected by default
# with the other slow tests (run with -m slow). The deterministic CC
# tests above stay in the default gate.
@pytest.mark.slow
def test_matches_union_find_random_graphs(spark):
    # deterministic pseudo-random multigraphs: min-label components must
    # equal a pure-Python union-find's (node -> component-min) labeling
    import random

    rnd = random.Random(1234)
    for trial in range(6):
        n = rnd.randint(2, 40)
        m = rnd.randint(1, 70)
        edges = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(m)
        ]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, max_iter=50).collect()
        }
        want = _union_find_labels(edges)
        assert got == want, f"trial {trial}: {sorted(got.items())} != {sorted(want.items())}"
