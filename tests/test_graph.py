"""Pins promised by operators/graph.py docstrings: connected_components'
driver union-find arm and its distributed arm (forced by monkeypatching
LOCAL_EDGE_CAP, the HOT_BAND_CAP idiom) are both equal to the exact
min-label fixpoint, on either side of the size dispatch."""

import random

import pytest

from noaa_etl_spark.operators import graph
from noaa_etl_spark.operators.graph import _local_union_find, connected_components


def _random_edges(seed: int, n_nodes: int = 60, n_edges: int = 90):
    rng = random.Random(seed)
    return [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]


def _labels(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _reference_components(edges):
    """Pure-Python min-label reference (independent of _local_union_find)."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, stack = {start}, [start]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        m = min(seen)
        for x in seen:
            out[x] = m
    return out


@pytest.mark.parametrize("seed", [1, 7])
def test_local_union_find_matches_distributed(spark, monkeypatch, seed):
    """_local_union_find == the distributed loop's exact fixpoint
    (component = min reachable node id) on random multigraphs."""
    edges = _random_edges(seed)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ref = _reference_components(edges)
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)
    dist = _labels(connected_components(df))
    local = dict(
        _local_union_find([{"u": u, "v": v} for u, v in edges])
    )
    assert dist == ref
    assert local == ref


def test_auto_takes_both_dispatch_arms_identically(spark, monkeypatch):
    """connected_components: local arm (default cap) and distributed
    arm (cap forced to 0) produce identical labels."""
    edges = _random_edges(3)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ref = _reference_components(edges)
    assert _labels(connected_components(df)) == ref
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)
    assert _labels(connected_components(df)) == ref


def test_auto_dispatch_boundary_raw_rows(spark, monkeypatch):
    """The probe counts RAW rows (no distinct shuffle): duplicate
    edges can push a borderline graph to the distributed arm — both
    sides of the boundary stay label-identical."""
    edges = [(1, 2), (2, 3), (1, 2), (1, 2)]  # 4 raw rows, 2 distinct
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ref = {1: 1, 2: 1, 3: 1}
    # cap 4 = raw count -> local arm; cap 3 < raw count -> distributed
    # (even though distinct count 2 <= 3: conservative by design).
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 4)
    assert _labels(connected_components(df)) == ref
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 3)
    assert _labels(connected_components(df)) == ref


def test_auto_distributed_arm_honors_round_cap(spark, monkeypatch):
    """MAX_ROUNDS binds the distributed arm, which raises rather than
    return split components (the local arm always converges)."""
    chain = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(chain, "src bigint, dst bigint")
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)
    monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df)


def test_grid_graph_local_matches_distributed(spark, monkeypatch):
    """A bounded-universe grid graph (the q_geo_cluster shape: cells
    joined to their ±1 neighbours, u < v) labels identically on the
    local and the distributed arm."""
    dense = {(r, c) for r in range(12) for c in range(15) if (r * 7 + c * 3) % 5}
    cid = {rc: rc[0] * 1000 + rc[1] for rc in dense}
    edges = [
        (cid[a], cid[b])
        for a in dense
        for b in dense
        if cid[a] < cid[b] and abs(a[0] - b[0]) <= 1 and abs(a[1] - b[1]) <= 1
    ]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    ref = _reference_components(edges)
    assert _labels(connected_components(df, src="u", dst="v")) == ref
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)
    assert _labels(connected_components(df, src="u", dst="v")) == ref


def test_dedup_survivors_match_on_both_arms(spark, monkeypatch):
    """dedup._label_survivors (min-id survivor per near-dup cluster over
    (id_a, id_b) edges) reads the same labels from either CC arm."""
    from noaa_etl_spark.operators.dedup import _label_survivors

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    expect = {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False), 20: (20, True),
    }

    def survivors():
        return {
            r["id"]: (r["component"], r["keep"])
            for r in _label_survivors(docs, "doc_id", edges).collect()
        }

    assert survivors() == expect
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)
    assert survivors() == expect
