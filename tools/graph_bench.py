#!/usr/bin/env python
"""Graph-operator scale probe: connected components and PageRank on a
deterministic graph, with a driver-side union-find verification of the
CC labeling.

Shapes (--shape):
  gnm      — G(n, m) random graph, m = 2n ⇒ one giant LOW-diameter
             component (~log n): the aggregation-skew case.
  path     — a single n-node path: diameter n-1, the ADVERSARIAL case
             for label propagation — pointer jumping must deliver its
             O(log diameter) bound or the round count explodes.
  lollipop — an n/2-node clique-ish dense blob welded to an n/2-node
             path: high diameter AND a hub component in one graph
             (mixing-time worst case in the random-walk literature).

Usage: python tools/graph_bench.py [n_edges] [--verify] [--shape S]
Prints one JSON line (incl. convergence rounds vs the log2 bound);
record results in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from noaa_etl_spark.operators.graph import (
    _distributed_components,
    _edge_pairs,
    pagerank,
)
from noaa_etl_spark.session import get_spark


def build_edges(spark, shape: str, n_edges: int):
    """Deterministic edge list for the requested shape. Returns
    (edges DataFrame, expected diameter or None)."""
    if shape == "gnm":
        n_nodes = n_edges // 2
        return (
            spark.range(n_edges).select(
                F.pmod(F.xxhash64(F.lit("a"), F.col("id")), F.lit(n_nodes)).alias("src"),
                F.pmod(F.xxhash64(F.lit("b"), F.col("id")), F.lit(n_nodes)).alias("dst"),
            ),
            None,
        )
    if shape == "path":
        # n_edges+1 nodes in a single chain: diameter == n_edges.
        return (
            spark.range(n_edges).select(
                F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
            ),
            n_edges,
        )
    if shape == "lollipop":
        # Half the edges form a dense hashed blob over sqrt-ish many
        # nodes (every node a hub — aggregation skew), half a path
        # welded to blob node 0 — so ONE component carries both the
        # high-diameter tail and the hub blob.
        half = n_edges // 2
        blob_nodes = max(int(half**0.5), 2)
        blob = spark.range(half).select(
            F.pmod(F.xxhash64(F.lit("a"), F.col("id")), F.lit(blob_nodes)).alias("src"),
            F.pmod(F.xxhash64(F.lit("b"), F.col("id")), F.lit(blob_nodes)).alias("dst"),
        )
        # path nodes live above the blob id range; node blob_nodes
        # attaches to blob node 0
        path = spark.range(half).select(
            F.when(F.col("id") == 0, F.lit(0))
            .otherwise(F.col("id") + blob_nodes - 1)
            .alias("src"),
            (F.col("id") + blob_nodes).alias("dst"),
        )
        return blob.unionByName(path), half
    raise SystemExit(f"unknown --shape {shape}")


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    verify = "--verify" in sys.argv
    shape = "gnm"
    if "--shape" in sys.argv:
        shape = sys.argv[sys.argv.index("--shape") + 1]
    spark = get_spark("graph_bench")
    spark.sparkContext.setLogLevel("ERROR")

    edges, diameter = build_edges(spark, shape, n_edges)

    t0 = time.time()
    # the distributed loop itself: the public entry would union-find
    # graphs under its local edge cap on the driver and count no rounds
    labels, cc_rounds = _distributed_components(_edge_pairs(edges, "src", "dst"))
    labels = labels.persist()
    sizes = labels.groupBy("component").count()
    stats = sizes.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.max("count").alias("giant"),
        F.sum("count").alias("n_nodes"),
    ).collect()[0]
    t_cc = time.time() - t0

    exact = None
    if verify:
        got = {r["node"]: r["component"] for r in labels.collect()}
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges.collect():
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                parent[ra] = rb
        roots: dict[int, int] = {}
        for n in parent:
            root = find(n)
            roots[root] = min(roots.get(root, n), n)
        exact = got == {n: roots[find(n)] for n in parent}
    labels.unpersist()

    t0 = time.time()
    ranks = pagerank(edges, n_iter=10)
    mass = ranks.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    t_pr = time.time() - t0

    import math

    print(
        json.dumps(
            {
                "shape": shape,
                "edges": n_edges,
                "nodes": int(stats.n_nodes),
                "components": int(stats.n_components),
                "giant_component": int(stats.giant),
                "diameter": diameter,
                "cc_rounds": cc_rounds,
                "cc_rounds_log2_bound": (
                    math.ceil(math.log2(diameter)) + 2 if diameter else None
                ),
                "cc_sec": round(t_cc, 1),
                "cc_exact_vs_union_find": exact,
                "pagerank_sec": round(t_pr, 1),
                "pagerank_mass_error": round(abs(mass - stats.n_nodes) / stats.n_nodes, 12),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
