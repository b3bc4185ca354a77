"""Recursive hierarchy traversal (the WITH RECURSIVE gap).

Spark has no recursive CTE; org charts, BOM explosions, category trees
and referral chains still need transitive root/depth resolution. This
provides it as POINTER DOUBLING: each round every node's known
ancestor jumps to that ancestor's own known ancestor, doubling the
resolved path length — O(log depth) self-joins instead of the O(depth)
rounds a naive parent-following loop (or a recursive CTE executor)
pays. A 20-level hierarchy resolves in 5 shuffles; a million-level
pathological chain in 20.

Same driver-side convergence pattern as the distributed connected
components loop in operators/graph.py: per-round localCheckpoint cuts
the lineage (20 joins of lazy lineage would otherwise blow plan
compilation), and a count() decides termination — the loop is over
ROUNDS (log-depth few), not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_roots(nodes: DataFrame, max_iter: int = 20) -> DataFrame:
    """Resolve (node, root, depth) for a forest given (node, parent)
    edges, where a root is a node with parent NULL (callers map their
    own root convention — self-parent, sentinel — to NULL).

    Returns one row per input node: its root ancestor and its depth
    below that root. Raises if the structure does not converge within
    max_iter doubling rounds (a cycle, or depth > 2^max_iter)."""
    state = nodes.select(
        "node",
        F.coalesce("parent", "node").alias("anc"),
        F.when(F.col("parent").isNull(), 0).otherwise(1).alias("depth"),
        F.col("parent").isNull().alias("done"),
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        if state.filter(~F.col("done")).limit(1).count() == 0:
            return state.select("node", F.col("anc").alias("root"), "depth")
        anc = state.select(
            F.col("node").alias("a_node"),
            F.col("anc").alias("a_anc"),
            F.col("depth").alias("a_depth"),
            F.col("done").alias("a_done"),
        )
        # unresolved nodes jump: ancestor's ancestor, accumulated depth.
        # A DANGLING parent (anc not present as a node — trimmed input,
        # partial snapshot) resolves as its own root rather than
        # spinning: the deepest KNOWN ancestor is the honest answer for
        # a forest cut at an ingestion boundary.
        dangling = ~F.col("done") & F.col("a_node").isNull()
        state = (
            state.join(anc, state["anc"] == anc["a_node"], "left")
            .select(
                "node",
                F.when(F.col("done") | dangling, F.col("anc"))
                .otherwise(F.col("a_anc"))
                .alias("anc"),
                F.when(F.col("done") | dangling, F.col("depth"))
                .otherwise(F.col("depth") + F.col("a_depth"))
                .alias("depth"),
                F.when(F.col("done") | dangling, F.lit(True))
                .otherwise(F.coalesce("a_done", F.lit(False)))
                .alias("done"),
            )
            .localCheckpoint(eager=True)  # cut lineage growth per round
        )
    raise RuntimeError(
        f"hierarchy did not resolve in {max_iter} doubling rounds "
        "(cycle, or depth > 2^max_iter)"
    )
