"""Hierarchy (recursive) operators: ancestor closure + subtree rollup.

The reference engine's graph model answers parent-chain questions with
Cypher variable-length MATCH (same family as the motif/Kleene queries,
e.g. /root/reference/app/graph_queries.py relationship traversals); the
relational counterpart is the recursive CTE. Spark has no WITH RECURSIVE,
so the closure is built by POINTER DOUBLING: log2(depth) self-joins, each
round composing the jump table with itself (1-step, 2-step, 4-step, ...).

Scale: the ancestor closure of a forest with max depth D holds O(n*D)
rows no matter how it is computed — doubling just reaches it in
ceil(log2 D) shuffles instead of D. Hierarchies are shallow (org charts,
BOM levels, geo containment: D <= ~20), so the closure is a small
constant multiple of the input and every join is a plain equi-join —
no driver loops over rows, no recursion in Python beyond the log-depth
round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ancestor_closure's doubling-round bound: deeper chains (or a cycle) raise
_MAX_DEPTH = 32


def ancestor_closure(edges: DataFrame) -> DataFrame:
    """All (node, ancestor, steps) pairs of a parent-pointer forest.

    ``edges``: (node, parent) — one row per non-root node. Pointer
    doubling: round i holds every ancestor pair with steps < 2^i plus a
    frontier of exact-2^i jumps; composing frontier x frontier doubles
    the horizon. Terminates when the frontier empties (raises if
    ``_MAX_DEPTH`` rounds pass first — a cycle or a deeper tree than the
    caller promised)."""
    acc = edges.select(
        F.col("node"), F.col("parent").alias("anc"), F.lit(1).alias("steps")
    ).localCheckpoint(eager=True)
    frontier = acc
    jump = 1
    while True:
        if jump > _MAX_DEPTH:
            raise RuntimeError(f"hierarchy deeper than _MAX_DEPTH={_MAX_DEPTH} (cycle?)")
        # compose: frontier (exact 2^i) x acc (1..2^i) -> steps in (2^i, 2^(i+1)]
        nxt = (
            frontier.select(F.col("node"), F.col("anc").alias("mid"), "steps")
            .join(
                acc.select(
                    F.col("node").alias("mid"),
                    F.col("anc"),
                    F.col("steps").alias("s2"),
                ),
                on="mid",
            )
            .select("node", "anc", (F.col("steps") + F.col("s2")).alias("steps"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            return acc
        acc = acc.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.filter(F.col("steps") == jump * 2)
        jump *= 2


def subtree_rollup(nodes: DataFrame, edges: DataFrame, value_col: str) -> DataFrame:
    """Per-node subtree aggregate over a parent-pointer forest: every
    node's value contributes to itself and every ancestor. Returns
    (node, depth, subtree_n, subtree_sum) — depth is the ancestor count
    (root = 0).

    One closure build + ONE groupBy: the contribution list is the
    closure unioned with the self-pairs, so no per-level propagation
    rounds and no driver-side walking."""
    self_pairs = nodes.select(
        F.col("node"), F.col("node").alias("anc"), F.col(value_col).alias("v")
    )
    closure = ancestor_closure(edges)
    contrib = self_pairs.unionByName(
        closure.join(
            nodes.select("node", F.col(value_col).alias("v")), on="node"
        ).select("node", "anc", "v")
    )
    depth = (
        closure.groupBy("node").agg(F.max("steps").alias("depth"))
    )
    agg = contrib.groupBy(F.col("anc").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("subtree_n"),
        F.sum("v").alias("subtree_sum"),
    )
    return agg.join(depth, on="node", how="left").select(
        "node",
        F.coalesce(F.col("depth"), F.lit(0)).cast("bigint").alias("depth"),
        "subtree_n",
        "subtree_sum",
    )
