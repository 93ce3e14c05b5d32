"""Property-graph layer on DataFrames.

The reference materializes a 27-label / 27-relationship property graph in
Neo4j (SURVEY §1.2-1.3); here the graph IS a pair of DataFrames:

- ``vertices``: ``(id, label, properties...)`` — one row per node, ``id`` a
  stable string natural key (F15 composite ids).
- ``edges``: ``(src, dst, rel_type, properties...)``.

Motif traversal (the Cypher ``MATCH (a)-[:R]->(b)`` patterns) is join
composition; analytics (connected components, PageRank) are iterative
DataFrame programs in :mod:`graph_db_spark.graph.algorithms` — the
"GraphX for analytics" stance from BASELINE.json, implemented directly on
DataFrames so no external GraphFrames dependency is needed (SURVEY §7.4.6).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NODE_RE = re.compile(r"\(\s*(\w+)\s*(?::\s*(\w+))?\s*\)")
_EDGE_RE = re.compile(
    r"(<-|-)\s*(?:\[\s*:?\s*(\w*)\s*(?:(\*)\s*(\d+)?(?:\s*\.\.\s*(\d+))?)?\s*\])?\s*(->|-)"
)


def _parse_motif(
    pattern: str,
) -> tuple[list[tuple[str, str | None, str, tuple[int, int] | None]], dict[str, str]]:
    """Parse a GraphFrames/Cypher-style motif pattern into directed
    quads ``(src_name, rel_type|None, dst_name, kleene|None)`` plus
    per-name label constraints. Supported syntax, chained and
    ``;``-separated::

        (a)-[:REL]->(b)        typed edge
        (a)-->(b)              any-type edge
        (a)<-[:REL]-(b)        reversed direction
        (a:Label)              label constraint on the vertex
        (a)-[:REL*1..3]->(b)   variable-length (Kleene) path, 1-3 hops
        (a)-[*2]->(b)          exactly-2-hop any-type path

    Kleene spans bind ``(a, b)`` when SOME path whose length lies in
    ``[min, max]`` connects them — one row per distinct endpoint binding
    (set semantics), never one row per path (path enumeration is
    exponential; endpoint reachability is what a DataFrame engine can
    answer at scale). ``*n`` means exactly n; ``*m..n`` a range; min ≥ 1.

    Re-using a name joins on it — ``(a)-[:R]->(b); (b)-[:S]->(c)`` chains,
    ``(a)-[:R]->(b); (a)-[:S]->(c)`` branches, and repeating both ends
    closes a cycle."""
    triples: list[tuple[str, str | None, str, tuple[int, int] | None]] = []
    labels: dict[str, str] = {}

    def take_node(s: str, where: str) -> tuple[str, str]:
        m = _NODE_RE.match(s)
        if not m:
            raise ValueError(f"expected (name[:Label]) at {where}: {s[:30]!r}")
        name, lbl = m.group(1), m.group(2)
        if lbl:
            if labels.get(name, lbl) != lbl:
                raise ValueError(f"conflicting labels for ({name})")
            labels[name] = lbl
        return name, s[m.end():].lstrip()

    for chain in pattern.split(";"):
        chain = chain.strip()
        if not chain:
            continue
        left, rest = take_node(chain, "chain start")
        while rest:
            em = _EDGE_RE.match(rest)
            if not em:
                raise ValueError(f"expected -[:TYPE]-> or --> at: {rest[:30]!r}")
            head, rel, tail = em.group(1), em.group(2) or None, em.group(6)
            span: tuple[int, int] | None = None
            if em.group(3) is not None:
                if em.group(4) is None and em.group(5) is None:
                    raise ValueError(
                        "unbounded Kleene '*' unsupported — give an explicit "
                        "bound (*n or *m..n); unbounded reachability is "
                        "shortest_paths/connected_components territory"
                    )
                mn = int(em.group(4)) if em.group(4) is not None else 1
                mx = int(em.group(5)) if em.group(5) is not None else mn
                if mn < 1 or mx < mn:
                    raise ValueError(f"bad Kleene span *{mn}..{mx} (need 1 <= min <= max)")
                span = (mn, mx)
            if (head, tail) not in {("-", "->"), ("<-", "-")}:
                raise ValueError(f"undirected edges unsupported: {em.group(0)!r}")
            right, rest = take_node(rest[em.end():].lstrip(), f"after {em.group(0)!r}")
            if head == "<-":
                triples.append((right, rel, left, span))
            else:
                triples.append((left, rel, right, span))
            left = right
    if not triples:
        raise ValueError(f"no edges in motif pattern: {pattern!r}")
    return triples, labels


@dataclass
class PropertyGraph:
    vertices: DataFrame  # columns: id, label, ...
    edges: DataFrame  # columns: src, dst, rel_type, ...

    def degrees(self) -> DataFrame:
        """Total degree treating edges as undirected."""
        ends = self.edges.select(F.col("src").alias("id")).unionAll(
            self.edges.select(F.col("dst").alias("id"))
        )
        return ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    def find(self, pattern: str, props: dict[str, list[str]] | None = None) -> DataFrame:
        """Composable motif finder — the Cypher ``MATCH`` / GraphFrames
        ``find`` contract (SURVEY §1.6): one column per named vertex,
        one row per binding of the pattern. See :func:`_parse_motif`
        for the syntax (typed/untyped edges, both directions, label
        constraints, ``;``-separated chains that branch or close cycles
        by re-using names).

        Execution is pure join composition: each edge triple is an
        equi-join on whichever of its endpoints is already bound (both,
        for a cycle-closing edge), and each label constraint is one join
        against the label-filtered vertex table. Catalyst reorders the
        joins and AQE handles skew — same plan shape the hand-written
        motif queries used, now generated. At 100 TB restrict the anchor
        set first (filter the first-named vertex) so hops stay selective.

        ``props={'a': ['name', ...]}`` projects vertex properties for
        named vertices as ``<name>_<prop>`` columns — Cypher's
        ``RETURN a.name`` — via one column-pruned vertex join per name.

        A ``*m..n`` Kleene edge expands to the DISTINCT endpoint-pair
        set via n-1 iterated frontier self-joins with per-level dedup
        (pair-set BFS — per-level shuffle is O(reachable pairs), never
        path enumeration); a label constraint on its source name is
        pushed into the seed frontier so anchored patterns like
        ``(a:Nation)-[*1..3]->(b)`` only ever expand from the anchor set.
        """
        triples, labels = _parse_motif(pattern)
        out: DataFrame | None = None
        bound: set[str] = set()
        pending = list(triples)
        while pending:
            # pick the next triple that connects to what's bound (keeps
            # the build join-connected regardless of pattern order)
            idx = next(
                (i for i, t in enumerate(pending) if out is None or t[0] in bound or t[2] in bound),
                None,
            )
            if idx is None:
                raise ValueError(
                    "disconnected motif pattern (a cartesian product across "
                    "components is never implicit — split the pattern and "
                    "cross-join explicitly if that is really intended)"
                )
            a, rel, b, span = pending.pop(idx)
            e = self.edges
            if rel is not None:
                e = e.filter(F.col("rel_type") == rel)
            if span is not None:
                if a == b:
                    raise ValueError("Kleene self-loop (a)-[*..]->(a) unsupported")
                seed = None
                if a not in bound and a in labels:
                    seed = self.vertices.filter(
                        F.col("label") == labels[a]
                    ).select("id")
                hop = self._kleene_pairs(e, span[0], span[1], seed).select(
                    F.col("s").alias(a), F.col("d").alias(b)
                )
            elif a == b:  # self-loop edge: both endpoints the same name
                hop = e.filter(F.col("src") == F.col("dst")).select(F.col("src").alias(a))
            else:
                hop = e.select(F.col("src").alias(a), F.col("dst").alias(b))
            if out is None:
                out = hop
            else:
                on = [n for n in dict.fromkeys((a, b)) if n in bound]
                out = out.join(hop, on=on, how="inner")
            bound |= {a, b}
        for name, lbl in labels.items():
            if name not in bound:
                raise ValueError(f"label constraint on unused name ({name}:{lbl})")
            lv = self.vertices.filter(F.col("label") == lbl).select(F.col("id").alias(name))
            out = out.join(lv, on=name, how="inner")
        out = out.select(*sorted(bound))
        if props:
            # Cypher's RETURN a.prop: one broadcast-or-shuffle join per
            # named vertex against the needed vertex columns only
            # (column-pruned — never the whole property set)
            bad = set(props) - bound
            if bad:
                raise ValueError(f"props requested for unbound names {sorted(bad)}")
            for name, cols in props.items():
                pv = self.vertices.select(
                    F.col("id").alias(name),
                    *[F.col(c).alias(f"{name}_{c}") for c in cols],
                )
                out = out.join(pv, on=name, how="left")
        return out

    @staticmethod
    def _kleene_pairs(e: DataFrame, mn: int, mx: int, seed: DataFrame | None) -> DataFrame:
        """Distinct ``(s, d)`` pairs connected by a directed path of
        length in ``[mn, mx]`` over the (pre-filtered) edge set ``e``.

        Pair-set BFS: level L+1 = distinct(level L ⋈ edges), accumulated
        from level mn. Each level is one equi-join on the frontier's far
        endpoint + one distinct — shuffle is O(reachable pairs), and the
        per-level dedup is what keeps a diamond-shaped DAG from
        enumerating exponentially many paths. ``seed`` (start ids, e.g. a
        label-constrained anchor, or None) restricts level 1 via a
        semi-join so the whole expansion is proportional to the anchored
        reachable set, not the graph. Levels are localCheckpointed —
        bounded-depth lineage, same discipline as the iterative graph
        algorithms."""
        base = e.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        if seed is not None:
            base = base.join(
                seed.select(F.col("id").alias("s")), on="s", how="left_semi"
            )
        cur = base.distinct().localCheckpoint()
        acc = cur if mn <= 1 else None
        for _depth in range(2, mx + 1):
            cur = (
                cur.join(
                    e.select(F.col("src").alias("d"), F.col("dst").alias("_nd")),
                    on="d",
                )
                .select("s", F.col("_nd").alias("d"))
                .distinct()
                .localCheckpoint()
            )
            if _depth >= mn:
                acc = cur if acc is None else acc.unionByName(cur)
        if acc is None:  # mn > mx is rejected at parse; mn == mx covered above
            acc = cur
        return acc.distinct()

    def motif_path(self, rel_types: list[str]) -> DataFrame:
        """n-hop path motif: returns ``(v0, v1, ..., vn)`` rows for the
        relationship-type chain — the join-composition equivalent of the
        reference's Field→Station→WeatherDay style paths (SURVEY §1.3).
        Thin wrapper over :meth:`find`; byte-identical to the round-3
        hand-rolled join chain (pinned by test_graph).

        Each hop is an equi-join on the previous hop's endpoint; Catalyst
        reorders and AQE handles skew. At 100 TB restrict the anchor set
        first (filter v0) so hops stay selective.
        """
        pattern = "".join(
            f"(v{i})-[:{rt}]->" for i, rt in enumerate(rel_types)
        ) + f"(v{len(rel_types)})"
        # v10 sorts before v2 lexicographically; reorder to path order
        return self.find(pattern).select(*[f"v{i}" for i in range(len(rel_types) + 1)])
