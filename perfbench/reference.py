"""Plain-Python reference results for the ``graph_rounds`` checks.

Computed once per run on the base fixture (one copy), with the semantics
the engine documents: the same labelled edge list as
``graph.build.build_graph``; connected components labelled by their minimum
string id; PageRank with uniform reset and uniform redistribution of the
dangling mass, starting from 1/n; the k-core of the simple undirected graph
with degrees inside the core; directed BFS distances from each landmark.
"""

from __future__ import annotations

import os
from collections import defaultdict, deque

import pyarrow.parquet as pq


def edges(base_dir: str) -> list[tuple[str, str]]:
    """The fixture graph's directed edge list, duplicates kept."""
    def cols(table, *names):
        t = pq.read_table(os.path.join(base_dir, f"{table}.parquet"), columns=list(names))
        return zip(*(t[n].to_pylist() for n in names))

    out = [(f"R:{r}", f"N:{n}") for n, r in cols("nation", "n_nationkey", "n_regionkey")]
    out += [(f"N:{n}", f"C:{c}") for c, n in cols("customer", "c_custkey", "c_nationkey")]
    out += [(f"C:{c}", f"O:{o}") for o, c in cols("orders", "o_orderkey", "o_custkey")]
    for o, ln, p, s in cols("lineitem", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"):
        line = f"L:{o}:{ln}"
        out += [(f"O:{o}", line), (line, f"P:{p}"), (line, f"S:{s}")]
    out += [(f"N:{n}", f"S:{s}") for s, n in cols("supplier", "s_suppkey", "s_nationkey")]
    return out


def connected_components(e: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # the root is the minimum id
    return {v: find(v) for v in parent}


def pagerank(e: list[tuple[str, str]], max_iter: int, reset: float = 0.15) -> dict[str, float]:
    ids = sorted({v for edge in e for v in edge})
    n = len(ids)
    out_deg: dict[str, int] = defaultdict(int)
    for a, _ in e:
        out_deg[a] += 1
    rank = dict.fromkeys(ids, 1.0 / n)
    for _ in range(max_iter):
        contrib: dict[str, float] = defaultdict(float)
        for a, b in e:
            contrib[b] += rank[a] / out_deg[a]
        partial = {v: reset / n + (1 - reset) * contrib.get(v, 0.0) for v in ids}
        shift = (1.0 - sum(partial.values())) / n
        rank = {v: r + shift for v, r in partial.items()}
    return rank


def k_core(e: list[tuple[str, str]], k: int) -> dict[str, int]:
    adj: dict[str, set[str]] = defaultdict(set)
    for a, b in e:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    todo = [v for v, nb in adj.items() if len(nb) < k]
    while todo:
        v = todo.pop()
        if v not in adj:
            continue
        for u in adj.pop(v):
            if u in adj:
                adj[u].discard(v)
                if len(adj[u]) < k:
                    todo.append(u)
    return {v: len(nb) for v, nb in adj.items()}


def shortest_paths(e: list[tuple[str, str]], landmarks: list[str]) -> dict[tuple[str, str], int]:
    out_nb: dict[str, list[str]] = defaultdict(list)
    for a, b in e:
        out_nb[a].append(b)
    dist: dict[tuple[str, str], int] = {}
    for lm in landmarks:
        seen = {lm: 0}
        q = deque([lm])
        while q:
            v = q.popleft()
            for u in out_nb[v]:
                if u not in seen:
                    seen[u] = seen[v] + 1
                    q.append(u)
        dist.update({(v, lm): d for v, d in seen.items()})
    return dist
