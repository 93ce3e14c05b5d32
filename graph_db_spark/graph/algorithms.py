"""Graph analytics on DataFrames — connected components and PageRank.

BASELINE.json's north star: "Graph database analytics (PageRank, connected
components) fit GraphX ... GraphX for analytics". Implemented directly on
DataFrames (no GraphFrames/GraphX dependency — SURVEY §7.4.6 fallback):
iterative join programs with ``localCheckpoint`` lineage truncation, the
same dataflow shape Pregel-on-a-dataflow-engine systems use (Pregelix,
VLDB 2014).

Scale notes:
- Each iteration is one join + one aggregation — shuffle on vertex id.
  Pre-partitioning vertices and edges by id/src lets consecutive iterations
  reuse the exchange.
- Convergence checks are tiny aggregations (count of changed rows).
- ``localCheckpoint(eager=True)`` bounds plan growth; on a real cluster use
  reliable checkpointing to HDFS/S3 instead (driver-fault tolerance).
"""

from __future__ import annotations

import sys
import threading
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The AQE toggle below mutates SESSION-wide conf for the duration of one
# checkpoint action; a lock keeps concurrent callers (e.g. a driver
# running queries from multiple threads on one session) from restoring a
# stale value over each other. Jobs already running are unaffected —
# Spark snapshots conf at job submission.
_AQE_TOGGLE_LOCK = threading.Lock()


@contextmanager
def _aqe_off(spark):
    with _AQE_TOGGLE_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)


def prepartition_for_rounds(df: DataFrame, nparts: int, key: str) -> DataFrame:
    """Hash-partition the static (edge) table on the per-round join key
    BEFORE checkpointing, so every iteration round shuffles only the
    narrow rank/label/frontier table — the edge-side exchange happens
    ONCE here instead of once per round (measured at sf0.1: CC
    20.8s → 13.0s, PageRank 21.5s → 13.9s).

    AQE must be OFF for the checkpoint action: under AQE the executed
    plan is an AdaptiveSparkPlanExec whose ``outputPartitioning`` reports
    ``UnknownPartitioning``, so the LogicalRDD records no partitioning
    and EVERY round re-exchanges the edge table (probed on Spark 4.1:
    2 Exchanges per round vs 1). With AQE disabled just for this one
    repartition job, the LogicalRDD carries ``hashpartitioning(key, n)``
    and later joins — AQE back on — reuse it. Every iterative algorithm
    in this module routes its static side through this helper; the
    one-Exchange-per-round property is pinned by
    tests/test_plans.py::test_iterative_round_reuses_edge_partitioning."""
    with _aqe_off(df.sparkSession):
        return df.repartition(nparts, key).localCheckpoint(eager=True)


def checkpoint_keep_partitioning(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that records the plan's existing output
    partitioning/ordering in the LogicalRDD (same AQE caveat as
    :func:`prepartition_for_rounds` — under AQE the recorded partitioning
    is ``UnknownPartitioning``). No repartition: for per-round tables that
    are ALREADY hash-partitioned by the round's join/aggregate (e.g. CC's
    ``merged``, which exits its merge join partitioned on ``id``), this
    makes the next round's joins exchange-free on that side. The
    checkpointed job itself runs without AQE — acceptable for iterative
    rounds, whose fixed partition count is what keeps rounds plan-stable.

    Co-partitioned reuse needs MATCHING partition counts: per-round
    tables exit their join/agg at ``spark.sql.shuffle.partitions``, so
    the exchange-free round holds when the static table's ``nparts``
    equals it (``defaultParallelism``, which ``_parts`` falls back to,
    does on this harness; a query whose ``_graph_nparts`` probe picks 8
    partitions for a tiny fixture knowingly trades the reuse for lower
    task overhead)."""
    with _aqe_off(df.sparkSession):
        return df.localCheckpoint(eager=True)


def _parts(df: DataFrame, n_partitions: int | None) -> int:
    return n_partitions or df.sparkSession.sparkContext.defaultParallelism


def _str_edges(edges: DataFrame, *extra_cols) -> DataFrame:
    return edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        *extra_cols,
    )


def _round_edges(edges: DataFrame, n_partitions: int | None, *extra_cols) -> DataFrame:
    """The static side of a round loop that walks out-edges: string
    ``src``/``dst`` (plus ``extra_cols``) hash-partitioned on ``src``
    through :func:`prepartition_for_rounds`, so each round's
    frontier⋈edges join shuffles only the frontier."""
    return prepartition_for_rounds(
        _str_edges(edges, *extra_cols), _parts(edges, n_partitions), "src"
    )


def _until_quiet(step, state, max_rounds: int, name: str, at_limit: str = "raise"):
    """Drive a frontier loop. ``step(state, rnd)`` runs round ``rnd``
    (1-based) and returns ``(state, frontier)`` with the frontier read
    off a checkpoint, so the one ``limit(1).count()`` probe per round
    scans materialized rows instead of re-running the round. Returns the
    state of the first round whose frontier is empty. Exhausting
    ``max_rounds`` raises — a truncated frontier loop returns silently
    wrong rows — unless ``at_limit="return"`` (a depth-bounded loop)."""
    for rnd in range(1, max_rounds + 1):
        state, frontier = step(state, rnd)
        if frontier.limit(1).count() == 0:
            return state
    if at_limit == "return":
        return state
    raise RuntimeError(f"{name} did not converge within {max_rounds} rounds")


# connected_components runs this many rounds of plain propagation; a
# pointer-jump step precedes every later round
_JUMP_AFTER = 8
# Round bounds of the frontier loops: exhausting one raises "did not
# converge" (a truncated loop returns silently wrong rows)
_CC_MAX_ROUNDS = 20
_SPT_MAX_ROUNDS = 20
_WSP_MAX_ROUNDS = 20
_KCORE_MAX_ROUNDS = 50
_TRUSS_MAX_ROUNDS = 30
_SCC_MAX_ROUNDS = 40
# PageRank and personalized PageRank: teleport probability, round budget
# and the L1 movement above which the final round warns. The DuckDB
# oracles replay the same reset and rounds.
_PR_RESET, _PR_ITERS, _PR_TOL = 0.15, 10, 0.01
# Fixed round counts (depths) the DuckDB oracles unroll
_BRANDES_DEPTH = 4
_LUBY_ROUNDS = 6
_CORENESS_ROUNDS = 8
_BORUVKA_ROUNDS = 4


def connected_components(edges: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Connected components via iterative min-label propagation
    (large-star/small-star style: each round every vertex adopts the minimum
    component id among itself and its neighbors).

    ``edges`` needs ``src``/``dst`` columns (direction ignored). Returns
    ``(id, component)`` where ``component`` is the minimum vertex id in the
    component (stable, deterministic).

    O(diameter) rounds for the first 8 rounds. Measured at
    sf0.1 (642k vertices, 4.6M directed edge rows): the fixture graph
    converges in 7 rounds, and a Shiloach-Vishkin pointer-jump step per
    round only cut that to 6 while adding a 642k-row self-join + checkpoint
    per round (32s vs 19s) — so plain propagation runs first. After round
    8, a pointer-jump step (comp[v] ← comp[comp[v]], a self-join on the
    propagated table) runs before each round and doubles the
    label-propagation horizon, so a deep-diameter graph (duplicate chains
    longer than 8 hops) converges in O(8 + log d) rounds instead of
    O(d) — the cheap path never pays for it, the deep path always
    converges.

    Convergence is verified, never assumed: exhausting ``_CC_MAX_ROUNDS``
    without a fixed point raises — silently returning half-propagated
    labels would split clusters downstream (e.g. near-dup canonical ids)
    with no signal.
    """
    raw = edges.select(
        F.col("src").cast("string").alias("a"), F.col("dst").cast("string").alias("b")
    ).unionAll(
        edges.select(F.col("dst").cast("string").alias("a"), F.col("src").cast("string").alias("b"))
    )
    # NO edge-level distinct: min-aggregation is duplicate-tolerant, and the
    # distinct's full-width shuffle costs more than the extra rows it removes
    # (measured at sf0.1: 8.3s setup for a 19% row reduction).
    ids = raw.select(F.col("a")).distinct()
    # self-loops fold "min over self" into the same groupBy as "min over
    # neighbors": the propagation step is exactly one join + one
    # aggregation (two key shuffles), no separate left-join-back step.
    # Input self-loops are dropped so each vertex has exactly ONE self row
    # (a duplicated id would repeat in the output and multiply at every
    # pointer jump); the vertex itself survives through `ids`.
    # hash-partition on the join key BEFORE checkpointing: LogicalRDD
    # preserves the partitioning, so every propagation round shuffles only
    # the (narrow) component table — the edge side's exchange happens once
    # here instead of once per round (measured at sf0.1: 20.8s → 13.0s).
    # n_partitions: per-round task count. Iteration cost at small inputs is
    # dominated by scheduler overhead (32 tiny tasks × 2 jobs × rounds), so
    # callers with size knowledge (sf-aware queries, the post-LSH cluster
    # step) pass a small value; default stays cores-sized for big graphs.
    sym = prepartition_for_rounds(
        raw.filter(F.col("a") != F.col("b")).unionAll(ids.select("a", F.col("a").alias("b"))),
        _parts(edges, n_partitions),
        "b",
    )
    # read the vertex set back out of the checkpoint's self-loop rows —
    # deriving it from the pre-checkpoint `ids` pipeline would re-execute
    # the distinct inside the first iteration's join.
    comp = sym.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("id"), F.col("a").alias("component")
    )
    # Delta-frontier propagation: a label can only drop when a NEIGHBOR's
    # label dropped last round, so only frontier vertices (changed last
    # round; initially all) send their labels. Early rounds touch the whole
    # edge table either way, but convergence tails are tiny frontiers — the
    # per-round edge join shrinks from O(E) to O(edges incident to the
    # frontier), the same delta trick as the BFS in shortest_paths
    # (measured sf0.1: 15-19 s → see git log). Fixpoint is schedule-
    # independent (min-label lattice), so the result is byte-identical.
    def step(state, rnd):
        comp, frontier, merged = state
        if rnd > _JUMP_AFTER:
            # pointer jump: comp[v] ← comp[comp[v]]. Labels are always live
            # vertex ids (min over neighbor labels), so the lookup join hits.
            lookup = comp.select(
                F.col("id").alias("component"), F.col("component").alias("jumped")
            )
            comp = (
                comp.join(lookup, on="component", how="left")
                .select("id", F.coalesce("jumped", "component").alias("component"))
                .localCheckpoint(eager=True)
            )
            # vertices whose label moved last round (propagation or jump)
            # must broadcast this round — recompute the frontier against
            # last round's start labels (vertex-sized join, jump rounds only)
            frontier = (
                comp.join(merged.select("id", "old_component"), on="id")
                .filter(F.col("component") != F.col("old_component"))
                .select("id", "component")
            )
        incoming = (
            sym.join(
                frontier.select(F.col("id").alias("b"), F.col("component").alias("flabel")),
                on="b",
            )
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("flabel").alias("cand"))
        )
        # checkpoint FIRST (single execution of the join+agg), then run the
        # convergence probe against the materialized result — otherwise the
        # probe action and the checkpoint each execute the full iteration.
        # checkpoint_keep_partitioning: merged exits its merge join hash-
        # partitioned on id, and recording that makes round N+1's two
        # vertex-side joins (comp⋈incoming on id; frontier-as-b⋈sym — the
        # alias-aware projection carries hash(id)→hash(b)) exchange-free:
        # from round 2 on, the ONLY per-round shuffle is the groupBy(a)
        # aggregation.
        merged = checkpoint_keep_partitioning(
            comp.join(incoming, on="id", how="left")
            .select(
                "id",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"), F.coalesce(F.col("cand"), F.col("component"))
                ).alias("new_component"),
            )
        )
        frontier = merged.filter(
            F.col("new_component") != F.col("old_component")
        ).select("id", F.col("new_component").alias("component"))
        comp = merged.select("id", F.col("new_component").alias("component"))
        return (comp, frontier, merged), frontier

    return _until_quiet(step, (comp, comp, None), _CC_MAX_ROUNDS, "connected_components")[0]


def _out_weighted(e: DataFrame, n_partitions: int | None) -> DataFrame:
    """``(id, dst, weight = 1/out_degree(id))`` over string edges ``e``,
    partitioned on ``id`` for the rank rounds: 1/out_degree is static, so
    it is folded into the edge list once instead of joined every round."""
    return prepartition_for_rounds(
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_degree"))
        .join(e, on="src")
        .select(
            F.col("src").alias("id"),
            "dst",
            (F.lit(1.0) / F.col("out_degree")).alias("weight"),
        ),
        _parts(e, n_partitions),
        "id",
    )


def _warn_if_moving(name: str, rounds: int, budget: str, last_delta: float) -> None:
    if last_delta > _PR_TOL:
        warnings.warn(
            f"{name} still moving after {rounds} rounds "
            f"(final L1 delta bound {last_delta:.3g} > _PR_TOL={_PR_TOL:g}) — "
            f"ranks are plausible but unconverged; raise {budget}",
            RuntimeWarning,
            stacklevel=3,
        )


def pagerank(
    edges: DataFrame,
    max_iter: int = _PR_ITERS,
    n_partitions: int | None = None,
) -> DataFrame:
    """PageRank with uniform reset; dangling mass redistributed uniformly.

    ``edges``: ``src``/``dst``. Returns ``(id, rank)`` summing to ~1.

    Per iteration: contributions = rank·weight shuffled to dst + two scalar
    aggregations. 1/out_degree is folded into the edge list ONCE up front
    (it is static across iterations), so each round is a single
    ranks⋈edges join instead of ranks⋈out_degree⋈edges — one fewer
    1.6M-row shuffle per iteration at sf0.1, and one fewer fact-sized
    shuffle per iteration on a cluster.

    Convergence signal (r11 verdict item 1, CC's warn idiom): the
    previous rank rides through the round's existing vertex-side join,
    so the L1 movement Σ|rank_t − rank_{t−1}| comes out of the SAME
    one-row mass scan each round (one extra abs-sum column, no extra
    job). If the final round still moved more than ``_PR_TOL`` (an upper
    bound: raw pre-shift delta + the round-over-round CHANGE of the
    uniform dangling shift, by the triangle inequality — both terms
    vanish at a fixed point) a ``RuntimeWarning`` is emitted — output is
    bit-identical either way (warn-only, never an early exit, so oracle
    hashes are untouched).

    Memory trade-off of the signal (ADVICE r12, accepted): holding
    ``prev_partial`` for the delta keeps the PREVIOUS round's
    localCheckpoint blocks referenced one extra round — resident
    checkpoint storage during iteration is ~2 rank-table copies instead
    of 1 (a rank table is |V|·(id+double), small next to the edge list).
    If memory pressure ever shows at larger SFs, unpersist the ejected
    checkpoint explicitly when ``prev_partial`` is reassigned.
    """
    e = _str_edges(edges)
    v = e.select(F.col("src").alias("id")).unionAll(e.select(F.col("dst").alias("id"))).distinct()
    # checkpoint_keep_partitioning: distinct() leaves v hash-partitioned
    # on id at shuffle.partitions; recording it makes every round's
    # v ⟕ contribs join AND the next round's ranks⋈weighted join
    # exchange-free on the vertex side (see the r6 CC round contract —
    # tests/test_plans.py::test_cc_round_two_has_single_exchange).
    v = checkpoint_keep_partitioning(v)
    n = v.count()
    # only vertices with out-edges produce contributions; dangling mass is
    # recovered by conservation (see below), so the per-iteration plan never
    # touches zero-degree vertices on the contribution side.
    weighted = _out_weighted(e, n_partitions)
    ranks = v.withColumn("rank", F.lit(1.0 / n))
    # previous PRE-shift rank table (the movement is measured between
    # consecutive partials, then corrected by the uniform-shift change —
    # measuring against the post-shift emit would floor the bound at the
    # constant dangling share and never reach 0 at a fixed point)
    prev_partial = ranks
    prev_mass = 1.0
    last_delta = float("inf")
    for _ in range(max_iter):
        contribs = (
            ranks.join(weighted, on="id")
            .select(F.col("dst").alias("id"), (F.col("rank") * F.col("weight")).alias("contrib"))
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_contrib"))
        )
        # partial update without dangling redistribution; one heavy job.
        # v ⟕ contribs null-fills the no-in-edge complement. Through r5
        # this was a UNION with a precomputed complement ("zero per-round
        # shuffle") — but the union erased the id-partitioning, so the
        # NEXT round's ranks⋈weighted join re-exchanged the whole rank
        # table. With v and contribs both hash(id, shuffle.partitions)
        # the left join is exchange-free AND partial keeps the
        # partitioning through the preserving checkpoint: the round's
        # only exchange is the contribution aggregation (CC contract).
        # the vertex side is the PREVIOUS round's pre-shift rank table
        # (same id set as v, same preserved hash(id) partitioning — the
        # join stays exchange-free), so the old rank rides along as
        # _prev and the round's L1 movement falls out of the same
        # one-row scan below.
        partial = checkpoint_keep_partitioning(
            prev_partial.select("id", F.col("rank").alias("_prev"))
            .join(contribs, on="id", how="left")
            .select(
                "id",
                "_prev",
                (
                    F.lit(_PR_RESET / n)
                    + F.lit(1 - _PR_RESET)
                    * F.coalesce(F.col("in_contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # mass conservation: 1 - sum(partial) == (1-reset)*dangling_mass,
        # redistributed uniformly — a cheap scan of the checkpointed result
        # instead of a second join pipeline per iteration.
        mass, raw_delta = partial.agg(
            F.sum("rank"), F.sum(F.abs(F.col("rank") - F.col("_prev")))
        ).collect()[0]
        # emitted movement Σ|emit_t − emit_{t−1}| ≤ Σ|partial_t −
        # partial_{t−1}| + n·|shift_t − shift_{t−1}| (triangle
        # inequality; both terms → 0 at a fixed point)
        last_delta = raw_delta + abs(mass - prev_mass)
        prev_mass = mass
        prev_partial = partial
        ranks = partial.select(
            "id", (F.col("rank") + F.lit((1.0 - mass) / n)).alias("rank")
        )
    _warn_if_moving("pagerank", max_iter, "max_iter", last_delta)
    return ranks


def personalized_pagerank(
    edges: DataFrame, sources: DataFrame, n_partitions: int | None
) -> DataFrame:
    """Personalized PageRank: random walk with restart to a SOURCE set —
    teleport (and recovered dangling mass) goes to the sources uniformly
    instead of all vertices, so ``rank`` measures proximity to the set
    ("importance relative to these seeds": recommendation, local
    community scoring). Returns ``(id, rank)`` over all vertices,
    summing to ~1; vertices unreachable from the sources keep rank 0.

    IDENTICAL per-iteration shape to :func:`pagerank` (1/out_degree
    folded into the edge list once; one contributions join +
    aggregation; mass recovered by conservation): the restart deposit is
    NOT a per-round join — the undeposited restart mass rides along as
    ``missing`` (a driver scalar) and enters the next round's
    contribution sum as k extra source rows unioned into the ranks side
    ((a+b)·w ≡ a·w + b·w, and the groupBy sums them), so the per-round
    plan gains zero joins and zero shuffles over uniform PageRank. The
    deposit is applied once, after the final round (one broadcast join
    total instead of one per round — r5 verdict #6: PPR was the slowest
    query at 16.3s vs pagerank's 14.3s purely from that per-round
    broadcast stage).

    Convergence signal: same warn-only idiom as :func:`pagerank` — the
    previous rank rides through the round's vertex-side join, the L1
    movement bound (raw partial delta + the restart-deposit shift
    |missing_t − missing_{t−1}|) comes from the existing one-row mass
    scan, and a ``RuntimeWarning`` fires if the final round still moved
    more than ``_PR_TOL`` after ``_PR_ITERS`` rounds. Output
    bit-identical; never an early exit."""
    e = _str_edges(edges)
    s = sources.select(F.col("id").cast("string").alias("id")).distinct().localCheckpoint(eager=True)
    ns = s.count()
    if ns == 0:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    # vertex set INCLUDES sources absent from the edge list — an edgeless
    # seed is a dangling vertex that must still hold its restart mass
    # (dropping it silently deflates every score and breaks Σrank ≈ 1)
    v = checkpoint_keep_partitioning(
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .unionAll(s)
        .distinct()
    )
    weighted = _out_weighted(e, n_partitions)
    # the vertex-wide rank table starts at 0 everywhere; the sources' full
    # initial mass (1/ns each) rides in `missing` and enters round 1 as
    # the broadcast restart rows — no initialization join needed either.
    # v is id-partitioned (preserving checkpoint), so every round's
    # partial⋈weighted and v⟕contribs joins are exchange-free (CC round
    # contract): the one per-round exchange is the contribution agg.
    partial = v.withColumn("rank", F.lit(0.0))
    # the restart deposit's contribution PATTERN is static: only the
    # sources' out-edges carry it, scaled per round by the scalar
    # missing/ns. Materialize that k-source edge subset ONCE (it is
    # seed-sized, not graph-sized) — through r6 the restart rows
    # broadcast-joined the FULL weighted table every round, which re-read
    # the 1.6M-row edge list 10 times just to pick the same k sources'
    # rows (measured 14.9s vs pagerank's 12.1s at sf0.1; the hoist
    # removes the gap).
    src_w = (
        weighted.join(F.broadcast(s), on="id")
        .select("dst", "weight")
        .localCheckpoint(eager=True)
    )
    missing = 1.0
    last_delta = float("inf")
    for _ in range(_PR_ITERS):
        # effective rank = partial + restart deposit, as TWO contribution
        # row sets the aggregation sums: the partitioned rank table joins
        # co-located, and the seed deposit is a literal-scaled scan of
        # the precomputed source out-edges — a union on the RANKS side
        # would erase partial's partitioning and re-exchange the whole
        # rank table every round.
        cont_in = partial.join(weighted, on="id").select(
            F.col("dst").alias("id"), (F.col("rank") * F.col("weight")).alias("contrib")
        )
        cont_restart = src_w.select(
            F.col("dst").alias("id"),
            (F.lit(missing / ns) * F.col("weight")).alias("contrib"),
        )
        contribs = (
            cont_in.unionByName(cont_restart)
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_contrib"))
        )
        # vertex side = previous round's rank table (same id set as v,
        # same preserved partitioning — still exchange-free); the old
        # rank rides along as _prev for the L1 movement bound.
        prev_missing = missing
        partial = checkpoint_keep_partitioning(
            partial.select("id", F.col("rank").alias("_prev"))
            .join(contribs, on="id", how="left")
            .select(
                "id",
                "_prev",
                (
                    F.lit(1 - _PR_RESET)
                    * F.coalesce(F.col("in_contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # missing = reset mass + (1-reset)·dangling mass — including the
        # share of the PREVIOUS deposit a dangling/edgeless source shed —
        # all of it restarted AT THE SOURCES (the defining difference
        # from uniform). Invariant: sum(partial) + missing == 1.
        mass, raw_delta = partial.agg(
            F.sum("rank"), F.sum(F.abs(F.col("rank") - F.col("_prev")))
        ).collect()[0]
        missing = 1.0 - mass
        # emitted rank = partial + deposit(missing/ns at the ns sources):
        # Σ|emit_t − emit_{t−1}| ≤ raw partial delta + |missing shift|
        last_delta = raw_delta + abs(missing - prev_missing)
        partial = partial.select("id", "rank")
    _warn_if_moving("personalized_pagerank", _PR_ITERS, "_PR_ITERS", last_delta)
    # deposit the final round's restart mass once, after the loop
    is_src = F.col("_src").isNotNull()
    src_flag = s.withColumn("_src", F.lit(1))
    return (
        partial.join(F.broadcast(src_flag), on="id", how="left")
        .select(
            "id",
            (
                F.col("rank")
                + F.when(is_src, F.lit(missing / ns)).otherwise(F.lit(0.0))
            ).alias("rank"),
        )
    )


def shortest_paths(
    edges: DataFrame, landmarks: DataFrame, max_iter: int = 15,
    n_partitions: int | None = None,
) -> DataFrame:
    """Unweighted directed shortest-path distances from each landmark:
    ``(id, landmark, dist)`` — only reachable pairs appear (GraphFrames'
    ``shortestPaths`` surface on plain DataFrames).

    Frontier BFS: per round, join the (shrinking) frontier against the
    static edge table — pre-partitioned on ``src`` and checkpointed once,
    so rounds shuffle only the frontier (same lesson as CC/PageRank) —
    then anti-join against settled distances so each (vertex, landmark)
    settles exactly once, at its first (= minimal) depth. Rounds =
    graph depth; total work is O(Σ frontier sizes) = O(reached pairs).

    ``landmarks``: DataFrame with an ``id`` column.

    Convergence contract: every other frontier loop in this module raises
    "did not converge" at its round bound; this one is depth-bounded by
    design — at ``max_iter`` it returns the pairs within ``max_iter`` hops
    (``landmark_distance_oracle`` replays exactly 8 levels). Pass
    ``max_iter=sys.maxsize`` for full reachability: the loop still ends as
    soon as a round settles nothing new.
    """
    e = _round_edges(edges, n_partitions)
    dist = (
        landmarks.select(F.col("id").cast("string").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("landmark"), F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )

    def step(state, _rnd):
        dist, frontier = state
        grown = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(
                F.col("dst").alias("id"), "landmark", (F.col("dist") + 1).alias("dist")
            )
            .groupBy("id", "landmark")
            .agg(F.min("dist").alias("dist"))
            .join(dist.select("id", "landmark"), on=["id", "landmark"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        # no re-checkpoint: the union's legs are each already materialized
        # checkpoints, so the growing dist stays a flat O(depth)-leg union
        return (dist.unionByName(grown), grown), grown

    return _until_quiet(step, (dist, dist), max_iter, "shortest_paths", at_limit="return")[0]


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel vertices with
    degree < ``k`` until a fixpoint; returns the surviving vertices as
    ``(id, degree)`` (degree WITHIN the core). The k-core is unique, so
    the result is deterministic regardless of peel order.

    Each round is one symmetrized degree aggregation + one semi-join to
    drop edges touching peeled vertices — shuffle on vertex id, the same
    per-round shape as connected components; ``localCheckpoint`` bounds
    lineage. Rounds needed = longest peeling chain, typically ≪ rounds
    available; raises if ``_KCORE_MAX_ROUNDS`` is hit without converging (a
    silent partial peel would report a superset of the core).

    ``edges``: ``src``/``dst``. Duplicate and reverse pairs are folded by
    the canonical-pair dedup, so parallel edges never double-count degrees.

    The whole peel runs on the CANONICAL half-size edge list (each
    undirected pair stored once as ``least,greatest``) instead of a
    symmetrized 2|E| table: the multigraph dedup shuffles |E| rows
    rather than 2|E| (the r4 verdict's single biggest fixed cost), and
    every per-round checkpoint/semi-join touches half the data. Degrees
    come from a two-endpoint union feeding one aggregate — partial
    (map-side) aggregation collapses it to vertex-sized shuffle, so the
    halved edge volume is a pure win.
    """
    directed = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    canon = directed.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    # seed the alternating-key discipline below: canon starts partitioned
    # (and recorded, via the AQE-off checkpoint) on "a"
    nparts = edges.sparkSession.sparkContext.defaultParallelism
    canon = prepartition_for_rounds(canon, nparts, "a")

    def degrees(c: DataFrame) -> DataFrame:
        return (
            c.select(F.col("a").alias("id"))
            .unionAll(c.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    # convergence = two consecutive rounds keep the same vertex count; no
    # up-front distinct vertex count needed (a full extra shuffle saved —
    # when the input is already a k-core this costs one cheap confirm
    # round instead)
    n_prev = -1
    # Alternating semi-join order: a semi join preserves its LEFT side's
    # partitioning, so filtering on the key canon is CURRENTLY partitioned
    # by costs nothing and the other endpoint's filter re-exchanges the
    # (shrinking) edge list once — ending partitioned on THAT key, which
    # next round's first join then rides for free. Fixed ordering paid the
    # edge-sized exchange twice per round.
    part_key = "a"
    for _ in range(_KCORE_MAX_ROUNDS):
        # one materialization (the keep set) + one count on the
        # materialized rows per round; convergence = vertex count stable
        keep = degrees(canon).filter(F.col("deg") >= k).select("id").localCheckpoint()
        n_keep = keep.count()
        if n_keep == n_prev:
            return degrees(canon).select(
                "id", F.col("deg").cast("bigint").alias("degree")
            )
        if n_keep == 0:
            return canon.limit(0).select(
                F.col("a").alias("id"), F.lit(0).cast("bigint").alias("degree")
            )
        n_prev = n_keep
        first, second = (part_key, "b" if part_key == "a" else "a")
        canon = checkpoint_keep_partitioning(
            canon.join(keep.select(F.col("id").alias(first)), on=first, how="left_semi")
            .join(keep.select(F.col("id").alias(second)), on=second, how="left_semi")
            .select("a", "b")
        )
        part_key = second
    raise RuntimeError(
        f"k_core did not converge within {_KCORE_MAX_ROUNDS} rounds; raise _KCORE_MAX_ROUNDS"
    )


def shortest_path_tree(edges: DataFrame, source: str, n_partitions: int | None) -> DataFrame:
    """Single-source BFS tree WITH parent pointers: ``(id, dist,
    parent)`` for every vertex reachable from ``source`` (the source row
    carries a null parent). Deterministic: when a vertex is first
    reached, its parent is the MINIMUM id among the frontier vertices
    that reach it — so the tree (and any path read off it) is a pure
    function of the graph, independent of partitioning or schedule.

    Same frontier discipline as :func:`shortest_paths` (static edge
    table pre-partitioned on src + checkpointed once; per-round shuffle
    is the frontier only; anti-join settles each vertex exactly once at
    its minimal depth). BFS terminates when the frontier empties; raises
    "did not converge" if ``_SPT_MAX_ROUNDS`` rounds elapse first — a truncated
    tree would silently miss reachable vertices. Path RECONSTRUCTION is a
    level-by-level join over the tree (depth-bounded, see
    ``shortest_path_routes``), never a driver-side walk.
    """
    e = _round_edges(edges, n_partitions)
    tree = e.sparkSession.createDataFrame([(source,)], "id string").select(
        "id", F.lit(0).alias("dist"), F.lit(None).cast("string").alias("parent")
    )

    def step(state, d):
        tree, frontier = state
        # last round's tree ∪ new is checkpointed here, after that round's
        # probe, so the round that finds nothing new pays no checkpoint
        tree = tree.localCheckpoint(eager=True)
        grown = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"), F.col("src").alias("parent"))
            .groupBy("id")
            .agg(F.min("parent").alias("parent"))
        )
        new = (
            grown.join(tree, on="id", how="left_anti")
            .select("id", F.lit(d).alias("dist"), "parent")
            .localCheckpoint(eager=True)
        )
        return (tree.unionByName(new), new.select("id")), new

    return _until_quiet(
        step, (tree, tree.select("id")), _SPT_MAX_ROUNDS, "shortest_path_tree"
    )[0]


def k_truss(edges: DataFrame, k: int) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph in which
    every edge participates in ≥ k−2 triangles (support) WITHIN the
    subgraph. Returns canonical surviving edges ``(a, b, support)`` with
    ``a < b``; the truss is unique, so the result is deterministic.

    Edge-peeling fixpoint (the edge analog of :func:`k_core`): per round,
    enumerate triangles once over the canonical (id-ordered) edge list —
    (x,y)⋈(y,z) wedges closed by (x,z), so each triangle counts exactly
    once — fold the three edge participations into a support table, and
    keep edges with support ≥ k−2; converged when the edge count is
    stable (supports are monotone non-increasing under edge removal, so
    count-stable ⇒ set-stable). Raises if ``_TRUSS_MAX_ROUNDS`` elapse without
    convergence — a partial peel would report a superset of the truss.

    Scale shape: each round is two self-equi-joins + one vertex-ish
    aggregation, all shuffling on edge endpoints; per-round wedge work is
    Σ_y high(y)·low(y) under the id orientation. On power-law graphs
    switch the orientation to degree-order (as cooccurrence_triangles
    does) so out-lists are arboricity-bounded; localCheckpoint bounds
    lineage per round.
    """
    if k < 3:
        raise ValueError("k_truss needs k >= 3 (k-2 >= 1 triangle per edge)")
    canon = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    n_prev = -1
    for _ in range(_TRUSS_MAX_ROUNDS):
        e = canon
        xy = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        yz = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        xz = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = xy.join(yz, on="y").join(xz, on=["x", "z"])
        supp = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= k - 2)
            .localCheckpoint()
        )
        n_keep = supp.count()
        if n_keep == n_prev:
            return supp
        if n_keep == 0:
            return supp.limit(0)
        n_prev = n_keep
        canon = supp.select("a", "b").localCheckpoint()
    raise RuntimeError(f"k_truss did not converge within {_TRUSS_MAX_ROUNDS} rounds")


def weighted_shortest_paths(
    edges: DataFrame, landmarks: DataFrame, n_partitions: int | None
) -> DataFrame:
    """Weighted single/multi-source shortest paths (Bellman-Ford rounds):
    ``(id, landmark, dist)`` for reachable pairs over ``edges``'
    ``weight`` column, integer weights so the result is exact in any
    engine.

    Per round: relax every edge out of the CURRENT tentative frontier
    (the rows that improved last round — not the whole dist table), fold
    candidate distances with a min-aggregate, and keep only strict
    improvements; converged when a round improves nothing. Unlike BFS
    (:func:`shortest_paths`), a settled vertex may improve later through
    a longer-but-lighter path, so improvements re-enter the frontier —
    rounds are bounded by the longest shortest path's edge count, and
    shuffle volume per round is O(frontier·out-degree), the same
    delta-frontier shape as connected components. Edges are
    pre-partitioned on ``src`` once; negative weights are rejected
    (negative-cycle detection is a different contract).
    """
    e = _round_edges(edges, n_partitions, F.col("weight").cast("bigint").alias("w"))
    neg = e.filter(F.col("w") < 0).limit(1).count()
    if neg:
        raise ValueError("weighted_shortest_paths requires non-negative weights")
    dist = (
        landmarks.select(F.col("id").cast("string").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("landmark"), F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )

    def step(state, _rnd):
        dist, frontier = state
        cand = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"), "landmark", (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("id", "landmark")
            .agg(F.min("dist").alias("cand"))
        )
        # one full-outer merge carries BOTH the new dist table and the
        # improvement flag — a single checkpoint + one convergence probe
        # per round (the separate improved/merged pair doubled the
        # per-round job count for no information).
        # checkpoint_keep_partitioning: merged exits hash(id, landmark),
        # matching cand's aggregation partitioning, so the FULL-SIZE dist
        # side of next round's merge is exchange-free — per-round shuffle
        # is the relax aggregation plus the (shrinking) frontier only.
        merged = checkpoint_keep_partitioning(
            dist.join(cand, on=["id", "landmark"], how="full_outer")
            .select(
                "id",
                "landmark",
                F.least(
                    F.coalesce(F.col("dist"), F.col("cand")),
                    F.coalesce(F.col("cand"), F.col("dist")),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce(F.col("cand"), F.col("dist")) < F.col("dist"))
                ).alias("_improved"),
            )
        )
        frontier = merged.filter(F.col("_improved")).select("id", "landmark", "dist")
        return (merged.select("id", "landmark", "dist"), frontier), frontier

    # a truncated relax loop would return silently inflated distances (any
    # vertex whose lightest path spans > _WSP_MAX_ROUNDS edges still
    # carries a heavier tentative dist), so _until_quiet raises at the bound
    return _until_quiet(step, (dist, dist), _WSP_MAX_ROUNDS, "weighted_shortest_paths")[0]


def strongly_connected_components(edges: DataFrame) -> DataFrame:
    """Strongly connected components of a directed graph by TRIM +
    forward-backward decomposition (Fleischer/Hendrickson/Pinar 2000 —
    the standard distributed SCC scheme; Tarjan's stack walk is
    inherently sequential and never an option on partitioned data).
    Returns ``(id, scc)`` with ``scc`` = the component's minimum vertex
    id (deterministic labels).

    Per round: (1) TRIM — every vertex with no in-edge or no out-edge
    among the still-unassigned set is its own singleton SCC; one pass
    assigns ALL current sources/sinks at once, so a DAG peels in
    O(depth) rounds, not O(V). (2) If anything remains, take the MINIMUM
    unassigned vertex as pivot (deterministic), BFS its forward and
    backward reachability, and assign F ∩ B as one SCC. Edges are then
    semi-join-restricted to the surviving vertex set and checkpointed —
    lineage stays flat across rounds.

    Scale shape: every step is a join/aggregate on the (shrinking) edge
    list; forward and backward reachability are :func:`shortest_paths`
    from the pivot, over the edges and over the swapped edges. The
    min-pivot loop peels ONE non-trivial SCC per round, so rounds =
    #multi-vertex SCCs + trim depth — the right tool when big graphs
    have few large SCCs (the common case: one giant SCC plus a DAG
    shell, which trim absorbs). A graph that is a long
    chain of small cycles degrades to the ``_SCC_MAX_ROUNDS`` guard and
    raises — the production fix at that shape is recursing on the three
    partitions (F∖B, B∖F, remainder) in parallel, noted here rather than
    silently looping."""
    e = (
        _str_edges(edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    assigned = spark.createDataFrame([], "id string, scc string")
    for _ in range(_SCC_MAX_ROUNDS):
        if verts.limit(1).count() == 0:
            return assigned
        # TRIM: no out-edge or no in-edge within the unassigned set
        srcs = e.select(F.col("src").alias("id")).distinct()
        dsts = e.select(F.col("dst").alias("id")).distinct()
        interior = srcs.join(dsts, on="id")  # has both an out- AND in-edge
        trimmed = verts.join(interior, on="id", how="left_anti")
        if trimmed.limit(1).count() > 0:
            assigned = assigned.unionByName(
                trimmed.select("id", F.col("id").alias("scc"))
            ).localCheckpoint(eager=True)
            verts = verts.join(trimmed, on="id", how="left_anti").localCheckpoint(
                eager=True
            )
            e = (
                e.join(verts.select(F.col("id").alias("src")), on="src")
                .join(verts.select(F.col("id").alias("dst")), on="dst")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            continue  # re-trim: removing sinks/sources exposes new ones
        # FW-BW peel of the minimum unassigned vertex's SCC
        pivot = verts.agg(F.min("id")).collect()[0][0]  # 1-row scalar probe
        pv = spark.createDataFrame([(pivot,)], "id string")
        back = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        fwd = shortest_paths(e, pv, max_iter=sys.maxsize).select("id")
        bwd = shortest_paths(back, pv, max_iter=sys.maxsize).select("id")
        scc = fwd.join(bwd, on="id")  # pivot ∈ both by construction
        assigned = assigned.unionByName(
            scc.select("id", F.lit(pivot).alias("scc"))
        ).localCheckpoint(eager=True)
        verts = verts.join(scc, on="id", how="left_anti").localCheckpoint(eager=True)
        e = (
            e.join(verts.select(F.col("id").alias("src")), on="src")
            .join(verts.select(F.col("id").alias("dst")), on="dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"strongly_connected_components did not converge within {_SCC_MAX_ROUNDS} "
        "rounds — many small SCCs; raise _SCC_MAX_ROUNDS or use the recursive "
        "FW-BW partition scheme"
    )


def deterministic_walks(edges: DataFrame, starts: DataFrame, length: int) -> DataFrame:
    """node2vec-style random-walk sampling with a PORTABLE pseudo-random
    choice: one walk per start node, ``length`` steps; step t moves to
    the out-neighbor at rank portable_hash(start || '#t') % out_degree,
    over dst-sorted out-edges. Deterministic across engines and retries
    — the property a 100 TB walk-corpus build needs (re-running a failed
    shard regenerates the SAME walks, and an offline oracle can replay
    them). ``edges``: (src, dst) string ids; ``starts``: (start,) — every
    start must have at least one out-edge or its walk is dropped at the
    first join.

    Scale: L equi-join shuffles total (one per step), each with fan-out
    exactly 1 per walker — the degree lookup happens BEFORE the edge
    join (cur ⋈ deg → target rank, then cur ⋈ ranked on (src, rnk)), so
    hub nodes never explode the candidate set; the ranked edge list is
    built once and reused every round. Walk count scales with |starts|,
    independent of |V|."""
    if length < 1:
        raise ValueError(f"walk length must be >= 1, got {length}")
    from graph_db_spark.operators.dedup import portable_hash

    w = Window.partitionBy("src").orderBy("dst")
    ranked = (
        edges.select("src", "dst")
        .withColumn("rnk", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    deg = ranked.groupBy("src").agg(F.max("rnk").alias("deg"))
    cur = starts.select(
        F.col("start"), F.col("start").alias("cur"), F.col("start").alias("path")
    )
    for t in range(1, length + 1):
        pick = cur.join(deg, on=[cur["cur"] == deg["src"]]).select(
            "start",
            "cur",
            "path",
            (
                portable_hash(F.concat(F.col("start"), F.lit(f"#{t}"))) % F.col("deg")
                + 1
            ).alias("rnk"),
        )
        step = pick.join(
            ranked, on=[pick["cur"] == ranked["src"], pick["rnk"] == ranked["rnk"]]
        )
        cur = step.select(
            "start",
            F.col("dst").alias("cur"),
            F.concat(F.col("path"), F.lit(">"), F.col("dst")).alias("path"),
        )
    return cur.select("start", "path", F.col("cur").alias("end_node"))


def brandes_betweenness(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Landmark-sampled betweenness centrality (Brandes 2001): exact
    single-source dependency accumulation from each node in ``sources``,
    summed — the standard unbiased sample estimator (scaled by |V|/|S|
    if the caller wants absolute values; we report the raw sample sum).

    Two level-synchronous passes over the BFS DAG, both expressed as
    equi-joins against the once-partitioned edge table:
    forward — level t's sigma(v) = sum of predecessors' sigma (number of
    shortest source→v paths), each (source, v) settling exactly once via
    an anti-join against the settled set; backward — level t's
    delta(v) = sum over DAG successors w of sigma(v)/sigma(w) *
    (1 + delta(w)), so each level is ONE join + groupBy. Depth is fixed
    (``_BRANDES_DEPTH`` rounds) so the replayed oracle is a static CTE chain;
    levels past the true eccentricity are empty and cost nothing.

    Scale: per-source-per-level frontier rows, O(E) join work per round;
    sigma/delta ride as narrow doubles (path counts are exact in a
    double's 53-bit mantissa well past trillions). Returns (id, bc) for
    every non-source vertex reached from at least one source."""
    depth = _BRANDES_DEPTH
    e = _round_edges(edges, None)
    lev0 = (
        sources.select(F.col("id").cast("string").alias("id"))
        .distinct()
        .select(F.col("id").alias("source"), "id", F.lit(1.0).alias("sigma"))
        .localCheckpoint(eager=True)
    )
    levels = [lev0]
    settled = lev0.select("source", "id")
    for _ in range(depth):
        prev = levels[-1]
        nxt = (
            prev.join(e, prev["id"] == e["src"])
            .select("source", F.col("dst").alias("id"), "sigma")
            .groupBy("source", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled, on=["source", "id"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        levels.append(nxt)
        settled = settled.unionByName(nxt.select("source", "id")).localCheckpoint(
            eager=True
        )
    # backward dependency accumulation; deepest level has no successors
    dnext = levels[depth].withColumn("delta", F.lit(0.0))
    deltas = [dnext]
    for t in range(depth - 1, 0, -1):
        cur = levels[t]
        succ = (
            cur.join(e, cur["id"] == e["src"])
            .join(
                dnext.select(
                    "source",
                    F.col("id").alias("dst"),
                    F.col("sigma").alias("nsigma"),
                    F.col("delta").alias("ndelta"),
                ),
                on=["source", "dst"],
            )
            .groupBy("source", "id")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("nsigma") * (F.lit(1.0) + F.col("ndelta"))
                ).alias("dsum")
            )
        )
        dnext = (
            cur.join(succ, on=["source", "id"], how="left")
            .select(
                "source", "id", "sigma", F.coalesce(F.col("dsum"), F.lit(0.0)).alias("delta")
            )
            .localCheckpoint(eager=True)
        )
        deltas.append(dnext)
    alld = deltas[0]
    for d in deltas[1:]:
        alld = alld.unionByName(d)
    return alld.groupBy("id").agg(F.sum("delta").alias("bc"))


def luby_mis(edges: DataFrame) -> DataFrame:
    """Maximal independent set via Luby's algorithm with DETERMINISTIC
    symmetry breaking: round r gives every active vertex the priority
    key lpad(portable_hash(id || '#r')) || '|' || id (a total order —
    the padded-string form is the cross-engine-comparable composite);
    a vertex joins the MIS iff its key beats every ACTIVE neighbor's,
    then winners and their neighborhoods deactivate. Independence and
    maximality are the classic invariants; hash priorities make runs
    replayable (no RNG state) while keeping the O(log n) expected round
    count of the randomized original. Returns (id, round) for MIS
    members plus (id, -1) for vertices still active after
    ``_LUBY_ROUNDS`` (deterministic partial result — the oracle replays
    the same fixed round count).

    Scale: per round one equi-join of the (shrinking) active-priority
    table against the once-partitioned edge list + one min-groupBy +
    two anti-joins — frontier-sized shuffles against a static edge
    side, the CC/PageRank discipline. ``edges`` must contain both
    directions of each undirected edge."""
    from graph_db_spark.operators.dedup import portable_hash

    e = _round_edges(edges, None)
    active = (
        e.select(F.col("src").alias("id")).distinct().localCheckpoint(eager=True)
    )
    out = []
    for r in range(1, _LUBY_ROUNDS + 1):
        key = F.concat(
            F.lpad(portable_hash(F.concat(F.col("id"), F.lit(f"#{r}"))).cast("string"), 10, "0"),
            F.lit("|"),
            F.col("id"),
        )
        pr = active.select("id", key.alias("k")).localCheckpoint(eager=True)
        nmin = (
            pr.join(e, pr["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("k").alias("nmin"))
        )
        joiners = (
            pr.join(nmin, on="id", how="left")
            .filter(F.col("nmin").isNull() | (F.col("k") < F.col("nmin")))
            .select("id")
            .localCheckpoint(eager=True)
        )
        out.append(joiners.withColumn("round", F.lit(r).cast("bigint")))
        nbrs = (
            joiners.join(e, joiners["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        active = (
            active.join(joiners, on="id", how="left_anti")
            .join(nbrs, on="id", how="left_anti")
            .localCheckpoint(eager=True)
        )
    res = out[0]
    for j in out[1:]:
        res = res.unionByName(j)
    return res.unionByName(active.withColumn("round", F.lit(-1).cast("bigint")))


def core_decomposition(edges: DataFrame) -> DataFrame:
    """Full core decomposition (every vertex's coreness) by h-index
    propagation (Montresor-De Pellegrini-Miorandi, 2013): start from
    degrees; each round every vertex replaces its estimate with the
    h-index of its neighbors' estimates (monotonically non-increasing,
    converges to the exact coreness — k_core(k) above answers one fixed
    k, this answers all of them in one run). Returns (id, coreness,
    changed) where ``changed`` marks vertices whose estimate still moved
    in the FINAL round — a nonzero count means ``_CORENESS_ROUNDS``
    truncated the fixpoint and must be raised (the emitted estimates are
    still valid upper bounds).

    Scale: per round ONE edge join against the once-partitioned edge
    list + one per-vertex descending rank + one max(min(rank, est))
    aggregate — O(E) rows, the same discipline as CC/PageRank; no
    global sort (the rank window partitions by vertex). Practical
    convergence is a few rounds (measured: 4 on the fixture's bipartite
    trade graph; the bound is the graph's degeneracy ordering depth).
    ``edges`` must contain both directions."""
    e = _round_edges(edges, None)
    cur = (
        e.groupBy(F.col("dst").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("cor"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("id").orderBy(F.desc("ncor"))
    changed = None
    for _ in range(_CORENESS_ROUNDS):
        nbr = (
            cur.join(e, cur["id"] == e["src"])
            .select(F.col("dst").alias("id"), F.col("cor").alias("ncor"))
        )
        h = (
            nbr.withColumn("rk", F.row_number().over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("rk").cast("long"), F.col("ncor"))).alias("h"))
        )
        nxt = (
            cur.join(h, on="id")
            .select(
                "id",
                F.least(F.col("cor"), F.col("h")).alias("cor"),
                (F.least(F.col("cor"), F.col("h")) != F.col("cor")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.select("id", "chg")
        cur = nxt.select("id", "cor")
    return cur.join(changed, on="id").select(
        "id", F.col("cor").alias("coreness"), F.col("chg").alias("changed")
    )


def boruvka_forest(edges: DataFrame):
    """Minimum spanning forest by Borůvka rounds — THE distributed MST
    (each round every component picks its minimum outgoing edge, then
    touching components contract): deterministic via the total edge
    order (w, src, dst). ``edges``: (src, dst, w) with BOTH directions
    present. Returns (forest, labels): forest = (a, b, w, round) with
    canonical a < b (an edge chosen by both endpoints' components
    appears once), labels = (id, comp) after ``_BORUVKA_ROUNDS``; components
    count > connected-component count means the fixed rounds truncated
    contraction (each round at least halves components, so log2|V|
    always suffices; dense graphs contract in 3-4).

    Scale: per round one contraction join (edges x current labels, the
    pre-partitioned-static-side discipline) + a per-component min
    window + a COMPONENT-sized min-label closure (the chosen edges form
    a pseudo-forest over components — vanishingly small next to E), so
    round cost is O(E) with log-bounded round count."""
    e = _round_edges(edges, None, F.col("w").cast("long").alias("w"))
    lab = (
        e.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint(eager=True)
    )
    # Per-component min edge stays a row_number window, NOT a
    # min(struct(w, src, dst, cb)) aggregate: the aggregate form would
    # shrink the exchange to partial mins (guide §2.3), but min over a
    # struct is not hash-aggregable (immutable agg buffer), so the plan
    # degrades to SortAggregate with a map-side Sort of ALL candidate
    # rows per round plus interpreted per-row struct allocation —
    # measured 39-53 s vs 17 s end-to-end at sf0.1 (r13 A/B, quiet
    # host), the same struct-allocation lesson as the pca covariance
    # rewrite. The window pays one E-sized exchange per round but sorts
    # within hash partitions with codegen'd comparators.
    wnd = Window.partitionBy("ca").orderBy("w", "src", "dst")
    forest = None
    for r in range(1, _BORUVKA_ROUNDS + 1):
        la = lab.select(F.col("id").alias("src"), F.col("comp").alias("ca"))
        lb = lab.select(F.col("id").alias("dst"), F.col("comp").alias("cb"))
        ce = (
            e.join(la, on="src")
            .join(lb, on="dst")
            .filter(F.col("ca") != F.col("cb"))
        )
        chosen = (
            ce.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1)
            .select("ca", "cb", "src", "dst", "w")
            .localCheckpoint(eager=True)
        )
        picked = (
            chosen.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                "w",
            )
            .distinct()
            .withColumn("round", F.lit(r).cast("bigint"))
        )
        forest = picked if forest is None else forest.unionByName(picked)
        if chosen.limit(1).count() == 0:
            # fully contracted: no cross-component edge exists, so every
            # remaining round would choose nothing and run the closure on
            # an empty pseudo-forest. Skipped rounds contribute zero forest
            # rows and leave labels untouched — exactly what running them
            # produces (measured at sf0.1: the trade graph contracts in 2
            # of the query's 4 rounds; the break saves the 2 dead rounds'
            # contraction joins + closures, ~2-3 s of a 15 s query). The
            # probe is a limit-1 count on the eagerly-checkpointed chosen.
            break
        merge = chosen.select(
            F.col("ca").alias("src"), F.col("cb").alias("dst")
        )
        cc = connected_components(merge, n_partitions=8).select(
            F.col("id").alias("comp"), F.col("component").alias("newc")
        )
        lab = (
            lab.join(cc, on="comp", how="left")
            .select("id", F.coalesce(F.col("newc"), F.col("comp")).alias("comp"))
            .localCheckpoint(eager=True)
        )
    return forest.localCheckpoint(eager=True), lab
