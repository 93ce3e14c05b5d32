"""Operator semantics: daily stats (incl. zero-sum quirk), sessionization
gap edges, as-of tiebreaks, interval join, dedup determinism."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graph_db_spark.operators import aggregates as A
from graph_db_spark.operators import joins as J
from graph_db_spark.operators.sessionize import session_intervals, sessionize

T0 = dt.datetime(2025, 6, 1, 0, 0, 0)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_daily_stats_weather_flavor(spark):
    df = spark.createDataFrame(
        [(ts(0), "k", 1.0), (ts(60), "k", 3.0), (ts(120), "k", None)],
        "t timestamp, key string, v double",
    )
    out = A.daily_stats(df, "t", ["key"], "v").collect()[0]
    # nulls skipped (_mean_safe parity); avg-of-avgs == avg here
    assert out["data"] == 2.0 and out["min"] == 1.0 and out["max"] == 3.0
    assert out["sum"] == 4.0 and out["n"] == 2


def test_daily_stats_zero_sum_quirk(spark):
    df = spark.createDataFrame(
        [(ts(0), "k", 0.0), (ts(60), "k", 0.0)], "t timestamp, key string, v double"
    )
    fixed = A.daily_stats(df, "t", ["key"], "v").collect()[0]
    assert fixed["sum"] == 0.0  # default: quirk fixed
    quirk = A.daily_stats(df, "t", ["key"], "v", zero_sum_to_null=True).collect()[0]
    assert quirk["sum"] is None  # graph_irrigation_day.py:116 semantics


def test_sessionize_gap_boundary(spark):
    # gap 600s: 10-minute spacing is INSIDE the session (<=), 11 min starts new
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(10)), (1, ts(22)), (2, ts(0))], "u int, t timestamp"
    )
    out = {(r["u"], r["t"].minute): r["session_id"] for r in sessionize(df, ["u"], "t", 600).collect()}
    assert out[(1, 0)] == 1 and out[(1, 10)] == 1 and out[(1, 22)] == 2
    assert out[(2, 0)] == 1


def test_session_intervals_duration(spark):
    df = spark.createDataFrame([(1, ts(0)), (1, ts(5)), (1, ts(9))], "u int, t timestamp")
    out = session_intervals(df, ["u"], "t", 600).collect()
    assert len(out) == 1
    assert out[0]["duration_min"] == 9.0 and out[0]["n_events"] == 3


def test_asof_join_nearest_with_tiebreak(spark):
    left = spark.createDataFrame([(1, ts(10))], "k int, lt timestamp")
    right = spark.createDataFrame(
        [(1, ts(7), "far"), (1, ts(9), "near_a"), (1, ts(11), "near_b")],
        "k int, rt timestamp, tag string",
    )
    # ts(9) and ts(11) are both 60s away; tiebreak on tag ascending → near_a
    out = J.asof_join(left, right, ["k"], "lt", "rt", tiebreak_cols=["tag"]).collect()
    assert len(out) == 1 and out[0]["tag"] == "near_a"


def test_asof_join_direction_and_tolerance(spark):
    left = spark.createDataFrame([(1, ts(10))], "k int, lt timestamp")
    right = spark.createDataFrame(
        [(1, ts(9), "before"), (1, ts(10, ), "exact")], "k int, rt timestamp, tag string"
    )
    back = J.asof_join(left, right, ["k"], "lt", "rt", direction="backward").collect()
    assert back[0]["tag"] == "exact"
    tol = J.asof_join(left, right, ["k"], "lt", "rt", tolerance_seconds=30.0).collect()
    assert tol[0]["tag"] == "exact"


def test_asof_join_no_match_keeps_left(spark):
    left = spark.createDataFrame([(1, ts(0)), (2, ts(0))], "k int, lt timestamp")
    right = spark.createDataFrame([(1, ts(1), "x")], "k int, rt timestamp, tag string")
    out = {r["k"]: r["tag"] for r in J.asof_join(left, right, ["k"], "lt", "rt").collect()}
    assert out == {1: "x", 2: None}


def test_asof_join_rejects_unknown_direction(spark):
    left = spark.createDataFrame([(1, ts(0))], "k int, lt timestamp")
    right = spark.createDataFrame([(1, ts(1))], "k int, rt timestamp")
    with pytest.raises(ValueError, match="direction"):
        J.asof_join(left, right, ["k"], "lt", "rt", direction="forward")


def test_interval_overlap_join_closed_intervals(spark):
    """Closed intervals: a right interval that starts exactly where the
    left one ends (or ends where it starts) overlaps; one a minute past
    does not, and keys never cross."""
    left = spark.createDataFrame([(1, ts(10), ts(20), "L")], "k int, s timestamp, e timestamp, tag string")
    right = spark.createDataFrame(
        [
            (1, ts(20), ts(30), "touch_end"),
            (1, ts(0), ts(10), "touch_start"),
            (1, ts(12), ts(15), "inside"),
            (1, ts(21), ts(30), "after"),
            (2, ts(10), ts(20), "other_key"),
        ],
        "k int, rs timestamp, re timestamp, tag string",
    )
    out = J.interval_overlap_join(
        left, right, on=["k"], left_start="s", left_end="e", right_start="rs", right_end="re"
    )
    assert out.columns == ["k", "s", "e", "tag", "rs", "re", "r_tag"]
    assert sorted(r["r_tag"] for r in out.collect()) == ["inside", "touch_end", "touch_start"]


def test_interval_agg_join_disjoint_contract(spark):
    pts = spark.createDataFrame([(1, ts(1), 10.0)], "u int, t timestamp, v double")
    iv = spark.createDataFrame([(1, ts(0), ts(2))], "u int, s timestamp, e timestamp")
    try:
        J.interval_agg_join(pts, iv, ["u"], ["u"], "t", "s", "e", [F.avg("v").alias("a")], ["u"])
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_dedup_first_deterministic(spark):
    df = spark.createDataFrame([(1, "b"), (1, "a"), (2, "z")], "k int, v string")
    out = {r["k"]: r["v"] for r in A.dedup_first(df, ["k"], ["v"]).collect()}
    assert out == {1: "a", 2: "z"}


def test_running_index(spark):
    df = spark.createDataFrame([(1, 30), (1, 10), (1, 20), (2, 5)], "k int, o int")
    out = {(r["k"], r["o"]): r["idx"] for r in A.running_index(df, ["k"], ["o"]).collect()}
    assert out == {(1, 10): 1, (1, 20): 2, (1, 30): 3, (2, 5): 1}


def test_hll_sketch_merge_error_bound(spark, sf_dir):
    from graph_db_spark.operators import sketches as SK
    from graph_db_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = SK.hll_day_sketches(ev, "ts", ["event_type"], "user_id")
    est = {
        r["event_type"]: r["distinct_est"]
        for r in SK.hll_merge_estimate(daily, ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k in exact:
        # lg_k=12 HLL: relative standard error ~1.6%; 5% is a safe bound
        assert abs(est[k] - exact[k]) <= max(1, 0.05 * exact[k])


def test_exact_percentiles_interpolation(spark):
    from graph_db_spark.operators import sketches as SK

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)], "k string, v double"
    )
    out = SK.exact_percentiles(df, ["k"], "v", [0.5]).collect()[0]
    assert out["p_0_5"] == 2.5  # continuous interpolation between 2 and 3


def test_salted_join_equals_plain(spark, monkeypatch):
    from graph_db_spark.operators import joins as J2

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")] * 5, "k long, v string"
    )
    right = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, w double")
    plain = sorted(
        (r["k"], r["v"], r["w"]) for r in left.join(right, on="k").collect()
    )
    monkeypatch.setattr(J2, "_N_SALTS", 4)
    salted = sorted(
        (r["k"], r["v"], r["w"])
        for r in J2.salted_join(left, right, on=["k"]).collect()
    )
    assert salted == plain


def test_portable_hll_accuracy(spark, sf_dir):
    """The portable HLL must not just be reproducible — its estimates must
    stay within the lgK=12 error envelope of the exact distinct counts."""
    from graph_db_spark.operators import sketches as SK
    from graph_db_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    regs = SK.portable_hll_registers(ev, "ts", ["event_type"], "user_id")
    est = {r["event_type"]: r["distinct_est"]
           for r in SK.portable_hll_estimate(regs, ["event_type"]).collect()}
    exact = {r["event_type"]: r["n"]
             for r in ev.groupBy("event_type")
                        .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n <= 0.05, (k, est[k], n)


def test_with_global_rank_and_ntile_match_window_functions(spark):
    """The two-level global rank + closed-form ntile must equal the real
    single-partition window functions on awkward sizes (n % tiles != 0,
    n < partitions, ties broken by a unique key)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_db_spark.operators.aggregates import ntile_of, with_global_rank

    rng = random.Random(7)
    for n, tiles in ((25, 10), (7, 3), (100, 7), (3, 10)):
        rows = [(i, rng.randint(0, 5)) for i in range(n)]  # heavy ties
        df = spark.createDataFrame(rows, "id long, v long")
        order = [F.desc("v"), F.asc("id")]
        w = Window.orderBy(*order)
        expect = {
            r["id"]: (r["rk"], r["nt"])
            for r in df.select(
                "id", F.row_number().over(w).alias("rk"), F.ntile(tiles).over(w).alias("nt")
            ).collect()
        }
        ranked = with_global_rank(df, order).crossJoin(
            F.broadcast(df.agg(F.count(F.lit(1)).alias("_n")))
        )
        got = {
            r["id"]: (r["rank"], r["nt"])
            for r in ranked.select(
                "id", "rank", ntile_of(F.col("rank"), F.col("_n"), tiles).cast("int").alias("nt")
            ).collect()
        }
        assert got == expect, (n, tiles)


def test_grid_distance_join_equals_naive(spark):
    """Grid-bucketed spatial join == naive all-pairs filter, including
    negative coordinates (floor-toward-negative cells), points exactly
    ON the radius (closed predicate), and same-cell / far-cell mixes."""
    import random

    from graph_db_spark.operators.joins import grid_distance_join

    rng = random.Random(7)
    left = [(i, rng.uniform(-10, 10), rng.uniform(-10, 10)) for i in range(60)]
    right = [(j, rng.uniform(-10, 10), rng.uniform(-10, 10)) for j in range(80)]
    # exact-radius pair: dist == 2.5 must be kept (closed ball)
    left.append((998, 0.0, 0.0))
    right.append((999, 2.5, 0.0))
    ldf = spark.createDataFrame(left, "lid long, x double, y double")
    rdf = spark.createDataFrame(right, "rid long, x double, y double")
    got = {
        (r["lid"], r["rid"])
        for r in grid_distance_join(ldf, rdf, ("x", "y"), ("x", "y"), 2.5).collect()
    }
    expect = {
        (li, rj)
        for (li, lx, ly) in left
        for (rj, rx, ry) in right
        if (lx - rx) ** 2 + (ly - ry) ** 2 <= 2.5**2
    }
    assert (998, 999) in expect
    assert got == expect


def test_kcenter_select_matches_bruteforce(spark, monkeypatch):
    """Greedy farthest-point selection == the textbook Gonzalez loop in
    plain Python: same picks, same order, same separations; sep sequence
    non-increasing (the 2-approximation certificate)."""
    import random

    from graph_db_spark.operators import similarity
    from graph_db_spark.operators.similarity import kcenter_select

    monkeypatch.setattr(similarity, "_KCENTER_K", 5)
    rng = random.Random(11)
    pts = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)]
    df = spark.createDataFrame(pts, "vid long, emb array<double>")
    got = [
        (r["round"], r["id"], r["sep"])
        for r in kcenter_select(df, "emb", "vid").orderBy("round").collect()
    ]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    vec = dict(pts)
    chosen = [min(vec)]
    expect = [(0, chosen[0], 0.0)]
    md = {i: d2(v, vec[chosen[0]]) for i, v in pts}
    for t in range(1, 6):
        pick = max((m, -i) for i, m in md.items() if m > 0)
        i = -pick[1]
        expect.append((t, i, pick[0] ** 0.5))
        for j, v in pts:
            md[j] = min(md[j], d2(v, vec[i]))
    assert [(r, i) for r, i, _ in got] == [(r, i) for r, i, _ in expect]
    seps = [s for _, _, s in got]
    assert all(abs(a - b) < 1e-9 for a, b in zip(seps, (s for _, _, s in expect)))
    assert all(a >= b - 1e-12 for a, b in zip(seps[1:], seps[2:]))


def test_ancestor_closure_and_subtree_rollup(spark, monkeypatch):
    """Pointer-doubling closure == the obvious parent-chain walk; rollup
    sums every descendant exactly once; cycles raise."""
    from graph_db_spark.operators.hierarchy import ancestor_closure, subtree_rollup

    #        1
    #      /   \
    #     2     3
    #    / \     \
    #   4   5     6
    #  /
    # 7  (chain depth 3)
    parents = {2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 4}
    edges = spark.createDataFrame(list(parents.items()), "node long, parent long")
    got = {
        (r["node"], r["anc"]): r["steps"]
        for r in ancestor_closure(edges).collect()
    }
    expect = {}
    for n in parents:
        a, s = n, 0
        while a in parents:
            a, s = parents[a], s + 1
            expect[(n, a)] = s
    assert got == expect

    vals = [(i, float(i)) for i in range(1, 8)]
    nodes = spark.createDataFrame(vals, "node long, v double")
    roll = {
        r["node"]: (r["depth"], r["subtree_n"], r["subtree_sum"])
        for r in subtree_rollup(nodes, edges, "v").collect()
    }
    assert roll[1] == (0, 7, 28.0)
    assert roll[2] == (1, 4, 18.0)  # {2,4,5,7}
    assert roll[4] == (2, 2, 11.0)  # {4,7}
    assert roll[7] == (3, 1, 7.0)

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "node long, parent long")
    from graph_db_spark.operators import hierarchy

    monkeypatch.setattr(hierarchy, "_MAX_DEPTH", 8)
    try:
        ancestor_closure(cyc)
        raised = False
    except RuntimeError:
        raised = True
    assert raised


def test_new_operator_guards(spark, monkeypatch):
    """Contract guards: invalid radius / k / walk length raise loudly
    instead of producing silently-wrong plans."""
    import pytest as _pt

    from graph_db_spark.graph.algorithms import deterministic_walks
    from graph_db_spark.operators import similarity
    from graph_db_spark.operators.joins import grid_distance_join
    from graph_db_spark.operators.similarity import kcenter_select

    pts = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double")
    with _pt.raises(ValueError):
        grid_distance_join(pts, pts, ("x", "y"), ("x", "y"), 0.0)
    emb = spark.createDataFrame([(1, [0.0, 1.0])], "vid long, e array<double>")
    with monkeypatch.context() as m:
        m.setattr(similarity, "_KCENTER_K", 0)
        with _pt.raises(ValueError):
            kcenter_select(emb, "e", "vid")
    empty = emb.filter("vid < 0")
    with _pt.raises(ValueError):
        kcenter_select(empty, "e", "vid")
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    s = spark.createDataFrame([("a",)], "start string")
    with _pt.raises(ValueError):
        deterministic_walks(e, s, length=0)


def test_kcenter_select_exhausts_distinct_vectors_gracefully(spark):
    """r6 ADVICE regression: with fewer than k+1 DISTINCT vectors the
    greedy loop must stop after exhausting them (returning the selected
    centers) instead of crashing on an empty argmax collect."""
    from graph_db_spark.operators.similarity import kcenter_select

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 0.0]), (4, [1.0, 0.0])],
        "vid long, emb array<double>",
    )
    got = kcenter_select(df, "emb", "vid").orderBy("round").collect()
    # 2 distinct vectors -> seed + 1 selection, then clean stop
    assert [(r["round"], r["id"]) for r in got] == [(0, 1), (1, 2)]


def test_with_global_rank_cumsum_matches_window_cumsum(spark):
    """The two-level prefix sum's running totals (pid-local ordered cumsum
    + broadcast partition offsets) must equal the single-partition window
    cumsum: EXACTLY for integer columns (associative), and to fp rounding
    for doubles (the offset adds an unordered partition total, so the
    summation tree differs — sprt/heaps emit through round(,4) which this
    bound dominates)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_db_spark.operators.aggregates import with_global_rank

    rng = random.Random(11)
    rows = [(i, rng.randint(-3, 9), rng.uniform(-1.0, 1.0)) for i in range(157)]
    df = spark.createDataFrame(rows, "id long, k long, x double")
    order = [F.asc("k"), F.asc("id")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        r["id"]: (r["ck"], r["cx"])
        for r in df.select(
            "id", F.sum("k").over(w).alias("ck"), F.sum("x").over(w).alias("cx")
        ).collect()
    }
    got = {
        r["id"]: (r["ck"], r["cx"])
        for r in with_global_rank(
            df, order, cumsum_cols={"ck": "k", "cx": "x"}, n_partitions=8
        ).collect()
    }
    assert set(got) == set(expect)
    for i, (ck, cx) in expect.items():
        gck, gcx = got[i]
        assert gck == ck, (i, gck, ck)  # integer cumsum: bit-exact
        assert abs(gcx - cx) <= 1e-9 * max(1.0, abs(cx)), (i, gcx, cx)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_sprt_fixture_keeps_llr_walk_clear_of_boundaries(spark, sf):
    """r8 ADVICE guard: sprt_sequential_decision's two-level prefix sum
    carries ~1e-12 partition-order FP noise, so its boundary comparison
    (llr vs ±ln 19) is only deterministic while NO point of the walk
    lands within that noise of a boundary. Assert the fixtures keep the
    whole walk >> 1e-9 away from both thresholds (exact sequential walk
    via a single-partition window — ground truth, test-only), so a
    future fixture regeneration that lands near the boundary fails
    loudly here instead of flaking in the gate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_db_spark.tables import load_table

    ev = load_table(spark, f"/root/testdata/{sf}", "events")
    z = F.when(F.col("event_type") == "purchase", F.lit(0.20067069546215124)).otherwise(
        F.lit(-0.050010420574661305)
    )
    w = Window.orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    thr = 2.9444389791664403
    gap = (
        ev.select(F.sum(z).over(w).alias("llr"))
        .select(
            F.least(
                F.abs(F.col("llr") - F.lit(thr)), F.abs(F.col("llr") + F.lit(thr))
            ).alias("g")
        )
        .agg(F.min("g").alias("min_gap"))
        .collect()[0]["min_gap"]
    )
    assert gap > 1e-6, f"{sf}: llr walk approaches ±ln19 within {gap}"


def test_with_global_rank_freezes_its_partition_layout(spark):
    """r9 sf0.1 find: repartitionByRange samples boundaries per RDD
    instantiation, so the helper's rank path and totals path (separate
    plan subtrees) could see DIFFERENT layouts — offsets from one
    applied to ranks from another produced duplicate/missing global
    ranks (an 11th ntile) nondeterministically. The fix materializes the
    partitioned frame once; this pins the materialization (a checkpoint
    scan under the pid window) so a revert goes red deterministically —
    the corruption itself is probabilistic and can't be unit-asserted."""
    from pyspark.sql import functions as F

    from graph_db_spark.operators.aggregates import with_global_rank

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 17).cast("double").alias("v")
    )
    out = with_global_rank(df, [F.asc("v"), F.asc("id")], n_partitions=8)
    plan = out._jdf.queryExecution().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:2000]
    # and the output is a permutation even when consumed through a
    # self-join (two consumers of the frozen layout)
    a, b = out.alias("a"), out.alias("b")
    n_pairs = a.join(b, F.col("b.rank") == F.col("a.rank") - 250).count()
    ranks = [r["rank"] for r in out.select("rank").collect()]
    assert sorted(ranks) == list(range(1, 501))
    assert n_pairs == 250


def test_stacked_group_ranking_with_unequal_blocks(spark):
    """The quantile_treatment_effect generalization of the rfm stack:
    rank ONE frame by (grp, v, key) and recover each group's LOCAL rank
    as global_rank minus the total size of the groups sorting before it
    (data-dependent block offsets, not the equal dim*n stride) — must
    equal the per-group row_number for skewed group sizes and ties."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_db_spark.operators.aggregates import with_global_rank

    rng = random.Random(7)
    rows = [
        (i, 0 if rng.random() < 0.85 else 1, float(rng.randint(0, 20)))
        for i in range(211)
    ]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    expect = {
        (r["grp"], r["id"]): r["lr"]
        for r in df.select(
            "grp", "id",
            F.row_number()
            .over(Window.partitionBy("grp").orderBy("v", "id"))
            .alias("lr"),
        ).collect()
    }
    n0 = sum(1 for _, g, _ in rows if g == 0)
    got = {
        (r["grp"], r["id"]): r["gr"] - (n0 if r["grp"] == 1 else 0)
        for r in with_global_rank(
            df, [F.asc("grp"), F.asc("v"), F.asc("id")], rank_col="gr",
            n_partitions=8,
        ).collect()
    }
    assert got == expect


def test_stacked_multi_ranking_identity(spark):
    """The rfm trick: rank a dim-tagged union ONCE by (dim, v, key) and
    recover each dimension's rank as global_rank - dim*n — must equal
    each per-order row_number, including heavy ties broken by key."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_db_spark.operators.aggregates import with_global_rank

    rng = random.Random(13)
    rows = [
        (i, rng.randint(0, 4), rng.randint(0, 99), rng.uniform(0, 10))
        for i in range(83)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c double")
    n = len(rows)
    dims = [("a", False), ("b", True), ("c", True)]  # a ranked DESC
    expect = {}
    for d, (colname, asc) in enumerate(dims):
        order = [F.asc(colname) if asc else F.desc(colname), F.asc("id")]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(*order)).alias("rk")
        ).collect():
            expect[(r["id"], d)] = r["rk"]
    stacked = df.select(
        "id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("dim"), (-F.col("a")).cast("double").alias("v")),
                F.struct(F.lit(1).alias("dim"), F.col("b").cast("double").alias("v")),
                F.struct(F.lit(2).alias("dim"), F.col("c").alias("v")),
            )
        ).alias("e"),
    ).select("id", F.col("e.dim").alias("dim"), F.col("e.v").alias("v"))
    got = {
        (r["id"], r["dim"]): r["gr"] - r["dim"] * n
        for r in with_global_rank(
            stacked, [F.asc("dim"), F.asc("v"), F.asc("id")], rank_col="gr",
            n_partitions=8,
        ).collect()
    }
    assert got == expect


def test_with_global_rank_degenerate_inputs(spark):
    """Edge cases the range partitioner can mishandle: empty frame (no
    partitions in totals → empty output, no error), single row (rank 1,
    cumsum = value), and all-equal sort keys with a unique tiebreak
    (ranks still a permutation of 1..n)."""
    from pyspark.sql import functions as F

    from graph_db_spark.operators.aggregates import with_global_rank

    empty = spark.createDataFrame([], "id long, x double")
    assert (
        with_global_rank(empty, [F.asc("id")], cumsum_cols={"cx": "x"}).count() == 0
    )

    one = spark.createDataFrame([(7, 2.5)], "id long, x double")
    row = with_global_rank(one, [F.asc("id")], cumsum_cols={"cx": "x"}).collect()[0]
    assert row["rank"] == 1 and row["cx"] == 2.5

    ties = spark.createDataFrame([(i, 42) for i in range(20)], "id long, v long")
    ranks = sorted(
        r["rank"]
        for r in with_global_rank(ties, [F.asc("v"), F.asc("id")]).collect()
    )
    assert ranks == list(range(1, 21))
