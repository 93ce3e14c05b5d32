"""Physical-plan regression tests — pin the SCALE.md §1 audit.

Two kinds of check. Plan *properties* (pushdown, broadcast choice, one
exchange per iterative round) are asserted on single plans. Plan
*shapes* — node counts per query — are pinned for the whole inventory by
the ledger plans/shape.json, which one run of tools/dump_plans.py
re-derives; the no-global-window and no-Cartesian rules read the same
sweep.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

from graph_db_spark.plans.queries import QUERIES
from tools.dump_plans import (
    BUILDTIME_ACTIONS,
    _capture_buildtime,
    _explain_str,
    format_ledger,
    ledger_diff,
)

SF_DIR = "/root/testdata/sf0.001"
REPO = pathlib.Path(__file__).resolve().parents[1]
LEDGER = REPO / "plans" / "shape.json"


def plan_of(spark, name: str) -> str:
    return _explain_str(QUERIES[name](spark, SF_DIR))


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [" in plan and "IsNotNull" in plan or "LessThan" in plan
    # column pruning: the scan must not read all 11 lineitem columns
    assert "l_comment" not in plan


def test_broadcast_dim_join_broadcasts(spark):
    plan = plan_of(spark, "broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_grouped_agg_has_partial_aggregation(spark):
    plan = plan_of(spark, "event_day_stats")
    # two-phase aggregate: partial (map-side combine) + final
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name", ["pipeline_optimum_element_ranges", "pipeline_sap_element_results"]
)
def test_parsed_fact_side_never_broadcast(spark, name):
    """SCALE.md §6.2: after spread()+wide parse the planner has no stats
    and may broadcast the parsed FACT side (driver collect + 1-thread hash
    build). The dim side carries the explicit hint; the fact side's
    round-robin exchange must therefore never sit under a BroadcastExchange."""
    plan = plan_of(spark, name)
    fact_exchange = plan.find("RoundRobinPartitioning")
    assert fact_exchange != -1  # the spread() is present
    # walk the formatted tree: the BroadcastExchange node ids present must
    # not reference the round-robin subtree — cheap proxy: the regex parse
    # markers (regexp_extract) must not appear inside a BroadcastExchange
    # input column list
    import re

    for m in re.finditer(r"\((\d+)\) BroadcastExchange\n(Input \[[^\n]*\])", plan):
        assert "regexp_extract" not in m.group(2)


def test_q18_aggregates_before_joining(spark):
    """Q18 shape: the qualifying-order set (aggregate-then-join inversion)
    must be the broadcast build side — lineitem and orders never shuffle
    against each other."""
    plan = plan_of(spark, "large_volume_customers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_lookup_broadcasts_the_sketch(spark):
    """The Count-Min sketch (depth×width rows) must be the broadcast side
    of the probe join — a shuffled join would move the fact keys to the
    sketch instead of the sketch to the keys."""
    plan = plan_of(spark, "cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_is_narrow(spark):
    """The Bloom probe must ride a 1-row BroadcastNestedLoopJoin (the
    dense-bitmap data column) — never a CartesianProduct, and never a
    sort-merge join against the bit table."""
    plan = plan_of(spark, "bloom_semi_prune")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_keep_filter_not_pushed_below_repartition(spark):
    """SCALE.md §6.1: the skip-unparsable predicate must evaluate above the
    window (as rn==1 AND keep), not as a scan-side filter dragging the
    parse into the single-split stage. The pre-exchange Filter nodes may
    only carry cheap source predicates (IsNotNull on join keys)."""
    plan = plan_of(spark, "pipeline_optimum_element_ranges")
    head, _, _ = plan.partition("RoundRobinPartitioning")
    # nothing before the round-robin exchange evaluates the range parse
    assert "regexp_extract" not in head.split("== Physical Plan ==")[1]


@pytest.mark.parametrize(
    "name", ["vocab_coverage", "order_value_deciles", "corpus_global_shuffle"]
)
def test_two_level_rank_queries_have_no_global_window(spark, name):
    """SCALE.md: global rankings (the Zipf curve, the revenue deciles)
    must use the two-level prefix sum — every Window in the plan is
    partitioned (by pid), never a global single-partition rank/cumsum,
    and the offset lift must not reintroduce a SinglePartition exchange
    feeding a Window."""
    import re

    plan = plan_of(spark, name)
    # formatted-mode Window detail lines: "Arguments: [fns], [partition], [order]"
    windows = list(re.finditer(r"\(\d+\) Window\n(?:[^\n]*\n)*?Arguments: (.*)", plan))
    assert windows, "expected the pid-partitioned rank/cumsum Window in the plan"
    for m in windows:
        args = m.group(1)
        # partition spec is the 2nd bracket group; empty ("[]") = global window
        groups = re.findall(r"\[[^\]]*\]", args)
        assert len(groups) >= 3 and groups[1] != "[]", f"global Window: {args}"
    assert "CartesianProduct" not in plan


def test_q22_scalar_broadcast_and_anti(spark):
    """Q22 shape: the scalar AVG rides a 1-row BroadcastNestedLoopJoin
    (never a per-row re-scan) and NOT IN decorrelates to a broadcast
    left-anti against the date-pruned buyer list — customer must not
    shuffle for either side."""
    plan = plan_of(spark, "idle_rich_customers")
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_no_forced_broadcast_on_sf_scaling_sides(spark):
    """r12 verdict "What's wrong" #1 — `dim_hint` contract: forced
    ``F.broadcast`` is reserved for SF-invariant sides (nation/region/
    1-row scalars). TPC-H customer/supplier/part grow linearly with SF
    (~15B customer rows at the ~100 TB design point — past Spark's
    8 GB / 512M-row broadcast hard limits), so their joins must carry
    NO broadcast hint in the optimized logical plan: AQE may still
    broadcast them at bench scale (that is its call to make at runtime),
    but nothing forces it at 100 TB. Asserted on the logical plan, not
    the physical one, precisely because AQE's bench-scale broadcast
    choice is legitimate."""
    from graph_db_spark.plans.queries import QUERIES

    for name, scaling_keys in [
        ("nation_volume_shipping", ("c_custkey", "s_suppkey")),
        ("theil_index_decomposition", ("c_custkey",)),
        ("trade_reciprocity", ("c_custkey", "s_suppkey")),
        # part scales at SF x 200k rows (~20B at the 100 TB point) —
        # the same class as customer/supplier, fixed in the r13 second
        # audit pass (11 more li ⋈ part sites; these three keep the
        # part join in the FINAL plan, so the assertion is non-vacuous —
        # market_basket_lift's join hides behind a build-time checkpoint)
        ("promo_revenue_share", ("p_partkey",)),
        ("taylors_power_law", ("p_partkey",)),
        ("concentration_hhi", ("p_partkey",)),
    ]:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if "Join" not in line:
                continue
            if any(k in line for k in scaling_keys):
                assert "broadcast" not in line.lower(), f"{name}: {line}"
    # and the bounded nation dims keep their explicit hint — exactly the
    # two nation sides of the Q7 shape
    df = QUERIES["nation_volume_shipping"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("strategy=broadcast") == 2, plan


def test_pca_covariance_stage_is_join_free(spark):
    """r12 verdict "What's wrong" #2 — pca_power_iteration's covariance
    must NOT ride a rowid self-join: the pair expansion happens inside
    each row (nested transform → primitive array → posexplode), so the
    only data-sized plan (the build-time grid collect) has no
    SortMergeJoin and exactly one Exchange (the 2144-group partial→final
    aggregate). The final emitted frame is a 1-row local relation."""
    plans: list[str] = []
    with _capture_buildtime(plans):
        QUERIES["pca_power_iteration"](spark, SF_DIR)
    data_pass = [p for p in plans if "posexplode" in p or "Generate" in p]
    assert data_pass, "covariance grid plan not captured"
    for p in data_pass:
        assert "SortMergeJoin" not in p, p
        assert p.count("Exchange") <= 2, p  # shuffle + AQE read, nothing else


def test_q17_prunes_fact_before_decorrelated_avg(spark):
    """Q17 shape: the brand filter semi-joins lineitem BEFORE the
    per-part average — the broadcast of the filtered part list must sit
    under the partkey aggregate, and the filtered scan must push the
    brand predicate down."""
    plan = plan_of(spark, "small_quantity_revenue")
    assert "BroadcastHashJoin" in plan
    assert "In(p_brand" in plan or "p_brand" in plan.split("PushedFilters")[1][:400]


def test_q19_disjunction_pushes_per_table_slices(spark):
    """Q19 shape: Catalyst must derive each table's slice of the
    OR-of-ANDs and push it into that table's scan — the lineitem scan
    carries the quantity-range disjunction, the part scan the
    brand/size disjunction. A naive plan evaluates the whole OR
    post-join over the unpruned fact scan."""
    plan = plan_of(spark, "disjunctive_discount_revenue")
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)
    assert "BroadcastHashJoin" in plan


def test_q15_scans_the_fact_once(spark):
    """Q15 shape: the revenue view materializes once and serves both its
    consumers (the global MAX and the final join) — the only parquet
    scan left in the plan is the supplier dimension, never a second
    lineitem scan (exchange reuse across the two consumers is not
    guaranteed, so the query pins it with an explicit checkpoint)."""
    plan = plan_of(spark, "top_supplier_revenue")
    # formatted mode prints each scan node twice (tree + detail section)
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")
    assert "l_extendedprice" not in plan.split("Scan parquet")[-1]
    assert "CartesianProduct" not in plan


def test_iterative_round_reuses_edge_partitioning(spark):
    """Pin the r5 headline wins (CC 20.8→13.0s, PageRank 21.5→13.9s at
    sf0.1): every iterative algorithm pre-partitions its static edge
    table on the per-round join key and checkpoints it
    (graph/algorithms.py:prepartition_for_rounds); LogicalRDD preserves
    the partitioning, so a round's join must shuffle ONLY the narrow
    label/rank side — exactly one Exchange in the plan, never one on the
    checkpointed edge side. Dropping the repartition inside the helper
    turns the count to 2."""
    from pyspark.sql import functions as F

    from graph_db_spark.graph.algorithms import prepartition_for_rounds

    edges = spark.range(2000).select(
        (F.col("id") % 500).cast("string").alias("src"),
        ((F.col("id") * 7) % 500).cast("string").alias("dst"),
    )
    sym = prepartition_for_rounds(edges.select("src", F.col("dst").alias("b")), 8, "b")
    labels = spark.range(500).select(
        F.col("id").cast("string").alias("b"), F.col("id").alias("label")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = sym.join(labels, on="b")
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"expected 1 Exchange (label side only), got {n_exchanges}:\n{plan}"


def _round_plans(spark, monkeypatch, run):
    """Run ``run()`` (a production algorithm from graph/algorithms.py)
    with broadcast joins off and return the executed plan of every
    frame it passed to ``checkpoint_keep_partitioning``, in call order —
    the plans its rounds actually ran."""
    from graph_db_spark.graph import algorithms

    seen = []
    real = algorithms.checkpoint_keep_partitioning

    def spy(df):
        out = real(df)
        seen.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(algorithms, "checkpoint_keep_partitioning", spy)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return seen


def _round_test_edges(spark):
    from pyspark.sql import functions as F

    return spark.range(4000).select(
        (F.col("id") % 800).cast("string").alias("src"),
        ((F.col("id") * 13) % 800).cast("string").alias("dst"),
    )


def test_cc_round_two_has_single_exchange(spark, monkeypatch):
    """The full CC round-plan contract (r6): with the static edge table
    through prepartition_for_rounds AND the per-round merged table
    through checkpoint_keep_partitioning, round ≥2's whole pipeline —
    frontier⋈sym (alias-aware hash(id)→hash(b)), groupBy(a), and the
    comp⋈incoming merge join — carries EXACTLY ONE Exchange: the
    aggregation. At cluster scale that makes per-round shuffle volume
    the label deltas alone, not the edge table. The plan inspected is
    round 2 of the production connected_components."""
    from graph_db_spark.graph.algorithms import connected_components

    # nparts MUST equal spark.sql.shuffle.partitions: the per-round merged
    # table exits its join/agg at shuffle.partitions, and co-partitioned
    # reuse needs matching counts (the algorithms' default —
    # defaultParallelism — matches; callers overriding n_partitions on
    # tiny inputs trade the reuse away knowingly)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _round_test_edges(spark)
    # one checkpoint_keep_partitioning call per round: [round 1, round 2, ...]
    plans = _round_plans(
        spark, monkeypatch, lambda: connected_components(edges, n_partitions=nparts)
    )
    assert len(plans) >= 2, plans
    n = plans[1].count("Exchange")
    assert n == 1, f"expected 1 Exchange (the aggregation), got {n}:\n{plans[1]}"


def test_pagerank_round_two_has_single_exchange(spark, monkeypatch):
    """PageRank's round contract (r6, mirrors the CC test): with v and
    the weighted edge table both carrying recorded hash(id) partitioning,
    round ≥2's ranks⋈weighted join and the v⟕contribs null-fill join are
    exchange-free — the union-with-static-complement trick this replaces
    had zero join cost but ERASED partial's partitioning, silently
    re-exchanging the whole rank table every round. The plan inspected
    is round 2 of the production pagerank."""
    from graph_db_spark.graph.algorithms import pagerank

    from graph_db_spark.graph import algorithms

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _round_test_edges(spark)
    # two rounds leave the ranks moving: silence the warning
    monkeypatch.setattr(algorithms, "_PR_TOL", float("inf"))
    # checkpoint_keep_partitioning calls: [vertex set, round 1, round 2]
    plans = _round_plans(
        spark,
        monkeypatch,
        lambda: pagerank(edges, max_iter=2, n_partitions=nparts),
    )
    assert len(plans) == 3, plans
    n_ex = plans[2].count("Exchange")
    assert n_ex == 1, f"expected 1 Exchange (the aggregation), got {n_ex}:\n{plans[2]}"


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6 is a pure pushed-filter scan: every predicate (shipdate range,
    discount band, quantity cap) must reach the parquet reader, and the
    projection must prune to the three referenced columns + filters."""
    plan = plan_of(spark, "forecast_revenue")
    pushed = plan.split("PushedFilters")[1][:500]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert "Exchange" in plan  # only the final 1-row reduce shuffles
    assert "l_returnflag" not in plan  # column pruning held


def test_grid_join_is_equi_join_not_cartesian(spark):
    """The spatial radius join must plan as a hash/sort-merge EQUI join
    on the cell key (the whole point of the grid) — never a
    BroadcastNestedLoop/Cartesian on the distance predicate."""
    plan = plan_of(spark, "geo_grid_distance_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wordpiece_segmentation_has_no_shuffle_after_vocab(spark):
    """Segmentation is mapInPandas over distinct words with the vocab in
    the closure: the plan downstream of the word-frequency table adds
    python evals + one key join, no global sort."""
    plan = plan_of(spark, "wordpiece_vocab_segment")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_cms_join_cardinality_never_scans_base_twice(spark):
    """The estimate path joins two depth*width sketch tables; the exact
    path joins the two key-count tables — four scans total (one per
    side per path), no base-table self-join."""
    plan = plan_of(spark, "cms_join_cardinality")
    assert "CartesianProduct" not in plan
    # the only cross join is the 1-row exact x 1-row est scalar combine
    # (formatted mode prints a node in the tree AND the detail section,
    # so count the tree form, which carries the build annotation)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_item_cf_broadcasts_count_dims(spark):
    """item_item_collaborative_topk: the per-item count tables join the
    pair frame as broadcasts — the pair-space shuffle is the only wide
    exchange in the plan."""
    plan = plan_of(spark, "item_item_collaborative_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_benford_filter_reaches_scan(spark):
    """benford_first_digit: the o_totalprice > 0 filter is pushed into
    the parquet scan, and only the one needed column is read."""
    plan = plan_of(spark, "benford_first_digit")
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice" in plan
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:200]


# ---------------------------------------------------------------------------
# x100 amplification scale probe (r10 verdict item 5)
# ---------------------------------------------------------------------------
#
# The cuped lesson: "exact to ~sf1" claims on the decimal-moment queries
# went unverified because sf0.1 is the largest fixture — the BIGINT
# overflow in n*Sy^2 only surfaced when the sf0.1 sweep happened to cross
# 2^63. This probe manufactures the regime directly: replicate sf0.01
# orders 100x (salted orderkeys so key joins stay 1:1), which lifts the
# full daily revenue to sf1 magnitude (~9.4e9 cents/day), where any
# per-row int64 product of day-grid sums exceeds 2^63 and throws under
# ANSI mode. The r11 advice fixes (operand-first decimal casts in hurst/
# granger/engle-granger/durbin-watson) are exactly what this pins.


@pytest.fixture(scope="module")
def amplified_sf_dir(spark, tmp_path_factory):
    import os

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.01"
    dst = tmp_path_factory.mktemp("amplified")
    o = spark.read.parquet(os.path.join(src, "orders.parquet"))
    (
        o.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(99))))
        .withColumn(
            "o_orderkey", F.col("o_orderkey") * 100 + F.col("_i")
        )
        .drop("_i")
        .write.parquet(str(dst / "orders.parquet"))
    )
    for t in (
        "customer",
        "lineitem",
        "nation",
        "region",
        "part",
        "supplier",
    ):
        os.symlink(
            os.path.join(src, f"{t}.parquet"), str(dst / f"{t}.parquet")
        )
    return str(dst)


def test_amplification_probe_has_teeth(spark, amplified_sf_dir):
    """The probe exercises the real overflow regime: the PRE-fix idiom
    (int64 per-row product, cast to decimal after) must throw an ANSI
    arithmetic overflow on the amplified day grid. If this stops
    raising, the amplification no longer reaches the regime and the
    green results below prove nothing."""
    from pyspark.sql import functions as F

    from graph_db_spark.tables import load_table

    g = (
        load_table(spark, amplified_sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("dayd"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("y")
        )
    )
    with pytest.raises(Exception, match="(?i)overflow"):
        g.agg(
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        ).collect()


@pytest.mark.parametrize(
    "name,stat",
    [
        ("hurst_exponent_rs", "hurst_h"),
        ("durbin_watson_trend", "dw_stat"),
        ("engle_granger_cointegration", "adf_t"),
        ("granger_causality_f", "granger_f"),
        ("cuped_variance_reduction", "var_reduction"),
    ],
)
def test_decimal_moment_queries_survive_sf1_magnitudes(
    spark, amplified_sf_dir, name, stat
):
    """Every decimal-moment query whose per-row products carry the
    SF-dependent daily/period sums must complete at sf1 magnitude and
    emit a finite headline statistic — the operand-first decimal casts
    (and the r10 cuped decimal moments) are load-bearing here, not
    documentation."""
    import math

    rows = QUERIES[name](spark, amplified_sf_dir).collect()
    assert rows, f"{name} returned no rows at amplified scale"
    v = rows[0][stat]
    assert v is not None and math.isfinite(v), (name, stat, v)


def test_buildtime_capture_list_matches_dump_plans():
    """The build-time capture must cover every eager action the classic
    DataFrame does not route through collect — a builder switching to
    toPandas or isEmpty must still land in the ledger."""
    assert set(BUILDTIME_ACTIONS) >= {
        "collect", "count", "localCheckpoint", "toPandas", "isEmpty"
    }


def test_dump_plans_usage_line_on_operands(monkeypatch, capsys):
    """The ledger command takes no operands: any operand prints the usage
    string and returns non-zero before a session starts."""
    from tools import dump_plans

    monkeypatch.setattr(sys, "argv", ["dump_plans.py", "pagerank"])
    assert dump_plans.main() == 2
    assert "usage:" in capsys.readouterr().err


def test_ledger_diff_names_query_field_and_change():
    """The committed ledger lists exactly the QUERIES names in its
    canonical form, and the comparator reports one line per changed
    count, per unknown query and per query left out."""
    committed = json.loads(LEDGER.read_text())
    assert sorted(committed) == sorted(QUERIES)
    assert format_ledger(committed) == LEDGER.read_text()
    assert ledger_diff(committed, committed) == []

    n = committed["pagerank"].get("Exchange", 0)
    bumped = {**committed, "pagerank": {**committed["pagerank"], "Exchange": n + 1}}
    assert ledger_diff(committed, bumped) == [f"pagerank: Exchange {n} → {n + 1}"]

    unknown = {**committed, "no_such_query": {}}
    assert ledger_diff(committed, unknown) == ["no_such_query: swept but not in plans/shape.json"]
    missing = {k: v for k, v in committed.items() if k != "pagerank"}
    assert ledger_diff(committed, missing) == ["pagerank: in plans/shape.json but not swept"]


@pytest.mark.parametrize("min_value", [95, None])
def test_conversion_obs_matches_oracle_cte(spark, min_value):
    """``_conversion_obs`` (Spark) and ``_conversion_obs_sql`` (the CTEs
    the four survival oracles start with) give the same (cohort, t,
    death) multiset, for the high-value and the any-purchase filter."""
    from collections import Counter

    import duckdb

    from graph_db_spark.plans.families.q00_base import _conversion_obs, _conversion_obs_sql

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    sql = f"WITH {_conversion_obs_sql(min_value)} SELECT cohort, t, death FROM obs"
    oracle = Counter(con.execute(sql).fetchall())
    got = Counter(tuple(r) for r in _conversion_obs(spark, SF_DIR, min_value).collect())
    assert got and got == oracle
    if min_value is not None:  # the high-value cut leaves users censored
        assert {d for _, _, d in got} == {0, 1}


# ---------------------------------------------------------------------------
# Plan-shape ledger (plans/shape.json) and the rules read off the same sweep
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module", autouse=True)
def _sweep_run(request, tmp_path_factory):
    """Start one ``tools/dump_plans.py`` run over the working tree when
    this module starts, so the sweep runs beside the in-process plan
    tests above it; the ledger tests at the end wait for it. It runs in
    its own process because it fixes its own core count (the suite's
    session is local[nproc]), with a small driver heap beside the
    suite's JVM and its own temp dir for the builders' scratch paths.
    No sweep starts when no selected test reads it."""
    if not any("swept" in item.fixturenames for item in request.session.items):
        yield None
        return
    d = tmp_path_factory.mktemp("sweep")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", TMPDIR=str(d))
    with open(d / "shape.json", "w") as out, open(d / "stderr.txt", "w") as err:
        proc = subprocess.Popen(
            [sys.executable, "tools/dump_plans.py"], cwd=REPO, env=env, stdout=out, stderr=err
        )
    yield proc, d
    proc.kill()
    proc.wait()


@pytest.fixture(scope="module")
def swept(_sweep_run):
    """(ledger, FAIL lines) of the sweep."""
    proc, d = _sweep_run
    rc = proc.wait(timeout=1800)
    err = (d / "stderr.txt").read_text(errors="replace")
    # rc 1 = some queries failed to build (FAIL lines); anything else
    # means the sweep itself died before printing the ledger
    assert rc in (0, 1), err[-4000:]
    failed = [line for line in err.splitlines() if line.startswith("FAIL ")]
    return json.loads((d / "shape.json").read_text()), failed


def _shape(swept, name: str) -> dict[str, int]:
    ledger, failed = swept
    assert name in ledger, [f for f in failed if f.startswith(f"FAIL {name}:")]
    return ledger[name]


def test_plan_shape_ledger_matches_sweep(swept):
    """Every query's plan shape — exchanges, joins by strategy,
    aggregates by kind, windows and build-time actions — equals its
    committed line in plans/shape.json. A plan change fails here with one
    line per changed count; if the change is intended, regenerate with
    ``python tools/dump_plans.py > plans/shape.json`` and commit the
    reviewed diff."""
    ledger, failed = swept
    diff = ledger_diff(json.loads(LEDGER.read_text()), ledger)
    assert not diff, "\n".join(failed + diff)


# Queries allowed to carry a globally-ORDERED (partition-free) Window,
# each with the boundedness argument for why the windowed frame does NOT
# grow with the corpus (SCALE.md §26 policy). Everything else in the
# inventory must keep every ordered Window partitioned — the two-level
# prefix sum (`with_global_rank`), closed-form `ntile_of`, or TakeOrdered
# replace the global forms (the r7-verdict rewrites: rfm, sprt, heaps,
# naive-bayes; r8 sweep additions: curriculum, quantile-normalize).
GLOBAL_WINDOW_ALLOWLIST = {
    "ams_f2_moment": "median-of-means rank over the sketch's counter "
    "estimates — row count fixed by sketch config, not by data",
    "binary_segmentation_changepoint": "calendar-bounded daily series",
    "kruskal_wallis_test": "distinct-value grid of the integer-valued "
    "quantity column (~50 rows; cardinality assumption documented in the "
    "query docstring with the with_global_rank escape hatch)",
    "ljung_box_q": "calendar-bounded daily series",
    "open_order_backlog": "calendar-bounded daily series",
    "revenue_var_cvar": "calendar-bounded daily return series",
    "runs_test_randomness": "calendar-bounded daily series",
    "spc_individuals_chart": "calendar-bounded daily series",
    "stl_seasonal_decompose": "calendar-bounded daily series",
    "rrf_fusion_ranking": "rank assignment over post-TakeOrdered 100-row "
    "candidate lists — k-sized by construction",
    "hodges_lehmann_shift": "cumulative count over the adaptive-width "
    "diff histogram — capped at 65536 buckets by construction (width is "
    "derived from the day grids' min/max), independent of corpus size",
    "wilcoxon_signed_rank": "cumulative tie-count over the |diff| value "
    "grid, at most one row per calendar day",
    "durbin_watson_trend": "lag-1 over the calendar-bounded daily series",
    "max_drawdown_daily": "running max over the calendar-bounded daily "
    "series",
    "wasserstein_price_shift": "cumulative counts + lead over the "
    "adaptive-width value histogram — capped at 65536 buckets by "
    "construction",
    "engle_granger_cointegration": "lag-1 over the calendar-bounded "
    "daily residual series",
    "weibull_time_to_convert": "KM at-risk/product windows over the "
    "event-time day grid, bounded by the observation horizon",
    "auc_doc_length_lang": "cumulative negatives over the n_chars value "
    "grid — bounded by the document-length domain ([44, 577] in the "
    "fixtures), not corpus size",
    "granger_causality_f": "lag-1 over the calendar-bounded daily series",
    "page_hinkley_drift": "cumulative mean + running min over the "
    "calendar-bounded daily series — the windows execute at build time "
    "behind eager localCheckpoints, which the sweep's build-time capture "
    "sees",
}

# Queries allowed a CartesianProduct, each with the bound on both sides.
CARTESIAN_ALLOWLIST = {
    "benjamini_hochberg_fdr": "the 25×25 brand rank grid — 25 brands by "
    "construction of the part table",
    "cumulative_gains_deciles": "the 10×10 decile grid",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_inventory_no_global_window_outside_allowlist(swept, name):
    """Every queries() entry: no single-partition Window unless the
    windowed frame is bounded by construction and documented in
    GLOBAL_WINDOW_ALLOWLIST. The sweep sees the final plan AND every plan
    the build executes on its own (eager localCheckpoints, driver
    probes), so a global window that runs at build time needs a real
    allowlist entry too. An allowlisted query with no global window is a
    stale entry and fails."""
    n = _shape(swept, name).get("single-partition Window", 0)
    if name in GLOBAL_WINDOW_ALLOWLIST:
        assert n, (
            f"{name} is allowlisted for a global window but its plan has "
            "none — remove the stale allowlist entry"
        )
        return
    assert not n, (
        f"{name}: {n} single-partition Window(s) over a frame not on the "
        "bounded allowlist (tools/dump_plans.py:global_windows_in)"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_accidental_cartesian(swept, name):
    """No CartesianProduct anywhere in the inventory — final or build-time
    plans — outside the bounded CARTESIAN_ALLOWLIST (the deliberate
    broadcast nested loops are BroadcastNestedLoopJoin, not Cartesian).
    An allowlisted query with no CartesianProduct is a stale entry."""
    n = _shape(swept, name).get("CartesianProduct", 0)
    if name in CARTESIAN_ALLOWLIST:
        assert n, f"{name} is allowlisted for a CartesianProduct but has none"
        return
    assert not n, f"{name}: {n} CartesianProduct(s)"


def test_global_window_allowlist_entries_are_registered():
    assert set(GLOBAL_WINDOW_ALLOWLIST) | set(CARTESIAN_ALLOWLIST) <= set(QUERIES)
