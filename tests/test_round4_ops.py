"""Semantic invariants for the round-4 session-B additions — properties
the DuckDB hash-match oracle can't express (cross-run determinism,
timeline tiling, partition completeness)."""

from __future__ import annotations

from graph_db_spark.plans.queries import QUERIES
from graph_db_spark.tables import load_table


def test_scd2_spans_tile_the_timeline(spark, sf_dir):
    """Per user: spans are contiguous (next valid_from == this valid_to),
    exactly one span is current, and n_events reconciles with the raw
    event count — i.e. the history table loses nothing."""
    rows = QUERIES["scd2_user_state"](spark, sf_dir).collect()
    ev_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == set(ev_counts)
    for uid, spans in by_user.items():
        spans.sort(key=lambda r: r["seg_id"])
        assert [s["seg_id"] for s in spans] == list(range(1, len(spans) + 1))
        assert sum(s["n_events"] for s in spans) == ev_counts[uid]
        assert sum(1 for s in spans if s["is_current"]) == 1
        assert spans[-1]["is_current"] and spans[-1]["valid_to"] == "<current>"
        for a, b in zip(spans, spans[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous, no gaps
            assert not a["is_current"]
            # consecutive spans must differ in state (else they'd be one span)
            assert a["state"] != b["state"]


def test_label_propagation_is_deterministic(spark, sf_dir):
    """Sync LPA with the (count DESC, min label) tie-break must be a pure
    function of the input — identical across runs despite shuffles."""
    a = sorted(map(tuple, QUERIES["label_propagation"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["label_propagation"](spark, sf_dir).collect()))
    assert a == b
    # every node is labelled exactly once: community sizes sum to node count
    n_nodes = sum(r[1] for r in a)
    assert n_nodes > 0
    for _, size, mn, mx in a:
        assert size >= 1 and mn <= mx


def test_adamic_adar_scores_well_formed(spark, sf_dir):
    rows = QUERIES["link_prediction_adamic_adar"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert r["cust_a"] < r["cust_b"]
        assert r["common_parts"] >= 1
        # each common part contributes 1/ln(d) with 2 <= d <= 500
        import math

        lo = r["common_parts"] / math.log(500.0)
        hi = r["common_parts"] / math.log(2.0)
        assert lo - 1e-3 <= r["aa_score"] <= hi + 1e-3


def test_split_and_shards_are_complete_partitions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    split = QUERIES["dataset_split_assign"](spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in split) == total
    assert {r["split"] for r in split} <= {"train", "valid", "test"}
    shards = QUERIES["corpus_shard_plan"](spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in shards) == total
    assert all(0 <= r["shard"] < 8 for r in shards)
    # balance ratios average to ~1 by construction
    assert abs(sum(r["balance_ratio"] * r["n_docs"] for r in shards) / total - 1.0) < 0.5


def test_robust_outliers_flags_are_minority(spark, sf_dir):
    for r in QUERIES["robust_outliers"](spark, sf_dir).collect():
        assert r["mad"] >= 0.0
        # the modified z-score cut can't flag the majority of a group
        assert r["n_outliers"] <= r["n"] // 2


def test_gap_fill_covers_full_span_per_user(spark, sf_dir):
    rows = QUERIES["gap_fill_forward"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    from datetime import date, timedelta

    for uid, rs in by_user.items():
        days = sorted(date.fromisoformat(r["day"]) for r in rs)
        # dense: every calendar day between min and max present exactly once
        assert len(days) == (days[-1] - days[0]).days + 1
        assert len(set(days)) == len(days)
        # first day is always observed (span starts at first event)
        first = min(rs, key=lambda r: r["day"])
        assert first["observed"]
        # filled_total never null after the first day
        assert all(r["filled_total"] is not None for r in rs)


def test_equi_depth_tiles_balanced(spark, sf_dir):
    rows = QUERIES["equi_depth_histogram"](spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        assert len(rs) == 10
        ns = [r["n"] for r in rs]
        assert max(ns) - min(ns) <= 1  # ntile balance contract
        rs.sort(key=lambda r: r["tile"])
        for a, b in zip(rs, rs[1:]):
            assert a["hi"] <= b["lo"] + 1e-9  # buckets ordered by value


def test_hits_scores_are_distributions(spark, sf_dir):
    rows = QUERIES["hits_scores"](spark, sf_dir).collect()
    roles = {r["role"] for r in rows}
    assert roles == {"authority", "hub"}
    for r in rows:
        assert 0.0 <= r["score"] <= 1.0
        assert 1 <= r["rnk"] <= 10
    # top-10 of a sum-normalized distribution can't exceed total mass 1
    for role in roles:
        assert sum(r["score"] for r in rows if r["role"] == role) <= 1.0 + 1e-6


def test_chi_square_nonnegative_and_dof(spark, sf_dir):
    r = QUERIES["chi_square_independence"](spark, sf_dir).collect()[0]
    assert r["chi2"] >= 0.0
    assert r["dof"] == (5 - 1) * (7 - 1)  # 5 event types x 7 weekdays
    assert r["n"] > 0


def test_global_shuffle_prefix_is_stable_and_dense(spark, sf_dir):
    a = QUERIES["corpus_global_shuffle"](spark, sf_dir).collect()
    b = QUERIES["corpus_global_shuffle"](spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # retry-safe
    a.sort(key=lambda r: r["position"])
    assert [r["position"] for r in a] == list(range(1, len(a) + 1))
    run = 0
    for r in a:
        run += r["n_chars"]
        assert r["chars_through"] == run  # running budget is a true prefix sum


def test_holt_linear_matches_reference_fold(spark, monkeypatch):
    """holt_linear == the pure-python reference fold per key, ordered by
    the order column; single-point series keeps level=x, trend=0."""
    from graph_db_spark.operators import drift
    from graph_db_spark.operators.drift import holt_fold, holt_linear

    monkeypatch.setattr(drift, "_HOLT_HORIZON", 2)
    rows = [
        ("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 15.0), ("a", 4, 13.0),
        ("b", 1, 5.0), ("b", 2, 5.0),
        ("c", 1, 7.5),
    ]
    df = spark.createDataFrame(rows, "k string, t int, x double")
    got = {
        r["key"]: (r["n_obs"], r["level"], r["trend"], r["forecast"])
        for r in holt_linear(df, "k", "t", "x").collect()
    }
    series = {}
    for k, t, x in sorted(rows, key=lambda r: (r[0], r[1])):
        series.setdefault(k, []).append(x)
    for k, xs in series.items():
        lvl, tr = holt_fold(xs, 0.5, 0.3)
        n, g_lvl, g_tr, g_fc = got[k]
        assert n == len(xs)
        assert g_lvl == lvl and g_tr == tr
        assert g_fc == lvl + 2 * tr
    assert got["c"] == (1, 7.5, 0.0, 7.5)
