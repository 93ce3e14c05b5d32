"""Corpus-quality signals, PII scrubbing, Count-Min sketch, Bloom filter."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from graph_db_spark.operators import quality as QL
from graph_db_spark.operators import sketches as SK


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).collect()[0].v


def test_top_word_fraction_handcrafted(spark):
    assert _one(spark, "a a a b", QL.top_word_fraction("text")) == 0.75
    assert _one(spark, "A a b b", QL.top_word_fraction("text")) == 0.5  # lowercased
    assert _one(spark, "x", QL.top_word_fraction("text")) == 1.0


def test_dup_gram_fraction_handcrafted(spark):
    # bigrams of "a b a b a": [a b, b a, a b, b a] → 2 of 4 are repeats
    assert _one(spark, "a b a b a", QL.dup_gram_fraction("text", 2)) == 0.5
    # shorter than n → 0.0
    assert _one(spark, "a b", QL.dup_gram_fraction("text", 3)) == 0.0
    # all distinct
    assert _one(spark, "a b c d", QL.dup_gram_fraction("text", 2)) == 0.0


def test_pii_scrub_masks_and_counts(spark):
    raw = "bob <bob.1@ex.co> +12-345-6789 card 1234567812345678 x@y.io end"
    scrubbed = _one(spark, raw, QL.pii_scrub("text"))
    assert scrubbed == "bob <[EMAIL]> [PHONE] card [CARD] [EMAIL] end"
    df = spark.createDataFrame([(raw,)], "text string")
    e, p, c = QL.pii_counts("text")
    row = df.select(e.alias("e"), p.alias("p"), c.alias("c")).collect()[0]
    assert (row.e, row.p, row.c) == (2, 1, 1)


def _items_df(spark):
    # zipf-ish multiset: 'w0' dominates
    rows = [(f"w{i % 7}",) for i in range(200)] + [("w0",)] * 100
    return spark.createDataFrame(rows, "item string"), Counter(
        r[0] for r in rows
    )


def test_count_min_never_undercounts_and_is_tight(spark):
    df, truth = _items_df(spark)
    exact = df.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cms = SK.count_min_table(exact, "item", "n", width=64)
    est = SK.count_min_lookup(cms, exact.select("item"), "item", width=64)
    got = {r.item: r.est_cnt for r in est.collect()}
    n_total = sum(truth.values())
    for item, cnt in truth.items():
        assert got[item] >= cnt  # CMS never undercounts
        # e/width bound with margin (deterministic fixture: exact anyway)
        assert got[item] - cnt <= (2.72 / 64) * n_total + 1


def test_count_min_table_shape_and_merge(spark):
    df, _ = _items_df(spark)
    exact = df.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cms = SK.count_min_table(exact, "item", "n", width=64)
    rows = cms.collect()
    assert len(rows) <= 4 * 64
    # every depth row sums to the total item count (sketch invariant —
    # what makes per-shard sketches mergeable by plain addition)
    per_j = Counter()
    for r in rows:
        per_j[r.j] += r.cnt
    assert set(per_j.values()) == {exact.agg(F.sum("n")).collect()[0][0]}


def test_count_min_keyed_build_then_merge_equals_direct(spark, monkeypatch):
    """Per-key sketches merged with count_min_merge must equal the sketch
    built directly over the whole input — the re-aggregation contract."""
    rows = [("d1", f"w{i % 5}", i + 1) for i in range(10)] + [
        ("d2", f"w{i % 3}", i + 2) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "day string, item string, n long")
    monkeypatch.setattr(SK, "_CMS_DEPTH", 3)
    keyed = SK.count_min_table(df, "item", "n", width=32, keys=["day"])
    merged = {
        (r.j, r.bucket): r.cnt for r in SK.count_min_merge(keyed).collect()
    }
    total = df.groupBy("item").agg(F.sum("n").cast("bigint").alias("n"))
    direct = {
        (r.j, r.bucket): r.cnt
        for r in SK.count_min_table(total, "item", "n", width=32).collect()
    }
    assert merged == direct


def test_bloom_no_false_negatives(spark, monkeypatch):
    members = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 50)], "key string"
    )
    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 100)], "key string"
    )
    monkeypatch.setattr(SK, "_BLOOM_M", 1024)
    bits = SK.bloom_bits(members, "key")
    out = SK.bloom_contains(probes, "key", bits)
    got = {r.key: r.bloom_pass for r in out.collect()}
    for i in range(50):
        assert got[f"k{i}"], "bloom dropped a true member"
    # with m=1024 and 50 keys the fp rate is ~3e-4 — expect mostly rejects
    rejected = sum(1 for i in range(50, 100) if not got[f"k{i}"])
    assert rejected >= 45


def test_kmv_union_intersection_estimates(spark):
    rows = [("A", f"u{i}") for i in range(100)] + [
        ("B", f"u{i}") for i in range(50, 150)
    ]
    df = spark.createDataFrame(rows, "grp string, item string")
    sk = SK.kmv_sketches(df, "grp", "item")
    a = sk.filter(F.col("grp") == "A").select(
        F.col("sample").alias("sa")
    )
    b = sk.filter(F.col("grp") == "B").select(F.col("sample").alias("sb"))
    pair = a.crossJoin(b)
    out = SK.kmv_union_intersection(pair, "sa", "sb").collect()[0]
    # truth: union 150, intersection 50; k=32 → RSE ~18%, allow 2.5σ
    assert abs(out.union_est - 150) / 150 < 0.45
    assert abs(out.intersection_est - 50) / 50 < 0.75


def test_kmv_exact_regime_below_k(spark):
    rows = [("A", f"u{i}") for i in range(10)] + [
        ("B", f"u{i}") for i in range(5, 15)
    ]
    df = spark.createDataFrame(rows, "grp string, item string")
    sk = SK.kmv_sketches(df, "grp", "item")
    a = sk.filter(F.col("grp") == "A").select(F.col("sample").alias("sa"))
    b = sk.filter(F.col("grp") == "B").select(F.col("sample").alias("sb"))
    out = SK.kmv_union_intersection(a.crossJoin(b), "sa", "sb").collect()[0]
    # fewer than k distinct hashes: the sketch IS the set — exact answers
    assert out.union_est == 15.0
    assert out.intersection_est == 5.0


def test_kmv_merge_equals_direct_build(spark, monkeypatch):
    """Union-merging two KMV samples (keep the k smallest of the
    concatenation) must equal the sketch built directly over the union of
    the two item sets — the mergeability contract that lets shards
    sketch independently."""
    k = 16
    monkeypatch.setattr(SK, "_KMV_K", k)
    rows_a = [("A", f"u{i}") for i in range(40)]
    rows_b = [("B", f"u{i}") for i in range(20, 60)]
    df = spark.createDataFrame(rows_a + rows_b, "grp string, item string")
    sk = {r.grp: r.sample for r in SK.kmv_sketches(df, "grp", "item").collect()}
    merged = sorted(set(sk["A"]) | set(sk["B"]))[:k]
    union_df = spark.createDataFrame(
        [("U", f"u{i}") for i in range(60)], "grp string, item string"
    )
    direct = SK.kmv_sketches(union_df, "grp", "item").collect()[0].sample
    assert merged == sorted(direct)


def test_cusum_fold_detects_planted_shift(spark):
    """A mean shift after a stable prefix must fire the detector; a
    stationary series must not. The Spark applyInPandas fold equals the
    shared pure-python reference by construction — here we pin detector
    BEHAVIOR plus ordering determinism (shuffled input, same answer)."""
    import random

    from graph_db_spark.operators.drift import cusum_drift, cusum_fold

    rng = random.Random(11)
    stable = [rng.gauss(0, 1) for _ in range(60)]
    shifted = stable[:30] + [x + 6.0 for x in (rng.gauss(0, 1) for _ in range(30))]
    nd_stable, _ = cusum_fold(stable, 0.0, 1.0, 0.5, 4.0)
    nd_shift, mx_shift = cusum_fold(shifted, 0.0, 1.0, 0.5, 4.0)
    assert nd_stable == 0 and nd_shift >= 1 and mx_shift > 4.0
    rows = [(1, i, i, x) for i, x in enumerate(shifted)]
    rng.shuffle(rows)  # arrival order must not matter — (ts, tiebreak) sorts
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, value double")
    out = cusum_drift(df).collect()[0]
    # self-calibrating variant computes its own mu/sigma; the planted
    # shift dominates, so it still fires
    assert out["n_drifts"] >= 1 and out["n_events"] == 60
