"""Registers 17 queries:

  cumulative_gains_deciles, regression_stump_split, position_based_attribution
  abc_inventory_classes, benjamini_hochberg_fdr, quantile_treatment_effect
  isotonic_calibration_pav, mann_kendall_trend, friedman_priority_ranks
  logrank_cohort_test, cuped_variance_reduction, pareto_skyline_parts
  flesch_reading_ease, hodges_lehmann_shift, price_index_fisher
  empirical_bayes_shrinkage, wilcoxon_signed_rank
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.operators.aggregates import ntile_of, with_global_rank
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.plans.families.q00_base import (
    _conversion_obs, _conversion_obs_sql, _fmt_ts, r4, register,
)
from graph_db_spark.tables import load_table


@register(
    "cumulative_gains_deciles",
    oracle="""
    WITH resp AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    base AS MATERIALIZED (
      SELECT c_custkey, c_acctbal,
             CASE WHEN resp.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS responder
      FROM customer LEFT JOIN resp ON c_custkey = o_custkey
    ),
    dec AS (
      SELECT ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile,
             responder
      FROM base
    ),
    per AS (
      SELECT decile, count(*) AS nk, sum(responder) AS rk
      FROM dec GROUP BY 1
    ),
    cum AS (
      SELECT a.decile, a.nk, a.rk,
             sum(b.nk) AS cum_n, sum(b.rk) AS cum_r
      FROM per a JOIN per b ON b.decile <= a.decile
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT count(*) AS n, sum(responder) AS r FROM base)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(nk AS BIGINT) AS n_customers,
           CAST(rk AS BIGINT) AS n_responders,
           CAST(cum_r AS BIGINT) AS cum_responders,
           round(cum_r * 1.0 / r, 4) + 0.0 AS gain,
           round((cum_r * 1.0 / cum_n) / (r * 1.0 / n), 4) + 0.0 AS lift
    FROM cum CROSS JOIN tot
    """,
)
def cumulative_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing science — cumulative gains / lift chart: customers
    ranked by account balance (the 'model score'), responders = placed
    at least one urgent-priority order; per score decile, the share of
    all responders captured so far (gain) and the response-rate ratio
    vs baseline (lift) — the standard campaign-targeting evaluation
    ('the top 20% of scores capture X% of responders'). NO global
    window: deciles come from the two-level prefix-sum global rank +
    closed-form ntile (the order_value_deciles pattern), and the
    cumulative is a 10x10 triangular self-join on the decile grid —
    integer counts only, so both engines agree exactly."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    resp = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    base = c.join(resp, c.c_custkey == resp.o_custkey, "left").select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("responder"),
    ).localCheckpoint()  # ranking + the totals scalar share one materialization
    ranked = with_global_rank(base, [F.desc("c_acctbal"), F.asc("c_custkey")])
    tot = base.agg(F.count(F.lit(1)).alias("n"), F.sum("responder").alias("r"))
    per = (
        ranked.crossJoin(F.broadcast(tot.select(F.col("n").alias("_n"))))
        .withColumn("decile", ntile_of(F.col("rank"), F.col("_n"), 10))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("nk"), F.sum("responder").alias("rk"))
    )
    a, b2 = per.alias("a"), per.alias("b")
    cum = (
        a.join(b2, F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"), F.col("a.nk").alias("nk"),
                 F.col("a.rk").alias("rk"))
        .agg(F.sum("b.nk").alias("cum_n"), F.sum("b.rk").alias("cum_r"))
    )
    return cum.crossJoin(F.broadcast(tot)).select(  # 1-row scalar attach
        F.col("decile").cast("bigint").alias("decile"),
        F.col("nk").cast("bigint").alias("n_customers"),
        F.col("rk").cast("bigint").alias("n_responders"),
        F.col("cum_r").cast("bigint").alias("cum_responders"),
        r4(F.col("cum_r") * 1.0 / F.col("r")).alias("gain"),
        r4(
            (F.col("cum_r") * 1.0 / F.col("cum_n")) / (F.col("r") * 1.0 / F.col("n"))
        ).alias("lift"),
    )


@register(
    "regression_stump_split",
    oracle="""
    WITH q AS MATERIALIZED (
      SELECT CAST(l_quantity AS BIGINT) AS x, count(*) AS nq,
             CAST(round(sum(l_extendedprice * 1e-5) * 10000) AS BIGINT) AS i1,
             CAST(round(sum(l_extendedprice * 1e-5 * l_extendedprice * 1e-5)
                        * 10000) AS BIGINT) AS i2
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(nq) AS tn, sum(i1) AS t1, sum(i2) AS t2 FROM q),
    cum AS (
      SELECT a.x, sum(b.nq) AS cn, sum(b.i1) AS c1, sum(b.i2) AS c2
      FROM q a JOIN q b ON b.x <= a.x GROUP BY 1
    ),
    obj AS (
      SELECT x, cn, tn - cn AS rn,
             c1 * 10.0 / cn AS mean_l,
             (t1 - c1) * 10.0 / (tn - cn) AS mean_r,
             (c2 / 10000.0 - (c1 / 10000.0) * (c1 / 10000.0) / cn)
             + ((t2 - c2) / 10000.0
                - ((t1 - c1) / 10000.0) * ((t1 - c1) / 10000.0) / (tn - cn))
               AS sse_split,
             t2 / 10000.0 - (t1 / 10000.0) * (t1 / 10000.0) / tn AS sse_total
      FROM cum CROSS JOIN tot WHERE cn < tn
    )
    SELECT CAST(x AS BIGINT) AS split_at,
           CAST(cn AS BIGINT) AS n_left, CAST(rn AS BIGINT) AS n_right,
           round(mean_l, 4) + 0.0 AS mean_left,
           round(mean_r, 4) + 0.0 AS mean_right,
           round((sse_total - sse_split) / sse_total, 4) + 0.0
             AS variance_reduction
    FROM obj ORDER BY sse_split, x LIMIT 1
    """,
)
def regression_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML on SQL — a regression-stump fit: the single best variance-
    reducing split of quantity (x <= s goes left) predicting extended
    price, i.e. one node of a CART/GBM tree grown with sufficient
    statistics instead of row sorting. The fact table reduces ONCE to
    the 50-value quantity grid's (n, sum y, sum y^2) triples; every
    candidate split's SSE is closed-form algebra over prefix sums of
    that grid (a 50x50 triangular join, no row-level pass per split) —
    the exact histogram-based split search XGBoost/LightGBM use, which
    is also the only shape that works at 100 TB. Cross-engine parity:
    the sufficient statistics are snapped to INTEGER 1e-4 grid units
    (prices pre-scaled by 1e-5), so prefix sums are exact integers and
    the SSE objective is a bit-identical pure function of them — the
    argmin cannot flip between engines. Price magnitudes re-emerge only
    in the rounded mean/share emissions."""
    li = load_table(spark, sf_dir, "lineitem")
    ys = F.col("l_extendedprice") * 1e-5
    q = li.groupBy(F.col("l_quantity").cast("bigint").alias("x")).agg(
        F.count(F.lit(1)).alias("nq"),
        F.round(F.sum(ys) * 10000).cast("bigint").alias("i1"),
        F.round(F.sum(ys * ys) * 10000).cast("bigint").alias("i2"),
    ).localCheckpoint()  # grid + totals + triangular join share one pass
    tot = q.agg(
        F.sum("nq").alias("tn"), F.sum("i1").alias("t1"), F.sum("i2").alias("t2")
    )
    a, b = q.alias("a"), q.alias("b")
    cum = (
        a.join(b, F.col("b.x") <= F.col("a.x"))
        .groupBy(F.col("a.x").alias("x"))
        .agg(
            F.sum("b.nq").alias("cn"),
            F.sum("b.i1").alias("c1"),
            F.sum("b.i2").alias("c2"),
        )
    )
    j = cum.crossJoin(F.broadcast(tot)).filter(F.col("cn") < F.col("tn"))
    c1d, c2d = F.col("c1") / 10000.0, F.col("c2") / 10000.0
    r1d = (F.col("t1") - F.col("c1")) / 10000.0
    r2d = (F.col("t2") - F.col("c2")) / 10000.0
    rn = F.col("tn") - F.col("cn")
    sse_split = (c2d - c1d * c1d / F.col("cn")) + (r2d - r1d * r1d / rn)
    t1d, t2d = F.col("t1") / 10000.0, F.col("t2") / 10000.0
    sse_total = t2d - t1d * t1d / F.col("tn")
    return (
        j.select(
            F.col("x").alias("split_at"),
            F.col("cn").cast("bigint").alias("n_left"),
            rn.cast("bigint").alias("n_right"),
            r4(F.col("c1") * 10.0 / F.col("cn")).alias("mean_left"),
            r4((F.col("t1") - F.col("c1")) * 10.0 / rn).alias("mean_right"),
            r4((sse_total - sse_split) / sse_total).alias("variance_reduction"),
            sse_split.alias("_obj"),
        )
        .orderBy("_obj", "split_at")
        .limit(1)
        .drop("_obj")
    )


@register(
    "position_based_attribution",
    oracle="""
    WITH ek AS MATERIALIZED (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '#'
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
      FROM events
    ),
    purch AS MATERIALIZED (
      SELECT user_id, day, min(k) AS fp FROM ek
      WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    t AS MATERIALIZED (
      SELECT e.user_id, e.day, e.event_type, e.k
      FROM ek e JOIN purch p USING (user_id, day)
      WHERE e.event_type <> 'purchase' AND e.k < p.fp
    ),
    tw AS (
      SELECT user_id, day, event_type,
             row_number() OVER (PARTITION BY user_id, day ORDER BY k) AS pos,
             count(*) OVER (PARTITION BY user_id, day) AS kk
      FROM t
    ),
    credited AS (
      SELECT event_type AS channel,
             CAST(user_id AS VARCHAR) || '#' || day AS sk,
             CASE WHEN kk = 1 THEN CAST(1.0 AS DOUBLE)
                  WHEN kk = 2 THEN CAST(0.5 AS DOUBLE)
                  WHEN pos = 1 OR pos = kk THEN CAST(0.4 AS DOUBLE)
                  ELSE CAST(0.2 AS DOUBLE) / (kk - 2) END AS credit,
             1 AS is_touch
      FROM tw
      UNION ALL
      SELECT '<direct>', CAST(p.user_id AS VARCHAR) || '#' || p.day,
             CAST(1.0 AS DOUBLE), 0
      FROM purch p
      LEFT JOIN (SELECT DISTINCT user_id, day FROM t) s
        ON p.user_id = s.user_id AND p.day = s.day
      WHERE s.user_id IS NULL
    )
    SELECT channel,
           round(sum(credit), 4) + 0.0 AS credited_conversions,
           CAST(count(DISTINCT sk) AS BIGINT) AS n_sessions,
           CAST(sum(is_touch) AS BIGINT) AS n_touches
    FROM credited GROUP BY 1
    """,
)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing science — position-based (U-shaped) multi-touch
    attribution: within each user-day journey that converts (contains a
    purchase), the touches BEFORE the first purchase split the
    conversion credit 40% first / 40% last / 20% across the middles
    (1 touch keeps 100%, 2 touches split 50/50, no touches credit
    '<direct>') — the model between last_touch_attribution's
    winner-take-all and full Shapley. Journey state is per (user, day):
    the windows partition on that key (bounded by the session horizon),
    so a billion users attribute as independent partitions — no global
    anything. Touch ordering uses the formatted ts#event_id key string
    on both sides, so tie handling is engine-identical; credits are
    exact binary fractions summed inside round(,4)'s guard band."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    key = F.concat(
        _fmt_ts(F.col("ts")), F.lit("#"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    ek = ev.select(
        "user_id", day.alias("day"), "event_type", key.alias("k")
    ).localCheckpoint()  # purchases + touches share one materialization
    purch = (
        ek.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.min("k").alias("fp"))
    )
    t = (
        ek.filter(F.col("event_type") != "purchase")
        .join(purch, ["user_id", "day"])
        .filter(F.col("k") < F.col("fp"))
        .select("user_id", "day", "event_type", "k")
    )
    wsess = Window.partitionBy("user_id", "day")
    tw = t.select(
        "user_id", "day", "event_type",
        F.row_number().over(wsess.orderBy("k")).alias("pos"),
        F.count(F.lit(1)).over(wsess).alias("kk"),
    )
    sk = F.concat(F.col("user_id").cast("string"), F.lit("#"), F.col("day"))
    credit = (
        F.when(F.col("kk") == 1, F.lit(1.0))
        .when(F.col("kk") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("kk")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("kk") - 2))
    )
    touched = tw.select(
        F.col("event_type").alias("channel"), sk.alias("sk"),
        credit.alias("credit"), F.lit(1).alias("is_touch"),
    )
    direct = (
        purch.join(t.select("user_id", "day").distinct(), ["user_id", "day"], "left_anti")
        .select(
            F.lit("<direct>").alias("channel"), sk.alias("sk"),
            F.lit(1.0).alias("credit"), F.lit(0).alias("is_touch"),
        )
    )
    return (
        touched.unionByName(direct)
        .groupBy("channel")
        .agg(
            r4(F.sum("credit")).alias("credited_conversions"),
            F.countDistinct("sk").cast("bigint").alias("n_sessions"),
            F.sum("is_touch").cast("bigint").alias("n_touches"),
        )
    )


@register(
    "abc_inventory_classes",
    oracle="""
    WITH pr AS MATERIALIZED (
      SELECT l_partkey AS pk,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT pk, cents,
             sum(cents) OVER (ORDER BY cents DESC, pk
                              ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM pr
    ),
    tot AS (SELECT sum(cents) AS t FROM pr),
    cls AS (
      SELECT CASE WHEN cum_cents * 1.0 / t <= CAST(0.80 AS DOUBLE) THEN 'A'
                  WHEN cum_cents * 1.0 / t <= CAST(0.95 AS DOUBLE) THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, cum_cents * 1.0 / t AS share
      FROM cum CROSS JOIN tot
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(cents) / 100.0, 4) + 0.0 AS class_revenue,
           round(min(share), 4) + 0.0 AS min_cum_share,
           round(max(share), 4) + 0.0 AS max_cum_share
    FROM cls GROUP BY 1
    """,
)
def abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI classification — ABC (Pareto) inventory analysis: parts ranked
    by revenue, class A = the head covering 80% of cumulative revenue,
    B to 95%, C the tail — the standard stock-priority segmentation.
    NO global window (the corpus-sized cumulative is exactly the
    anti-pattern the plan sweep bans): the revenue-ordered running
    total comes from with_global_rank's two-level prefix sum. Per-part
    revenue snaps to an INTEGER cent count first, so the prefix sums,
    the total, and every cumulative share are exact integer arithmetic
    — the A/B/C boundary comparisons are bit-identical across engines
    and partition layouts (the rfm cent-count convention)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pr = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.round(F.sum(rev) * 100).cast("bigint").alias("cents")
    ).localCheckpoint()  # ranking + the total scalar share one materialization
    ranked = with_global_rank(
        pr, [F.desc("cents"), F.asc("pk")], cumsum_cols={"cum_cents": "cents"}
    )
    tot = pr.agg(F.sum("cents").alias("t"))
    share = F.col("cum_cents") * 1.0 / F.col("t")
    cls = ranked.crossJoin(F.broadcast(tot)).select(  # 1-row scalar attach
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "cents",
        share.alias("share"),
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        r4(F.sum("cents") / 100.0).alias("class_revenue"),
        r4(F.min("share")).alias("min_cum_share"),
        r4(F.max("share")).alias("max_cum_share"),
    )


# Benjamini-Hochberg: m = 25 hypotheses at false-discovery rate q = 0.10.
_BH_M, _BH_Q = 25, 0.10


def _bh_z_thresholds() -> list[tuple[int, float]]:
    """Benjamini-Hochberg rejection thresholds on the |z| scale: for rank
    i (p-values ascending = |z| descending), the step-up rule rejects
    when p(i) <= i*q/m (m = _BH_M, q = _BH_Q), i.e. |z| >= Phi^-1(1 - i*q/(2m)) for a two-sided
    z test. Computed ONCE in Python with math.erf + bisection and
    injected as identical double literals into BOTH engines — neither
    engine needs erf at runtime, which neither Spark SQL nor portable
    ANSI provides. Deterministic: pure arithmetic, no RNG, no clock."""
    import math

    def phi(z: float) -> float:
        return 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))

    m, q = _BH_M, _BH_Q
    out = []
    for i in range(1, m + 1):
        target = 1.0 - (q * i / m) / 2.0
        lo, hi = 0.0, 10.0
        for _ in range(80):  # bisection to ~1e-23, far past double ulp
            mid = (lo + hi) / 2.0
            if phi(mid) < target:
                lo = mid
            else:
                hi = mid
        out.append((i, (lo + hi) / 2.0))
    return out


def _bh_fdr_oracle_sql() -> str:
    """BH oracle with the SAME Python-emitted z thresholds the Spark side
    joins against (shared-literal convention: katz/sprt/gumbel)."""
    rows = ",\n        ".join(
        f"({i}, CAST({z!r} AS DOUBLE))" for i, z in _bh_z_thresholds()
    )
    return f"""
    WITH g AS (
      SELECT avg(l_discount) AS mu, stddev_samp(l_discount) AS sd
      FROM lineitem
    ),
    pb AS MATERIALIZED (
      SELECT p_brand AS brand, count(*) AS n, avg(l_discount) AS mb
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    ),
    z AS MATERIALIZED (
      SELECT brand, n,
             round((mb - mu) / (sd / sqrt(n)), 4) + 0.0 AS z4
      FROM pb CROSS JOIN g
    ),
    rk AS MATERIALIZED (
      SELECT a.brand, a.n, a.z4,
             1 + count(CASE WHEN abs(b.z4) > abs(a.z4)
                             OR (abs(b.z4) = abs(a.z4) AND b.brand < a.brand)
                            THEN 1 END) AS i
      FROM z a CROSS JOIN z b GROUP BY 1, 2, 3
    ),
    th(i, zthr) AS (VALUES
        {rows}
    ),
    imax AS (
      SELECT coalesce(max(CASE WHEN abs(rk.z4) >= th.zthr THEN rk.i END), 0)
               AS im
      FROM rk JOIN th USING (i)
    )
    SELECT brand, CAST(n AS BIGINT) AS n, z4 AS z,
           CAST(rk.i AS BIGINT) AS p_rank,
           round(th.zthr, 4) + 0.0 AS z_threshold,
           CAST(CASE WHEN rk.i <= imax.im THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM rk JOIN th USING (i) CROSS JOIN imax
    """


@register("benjamini_hochberg_fdr", oracle=_bh_fdr_oracle_sql())
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple testing — Benjamini-Hochberg FDR control (q = 0.10) over
    25 simultaneous brand-level tests: per brand, a one-sample z test of
    mean discount vs the corpus mean; BH's step-up rule rejects the i
    smallest p-values where p(i) <= i*q/m — run entirely on the |z|
    scale against Phi^-1 thresholds PRECOMPUTED in Python (math.erf +
    bisection, injected as identical literals both sides), since
    neither engine has a portable erf. The z statistics round to 4dp
    BEFORE ranking/thresholding so engine-level FP noise in the means
    cannot reorder ranks or flip a rejection. No window anywhere: ranks
    come from a 25x25 triangular count and the step-up cutoff is a
    broadcast scalar. The brand domain (m = 25) is the TPC-H generator
    constant at every SF; thresholds are build-time constants keyed to
    it."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = li.agg(
        F.avg("l_discount").alias("mu"), F.stddev_samp("l_discount").alias("sd")
    )
    pb = (
        li.join(dim_hint(p, bounded=False), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("l_discount").alias("mb"))
    )
    z = pb.crossJoin(F.broadcast(g)).select(  # 1-row scalar attach
        "brand", "n",
        r4((F.col("mb") - F.col("mu")) / (F.col("sd") / F.sqrt(F.col("n")))).alias(
            "z4"
        ),
    ).localCheckpoint()  # rank join + cutoff scalar share one materialization
    a, b = z.alias("a"), z.alias("b")
    rk = (
        a.crossJoin(b)
        .groupBy(
            F.col("a.brand").alias("brand"), F.col("a.n").alias("n"),
            F.col("a.z4").alias("z4"),
        )
        .agg(
            (
                1
                + F.count(
                    F.when(
                        (F.abs(F.col("b.z4")) > F.abs(F.col("a.z4")))
                        | (
                            (F.abs(F.col("b.z4")) == F.abs(F.col("a.z4")))
                            & (F.col("b.brand") < F.col("a.brand"))
                        ),
                        1,
                    )
                )
            ).alias("i")
        )
    )
    th = F.broadcast(
        spark.createDataFrame(_bh_z_thresholds(), "i long, zthr double")
    )
    rj = rk.join(th, "i")
    imax = rj.agg(
        F.coalesce(
            F.max(F.when(F.abs(F.col("z4")) >= F.col("zthr"), F.col("i"))), F.lit(0)
        ).alias("im")
    )
    return rj.crossJoin(F.broadcast(imax)).select(  # 1-row scalar attach
        "brand",
        F.col("n").cast("bigint").alias("n"),
        F.col("z4").alias("z"),
        F.col("i").cast("bigint").alias("p_rank"),
        r4(F.col("zthr")).alias("z_threshold"),
        F.when(F.col("i") <= F.col("im"), 1).otherwise(0).cast("bigint").alias(
            "rejected"
        ),
    )


@register(
    "quantile_treatment_effect",
    oracle="""
    WITH o AS MATERIALIZED (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      FROM orders
    ),
    cnt AS (SELECT grp, count(*) AS ng FROM o GROUP BY 1),
    rk AS (
      SELECT grp, o_totalprice AS v,
             row_number() OVER (PARTITION BY grp
                                ORDER BY o_totalprice, o_orderkey) AS lr
      FROM o
    ),
    tg AS (
      SELECT grp, ng, d, CAST(ceil(d * ng / 10.0) AS BIGINT) AS tr
      FROM cnt CROSS JOIN (SELECT unnest(range(1, 10)) AS d)
    ),
    qv AS (
      SELECT t.d, t.grp, t.ng, r.v
      FROM tg t JOIN rk r ON t.grp = r.grp AND t.tr = r.lr
    )
    SELECT CAST(d AS BIGINT) AS decile,
           CAST(max(CASE WHEN grp = 1 THEN ng END) AS BIGINT) AS n_treated,
           CAST(max(CASE WHEN grp = 0 THEN ng END) AS BIGINT) AS n_control,
           round(max(CASE WHEN grp = 1 THEN v END), 4) + 0.0 AS q_treated,
           round(max(CASE WHEN grp = 0 THEN v END), 4) + 0.0 AS q_control,
           round(max(CASE WHEN grp = 1 THEN v END)
                 - max(CASE WHEN grp = 0 THEN v END), 4) + 0.0 AS qte
    FROM qv GROUP BY 1
    """,
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal inference — quantile treatment effects: the
    decile-by-decile difference between the treated (urgent-priority)
    and control order-value distributions, the distributional effect
    readout an average treatment effect hides ('the promo moved the
    p90, not the median'). Exact type-1 order statistics, NO global
    window: both groups rank in ONE stacked with_global_rank pass
    ordered by (grp, value, key) — each group's block is contiguous in
    the total order, so the within-group rank is global_rank minus the
    broadcast size of the groups before it (the rfm dim-stacking trick
    with data-dependent block sizes). The 18 target order statistics
    arrive via an equi-join on (grp, rank), so a billion orders pay
    #partitions parallel sorts and move 18 rows. Quantile values are
    raw data cells (never aggregated), hence identical doubles both
    engines; qte differences round inside the guard band."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
    ).localCheckpoint()  # ranking + group counts share one materialization
    cnt = o.groupBy("grp").agg(F.count(F.lit(1)).alias("ng"))
    n0 = cnt.filter(F.col("grp") == 0).select(F.col("ng").alias("_n0"))
    ranked = (
        with_global_rank(
            o, [F.asc("grp"), F.asc("o_totalprice"), F.asc("o_orderkey")],
            rank_col="gr",
        )
        .crossJoin(F.broadcast(n0))  # 1-row scalar attach
        .select(
            "grp",
            F.col("o_totalprice").alias("v"),
            (
                F.col("gr")
                - F.when(F.col("grp") == 1, F.col("_n0")).otherwise(F.lit(0))
            ).alias("lr"),
        )
    )
    # target frame renames its key columns: cnt and ranked share lineage
    # (both derive from the checkpointed o), so joining on same-named
    # attributes would hit Spark's ambiguous-self-join resolution
    tg = cnt.select(
        F.col("grp").alias("tgrp"), "ng",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("d"),
    ).select(
        "tgrp", "ng", "d",
        F.ceil(F.col("d") * F.col("ng") / F.lit(10.0)).cast("bigint").alias("tr"),
    )
    qv = F.broadcast(tg).join(
        ranked, (F.col("tgrp") == F.col("grp")) & (F.col("tr") == F.col("lr"))
    ).select(F.col("tgrp").alias("g"), "ng", "d", "v")
    return qv.groupBy("d").agg(
        F.max(F.when(F.col("g") == 1, F.col("ng"))).cast("bigint").alias("n_treated"),
        F.max(F.when(F.col("g") == 0, F.col("ng"))).cast("bigint").alias("n_control"),
        r4(F.max(F.when(F.col("g") == 1, F.col("v")))).alias("q_treated"),
        r4(F.max(F.when(F.col("g") == 0, F.col("v")))).alias("q_control"),
        r4(
            F.max(F.when(F.col("g") == 1, F.col("v")))
            - F.max(F.when(F.col("g") == 0, F.col("v")))
        ).alias("qte"),
    ).select(
        F.col("d").cast("bigint").alias("decile"),
        "n_treated", "n_control", "q_treated", "q_control", "qte",
    )


# ---------------------------------------------------------------------------
# r10 additions — calibration, trend/rank tests, survival comparison,
# experimentation, attribution, skyline, text quality, robust shift, indices
# ---------------------------------------------------------------------------


@register(
    "isotonic_calibration_pav",
    oracle="""
    WITH b AS MATERIALIZED (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM lineitem GROUP BY 1
    ),
    iv AS MATERIALIZED (
      SELECT lo.k AS i, hi.k AS j, sum(m.d) * 1.0 / sum(m.n) AS mean_ij
      FROM b lo JOIN b hi ON lo.k <= hi.k
      JOIN b m ON m.k BETWEEN lo.k AND hi.k
      GROUP BY 1, 2
    ),
    mn AS (
      SELECT b.k AS k, iv.i AS i, min(iv.mean_ij) AS lo_min
      FROM b JOIN iv ON iv.i <= b.k AND iv.j >= b.k
      GROUP BY 1, 2
    ),
    iso AS (SELECT k, max(lo_min) AS iso FROM mn GROUP BY 1)
    SELECT b.k AS disc_pct, b.n AS n,
           round(b.d * 1.0 / b.n, 4) + 0.0 AS rate_raw,
           round(iso.iso, 4) + 0.0 AS rate_iso
    FROM b JOIN iso ON iso.k = b.k
    """,
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone calibration — isotonic regression of the return rate on
    the discount grid via the MINIMAX identity (iso(k) = max_{i<=k}
    min_{j>=k} weightedMean(i..j)), which equals the pool-adjacent-
    violators fit without PAV's sequential merging — the closed form
    that makes the classic calibration step a JOIN, not an iterative
    driver loop. The corpus collapses to an 11-bin (discount-percent)
    table in ONE scan; every remaining step is algebra on that
    broadcast-sized grid (66 intervals), so 10^9 rows calibrate with
    one shuffle. Interval means are ratios of exact integer sums ->
    bit-identical doubles, and min/max over identical doubles is
    engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    b = (
        li.groupBy(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("k")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("d"),
        )
        .localCheckpoint()  # 11 rows, consumed by four plan subtrees
    )
    lo = b.select(F.col("k").alias("i"))
    hi = b.select(F.col("k").alias("j"))
    m = b.select(
        F.col("k").alias("mk"), F.col("n").alias("mn"), F.col("d").alias("md")
    )
    iv = (
        lo.join(hi, F.col("i") <= F.col("j"))
        .join(m, (F.col("mk") >= F.col("i")) & (F.col("mk") <= F.col("j")))
        .groupBy("i", "j")
        .agg((F.sum("md") * 1.0 / F.sum("mn")).alias("mean_ij"))
    )
    mn = (
        b.select("k")
        .join(iv, (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")))
        .groupBy("k", "i")
        .agg(F.min("mean_ij").alias("lo_min"))
    )
    iso = mn.groupBy("k").agg(F.max("lo_min").alias("iso"))
    return b.join(iso, "k").select(
        F.col("k").alias("disc_pct"),
        "n",
        r4(F.col("d") * 1.0 / F.col("n")).alias("rate_raw"),
        r4(F.col("iso")).alias("rate_iso"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH d AS MATERIALIZED (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM d a JOIN d b ON a.day < b.day
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    t AS (
      SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT count(*) AS tc FROM d GROUP BY cents HAVING count(*) > 1)
    ),
    v AS (
      SELECT nn.n, s.s_stat,
             (nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie_term)
               / CAST(18 AS DOUBLE) AS var_s
      FROM nn CROSS JOIN s CROSS JOIN t
    )
    SELECT n, s_stat, round(var_s, 4) + 0.0 AS var_s,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE CAST(0 AS DOUBLE) END, 4) + 0.0 AS z
    FROM v
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric trend — the Mann-Kendall test (S = sum of pairwise
    sign comparisons, tie-corrected variance, continuity-corrected z)
    on the DAILY revenue series: the standard 'is this KPI drifting'
    test that needs no distributional assumptions, complementing
    theil_sen_trend's slope with a significance statistic. The corpus
    aggregates to the calendar-bounded day grid (~2400 rows regardless
    of corpus size) in one shuffle; the O(days^2) sign sweep is a
    broadcast triangular self-join over that grid — bounded by the
    CALENDAR, not the data, so the quadratic never grows with corpus
    size. Daily totals are exact integer cents, so every sign and the
    tie term are engine-independent integers; var_s is a single exact
    integer divided by 18 (large magnitude, but integer-derived, not a
    noisy cross-engine float sum — SCALE.md round(,4) rule satisfied)."""
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()  # calendar-bounded grid, consumed three times
    )
    a = d.select(F.col("day").alias("a_day"), F.col("cents").alias("a_c"))
    bb = d.select(F.col("day").alias("b_day"), F.col("cents").alias("b_c"))
    s = a.join(bb, F.col("a_day") < F.col("b_day")).agg(
        F.sum(
            F.when(F.col("b_c") > F.col("a_c"), 1)
            .when(F.col("b_c") < F.col("a_c"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tc = F.col("tc")
    t = (
        d.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("tc"))
        .filter(tc > 1)
        .agg(
            F.coalesce(F.sum(tc * (tc - 1) * (2 * tc + 5)), F.lit(0))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = (
        nn.crossJoin(F.broadcast(s))  # 1-row scalar attaches
        .crossJoin(F.broadcast(t))
        .select(
            "n",
            "s_stat",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                )
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    return v.select(
        "n",
        "s_stat",
        r4(F.col("var_s")).alias("var_s"),
        r4(
            F.when(
                F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s")
            )
            .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
            .otherwise(F.lit(0.0))
        ).alias("z"),
    )


@register(
    "friedman_priority_ranks",
    oracle="""
    WITH cell AS MATERIALIZED (
      SELECT strftime(o_orderdate, '%Y-%m') AS blk, o_orderpriority AS trt,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders GROUP BY 1, 2
    ),
    c2 AS MATERIALIZED (
      SELECT cell.* FROM cell
      JOIN (SELECT blk FROM cell GROUP BY blk HAVING count(*) = 5) fb
      USING (blk)
    ),
    r AS MATERIALIZED (
      SELECT a.blk, a.trt,
             sum(CASE WHEN b.v < a.v THEN CAST(1.0 AS DOUBLE)
                      WHEN b.v = a.v THEN CAST(0.5 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END) + CAST(0.5 AS DOUBLE)
               AS rnk
      FROM c2 a JOIN c2 b ON a.blk = b.blk
      GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(count(DISTINCT blk) AS BIGINT) AS nb FROM c2),
    rj AS (SELECT trt, sum(rnk) AS r_j FROM r GROUP BY 1),
    ss AS (SELECT sum(rnk * rnk) AS sum_r2 FROM r),
    q AS (
      SELECT CASE WHEN ss.sum_r2 - 45.0 * nb.nb > 0
                  THEN 4.0 * sum((rj.r_j - 3.0 * nb.nb)
                                 * (rj.r_j - 3.0 * nb.nb))
                       / (ss.sum_r2 - 45.0 * nb.nb)
                  ELSE CAST(0 AS DOUBLE) END AS q_stat
      FROM rj CROSS JOIN nb CROSS JOIN ss
      GROUP BY nb.nb, ss.sum_r2
    )
    SELECT rj.trt AS priority, nb.nb AS n_blocks,
           round(rj.r_j / nb.nb, 4) + 0.0 AS mean_rank,
           round(q.q_stat, 4) + 0.0 AS q_stat,
           CAST(4 AS BIGINT) AS df
    FROM rj CROSS JOIN nb CROSS JOIN q
    """,
)
def friedman_priority_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric blocked comparison — the Friedman test: does order
    priority shift monthly revenue when MONTH is controlled as a block?
    Within each complete month-block the five priorities are average-
    ranked (rank = #smaller + (#tied+1)/2, the tie-exact form) and the
    tie-corrected statistic Q = (k-1)*Sum_j(R_j - n(k+1)/2)^2 /
    (Sum r^2 - nk(k+1)^2/4) ~ chi2(k-1) is emitted alongside each
    priority's mean rank. Cell values are exact integer cents; ranks
    are exact multiples of 0.5 and every squared term an exact multiple
    of 0.25, so ALL sums are order-independent exact doubles — no
    cross-engine float risk anywhere. One corpus shuffle to ~400
    (month x priority) cells; the in-block ranking is a 25-pairs-per-
    block self-join on the tiny cell grid."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    fb = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("ntrt"))
        .filter(F.col("ntrt") == 5)
        .select("blk")
    )
    c2 = cell.join(fb, "blk").localCheckpoint()  # grid reused by 4 subtrees
    a = c2.select(
        F.col("blk").alias("a_blk"),
        F.col("trt").alias("a_trt"),
        F.col("v").alias("a_v"),
    )
    bb = c2.select(F.col("blk").alias("b_blk"), F.col("v").alias("b_v"))
    r = (
        a.join(bb, F.col("a_blk") == F.col("b_blk"))
        .groupBy(F.col("a_blk").alias("blk"), F.col("a_trt").alias("trt"))
        .agg(
            (
                F.sum(
                    F.when(F.col("b_v") < F.col("a_v"), 1.0)
                    .when(F.col("b_v") == F.col("a_v"), 0.5)
                    .otherwise(0.0)
                )
                + F.lit(0.5)
            ).alias("rnk")
        )
        .localCheckpoint()  # ranks reused by rj and ss
    )
    nb = c2.agg(F.countDistinct("blk").cast("bigint").alias("nb"))
    rj = r.groupBy("trt").agg(F.sum("rnk").alias("r_j"))
    ss = r.agg(F.sum(F.col("rnk") * F.col("rnk")).alias("sum_r2"))
    q = (
        rj.crossJoin(F.broadcast(nb))  # 5x1x1 scalar attaches
        .crossJoin(F.broadcast(ss))
        .groupBy("nb", "sum_r2")
        .agg(
            F.sum(
                (F.col("r_j") - 3.0 * F.col("nb"))
                * (F.col("r_j") - 3.0 * F.col("nb"))
            ).alias("num")
        )
        .select(
            F.when(
                F.col("sum_r2") - 45.0 * F.col("nb") > 0,
                4.0 * F.col("num") / (F.col("sum_r2") - 45.0 * F.col("nb")),
            )
            .otherwise(F.lit(0.0))
            .alias("q_stat")
        )
    )
    return (
        rj.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("trt").alias("priority"),
            F.col("nb").alias("n_blocks"),
            r4(F.col("r_j") / F.col("nb")).alias("mean_rank"),
            r4(F.col("q_stat")).alias("q_stat"),
            F.lit(4).cast("bigint").alias("df"),
        )
    )


@register(
    "logrank_cohort_test",
    oracle="WITH " + _conversion_obs_sql(95) + """,
    gobs AS MATERIALIZED (
      SELECT CASE WHEN cohort = 'view' THEN 1 ELSE 0 END AS grp, t, death
      FROM obs WHERE cohort IN ('view', 'click')
    ),
    ended_all AS MATERIALIZED (
      SELECT grp, t, CAST(count(*) AS BIGINT) AS ended,
             CAST(sum(death) AS BIGINT) AS d
      FROM gobs GROUP BY 1, 2
    ),
    tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM gobs GROUP BY 1),
    times AS (SELECT t FROM gobs WHERE death = 1 GROUP BY 1),
    risk AS MATERIALIZED (
      SELECT times.t AS tau, tot.grp,
             tot.n - coalesce(sum(CASE WHEN e.t < times.t THEN e.ended END), 0)
               AS n_risk,
             coalesce(sum(CASE WHEN e.t = times.t THEN e.d END), 0) AS d_g
      FROM times CROSS JOIN tot
      LEFT JOIN ended_all e ON e.grp = tot.grp AND e.t <= times.t
      GROUP BY 1, 2, tot.n
    ),
    terms AS (
      SELECT tau, sum(n_risk) AS nt, sum(d_g) AS dt,
             sum(CASE WHEN grp = 1 THEN n_risk ELSE 0 END) AS n1t,
             sum(CASE WHEN grp = 1 THEN d_g ELSE 0 END) AS d1t
      FROM risk GROUP BY 1
    ),
    lr AS (
      SELECT sum(d1t) AS o1, sum(dt * n1t * 1.0 / nt) AS e1,
             sum(CASE WHEN nt > 1
                      THEN dt * (n1t * 1.0 / nt) * (1 - n1t * 1.0 / nt)
                           * (nt - dt) * 1.0 / (nt - 1)
                      ELSE CAST(0 AS DOUBLE) END) AS v
      FROM terms WHERE dt > 0
    )
    SELECT CAST(o1 AS BIGINT) AS observed_view,
           round(e1, 4) + 0.0 AS expected_view,
           round(v, 4) + 0.0 AS variance,
           round(CASE WHEN v > 0 THEN (o1 - e1) * (o1 - e1) / v
                      ELSE CAST(0 AS DOUBLE) END, 4) + 0.0 AS chi2
    FROM lr
    """,
)
def logrank_cohort_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival comparison — the log-rank (Mantel-Cox) test between the
    'view'-first and 'click'-first cohorts on time-to-conversion, the
    hypothesis-test companion to kaplan_meier_churn's curves (same
    event/censoring definitions: first high-value purchase, censored at
    the horizon): O1 vs E1 = Sum d_t*n1t/nt with the hypergeometric
    variance, chi2 = (O1-E1)^2/V ~ chi2(1). At-risk counts come from a
    range join of per-(group, day) ending counts against the pooled
    death-day grid — both sides CALENDAR-bounded (days, not users), so
    the quadratic piece never scales with the corpus; the per-user scan
    is one shuffle. Every n/d is an integer; E1 and V are short sums of
    exact rationals (1-ulp noise at magnitude ~10^2, far from the r4
    boundary)."""
    obs = (
        _conversion_obs(spark, sf_dir, min_value=95)
        .filter(F.col("cohort").isin("view", "click"))
        .select(
            F.when(F.col("cohort") == "view", 1).otherwise(0).alias("grp"), "t", "death"
        )
        .localCheckpoint()  # day-bounded rows, consumed by three subtrees
    )
    ended_all = (
        obs.groupBy("grp", "t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ended"),
            F.sum("death").cast("bigint").alias("d"),
        )
        .select(
            F.col("grp").alias("e_grp"), F.col("t").alias("e_t"), "ended", "d"
        )
    )
    tot = obs.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    times = (
        obs.filter(F.col("death") == 1)
        .select("t")
        .distinct()
        .select(F.col("t").alias("tau"))
    )
    risk = (
        times.crossJoin(tot)  # death-days x 2 groups, broadcast-tiny
        .join(
            F.broadcast(ended_all),
            (F.col("e_grp") == F.col("grp")) & (F.col("e_t") <= F.col("tau")),
            "left",
        )
        .groupBy("tau", "grp", "n")
        .agg(
            (
                F.col("n")
                - F.coalesce(
                    F.sum(F.when(F.col("e_t") < F.col("tau"), F.col("ended"))),
                    F.lit(0),
                )
            ).alias("n_risk"),
            F.coalesce(
                F.sum(F.when(F.col("e_t") == F.col("tau"), F.col("d"))),
                F.lit(0),
            ).alias("d_g"),
        )
    )
    terms = risk.groupBy("tau").agg(
        F.sum("n_risk").alias("nt"),
        F.sum("d_g").alias("dt"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0)).alias(
            "n1t"
        ),
        F.sum(F.when(F.col("grp") == 1, F.col("d_g")).otherwise(0)).alias(
            "d1t"
        ),
    )
    p1 = F.col("n1t") * 1.0 / F.col("nt")
    lr = terms.filter(F.col("dt") > 0).agg(
        F.sum("d1t").alias("o1"),
        F.sum(F.col("dt") * p1).alias("e1"),
        F.sum(
            F.when(
                F.col("nt") > 1,
                F.col("dt") * p1 * (1 - p1) * (F.col("nt") - F.col("dt"))
                * 1.0 / (F.col("nt") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    return lr.select(
        F.col("o1").cast("bigint").alias("observed_view"),
        r4(F.col("e1")).alias("expected_view"),
        r4(F.col("v")).alias("variance"),
        r4(
            F.when(
                F.col("v") > 0,
                (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1"))
                / F.col("v"),
            ).otherwise(F.lit(0.0))
        ).alias("chi2"),
    )


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH ocents AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
               AS pre,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    cust AS MATERIALIZED (
      SELECT c_custkey, c_custkey % 2 AS arm,
             (coalesce(sum(CASE WHEN pre = 1 THEN cents END), 0) + 50) // 100
               AS x,
             (coalesce(sum(CASE WHEN pre = 0 THEN cents END), 0) + 50) // 100
               AS y
      FROM customer LEFT JOIN ocents ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    s AS (
      -- sums stay HUGEINT (int128): n*S products overflow BIGINT from
      -- ~sf0.1 (n*syy ~ 5e20 > 2^63); the Spark side mirrors with
      -- decimal(38,0)
      SELECT count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx,
             sum(x * y) AS sxy,
             sum(y * y) AS syy
      FROM cust
    ),
    c AS (
      SELECT n, n * sxy - sx * sy AS cxy, n * sxx - sx * sx AS cxx,
             n * syy - sy * sy AS cyy
      FROM s
    ),
    arms AS (
      SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
             CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
             CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
             CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
      FROM cust
    )
    SELECT arms.n1 AS n_treat, arms.n0 AS n_ctrl,
           round(CASE WHEN c.cxx > 0 THEN c.cxy * 1.0 / c.cxx
                      ELSE CAST(0 AS DOUBLE) END, 4) + 0.0 AS theta,
           round(CASE WHEN c.cxx > 0 AND c.cyy > 0
                      THEN CAST(c.cxy AS DOUBLE)
                           / (sqrt(CAST(c.cxx AS DOUBLE))
                              * sqrt(CAST(c.cyy AS DOUBLE)))
                      ELSE CAST(0 AS DOUBLE) END, 4) + 0.0 AS corr_xy,
           round(CASE WHEN c.cxx > 0 AND c.cyy > 0
                      THEN (CAST(c.cxy AS DOUBLE) * CAST(c.cxy AS DOUBLE))
                           / (CAST(c.cxx AS DOUBLE) * CAST(c.cyy AS DOUBLE))
                      ELSE CAST(0 AS DOUBLE) END, 4) + 0.0 AS var_reduction,
           round(arms.sy1 * 1.0 / arms.n1 - arms.sy0 * 1.0 / arms.n0, 4) + 0.0
             AS diff_raw,
           round(arms.sy1 * 1.0 / arms.n1 - arms.sy0 * 1.0 / arms.n0
                 - CASE WHEN c.cxx > 0 THEN c.cxy * 1.0 / c.cxx
                        ELSE CAST(0 AS DOUBLE) END
                   * (arms.sx1 * 1.0 / arms.n1 - arms.sx0 * 1.0 / arms.n0),
                 4) + 0.0 AS diff_cuped
    FROM c CROSS JOIN arms
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation — CUPED (controlled experiments using pre-period
    data): theta = cov(X,Y)/var(X) over per-customer PRE-period revenue
    X and POST-period revenue Y (split at 1998-01-01, arm = custkey
    parity as the deterministic A/B assignment), then the treatment
    effect re-estimated on the adjusted metric Y - theta*(X - Xbar).
    Emits theta, corr, the variance-reduction factor rho^2, and the
    raw-vs-CUPED arm difference. All sufficient statistics are EXACT
    integers: per-customer totals are rounded to whole dollars, and the
    centered moments use the n*Sxy - Sx*Sy identity in decimal(38,0)
    (DuckDB: HUGEINT) — no float cancellation, exact to 1e38, which
    covers any realistic corpus (the earlier BIGINT envelope broke at
    sf0.1: n*sum(y^2) ~ 5e20 > 2^63). Per-row x*y products stay BIGINT
    (~2.5e13 per customer, SF-independent). One scan of orders, one
    broadcast-sized customer reduction — the 100 TB CUPED shape."""
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    ocents = o.select(
        "o_custkey",
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("pre"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cust = (
        cst.select("c_custkey", (F.col("c_custkey") % 2).alias("arm"))
        .join(ocents, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", "arm")
        .agg(
            F.expr(
                "div(coalesce(sum(CASE WHEN pre = 1 THEN cents END), 0) + 50,"
                " 100)"
            ).alias("x"),
            F.expr(
                "div(coalesce(sum(CASE WHEN pre = 0 THEN cents END), 0) + 50,"
                " 100)"
            ).alias("y"),
        )
        .localCheckpoint()  # consumed by the moment pass and the arm pass
    )
    # moments in decimal(38,0): exact like DuckDB's HUGEINT sums — the
    # n*S products overflow BIGINT from ~sf0.1 (n*syy ~ 5e20 > 2^63)
    dec = "decimal(38,0)"
    s = cust.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    ).select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cxy"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("cxx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("cyy"),
    )
    arms = cust.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy0"),
    )
    theta = F.when(
        F.col("cxx") > 0, F.col("cxy") * 1.0 / F.col("cxx")
    ).otherwise(F.lit(0.0))
    dy = F.col("sy1") * 1.0 / F.col("n1") - F.col("sy0") * 1.0 / F.col("n0")
    dx = F.col("sx1") * 1.0 / F.col("n1") - F.col("sx0") * 1.0 / F.col("n0")
    pos = (F.col("cxx") > 0) & (F.col("cyy") > 0)
    return s.crossJoin(F.broadcast(arms)).select(  # 1-row scalar attach
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        r4(theta).alias("theta"),
        r4(
            F.when(
                pos,
                F.col("cxy").cast("double")
                / (
                    F.sqrt(F.col("cxx").cast("double"))
                    * F.sqrt(F.col("cyy").cast("double"))
                ),
            ).otherwise(F.lit(0.0))
        ).alias("corr_xy"),
        r4(
            F.when(
                pos,
                (F.col("cxy").cast("double") * F.col("cxy").cast("double"))
                / (F.col("cxx").cast("double") * F.col("cyy").cast("double")),
            ).otherwise(F.lit(0.0))
        ).alias("var_reduction"),
        r4(dy).alias("diff_raw"),
        r4(dy - theta * dx).alias("diff_cuped"),
    )


@register(
    "pareto_skyline_parts",
    oracle="""
    WITH p AS MATERIALIZED (
      SELECT p_partkey, p_brand, p_size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    g AS MATERIALIZED (
      SELECT p_brand, p_size, min(cents) AS mc FROM p GROUP BY 1, 2
    ),
    pref AS (
      SELECT a.p_brand, a.p_size, min(b.mc) AS pm
      FROM g a JOIN g b ON a.p_brand = b.p_brand AND b.p_size < a.p_size
      GROUP BY 1, 2
    )
    SELECT p.p_brand AS brand, p.p_partkey AS partkey,
           CAST(p.p_size AS BIGINT) AS size,
           round(p.cents / 100.0, 4) + 0.0 AS price
    FROM p JOIN g ON p.p_brand = g.p_brand AND p.p_size = g.p_size
    LEFT JOIN pref ON p.p_brand = pref.p_brand AND p.p_size = pref.p_size
    WHERE p.cents = g.mc AND (pref.pm IS NULL OR p.cents < pref.pm)
    """,
)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) operator — per brand, the parts not
    DOMINATED on (size, price): no other same-brand part is <= on both
    dimensions and strictly < on one. The classic multi-objective
    shortlist query, computed WITHOUT the naive O(n^2) dominance
    self-join and WITHOUT any window over the corpus: one groupBy to
    the bounded (brand x size) grid (25x50 rows regardless of corpus
    size), a triangular self-join ON THAT GRID for the prefix-min over
    strictly smaller sizes, then one broadcast join back — a part
    survives iff it is the cheapest at its (brand, size) AND strictly
    cheaper than every smaller size's best. Prices compare as exact
    integer cents, so dominance is engine-independent; equal
    (size, price) twins are both kept (neither dominates)."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey", "p_brand", "p_size",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    g = (
        p.groupBy("p_brand", "p_size")
        .agg(F.min("cents").alias("mc"))
        .localCheckpoint()  # bounded grid, reused by pref + the final join
    )
    a = g.select(
        F.col("p_brand").alias("a_brand"), F.col("p_size").alias("a_size")
    )
    bgrid = g.select(
        F.col("p_brand").alias("b_brand"),
        F.col("p_size").alias("b_size"),
        F.col("mc").alias("b_mc"),
    )
    pref = (
        a.join(
            bgrid,
            (F.col("a_brand") == F.col("b_brand"))
            & (F.col("b_size") < F.col("a_size")),
        )
        .groupBy(
            F.col("a_brand").alias("pf_brand"),
            F.col("a_size").alias("pf_size"),
        )
        .agg(F.min("b_mc").alias("pm"))
    )
    gmin = g.select(
        F.col("p_brand").alias("g_brand"),
        F.col("p_size").alias("g_size"),
        "mc",
    )
    out = (
        p.join(
            F.broadcast(gmin),
            (F.col("p_brand") == F.col("g_brand"))
            & (F.col("p_size") == F.col("g_size")),
        )
        .join(
            F.broadcast(pref),
            (F.col("p_brand") == F.col("pf_brand"))
            & (F.col("p_size") == F.col("pf_size")),
            "left",
        )
        .filter(
            (F.col("cents") == F.col("mc"))
            & (F.col("pm").isNull() | (F.col("cents") < F.col("pm")))
        )
    )
    return out.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("partkey"),
        F.col("p_size").cast("bigint").alias("size"),
        r4(F.col("cents") / 100.0).alias("price"),
    )


@register(
    "flesch_reading_ease",
    oracle="""
    WITH per_doc AS MATERIALIZED (
      SELECT lang, source,
             len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))
               AS w,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
      FROM documents
    ),
    scored AS (
      SELECT lang, source, w, s, syl,
             CAST(206.835 AS DOUBLE)
             - CAST(1.015 AS DOUBLE) * (w * 1.0 / s)
             - CAST(84.6 AS DOUBLE) * (syl * 1.0 / w) AS flesch
      FROM per_doc WHERE w > 0
    )
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(w * 1.0 / s), 4) + 0.0 AS avg_words_per_sentence,
           round(avg(syl * 1.0 / w), 4) + 0.0 AS avg_syllables_per_word,
           round(avg(flesch), 4) + 0.0 AS avg_flesch,
           CAST(sum(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_very_hard
    FROM scored GROUP BY 1, 2
    """,
)
def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring — Flesch reading ease per (lang, source):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/word), the
    readability heuristic curation pipelines use to flag boilerplate
    and OCR junk. Words use the PINNED whitespace class (Java \\s and
    RE2 \\s differ on \\x0B); sentences are [.!?]+ runs floored at 1;
    syllables are the standard vowel-group [aeiouy]+ approximation.
    All three counts are integers from identical regexes, per-doc
    ratios are identical doubles, and the group averages add ~500
    identical doubles (1-ulp order noise at magnitude ~10^2 — far from
    the r4 boundary). One scan, one groupBy — pure Column expressions,
    no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    ws = "[ \t\n\x0B\f\r]"
    w = F.size(F.split(F.trim(F.col("text")), ws + "+"))
    s = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    syl = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    scored = docs.select(
        "lang", "source", w.alias("w"), s.alias("s"), syl.alias("syl")
    ).filter(F.col("w") > 0).select(
        "lang", "source", "w", "s", "syl",
        (
            F.lit(206.835)
            - F.lit(1.015) * (F.col("w") * 1.0 / F.col("s"))
            - F.lit(84.6) * (F.col("syl") * 1.0 / F.col("w"))
        ).alias("flesch"),
    )
    return scored.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        r4(F.avg(F.col("w") * 1.0 / F.col("s"))).alias(
            "avg_words_per_sentence"
        ),
        r4(F.avg(F.col("syl") * 1.0 / F.col("w"))).alias(
            "avg_syllables_per_word"
        ),
        r4(F.avg("flesch")).alias("avg_flesch"),
        F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0))
        .cast("bigint")
        .alias("n_very_hard"),
    )


@register(
    "hodges_lehmann_shift",
    oracle="""
    WITH u AS MATERIALIZED (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
    ),
    l AS MATERIALIZED (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1
    ),
    d AS (SELECT u.cents - l.cents AS diff FROM u CROSS JOIN l)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_urgent_days,
           (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_low_days,
           round((SELECT quantile_cont(cents, 0.5) FROM u) / 100.0, 4) + 0.0
             AS median_urgent,
           round((SELECT quantile_cont(cents, 0.5) FROM l) / 100.0, 4) + 0.0
             AS median_low,
           round((SELECT quantile_cont(diff, 0.5) FROM d) / 100.0, 4) + 0.0
             AS hl_shift
    """,
)
def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust effect size — the Hodges-Lehmann shift estimator between
    the URGENT and LOW daily-revenue distributions: the median of ALL
    pairwise differences x_i - y_j, the location-shift estimate that
    pairs with mannwhitney_u_test the way a mean difference pairs with
    the t-test (50% breakdown vs the mean's 0%). Both series collapse
    to the CALENDAR-bounded day grid first (~2400 rows each regardless
    of corpus size), so the pairwise cross product is a broadcast
    nested loop over bounded grids (~5.8M diffs), never a corpus-scale
    quadratic. Daily totals are exact integer cents. The HL median is
    an exact percentile_cont-interpolated order statistic computed by
    a two-pass bucketed selection: pass 1 histograms the diffs into at
    most 65536 adaptive-width integer buckets (width derived from the
    grids' min/max, so the bucket frame is bounded BY CONSTRUCTION at
    any scale), a cumulative count over that bounded frame locates the
    <=2 buckets containing the target ranks, and pass 2 re-generates
    the diffs, keeps only those buckets, and ranks inside them with a
    bucket-PARTITIONED window over per-value counts (bounded by bucket
    width, not occupancy). Both passes are embarrassingly parallel;
    the alternatives measured at sf0.1: single-reduce exact percentile
    22s (one thread merges every distinct value), with_global_rank
    rank-join 7s (full 5.8M range-shuffle + checkpoint), this 1.6s."""
    o = load_table(spark, sf_dir, "orders")

    def daily(prio: str, nparts: int | None = None) -> DataFrame:
        g = (
            o.filter(F.col("o_orderpriority") == prio)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("cents")
            )
        )
        if nparts:  # spread the broadcast nested loop across cores
            g = g.repartition(nparts)
        return g.localCheckpoint()  # day grid, consumed twice

    u = daily("1-URGENT", nparts=32)
    low = daily("5-LOW")
    su = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urgent_days"),
        F.percentile(F.col("cents"), F.lit(0.5)).alias("mu"),
        F.min("cents").alias("u_min"),
        F.max("cents").alias("u_max"),
    )
    sl = low.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_low_days"),
        F.percentile(F.col("cents"), F.lit(0.5)).alias("ml"),
        F.min("cents").alias("l_min"),
        F.max("cents").alias("l_max"),
    )
    # percentile_cont(0.5) = v[k0] + frac*(v[k0+1] - v[k0]) on 1-based
    # ranks, r = 1 + 0.5*(N-1); integers + frac of exactly 0/0.5 make
    # the interpolation bit-identical to DuckDB's quantile_cont
    base = (
        su.crossJoin(F.broadcast(sl))
        .withColumn("N", F.col("n_urgent_days") * F.col("n_low_days"))
        .withColumn("r", F.lit(1.0) + (F.col("N") - 1) / F.lit(2.0))
        .withColumn("k0", F.floor("r").cast("bigint"))
        .withColumn("frac", F.col("r") - F.floor("r"))
        .withColumn("k1", F.least(F.col("k0") + 1, F.col("N")))
        .withColumn("dmin", F.col("u_min") - F.col("l_max"))
        .withColumn(
            "width",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(
                    (F.col("u_max") - F.col("l_min") - F.col("dmin") + 1)
                    / F.lit(65536.0)
                ).cast("bigint"),
            ),
        )
        .localCheckpoint()  # 1 row; feeds both passes AND the emit
    )

    def diffs() -> DataFrame:  # regenerated per pass — cheap arithmetic
        return (
            u.select(F.col("cents").alias("u_c"))
            .crossJoin(F.broadcast(low.select(F.col("cents").alias("l_c"))))
            .crossJoin(F.broadcast(base.select("dmin", "width")))
            .select(
                (F.col("u_c") - F.col("l_c")).alias("diff"),
                F.expr("(u_c - l_c - dmin) div width").alias("b"),
            )
        )

    bc = diffs().groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    # global-ordered window over the bucket frame: bounded at 65536
    # rows by the adaptive width (plan-sweep allowlisted)
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    bcum = bc.select("b", "c", F.sum("c").over(wcum).alias("cum"))
    sel = (
        bcum.crossJoin(F.broadcast(base.select("k0", "k1")))
        .filter((F.col("cum") >= F.col("k0")) & (F.col("cum") - F.col("c") < F.col("k1")))
        .select("b", (F.col("cum") - F.col("c")).alias("before"))
    )
    ex = (
        diffs()
        .join(F.broadcast(sel), "b")
        .groupBy("b", "before", "diff")
        .agg(F.count(F.lit(1)).alias("cv"))
    )
    wb = (
        Window.partitionBy("b")
        .orderBy("diff")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inbkt = ex.withColumn("cin", F.sum("cv").over(wb)).crossJoin(
        F.broadcast(base.select("k0", "k1"))
    )
    hit = lambda k: (  # noqa: E731 — rank k lands on this value's run
        (F.col("cin") - F.col("cv") < F.col(k) - F.col("before"))
        & (F.col(k) - F.col("before") <= F.col("cin"))
    )
    picked = inbkt.groupBy().agg(
        F.min(F.when(hit("k0"), F.col("diff"))).alias("v0"),
        F.min(F.when(hit("k1"), F.col("diff"))).alias("v1"),
    )
    md = F.col("v0") + F.col("frac") * (
        F.coalesce(F.col("v1"), F.col("v0")) - F.col("v0")
    )
    return base.crossJoin(F.broadcast(picked)).select(  # 1-row attach
        "n_urgent_days",
        "n_low_days",
        r4(F.col("mu") / 100.0).alias("median_urgent"),
        r4(F.col("ml") / 100.0).alias("median_low"),
        r4(md / 100.0).alias("hl_shift"),
    )


@register(
    "price_index_fisher",
    oracle="""
    WITH ly AS MATERIALIZED (
      SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS yr, l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    base AS MATERIALIZED (
      SELECT l_partkey, cents AS c0, qty AS q0 FROM ly WHERE yr = 1995
    ),
    j AS (
      SELECT ly.yr, ly.cents AS ct, ly.qty AS qt, base.c0, base.q0
      FROM ly JOIN base USING (l_partkey) WHERE ly.yr > 1995
    ),
    ix AS (
      SELECT yr, CAST(count(*) AS BIGINT) AS n_parts,
             sum((ct * 1.0 / qt) * q0) / sum((c0 * 1.0 / q0) * q0) AS lasp,
             sum((ct * 1.0 / qt) * qt) / sum((c0 * 1.0 / q0) * qt) AS paas
      FROM j GROUP BY 1
    )
    SELECT yr AS year, n_parts,
           round(lasp, 4) + 0.0 AS laspeyres,
           round(paas, 4) + 0.0 AS paasche,
           round(sqrt(lasp * paas), 4) + 0.0 AS fisher
    FROM ix
    """,
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic index numbers — Laspeyres (base-year basket), Paasche
    (current basket) and Fisher (their geometric mean) price indices
    per year vs the 1995 base, over part unit values (yearly revenue /
    yearly quantity per part, matched to parts traded in the base
    year). The index-number machinery every pricing/inflation dashboard
    runs: one corpus shuffle to (year x part) integer sufficient
    statistics (exact cents + integer quantities), one partkey join
    against the base-year slice, one per-year reduction. Unit values
    are identical doubles from exact integers; the basket sums carry
    1-ulp add-order noise at ~10^8 magnitude, so ONLY the ratio indices
    (~1.0) are emitted, never the raw basket sums (SCALE.md round(,4)
    magnitude rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ly = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.date_format("o_orderdate", "yyyy").cast("bigint").alias("yr"),
            "l_partkey",
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
        .localCheckpoint()  # (year x part) stats, consumed twice
    )
    base = ly.filter(F.col("yr") == 1995).select(
        F.col("l_partkey").alias("b_partkey"),
        F.col("cents").alias("c0"),
        F.col("qty").alias("q0"),
    )
    j = ly.filter(F.col("yr") > 1995).join(
        base, F.col("l_partkey") == F.col("b_partkey")
    )
    pt = F.col("cents") * 1.0 / F.col("qty")
    p0 = F.col("c0") * 1.0 / F.col("q0")
    ix = j.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (F.sum(pt * F.col("q0")) / F.sum(p0 * F.col("q0"))).alias("lasp"),
        (F.sum(pt * F.col("qty")) / F.sum(p0 * F.col("qty"))).alias("paas"),
    )
    return ix.select(
        F.col("yr").alias("year"),
        "n_parts",
        r4(F.col("lasp")).alias("laspeyres"),
        r4(F.col("paas")).alias("paasche"),
        r4(F.sqrt(F.col("lasp") * F.col("paas"))).alias("fisher"),
    )


@register(
    "empirical_bayes_shrinkage",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    pr AS (
      SELECT avg(d * 1.0 / n) AS m,
             CASE WHEN count(*) > 1
                  THEN greatest(
                         (sum((d * 1.0 / n) * (d * 1.0 / n))
                          - count(*) * avg(d * 1.0 / n) * avg(d * 1.0 / n))
                         / (count(*) - 1),
                         CAST(0 AS DOUBLE))
                  ELSE CAST(0 AS DOUBLE) END AS v
      FROM g
    ),
    ab AS (
      SELECT CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN m * (m * (1 - m) / v - 1)
                  ELSE CAST(0 AS DOUBLE) END AS alpha,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN (1 - m) * (m * (1 - m) / v - 1)
                  ELSE CAST(0 AS DOUBLE) END AS beta
      FROM pr
    )
    SELECT g.brand, g.n,
           round(g.d * 1.0 / g.n, 4) + 0.0 AS rate_raw,
           round((g.d + ab.alpha) / (g.n + ab.alpha + ab.beta), 4) + 0.0
             AS rate_shrunk,
           round(CASE WHEN ab.alpha + ab.beta > 0
                      THEN g.n / (g.n + ab.alpha + ab.beta)
                      ELSE CAST(1 AS DOUBLE) END, 4) + 0.0 AS weight_data
    FROM g CROSS JOIN ab
    """,
)
def empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical estimation — empirical-Bayes (beta-binomial) shrinkage
    of per-brand return rates toward the grand prior: method-of-moments
    prior (alpha+beta = m(1-m)/v - 1 from the mean/variance of the
    per-brand rates), posterior rate (d+alpha)/(n+alpha+beta) — the
    James-Stein-style partial pooling every CTR / quality-score
    pipeline uses to stop small groups from dominating a ranking. ALL
    groups are emitted (no top-k on the shrunk double — the cross-
    engine ranking hazard rfm taught). One corpus shuffle to 25 brand
    rows; the prior is a second tiny reduction; the one-pass variance
    is guarded with greatest(v, 0) on both sides (the jackknife
    cancellation lesson) and the degenerate prior (v = 0 or negative
    moment estimate) falls back to no shrinkage identically."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("d"),
        )
        .localCheckpoint()  # 25 rows, consumed by the prior and the output
    )
    rate = F.col("d") * 1.0 / F.col("n")
    pr = g.agg(
        F.avg(rate).alias("m"),
        F.count(F.lit(1)).alias("k"),
        F.sum(rate * rate).alias("s2"),
    ).select(
        "m",
        F.when(
            F.col("k") > 1,
            F.greatest(
                (F.col("s2") - F.col("k") * F.col("m") * F.col("m"))
                / (F.col("k") - 1),
                F.lit(0.0),
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    strength = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    ok = (F.col("v") > 0) & (strength > 0)
    ab = pr.select(
        F.when(ok, F.col("m") * strength).otherwise(F.lit(0.0)).alias("alpha"),
        F.when(ok, (1 - F.col("m")) * strength)
        .otherwise(F.lit(0.0))
        .alias("beta"),
    )
    return g.crossJoin(F.broadcast(ab)).select(  # 1-row scalar attach
        "brand",
        "n",
        r4(rate).alias("rate_raw"),
        r4(
            (F.col("d") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta"))
        ).alias("rate_shrunk"),
        r4(
            F.when(
                F.col("alpha") + F.col("beta") > 0,
                F.col("n") / (F.col("n") + F.col("alpha") + F.col("beta")),
            ).otherwise(F.lit(1.0))
        ).alias("weight_data"),
    )


# ---------------------------------------------------------------------------
# r10 batch 2 — paired nonparametrics, serial-correlation diagnostics,
# drawdown analytics, species-richness estimation, stratified 2x2 testing
# ---------------------------------------------------------------------------


@register(
    "wilcoxon_signed_rank",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS uc,
             sum(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS lc
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT uc - lc AS diff FROM g
      WHERE uc IS NOT NULL AND lc IS NOT NULL AND uc <> lc
    ),
    byabs AS (
      SELECT abs(diff) AS a, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS pos
      FROM d GROUP BY 1
    ),
    rk AS (
      SELECT a, t, pos,
             sum(t) OVER (ORDER BY a
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM byabs
    ),
    s AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             sum(pos * (2.0 * (cum - t) + t + 1) / 2.0) AS wplus,
             CAST(sum(t * t * t - t) AS BIGINT) AS ties
      FROM rk
    )
    SELECT n AS n_pairs, round(wplus, 4) + 0.0 AS w_plus,
           round(CASE WHEN n * (n + 1.0) * (2.0 * n + 1) / 24.0
                           - ties / 48.0 > 0
                      THEN (wplus - n * (n + 1.0) / 4.0)
                           / sqrt(n * (n + 1.0) * (2.0 * n + 1) / 24.0
                                  - ties / 48.0)
                      ELSE CAST(0 AS DOUBLE) END, 4) + 0.0 AS z_stat
    FROM s
    """,
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired nonparametric test — Wilcoxon signed-rank over the
    URGENT-vs-LOW daily-revenue pairs (paired on calendar day, the
    within-day pairing mannwhitney_u_test's unpaired design throws
    away): signed ranks of |d| with midrank ties, W+ and the normal
    approximation z with the exact tie correction Σ(t³−t)/48. One
    corpus scan collapses to the calendar-bounded day grid via
    conditional aggregation; the rank pass is a cumulative count over
    the |d|-value grid (≤ #days rows — plan-sweep allowlisted), so
    ranks are order-independent EXACT half-integers: W+ sums .5
    multiples of integer counts and hashes identically on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    g = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", cents)).alias("uc"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", cents)).alias("lc"),
    )
    d = g.filter(
        F.col("uc").isNotNull()
        & F.col("lc").isNotNull()
        & (F.col("uc") != F.col("lc"))
    ).select((F.col("uc") - F.col("lc")).alias("diff"))
    byabs = d.groupBy(F.abs("diff").alias("a")).agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    wcum = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0)
    rk = byabs.select(
        "t", "pos", F.sum("t").over(wcum).alias("cum")
    )
    s = rk.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("pos") * (2.0 * (F.col("cum") - F.col("t")) + F.col("t") + 1)
            / 2.0
        ).alias("wplus"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties"),
    )
    var = (
        F.col("n") * (F.col("n") + 1.0) * (2.0 * F.col("n") + 1) / 24.0
        - F.col("ties") / 48.0
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        r4(F.col("wplus")).alias("w_plus"),
        r4(
            F.when(
                var > 0,
                (F.col("wplus") - F.col("n") * (F.col("n") + 1.0) / 4.0)
                / F.sqrt(var),
            ).otherwise(F.lit(0.0))
        ).alias("z_stat"),
    )


