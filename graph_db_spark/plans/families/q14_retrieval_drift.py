"""Registers 10 queries:

  mrr_hit_at_k_ivf, relative_risk_ci, huber_onestep_location
  ipf_raking_margins, ab_power_sample_size, page_hinkley_drift
  granger_causality_f, taylors_power_law, concentration_hhi
  weekly_cycle_dft
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.operators import similarity as SIM
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.plans.families.q00_base import r4, register
from graph_db_spark.plans.families.q13_tsa_retrieval import _MRR_K, _mrr_ivf_oracle_sql
from graph_db_spark.tables import load_table


@register("mrr_hit_at_k_ivf", oracle=_mrr_ivf_oracle_sql())
def mrr_hit_at_k_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval, SCALE PATH — MRR@10 and hit@{1,5,10} of
    IVF-candidate retrieval (16 inverted lists, 8 probed) on the same
    1-in-5 query sample / same-label relevance as `mrr_hit_at_k`, so
    the retrieval-eval family, like dedup, now holds BOTH an exact
    baseline and a bucketed scale path (r10 verdict item 6). The eval
    pair space is one equi-join on cluster id — candidates per query
    are corpus·_IVF_NPROBE/_IVF_CENTROIDS (operators/similarity.py) —
    where the brute baseline's is corpus². The exact brute leg is kept
    ONLY to certify the contract: `mrr_bound_ok` asserts the IVF MRR
    keeps ≥70% of the exact MRR overall (bound chosen under the
    measured ≈0.9+ ratio at sf0.001/0.01/0.1), and the oracle PINS it
    to 1.0 (the hll_user_reach idiom) — a quantizer or probe
    regression fails the driver gate, not just a pytest. Per-label IVF
    metrics themselves are EXACT-oracled: the LCG seed pick and Lloyd
    rounds replay in DuckDB (`_ivf_training_sql`), so the driver
    hash-checks the approximate result end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 5 == 0)
    ivf = SIM.cosine_topk_ivf(emb, qs, k=_MRR_K)
    lab = emb.select(
        F.col("vec_id").alias("nid2"), F.col("label").alias("nlabel2")
    )
    qlab = qs.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("bigint").alias("label"),
    )
    fri = (
        ivf.join(dim_hint(lab, bounded=False), F.col("neighbor_id") == F.col("nid2"))
        .join(dim_hint(qlab, bounded=False), "query_id")
        .groupBy("query_id")
        .agg(
            F.min(
                F.when(F.col("nlabel2") == F.col("label"), F.col("rank"))
            ).alias("fr_ivf")
        )
    )
    # exact brute leg (the mrr_hit_at_k shape, kept to certify the bound)
    sqn = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    e = (
        emb.select(
            "vec_id", "label", SIM._as_double(F.col("embedding")).alias("v")
        )
        .select("vec_id", "label", "v", sqn.alias("nrm"))
    )
    q = e.filter(F.col("vec_id") % 5 == 0)
    b = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("nv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = q.join(F.broadcast(b), F.col("vec_id") != F.col("nid")).select(
        F.col("vec_id").alias("query_id"),
        "label",
        "nlabel",
        (dot / (F.col("nrm") * F.col("nnrm"))).alias("sim"),
        "nid",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "nid")
    fre = (
        pairs.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _MRR_K)
        .groupBy("query_id")
        .agg(
            F.min(
                F.when(F.col("nlabel") == F.col("label"), F.col("rn"))
            ).alias("fr_exact")
        )
    )
    rr_i = F.coalesce(1.0 / F.col("fr_ivf"), F.lit(0.0))
    rr_e = F.coalesce(1.0 / F.col("fr_exact"), F.lit(0.0))
    per = (
        qlab.join(fri, "query_id", "left")
        .join(fre, "query_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            r4(F.avg(rr_i)).alias("mrr_10"),
            r4(
                F.avg(F.when(F.col("fr_ivf") == 1, 1.0).otherwise(0.0))
            ).alias("hit_at_1"),
            r4(
                F.avg(F.when(F.col("fr_ivf") <= 5, 1.0).otherwise(0.0))
            ).alias("hit_at_5"),
            r4(
                F.avg(
                    F.when(F.col("fr_ivf").isNotNull(), 1.0).otherwise(0.0)
                )
            ).alias("hit_at_10"),
            r4(F.avg(rr_e)).alias("mrr_10_exact"),
            F.sum(rr_i).alias("_si"),
            F.sum(rr_e).alias("_se"),
        )
        # DELIBERATELY NOT checkpointed (r11 advice item 1 tried it and
        # r12 MEASURED it 2x slower): `per` feeds both the contract flag
        # and the final emit, but keeping ONE lazy plan lets Catalyst
        # constant-fold the 1-row flag side and column-prune the metric
        # legs per action, while an eager localCheckpoint materializes
        # every column up front. A/B at sf0.1 on the same host:
        # 12.8 s cold / 5.4 s warm lazy vs 24.9 / 11.3 s checkpointed.
        # The one-row-truth idiom pays only when the shared subtree is
        # re-executed in FULL by both consumers — not when one consumer
        # is a prunable scalar probe.
    )
    flag = per.agg(
        F.when(
            F.sum("_si") >= 0.7 * F.sum("_se"), 1.0
        ).otherwise(0.0).alias("mrr_bound_ok")
    )
    return per.crossJoin(F.broadcast(flag)).select(  # 1-row scalar attach
        "label",
        "n_queries",
        "mrr_10",
        "hit_at_1",
        "hit_at_5",
        "hit_at_10",
        "mrr_10_exact",
        "mrr_bound_ok",
    )


@register(
    "relative_risk_ci",
    oracle="""
    WITH ret AS MATERIALIZED (
      SELECT l_orderkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1
    ),
    tab AS (
      SELECT CAST(sum(CASE WHEN x = 1 AND yy = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN x = 1 AND yy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN x = 0 AND yy = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN x = 0 AND yy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                 AS x,
               ret.ret AS yy
        FROM orders JOIN ret ON l_orderkey = o_orderkey
      )
    )
    SELECT a AS n_exposed_ret, b AS n_exposed_ok,
           c AS n_unexposed_ret, d AS n_unexposed_ok,
           round(a * 1.0 * d / (b * 1.0 * c), 4) + 0.0 AS odds_ratio,
           round(exp(ln(a * 1.0 * d / (b * 1.0 * c))
                     - 1.959963984540054
                       * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4) + 0.0
             AS or_lo,
           round(exp(ln(a * 1.0 * d / (b * 1.0 * c))
                     + 1.959963984540054
                       * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4) + 0.0
             AS or_hi,
           round((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)), 4) + 0.0
             AS risk_ratio,
           round(exp(ln((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)))
                     - 1.959963984540054
                       * sqrt(1.0/a - 1.0/(a + b) + 1.0/c - 1.0/(c + d))),
                 4) + 0.0 AS rr_lo,
           round(exp(ln((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)))
                     + 1.959963984540054
                       * sqrt(1.0/a - 1.0/(a + b) + 1.0/c - 1.0/(c + d))),
                 4) + 0.0 AS rr_hi
    FROM tab
    """,
)
def relative_risk_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epidemiology-style 2x2 effect measures — the pooled odds ratio
    and risk ratio of item returns under URGENT priority, each with
    its 95% Wald CI on the log scale (the z constant 1.959963984540054
    is a shared literal, the gumbel/katz convention). cmh_return_rate
    is the stratified/confounder-adjusted test; this is the pooled
    headline number with uncertainty — reading both against
    simpson_paradox_check is the full epidemiologist's workflow. One
    lineitem→order reduction + one conditional-aggregate scan to four
    exact integer cells; every emission is an identical-expression
    double."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ret = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "ret"
        )
    )
    x = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    tab = (
        o.join(ret, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(x.alias("x"), F.col("ret").alias("yy"))
        .agg(
            F.sum(F.when((F.col("x") == 1) & (F.col("yy") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when((F.col("x") == 1) & (F.col("yy") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
            F.sum(F.when((F.col("x") == 0) & (F.col("yy") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
            F.sum(F.when((F.col("x") == 0) & (F.col("yy") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("d"),
        )
    )
    z = F.lit(1.959963984540054)
    orr = F.col("a") * 1.0 * F.col("d") / (F.col("b") * 1.0 * F.col("c"))
    se_or = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    rr = (F.col("a") * 1.0 / (F.col("a") + F.col("b"))) / (
        F.col("c") * 1.0 / (F.col("c") + F.col("d"))
    )
    se_rr = F.sqrt(
        1.0 / F.col("a")
        - 1.0 / (F.col("a") + F.col("b"))
        + 1.0 / F.col("c")
        - 1.0 / (F.col("c") + F.col("d"))
    )
    return tab.select(
        F.col("a").alias("n_exposed_ret"),
        F.col("b").alias("n_exposed_ok"),
        F.col("c").alias("n_unexposed_ret"),
        F.col("d").alias("n_unexposed_ok"),
        r4(orr).alias("odds_ratio"),
        r4(F.exp(F.log(orr) - z * se_or)).alias("or_lo"),
        r4(F.exp(F.log(orr) + z * se_or)).alias("or_hi"),
        r4(rr).alias("risk_ratio"),
        r4(F.exp(F.log(rr) - z * se_rr)).alias("rr_lo"),
        r4(F.exp(F.log(rr) + z * se_rr)).alias("rr_hi"),
    )


@register(
    "huber_onestep_location",
    oracle="""
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    med AS (SELECT quantile_cont(c, 0.5) AS m FROM x),
    mad AS (
      SELECT quantile_cont(abs(c - m), 0.5) AS mad
      FROM x CROSS JOIN med
    ),
    p AS (
      SELECT m, mad,
             CAST(round(1.345 * 1.4826 * mad) AS BIGINT) AS cint
      FROM med CROSS JOIN mad
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(greatest(least(c,
                                     CAST(round(m) AS BIGINT) + cint),
                               CAST(round(m) AS BIGINT) - cint))
                  AS BIGINT) AS sw,
             CAST(sum(c) AS BIGINT) AS sraw,
             CAST(sum(CASE WHEN c > CAST(round(m) AS BIGINT) + cint
                             OR c < CAST(round(m) AS BIGINT) - cint
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      FROM x CROSS JOIN p
    )
    SELECT s.n AS n_orders,
           round(p.m / 100.0, 4) + 0.0 AS median_dollars,
           round(p.mad / 100.0, 4) + 0.0 AS mad_dollars,
           round(s.sw * 1.0 / s.n / 100.0, 4) + 0.0 AS huber_mean_dollars,
           round(s.sraw * 1.0 / s.n / 100.0, 4) + 0.0 AS raw_mean_dollars,
           s.n_clipped
    FROM s CROSS JOIN p
    """,
)
def huber_onestep_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics — a one-step Huber M-estimate of the order-
    value location: start at the median, clip at median ± k·1.4826·MAD
    (k = 1.345, the 95%-efficiency tuning constant), and average the
    clipped values. Between trimmed_mean_stats (drops the tails
    entirely) and the raw mean (keeps them fully), Huber WINSORIZES —
    the standard robust location when outliers are heavy but real. The
    clip bound is SNAPPED TO INTEGER CENTS so the winsorized sum is an
    exact integer on both engines (no add-order float risk on a
    corpus-sized reduction — the SCALE.md §28 discipline); only the
    median/MAD order statistics interpolate, identically. Two exact
    percentile passes + one clipped-sum scan."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).localCheckpoint()  # consumed by median, MAD, and the clipped sum
    med = x.agg(F.percentile(F.col("c"), F.lit(0.5)).alias("m"))
    mad = (
        x.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(F.abs(F.col("c") - F.col("m")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    p = (
        med.crossJoin(F.broadcast(mad))
        .select(
            "m",
            "mad",
            F.round(1.345 * 1.4826 * F.col("mad")).cast("bigint").alias(
                "cint"
            ),
            F.round(F.col("m")).cast("bigint").alias("mint"),
        )
        .localCheckpoint()  # 1 row; feeds the clip pass AND the emit
    )
    lo = F.col("mint") - F.col("cint")
    hi = F.col("mint") + F.col("cint")
    s = x.crossJoin(F.broadcast(p)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.greatest(F.least(F.col("c"), hi), lo))
        .cast("bigint")
        .alias("sw"),
        F.sum("c").cast("bigint").alias("sraw"),
        F.sum(F.when((F.col("c") > hi) | (F.col("c") < lo), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
    )
    return s.crossJoin(F.broadcast(p)).select(  # 1-row scalar attach
        F.col("n").alias("n_orders"),
        r4(F.col("m") / 100.0).alias("median_dollars"),
        r4(F.col("mad") / 100.0).alias("mad_dollars"),
        r4(F.col("sw") * 1.0 / F.col("n") / 100.0).alias(
            "huber_mean_dollars"
        ),
        r4(F.col("sraw") * 1.0 / F.col("n") / 100.0).alias(
            "raw_mean_dollars"
        ),
        "n_clipped",
    )


@register(
    "ipf_raking_margins",
    oracle="""
    WITH seed AS MATERIALIZED (
      SELECT r_name, o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM seed),
    rowt AS MATERIALIZED (
      SELECT r_name, count(*) * 1.0 / (SELECT count(*) FROM customer)
               AS target
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1
    ),
    colt AS (SELECT prio, 0.2 AS target FROM (SELECT DISTINCT
             o_orderpriority AS prio FROM orders)),
    w0 AS (SELECT r_name, prio, n, n * 1.0 / tot.nt AS w
           FROM seed CROSS JOIN tot),
    r1 AS (SELECT r_name, prio, n,
                  w * rowt.target / (sum(w) OVER (PARTITION BY r_name))
                    AS w
           FROM w0 JOIN rowt USING (r_name)),
    c1 AS (SELECT r_name, prio, n,
                  w * colt.target / (sum(w) OVER (PARTITION BY prio)) AS w
           FROM r1 JOIN colt USING (prio)),
    r2 AS (SELECT r_name, prio, n,
                  w * rowt.target / (sum(w) OVER (PARTITION BY r_name))
                    AS w
           FROM c1 JOIN rowt USING (r_name)),
    c2 AS (SELECT r_name, prio, n,
                  w * colt.target / (sum(w) OVER (PARTITION BY prio)) AS w
           FROM r2 JOIN colt USING (prio)),
    r3 AS (SELECT r_name, prio, n,
                  w * rowt.target / (sum(w) OVER (PARTITION BY r_name))
                    AS w
           FROM c2 JOIN rowt USING (r_name)),
    c3 AS (SELECT r_name, prio, n,
                  w * colt.target / (sum(w) OVER (PARTITION BY prio)) AS w
           FROM r3 JOIN colt USING (prio))
    SELECT r_name AS region, prio AS priority, n AS n_orders,
           round(w, 4) + 0.0 AS weight_raked
    FROM c3
    """,
)
def ipf_raking_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey statistics — iterative proportional fitting (raking) of
    the (region × priority) order-count table to known margins: row
    targets = each region's CUSTOMER-population share (weighting
    orders back to the customer universe), column targets = uniform
    priority shares. Three unrolled IPF rounds (row-scale, col-scale)
    — the classic post-stratification weighting every survey/measure-
    ment pipeline runs, and a fixed-depth iteration expressible as
    pure joins + grid-partitioned windows (the 25-cell grid is
    dimension-bounded, windows partition on grid keys). Emits the
    raked cell weights; scale transfer: seed counts are ONE star-join
    reduction, every IPF round touches only the 25-row grid."""
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    re_ = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    seed = (
        o.join(cst, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re_), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", F.col("o_orderpriority").alias("prio"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()  # 25-row grid drives the IPF rounds
    )
    tot = seed.agg(F.sum("n").cast("bigint").alias("nt"))
    ncust = cst.agg(F.count(F.lit(1)).alias("nc"))
    rowt = (
        cst.join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re_), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("cn"))
        .crossJoin(F.broadcast(ncust))
        .select("r_name", (F.col("cn") * 1.0 / F.col("nc")).alias("rtarget"))
    )
    w = seed.crossJoin(F.broadcast(tot)).select(
        "r_name", "prio", "n", (F.col("n") * 1.0 / F.col("nt")).alias("w")
    )
    wr = Window.partitionBy("r_name")
    wp = Window.partitionBy("prio")
    for _ in range(3):  # fixed-depth IPF, identical to the unrolled oracle
        w = w.join(F.broadcast(rowt), on="r_name").select(
            "r_name",
            "prio",
            "n",
            (F.col("w") * F.col("rtarget") / F.sum("w").over(wr)).alias("w"),
        )
        w = w.select(
            "r_name",
            "prio",
            "n",
            (F.col("w") * F.lit(0.2) / F.sum("w").over(wp)).alias("w"),
        )
    return w.select(
        F.col("r_name").alias("region"),
        F.col("prio").alias("priority"),
        F.col("n").alias("n_orders"),
        r4(F.col("w")).alias("weight_raked"),
    )


@register(
    "ab_power_sample_size",
    oracle="""
    WITH ret AS MATERIALIZED (
      SELECT l_orderkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1
    ),
    arms AS (
      SELECT CAST(sum(x) AS BIGINT) AS n1,
             CAST(sum(1 - x) AS BIGINT) AS n0,
             CAST(sum(x * yy) AS BIGINT) AS d1,
             CAST(sum((1 - x) * yy) AS BIGINT) AS d0
      FROM (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                 AS x, ret.ret AS yy
        FROM orders JOIN ret ON l_orderkey = o_orderkey
      )
    ),
    p AS (
      SELECT n1, n0, d1 * 1.0 / n1 AS p1, d0 * 1.0 / n0 AS p0 FROM arms
    )
    SELECT n1 AS n_treat, n0 AS n_ctrl,
           round(p1, 4) + 0.0 AS rate_treat,
           round(p0, 4) + 0.0 AS rate_ctrl,
           round(p1 - p0, 4) + 0.0 AS abs_lift,
           CAST(CASE WHEN p1 <> p0 THEN ceil(
             pow(1.959963984540054 + 0.8416212335729143, 2)
             * (p1 * (1 - p1) + p0 * (1 - p0)) / pow(p1 - p0, 2))
           END AS BIGINT) AS n_per_arm_80pct,
           round(CASE WHEN p1 <> p0 THEN
             abs(p1 - p0) / sqrt(p1 * (1 - p1) / n1 + p0 * (1 - p0) / n0)
             - 1.959963984540054 END, 4) + 0.0 AS z_excess
    FROM p
    """,
)
def ab_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment planning — the two-proportion power calculation every
    A/B platform bakes in: given the observed URGENT-vs-rest return
    rates, the per-arm sample size for 80% power at alpha = 0.05
    (two-sided), n = (z_{0.975} + z_{0.80})²·(p1q1 + p0q0)/Δ², plus
    z_excess = how far past significance the CURRENT sample already is.
    ab_test_proportions tests; this PLANS. The z constants are shared
    literals (the BH/gumbel convention — each engine's own quantile
    would be an independent surface). One reduction to four integer
    cells; ceil of an identical double is an identical integer except
    on exact-integer boundaries, which the fixture rates' irrational
    ratios never hit."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ret = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "ret"
        )
    )
    x = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    arms = (
        o.join(ret, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(x.alias("x"), F.col("ret").alias("yy"))
        .agg(
            F.sum("x").cast("bigint").alias("n1"),
            F.sum(1 - F.col("x")).cast("bigint").alias("n0"),
            F.sum(F.col("x") * F.col("yy")).cast("bigint").alias("d1"),
            F.sum((1 - F.col("x")) * F.col("yy")).cast("bigint").alias("d0"),
        )
    )
    p = arms.select(
        "n1",
        "n0",
        (F.col("d1") * 1.0 / F.col("n1")).alias("p1"),
        (F.col("d0") * 1.0 / F.col("n0")).alias("p0"),
    )
    za, zb = 1.959963984540054, 0.8416212335729143
    diff = F.col("p1") - F.col("p0")
    return p.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        r4(F.col("p1")).alias("rate_treat"),
        r4(F.col("p0")).alias("rate_ctrl"),
        r4(diff).alias("abs_lift"),
        F.when(
            diff != 0,
            F.ceil(
                F.lit((za + zb) ** 2)
                * (
                    F.col("p1") * (1 - F.col("p1"))
                    + F.col("p0") * (1 - F.col("p0"))
                )
                / (diff * diff)
            ),
        )
        .cast("bigint")
        .alias("n_per_arm_80pct"),
        r4(
            F.when(
                diff != 0,
                F.abs(diff)
                / F.sqrt(
                    F.col("p1") * (1 - F.col("p1")) / F.col("n1")
                    + F.col("p0") * (1 - F.col("p0")) / F.col("n0")
                )
                - za,
            )
        ).alias("z_excess"),
    )


@register(
    "page_hinkley_drift",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS dayd,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    s AS (SELECT count(*) AS n, sum(y) AS sy FROM g),
    c AS (
      SELECT dayd,
             sum(s.n * y - s.sy) OVER (ORDER BY dayd
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cnum,
             s.n AS n
      FROM g CROSS JOIN s
    ),
    ph AS (
      SELECT dayd, n, cnum,
             max(cnum) OVER (ORDER BY dayd
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - cnum AS phnum
      FROM c
    ),
    agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n_days,
             max(phnum) AS mx,
             CAST(min(CASE WHEN phnum = (SELECT max(phnum) FROM ph)
                           THEN strftime(dayd, '%Y-%m-%d') END) AS VARCHAR)
               AS trough_day
      FROM ph
    )
    SELECT n_days,
           round(CAST(mx AS DOUBLE) / n_days / 100.0, 4) + 0.0
             AS ph_max_dollars,
           trough_day
    FROM agg
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential drift detection — the Page-Hinkley statistic for a
    DOWNWARD mean shift in daily revenue: PH_t = max_{i<=t} C_i - C_t
    over the centered cumulative C_t = SUM(x_i - xbar), reported at its
    maximum with the day it troughs. The reset-free companion to
    cusum_drift (CUSUM resets at zero and localizes segment starts; PH
    measures the single deepest sustained decline — the change-detection
    pair every monitoring stack runs). EXACT integers throughout: the
    centered cumulative is scaled by n (C_t*n = SUM(n*x_i - Sx), integer
    cents), so the running max, the PH statistic, and the argmax day are
    integer-exact on both engines; only the final /n/100 ratio is a
    double. Day-grid windows are calendar-bounded (allowlisted)."""
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("dayd"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "y"
            )
        )
        .localCheckpoint()  # day grid: feeds the mean AND the cumulative
    )
    s = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    wcum = Window.orderBy("dayd").rowsBetween(Window.unboundedPreceding, 0)
    c = g.crossJoin(F.broadcast(s)).select(
        "dayd",
        "n",
        F.sum(F.col("n") * F.col("y") - F.col("sy")).over(wcum).alias("cnum"),
    )
    ph = c.select(
        "dayd",
        "n",
        (F.max("cnum").over(wcum) - F.col("cnum")).alias("phnum"),
    ).localCheckpoint()  # consumed by the max AND the argmax-day probe
    mx = ph.agg(F.max("phnum").alias("mx"))
    agg = (
        ph.crossJoin(F.broadcast(mx))
        .filter(F.col("phnum") == F.col("mx"))
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.max("mx").alias("mx2"),
            F.min(F.date_format("dayd", "yyyy-MM-dd")).alias("trough_day"),
        )
    )
    return agg.select(
        "n_days",
        r4(
            F.col("mx2").cast("double") / F.col("n_days") / 100.0
        ).alias("ph_max_dollars"),
        "trough_day",
    )


@register(
    "granger_causality_f",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS dayd,
             sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS uc,
             sum(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS lc
      FROM orders GROUP BY 1
      HAVING uc IS NOT NULL AND lc IS NOT NULL
    ),
    lagd AS (
      SELECT uc AS y, lag(uc) OVER (ORDER BY dayd) AS y1,
             lag(lc) OVER (ORDER BY dayd) AS x1
      FROM g
    ),
    m AS (
      SELECT count(*) AS n, sum(y) AS sy, sum(y1) AS sy1, sum(x1) AS sx1,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(y1 AS HUGEINT) * y1) AS s11,
             sum(CAST(x1 AS HUGEINT) * x1) AS sxx,
             sum(CAST(y AS HUGEINT) * y1) AS sy_1,
             sum(CAST(y AS HUGEINT) * x1) AS sy_x,
             sum(CAST(y1 AS HUGEINT) * x1) AS s1x
      FROM lagd WHERE y1 IS NOT NULL AND x1 IS NOT NULL
    ),
    cm AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
             CAST(n * s11 - sy1 * sy1 AS DOUBLE) AS c11,
             CAST(n * sxx - sx1 * sx1 AS DOUBLE) AS cxx,
             CAST(n * sy_1 - sy * sy1 AS DOUBLE) AS cy1,
             CAST(n * sy_x - sy * sx1 AS DOUBLE) AS cyx,
             CAST(n * s1x - sy1 * sx1 AS DOUBLE) AS c1x
      FROM m
    ),
    fit AS (
      SELECT n,
             cyy - cy1 * cy1 / c11 AS rss_r,
             cyy - (cy1 * (cy1 * cxx - cyx * c1x)
                    + cyx * (cyx * c11 - cy1 * c1x))
                   / (c11 * cxx - c1x * c1x) AS rss_f
      FROM cm
    )
    SELECT n AS n_days,
           round((rss_r - rss_f) / (rss_f / (n - 3)), 4) + 0.0
             AS granger_f,
           round(1.0 - rss_f / rss_r, 4) + 0.0 AS partial_r2
    FROM fit
    """,
)
def granger_causality_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series econometrics — the lag-1 Granger-causality F test:
    does yesterday's LOW-priority revenue improve the prediction of
    today's URGENT revenue beyond URGENT's own lag? F = (RSS_r -
    RSS_f)/(RSS_f/(n-3)) from the restricted (y~y1) vs full (y~y1+x1)
    demeaned OLS, both solved in CLOSED FORM from exact integer cross
    moments via the n*Sxy - Sx*Sy identity (2x2 normal equations by
    Cramer's rule — no iteration, one day-grid reduction).
    engle_granger reads the LONG-RUN equilibrium; this reads SHORT-RUN
    lead-lag, completing the econometrics pair. The centered-moment
    products sit at ~1e25 so they are computed as doubles OF exact
    integer differences (identical expression trees both engines); the
    day-grid lag is calendar-bounded (allowlisted)."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    g = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("dayd"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", cents)
            ).alias("uc"),
            F.sum(
                F.when(F.col("o_orderpriority") == "5-LOW", cents)
            ).alias("lc"),
        )
        .filter(F.col("uc").isNotNull() & F.col("lc").isNotNull())
    )
    wlag = Window.orderBy("dayd")
    lagd = g.select(
        F.col("uc").alias("y"),
        F.lag("uc").over(wlag).alias("y1"),
        F.lag("lc").over(wlag).alias("x1"),
    ).filter(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    m = lagd.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("y1").cast(dec)).alias("sy1"),
        F.sum(F.col("x1").cast(dec)).alias("sx1"),
        # operand-FIRST decimal casts: y/y1/x1 are SF-dependent daily
        # cents (~1e9 at sf1), so int64 per-row products overflow one
        # SF above the tested fixture (r10 advice; cuped class)
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
        F.sum(F.col("y1").cast(dec) * F.col("y1").cast(dec)).alias("s11"),
        F.sum(F.col("x1").cast(dec) * F.col("x1").cast(dec)).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y1").cast(dec)).alias("sy_1"),
        F.sum(F.col("y").cast(dec) * F.col("x1").cast(dec)).alias("sy_x"),
        F.sum(F.col("y1").cast(dec) * F.col("x1").cast(dec)).alias("s1x"),
    )
    cm = m.select(
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("cyy"),
        (F.col("n") * F.col("s11") - F.col("sy1") * F.col("sy1"))
        .cast("double")
        .alias("c11"),
        (F.col("n") * F.col("sxx") - F.col("sx1") * F.col("sx1"))
        .cast("double")
        .alias("cxx"),
        (F.col("n") * F.col("sy_1") - F.col("sy") * F.col("sy1"))
        .cast("double")
        .alias("cy1"),
        (F.col("n") * F.col("sy_x") - F.col("sy") * F.col("sx1"))
        .cast("double")
        .alias("cyx"),
        (F.col("n") * F.col("s1x") - F.col("sy1") * F.col("sx1"))
        .cast("double")
        .alias("c1x"),
    )
    rss_r = F.col("cyy") - F.col("cy1") * F.col("cy1") / F.col("c11")
    det = F.col("c11") * F.col("cxx") - F.col("c1x") * F.col("c1x")
    rss_f = F.col("cyy") - (
        F.col("cy1") * (F.col("cy1") * F.col("cxx") - F.col("cyx") * F.col("c1x"))
        + F.col("cyx") * (F.col("cyx") * F.col("c11") - F.col("cy1") * F.col("c1x"))
    ) / det
    return cm.select(
        F.col("n").alias("n_days"),
        r4((rss_r - rss_f) / (rss_f / (F.col("n") - 3))).alias("granger_f"),
        r4(1.0 - rss_f / rss_r).alias("partial_r2"),
    )


@register(
    "taylors_power_law",
    oracle="""
    WITH d AS MATERIALIZED (
      SELECT p_brand, CAST(o_orderdate AS DATE) AS dayd,
             CAST(count(*) AS BIGINT) AS k
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT p_brand, count(*) AS n, sum(k) AS sk, sum(k * k) AS skk
      FROM d GROUP BY 1 HAVING count(*) > 1
    ),
    mv AS (
      SELECT p_brand, sk * 1.0 / n AS mean_k,
             CAST(n * skk - sk * sk AS DOUBLE) / (n * 1.0 * (n - 1))
               AS var_k
      FROM m
    ),
    pts AS (
      SELECT ln(mean_k) AS x, ln(var_k) AS y FROM mv
      WHERE mean_k > 0 AND var_k > 0
    ),
    ols AS (
      SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts
    )
    SELECT CAST(np AS BIGINT) AS n_brands,
           round(CASE WHEN np >= 2 AND np * sxx - sx * sx <> 0
                      THEN (np * sxy - sx * sy) / (np * sxx - sx * sx)
                 END, 4) + 0.0 AS taylor_b,
           round(CASE WHEN np >= 2 AND np * sxx - sx * sx <> 0
                      THEN exp((sy - (np * sxy - sx * sy)
                                     / (np * sxx - sx * sx) * sx) / np)
                 END, 4) + 0.0 AS taylor_a
    FROM ols
    """,
)
def taylors_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-mean scaling — Taylor's power law: var = a*mean^b
    across brands' daily order-line counts, fitted as ln(var) vs
    ln(mean) OLS over the 25-brand grid. b~1 is Poisson-like
    (independent arrivals), b->2 is clumped/bursty demand — the
    cross-SECTIONAL aggregation-scaling read that negbin_overdispersion
    (one distribution) and interevent_burstiness (one stream) don't
    give. Per-brand moments are exact integers; only the 25-point
    log-log OLS floats (the heaps_law_fit precedent). One star-join
    reduction to the (brand x day) grid."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dim_hint(p, bounded=False), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.col("o_orderdate").cast("date").alias("dayd"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    m = (
        d.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sk"),
            F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
        )
        .filter(F.col("n") > 1)
    )
    mv = m.select(
        (F.col("sk") * 1.0 / F.col("n")).alias("mean_k"),
        (
            (F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")).cast(
                "double"
            )
            / (F.col("n") * 1.0 * (F.col("n") - 1))
        ).alias("var_k"),
    )
    pts = mv.filter((F.col("mean_k") > 0) & (F.col("var_k") > 0)).select(
        F.log("mean_k").alias("x"), F.log("var_k").alias("y")
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    ok = (F.col("np") >= 2) & (den != 0)
    return ols.select(
        F.col("np").cast("bigint").alias("n_brands"),
        r4(F.when(ok, slope)).alias("taylor_b"),
        r4(
            F.when(
                ok,
                F.exp((F.col("sy") - slope * F.col("sx")) / F.col("np")),
            )
        ).alias("taylor_a"),
    )


@register(
    "concentration_hhi",
    oracle="""
    WITH br AS MATERIALIZED (
      SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS yr, p_brand,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                 * 10000) AS BIGINT)) AS BIGINT) AS rev_u
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT yr, CAST(sum(rev_u) AS BIGINT) AS t FROM br GROUP BY 1),
    hh AS (
      SELECT br.yr, CAST(count(*) AS BIGINT) AS n_brands,
             sum((rev_u * 1.0 / t) * (rev_u * 1.0 / t)) AS hhi
      FROM br JOIN tot ON br.yr = tot.yr
      GROUP BY 1
    )
    SELECT yr AS year, n_brands,
           round(hhi * 10000, 4) + 0.0 AS hhi_points,
           round(1.0 / hhi, 4) + 0.0 AS effective_competitors
    FROM hh
    """,
)
def concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market concentration — the Herfindahl-Hirschman index of brand
    revenue shares per year (antitrust-scaled 0-10000 points) plus the
    effective number of competitors 1/HHI: the concentration read that
    complements gini_concentration (inequality of the distribution) and
    theil_index_decomposition (between/within split) with the measure
    regulators actually quote. Shares are ratios of exact 4dp-unit
    integers; the 25-term share-square sum carries the standard
    guard-band float risk only. One star-join reduction to the
    (year x brand) grid."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    br = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dim_hint(p, bounded=False), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.date_format("o_orderdate", "yyyy").cast("bigint").alias("yr"),
            "p_brand",
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("rev_u")
        )
    )
    tot = br.groupBy(F.col("yr").alias("tyr")).agg(
        F.sum("rev_u").cast("bigint").alias("t")
    )
    share = F.col("rev_u") * 1.0 / F.col("t")
    hh = (
        br.join(F.broadcast(tot), F.col("yr") == F.col("tyr"))
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.sum(share * share).alias("hhi"),
        )
    )
    return hh.select(
        F.col("yr").alias("year"),
        "n_brands",
        r4(F.col("hhi") * 10000).alias("hhi_points"),
        r4(1.0 / F.col("hhi")).alias("effective_competitors"),
    )


@register(
    "weekly_cycle_dft",
    oracle="""
    WITH g AS (
      SELECT CAST(o_orderdate AS DATE) AS dayd,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    res AS (
      SELECT (datediff('day', (SELECT min(dayd) FROM g), dayd)) % 7 AS r,
             CAST(sum(y) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(sy) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS n
      FROM res
    ),
    ft AS (
      SELECT sum((sy - c * 1.0 * st / n)
                 * cos(2 * 3.141592653589793 * r / 7.0)) AS re,
             sum((sy - c * 1.0 * st / n)
                 * sin(2 * 3.141592653589793 * r / 7.0)) AS im,
             max(n) AS n, max(st) AS st
      FROM res CROSS JOIN tot
    )
    SELECT n AS n_days,
           round(2.0 * sqrt(re * re + im * im) / n / 100.0, 4) + 0.0
             AS weekly_amplitude_dollars,
           round(2.0 * sqrt(re * re + im * im) / (st * 1.0 / n), 4) + 0.0
             AS amplitude_over_mean,
           round(atan2(im, re), 4) + 0.0 AS phase_rad
    FROM ft
    """,
)
def weekly_cycle_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral seasonality — the single-bin DFT of daily revenue at
    the weekly frequency: amplitude and phase of the 7-day cycle, the
    quantitative answer dow_seasonality's per-weekday means describe
    qualitatively and stl_seasonal_decompose spreads over a whole
    series. The day grid first collapses to SEVEN residue classes
    (t mod 7) with exact integer sums, so the DFT is a 7-term
    combination of exact integers with literal-frequency cos/sin — no
    corpus-length float accumulation at all (the 2*pi/7 constant is a
    shared literal, the gumbel/katz convention). Demeaning happens in
    the residue domain (sy - c*mean), algebraically the per-day
    demeaning. One scan -> day grid -> 7 rows."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderdate").cast("date").alias("dayd")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    ).localCheckpoint()  # day grid: feeds the min-day probe AND residues
    m = g.agg(F.min("dayd").alias("d0"))
    res = (
        g.crossJoin(F.broadcast(m))
        .groupBy((F.datediff(F.col("dayd"), F.col("d0")) % 7).alias("r"))
        .agg(
            F.sum("y").cast("bigint").alias("sy"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )
    tot = res.agg(
        F.sum("sy").cast("bigint").alias("st"),
        F.sum("c").cast("bigint").alias("n"),
    )
    pi2_7 = 2.0 * 3.141592653589793 / 7.0
    dem = F.col("sy") - F.col("c") * 1.0 * F.col("st") / F.col("n")
    ft = res.crossJoin(F.broadcast(tot)).agg(
        F.sum(dem * F.cos(pi2_7 * F.col("r"))).alias("re"),
        F.sum(dem * F.sin(pi2_7 * F.col("r"))).alias("im"),
        F.max("n").alias("n"),
        F.max("st").alias("st"),
    )
    amp = 2.0 * F.sqrt(F.col("re") * F.col("re") + F.col("im") * F.col("im"))
    return ft.select(
        F.col("n").alias("n_days"),
        r4(amp / F.col("n") / 100.0).alias("weekly_amplitude_dollars"),
        r4(amp / (F.col("st") * 1.0 / F.col("n"))).alias(
            "amplitude_over_mean"
        ),
        r4(F.atan2("im", "re")).alias("phase_rad"),
    )
