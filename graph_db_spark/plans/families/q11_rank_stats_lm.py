"""Registers 22 queries:

  corpus_diversity_indices, open_order_backlog, kendall_tau_b
  theil_index_decomposition, ndcg_label_retrieval, cohens_kappa_raters
  gumbel_extreme_value_fit, runs_test_randomness, bland_altman_agreement
  ljung_box_q, spc_individuals_chart, growth_accounting_weekly
  revenue_var_cvar, diff_in_diff_uplift, brand_price_elasticity
  nelson_aalen_hazard, simpson_paradox_check, jackknife_ratio_variance
  brier_calibration_decomposition, kneser_ney_bigram, information_gain_split
  filter_cascade_attrition
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.operators import similarity as SIM
from graph_db_spark.operators import text as TX
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.plans.families.q00_base import (
    _cohort_risk, _cohort_risk_sql, _conversion_obs, _conversion_obs_sql, r4, register,
)
from graph_db_spark.plans.families.q01_relational_pipeline import _SW_SQL
from graph_db_spark.tables import load_table


@register(
    "corpus_diversity_indices",
    oracle="""
    WITH g AS (
      SELECT source, count(*) * 1.0 AS n FROM documents GROUP BY 1
    ),
    t AS (SELECT sum(n) AS tot, count(*) AS k FROM g),
    p AS (SELECT n / t.tot AS p, t.k FROM g, t)
    SELECT CAST(max(k) AS BIGINT) AS n_sources,
           round(-sum(p * ln(p)), 4) + 0.0 AS shannon_entropy,
           round(exp(-sum(p * ln(p))), 4) + 0.0 AS effective_sources,
           round(1.0 - sum(p * p), 4) + 0.0 AS simpson_diversity,
           round(-sum(p * ln(p)) / ln(max(k)), 4) + 0.0 AS evenness
    FROM p
    """,
)
def corpus_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — corpus-mix diversity indices over sources: Shannon
    entropy, its exponential (the effective number of sources — the
    honest 'how many sources do we REALLY have' that raw counts
    overstate under skew), Simpson's 1−Σp², and Pielou evenness.
    The mixture-design dashboard row that mixture_weights (which
    prescribes weights) and source_js_divergence (which compares
    content) read against. One aggregate over the |sources| row
    table."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg((F.count(F.lit(1)) * 1.0).alias("n"))
    )
    t = g.agg(F.sum("n").alias("tot"), F.count(F.lit(1)).alias("k"))
    p = g.crossJoin(F.broadcast(t)).select((F.col("n") / F.col("tot")).alias("p"), "k")
    h = -F.sum(F.col("p") * F.log("p"))
    return p.agg(
        F.max("k").cast("bigint").alias("n_sources"),
        r4(h).alias("shannon_entropy"),
        r4(F.exp(h)).alias("effective_sources"),
        r4(1.0 - F.sum(F.col("p") * F.col("p"))).alias("simpson_diversity"),
        r4(h / F.log(F.max("k"))).alias("evenness"),
    )


@register(
    "open_order_backlog",
    oracle="""
    WITH iv AS (
      SELECT CAST(o.o_orderdate AS DATE) AS start_d,
             CAST(l.l_shipdate AS DATE) AS end_d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ),
    ev AS (
      SELECT start_d AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT end_d, -1 FROM iv
    ),
    daily AS (SELECT day, sum(delta) AS d FROM ev GROUP BY 1),
    cum AS (
      SELECT day, sum(d) OVER (ORDER BY day) AS open_lines
      FROM daily
    ),
    mo AS (
      SELECT strftime(day, '%Y-%m') AS month,
             max(open_lines) AS peak, min(open_lines) AS trough,
             avg(open_lines * 1.0) AS avg_open
      FROM cum GROUP BY 1
    )
    SELECT month, CAST(peak AS BIGINT) AS peak_open,
           CAST(trough AS BIGINT) AS trough_open,
           round(avg_open, 4) + 0.0 AS avg_open
    FROM mo
    """,
)
def open_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operations — open-lineitem backlog (work-in-progress) over time
    by SWEEP LINE: each (orderdate, shipdate] interval becomes a +1/−1
    event, one cumsum over the daily event rollup yields the count of
    intervals stabbing every day — O(n) where the naive per-day
    interval-containment join is O(days·n). Monthly peak/trough/mean
    of the curve. The interval-stabbing primitive under capacity and
    concurrency questions at any scale; all counts integer until the
    final mean."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.to_date("o_orderdate").alias("start_d"),
            F.to_date("l_shipdate").alias("end_d"),
        )
    )
    ev = iv.select(F.col("start_d").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("end_d").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = ev.groupBy("day").agg(F.sum("delta").alias("d"))
    cum = daily.select(
        "day", F.sum("d").over(Window.orderBy("day")).alias("open_lines")
    )
    mo = cum.groupBy(F.date_format("day", "yyyy-MM").alias("month")).agg(
        F.max("open_lines").cast("bigint").alias("peak_open"),
        F.min("open_lines").cast("bigint").alias("trough_open"),
        r4(F.avg(F.col("open_lines") * 1.0)).alias("avg_open"),
    )
    return mo


# ---------------------------------------------------------------------------
# r7 batch 10 — Kendall tau-b / Theil decomposition / NDCG retrieval eval
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_b",
    oracle="""
    WITH ct AS (
      SELECT l_quantity AS x, l_discount AS y, count(*) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
      SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y)
                  THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END AS c,
             CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y)
                  THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END AS d
      FROM ct a JOIN ct b
        ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
    ),
    s AS (
      SELECT sum(c) AS nc, sum(d) AS nd FROM pairs
    ),
    t AS (
      SELECT sum(n) AS n,
             CAST(sum(n) AS DOUBLE) * (sum(n) - 1) / 2 AS n0
      FROM ct
    ),
    tx AS (
      SELECT sum(CAST(g AS DOUBLE) * (g - 1) / 2) AS t1 FROM
        (SELECT sum(n) AS g FROM ct GROUP BY x)
    ),
    ty AS (
      SELECT sum(CAST(g AS DOUBLE) * (g - 1) / 2) AS t2 FROM
        (SELECT sum(n) AS g FROM ct GROUP BY y)
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           CAST(s.nc AS BIGINT) AS concordant,
           CAST(s.nd AS BIGINT) AS discordant,
           round((s.nc - s.nd)
                 / (sqrt((t.n0 - tx.t1) * 1.0) * sqrt((t.n0 - ty.t2) * 1.0)),
                 4) + 0.0 AS kendall_tau_b
    FROM s, t, tx, ty
    """,
)
def kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Kendall's τ-b (quantity vs discount) via the
    CONTINGENCY-TABLE identity: concordant/discordant pair counts come
    from the |X|×|Y| distinct-value grid (50×11 cells → ~150k cell
    pairs), never the O(n²) row-pair space — the same collapse trick
    as the midrank family. Completes the correlation battery: Pearson
    (lineitem_correlations), Spearman (midranks), τ-b (pair
    concordance, the most tie-robust of the three). Everything integer
    until the final normalized division. Magnitude discipline
    (SCALE.md §33 count-quadratic audit): the concordant/discordant
    sums are Θ(n²) of the CORPUS size, so per-cell products and their
    sums run in decimal(38,0) vs HUGEINT (int64 dies at n≈4.3e9 — one
    web-scale corpus above the fixture); the n0/t1/t2 pair counts feed
    only the float denominator, so they take the double-first form
    both engines share bit-for-bit below 2^53. The bigint emission of
    concordant/discordant itself holds to n < 4.3e9 rows — past that,
    widen the emission to decimal (documented envelope, not a silent
    wrap: the decimal sums above it stay exact either way)."""
    ct = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_quantity").alias("x"), F.col("l_discount").alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    b = ct.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("n").alias("bn")
    )
    pairs = ct.join(
        F.broadcast(b),
        (F.col("x") < F.col("bx"))
        | ((F.col("x") == F.col("bx")) & (F.col("y") < F.col("by"))),
    )
    conc = (
        ((F.col("x") < F.col("bx")) & (F.col("y") < F.col("by")))
        | ((F.col("x") > F.col("bx")) & (F.col("y") > F.col("by")))
    )
    disc = (
        ((F.col("x") < F.col("bx")) & (F.col("y") > F.col("by")))
        | ((F.col("x") > F.col("bx")) & (F.col("y") < F.col("by")))
    )
    dec = "decimal(38,0)"
    s = pairs.agg(
        F.sum(
            F.when(conc, F.col("n").cast(dec) * F.col("bn").cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("nc"),
        F.sum(
            F.when(disc, F.col("n").cast(dec) * F.col("bn").cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("nd"),
    )
    t = ct.agg(
        F.sum("n").alias("ntot"),
        (F.sum("n").cast("double") * (F.sum("n") - 1) / 2).alias("n0"),
    )
    tx = (
        ct.groupBy("x").agg(F.sum("n").alias("g"))
        .agg(F.sum(F.col("g").cast("double") * (F.col("g") - 1) / 2).alias("t1"))
    )
    ty = (
        ct.groupBy("y").agg(F.sum("n").alias("g"))
        .agg(F.sum(F.col("g").cast("double") * (F.col("g") - 1) / 2).alias("t2"))
    )
    return (
        s.crossJoin(t).crossJoin(tx).crossJoin(ty)
        .select(
            F.col("ntot").cast("bigint").alias("n"),
            F.col("nc").cast("bigint").alias("concordant"),
            F.col("nd").cast("bigint").alias("discordant"),
            r4(
                (F.col("nc") - F.col("nd"))
                / (
                    F.sqrt((F.col("n0") - F.col("t1")) * 1.0)
                    * F.sqrt((F.col("n0") - F.col("t2")) * 1.0)
                )
            ).alias("kendall_tau_b"),
        )
    )


@register(
    "theil_index_decomposition",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nation, o.o_custkey AS cust,
             sum(o.o_totalprice) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n, sum(x) AS sx FROM rev),
    overall AS (
      SELECT sum((x / tot.sx) * ln((x / tot.sx) * tot.n)) AS t_total
      FROM rev, tot
    ),
    pre AS (
      SELECT nation, x,
             sum(x) OVER (PARTITION BY nation) AS sg,
             count(*) OVER (PARTITION BY nation) AS ng
      FROM rev
    ),
    grp2 AS (
      SELECT nation, max(ng) AS ng, max(sg) AS sg,
             sum((x / sg) * ln((x / sg) * ng)) AS tg
      FROM pre GROUP BY 1
    ),
    within AS (
      SELECT sum((grp2.sg / tot.sx) * grp2.tg) AS t_within FROM grp2, tot
    ),
    between_g AS (
      SELECT sum((grp2.sg / tot.sx)
                 * ln((grp2.sg / tot.sx) / (grp2.ng * 1.0 / tot.n)))
               AS t_between
      FROM grp2, tot
    )
    SELECT round(overall.t_total, 4) + 0.0 AS theil_total,
           round(within.t_within, 4) + 0.0 AS theil_within,
           round(between_g.t_between, 4) + 0.0 AS theil_between,
           round(between_g.t_between / overall.t_total, 4) + 0.0
             AS between_share
    FROM overall, within, between_g
    """,
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Theil T inequality index of customer revenue with
    its EXACT decomposition T = T_within + Σ s_g·ln(s_g/p_g): how much
    revenue inequality lives inside nations vs between them — the
    additively-decomposable question Gini (gini_concentration) cannot
    answer. One join + windowed group sums (windows in one pass,
    aggregation in the next — engines agree once the two are not
    nested); emissions are share-weighted ln ratios, drift-relative."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.join(dim_hint(c, bounded=False), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"), F.col("o_custkey").alias("cust")
        )
        .agg(F.sum("o_totalprice").alias("x"))
    )
    tot = rev.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    rt = rev.crossJoin(F.broadcast(tot))
    overall = rt.agg(
        F.sum(
            (F.col("x") / F.col("sx")) * F.log((F.col("x") / F.col("sx")) * F.col("n"))
        ).alias("t_total")
    )
    wn = Window.partitionBy("nation")
    grp = rev.select(
        "nation",
        "x",
        F.sum("x").over(wn).alias("sg"),
        F.count(F.lit(1)).over(wn).alias("ng"),
    ).select(
        "nation",
        "sg",
        "ng",
        (
            (F.col("x") / F.col("sg"))
            * F.log((F.col("x") / F.col("sg")) * F.col("ng"))
        ).alias("tgi"),
    )
    grp2 = grp.groupBy("nation").agg(
        F.max("sg").alias("sg"), F.max("ng").alias("ng"), F.sum("tgi").alias("tg")
    )
    g2t = grp2.crossJoin(F.broadcast(tot))
    within = g2t.agg(
        F.sum((F.col("sg") / F.col("sx")) * F.col("tg")).alias("t_within")
    )
    between = g2t.agg(
        F.sum(
            (F.col("sg") / F.col("sx"))
            * F.log(
                (F.col("sg") / F.col("sx")) / (F.col("ng") * 1.0 / F.col("n"))
            )
        ).alias("t_between")
    )
    return (
        overall.crossJoin(within).crossJoin(between)
        .select(
            r4(F.col("t_total")).alias("theil_total"),
            r4(F.col("t_within")).alias("theil_within"),
            r4(F.col("t_between")).alias("theil_between"),
            r4(F.col("t_between") / F.col("t_total")).alias("between_share"),
        )
    )


_NDCG_DISC = [
    1.0 / (__import__("math").log(r + 1.0) / __import__("math").log(2.0))
    for r in range(1, 6)
]
_NDCG_IDCG = [sum(_NDCG_DISC[: k + 1]) for k in range(5)]


@register(
    "ndcg_label_retrieval",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS nrm
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 5 = 0),
    top5 AS (
      SELECT vec_id, label, rn,
             CASE WHEN nlabel = label THEN 1.0 ELSE 0.0 END AS rel
      FROM (
        SELECT a.vec_id, a.label, b.label AS nlabel,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                          b.vec_id
               ) AS rn
        FROM q a JOIN e b ON a.vec_id <> b.vec_id
      ) WHERE rn <= 5
    ),
    dcg AS (
      SELECT vec_id, label,
             sum(rel * CASE rn
                 WHEN 1 THEN CAST({_NDCG_DISC[0]!r} AS DOUBLE)
                 WHEN 2 THEN CAST({_NDCG_DISC[1]!r} AS DOUBLE)
                 WHEN 3 THEN CAST({_NDCG_DISC[2]!r} AS DOUBLE)
                 WHEN 4 THEN CAST({_NDCG_DISC[3]!r} AS DOUBLE)
                 WHEN 5 THEN CAST({_NDCG_DISC[4]!r} AS DOUBLE) END) AS dcg,
             sum(rel) AS n_rel
      FROM top5 GROUP BY 1, 2
    ),
    ideal AS (
      SELECT vec_id, label, dcg, n_rel,
             CASE CAST(n_rel AS INTEGER)
                 WHEN 1 THEN CAST({_NDCG_IDCG[0]!r} AS DOUBLE)
                 WHEN 2 THEN CAST({_NDCG_IDCG[1]!r} AS DOUBLE)
                 WHEN 3 THEN CAST({_NDCG_IDCG[2]!r} AS DOUBLE)
                 WHEN 4 THEN CAST({_NDCG_IDCG[3]!r} AS DOUBLE)
                 WHEN 5 THEN CAST({_NDCG_IDCG[4]!r} AS DOUBLE) END AS idcg
      FROM dcg
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(coalesce(dcg / idcg, 0.0)), 4) + 0.0 AS mean_ndcg_5,
           round(avg(n_rel) / 5.0, 4) + 0.0 AS mean_precision_5
    FROM ideal GROUP BY 1
    """,
)
def ndcg_label_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval — NDCG@5 and precision@5 of brute-force cosine
    retrieval with same-label as the binary relevance judgment, per
    class on the 1-in-5 query sample: the graded-position metric the
    recall bounds (ann_*_recall_bound) don't measure — not just 'did a
    relevant doc appear' but WHERE it ranked. Ideal DCG is the
    closed-form prefix sum over min(n_rel, 5) positions; queries with
    zero relevant neighbors score 0 (coalesce, not dropped). Same fold
    discipline and sample as knn_loo_label_eval. The five rank
    discounts 1/log2(r+1) and their IDCG prefix sums are Python-
    computed shared literals emitted into BOTH engines (the gumbel/
    katz convention — each engine's own ln(2) is an independent 1-ulp
    surface under round(,4))."""
    # r13: per-core fan-out of the single-split query sample — one task
    # was the whole query wall; same fix as mrr_hit_at_k. Fold dot kept
    # (unrolled chain A/B'd 5x more CPU here — SIM.dot docstring).
    sqn = F.sqrt(SIM.dot(F.col("v"), F.col("v")))
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", SIM._as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "label", "v", sqn.alias("nrm"))
    q = e.filter(F.col("vec_id") % 5 == 0).repartition(
        spark.sparkContext.defaultParallelism
    )
    b = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    dot = SIM.dot(F.col("v"), F.col("nv"))
    pairs = q.join(F.broadcast(b), F.col("vec_id") != F.col("nid")).select(
        "vec_id", "label", "nlabel",
        (dot / (F.col("nrm") * F.col("nnrm"))).alias("sim"), "nid",
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "nid")
    top5 = pairs.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 5
    ).select(
        "vec_id",
        "label",
        "rn",
        F.when(F.col("nlabel") == F.col("label"), 1.0).otherwise(0.0).alias("rel"),
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rn").cast("int")
    )
    dcg = top5.groupBy("vec_id", "label").agg(
        F.sum(F.col("rel") * disc).alias("dcg"),
        F.sum("rel").alias("n_rel"),
    )
    # closed-form ideal DCG over min(n_rel, 5) unit gains — shared literals
    idcg = F.when(
        F.col("n_rel") > 0,
        F.element_at(
            F.array(*[F.lit(d) for d in _NDCG_IDCG]), F.col("n_rel").cast("int")
        ),
    )
    ideal = dcg.select("vec_id", "label", "dcg", "n_rel", idcg.alias("idcg"))
    return ideal.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        r4(F.avg(F.coalesce(F.col("dcg") / F.col("idcg"), F.lit(0.0)))).alias(
            "mean_ndcg_5"
        ),
        r4(F.avg("n_rel") / 5.0).alias("mean_precision_5"),
    )


# ---------------------------------------------------------------------------
# r7 batch 11 — Cohen's kappa / Gumbel EVT / runs test / Bland-Altman /
# Ljung-Box
# ---------------------------------------------------------------------------


@register(
    "cohens_kappa_raters",
    oracle=f"""
    WITH r AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS gold,
             CASE WHEN len(list_distinct(list_intersect(
                    list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
                    {_SW_SQL['en']}))) >= 2 THEN 1 ELSE 0 END AS pred
      FROM documents
    ),
    ct AS (
      SELECT sum(CASE WHEN gold = 1 AND pred = 1 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN gold = 1 AND pred = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN gold = 0 AND pred = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN gold = 0 AND pred = 0 THEN 1 ELSE 0 END) AS d,
             count(*) * 1.0 AS n
      FROM r
    )
    SELECT CAST(a AS BIGINT) AS both_en, CAST(b AS BIGINT) AS gold_only,
           CAST(c AS BIGINT) AS pred_only, CAST(d AS BIGINT) AS neither,
           round((a + d) / n, 4) + 0.0 AS observed_agreement,
           round(((a + b) * (a + c) + (c + d) * (b + d)) / (n * n), 4) + 0.0
             AS expected_agreement,
           round(((a + d) / n - ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n))
                 / (1.0 - ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)),
                 4) + 0.0 AS cohens_kappa
    FROM ct
    """,
)
def cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation QA — Cohen's κ between the gold language label and the
    stopword-overlap English detector (≥2 distinct EN stopwords):
    chance-corrected agreement, the metric that exposes how much of a
    labeler's 'accuracy' is base-rate (raw agreement flatters any
    majority-class rater — κ does not). The 2×2 table is one aggregate;
    κ is scalar algebra on its margins. The labeling-pipeline QA row
    beside k_anonymity_audit and label_noise_screen."""
    docs = load_table(spark, sf_dir, "documents")
    sw = [F.lit(w) for w in TX.STOPWORDS["en"]]
    pred = (
        F.size(
            F.array_intersect(
                F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+")),
                F.array(*sw),
            )
        )
        >= 2
    )
    r = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("gold"),
        F.when(pred, 1).otherwise(0).alias("pred"),
    )
    ct = r.agg(
        F.sum(F.when((F.col("gold") == 1) & (F.col("pred") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("gold") == 1) & (F.col("pred") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("gold") == 0) & (F.col("pred") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("gold") == 0) & (F.col("pred") == 0), 1).otherwise(0)).alias("d"),
        (F.count(F.lit(1)) * 1.0).alias("n"),
    )
    po = (F.col("a") + F.col("d")) / F.col("n")
    pe = (
        (F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")) * (F.col("b") + F.col("d"))
    ) / (F.col("n") * F.col("n"))
    return ct.select(
        F.col("a").cast("bigint").alias("both_en"),
        F.col("b").cast("bigint").alias("gold_only"),
        F.col("c").cast("bigint").alias("pred_only"),
        F.col("d").cast("bigint").alias("neither"),
        r4(po).alias("observed_agreement"),
        r4(pe).alias("expected_agreement"),
        r4((po - pe) / (1.0 - pe)).alias("cohens_kappa"),
    )


_GUMBEL_K = __import__("math").sqrt(6.0) / __import__("math").pi
_GUMBEL_F30 = __import__("math").log(-__import__("math").log(1.0 - 1.0 / 30.0))
_GUMBEL_F365 = __import__("math").log(-__import__("math").log(1.0 - 1.0 / 365.0))


@register(
    "gumbel_extreme_value_fit",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, max(value) AS mx
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT count(*) AS n, avg(mx) AS m,
             sqrt((sum(mx * mx) - sum(mx) * sum(mx) / count(*))
                  / (count(*) - 1)) AS sd
      FROM daily
    ),
    fit AS (
      SELECT n, m, sd,
             sd * CAST({_GUMBEL_K!r} AS DOUBLE) AS beta,
             m - CAST(0.5772156649015329 AS DOUBLE)
               * (sd * CAST({_GUMBEL_K!r} AS DOUBLE)) AS mu
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(mu, 4) + 0.0 AS gumbel_mu,
           round(beta, 4) + 0.0 AS gumbel_beta,
           round(mu - beta * CAST({_GUMBEL_F30!r} AS DOUBLE), 4) + 0.0
             AS return_level_30d,
           round(mu - beta * CAST({_GUMBEL_F365!r} AS DOUBLE), 4) + 0.0
             AS return_level_365d
    FROM fit
    """,
)
def gumbel_extreme_value_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value theory — Gumbel fit to daily maxima of the event
    value stream by method of moments (β = σ√6/π, μ = x̄ − γβ), with
    30-day and 365-day return levels μ − β·ln(−ln(1−1/T)): 'how big a
    spike should we provision for' — the tail question quantiles of the
    raw distribution systematically underestimate (block maxima, not
    raw values, converge to Gumbel). One daily-max rollup + sufficient
    statistics; Euler-Mascheroni, √6/π, and the two ln(−ln(1−1/T))
    return-level factors are all Python-computed shared CAST-AS-DOUBLE
    literals emitted into BOTH engines (r7 advice — the katz/sprt
    convention; a 1-ulp libm difference in either factor times β can
    land on a round(,4) half-way boundary)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.max("value").alias("mx"))
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("mx").alias("m"),
        F.sqrt(
            (F.sum(F.col("mx") * F.col("mx")) - F.sum("mx") * F.sum("mx") / F.count(F.lit(1)))
            / (F.count(F.lit(1)) - 1)
        ).alias("sd"),
    )
    beta = F.col("sd") * F.lit(_GUMBEL_K)
    mu = F.col("m") - 0.5772156649015329 * beta
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        r4(mu).alias("gumbel_mu"),
        r4(beta).alias("gumbel_beta"),
        r4(mu - beta * F.lit(_GUMBEL_F30)).alias("return_level_30d"),
        r4(mu - beta * F.lit(_GUMBEL_F365)).alias("return_level_365d"),
    )


@register(
    "runs_test_randomness",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT day, y - lag(y) OVER (ORDER BY day) AS diff FROM daily
    ),
    sgn AS (
      SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
      FROM d WHERE diff IS NOT NULL AND diff <> 0
    ),
    runs AS (
      SELECT s, CASE WHEN s <> lag(s) OVER (ORDER BY day) THEN 1 ELSE 0 END AS chg
      FROM sgn
    ),
    agg AS (
      SELECT sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) * 1.0 AS n1,
             sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) * 1.0 AS n2,
             sum(coalesce(chg, 0)) + 1 AS r
      FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
           CAST(r AS BIGINT) AS n_runs,
           round(2.0 * n1 * n2 / (n1 + n2) + 1.0, 4) + 0.0 AS expected_runs,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 4) + 0.0
             AS runs_z
    FROM agg
    """,
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Wald-Wolfowitz runs test on the signs of daily
    revenue changes: too FEW runs = momentum/trending, too MANY =
    mean-reversion — the serial-independence check that corr-based ACF
    misses for nonlinear dependence. Runs are counted as sign-change
    events in one lag window (no sequential fold); the z uses the exact
    two-type runs moments. Zero diffs are dropped (tie handling stated,
    not implicit)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("y")
    )
    wo = Window.orderBy("day")
    d = daily.select("day", (F.col("y") - F.lag("y").over(wo)).alias("diff"))
    sgn = d.filter(F.col("diff").isNotNull() & (F.col("diff") != 0)).select(
        "day", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("s")
    )
    runs = sgn.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(wo), 1).otherwise(0).alias("chg"),
    )
    agg = runs.agg(
        (F.sum(F.when(F.col("s") == 1, 1).otherwise(0)) * 1.0).alias("n1"),
        (F.sum(F.when(F.col("s") == -1, 1).otherwise(0)) * 1.0).alias("n2"),
        (F.sum(F.coalesce("chg", F.lit(0))) + 1).alias("r"),
    )
    n1, n2, rr = F.col("n1"), F.col("n2"), F.col("r")
    er = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        rr.cast("bigint").alias("n_runs"),
        r4(er).alias("expected_runs"),
        r4((rr - er) / F.sqrt(vr)).alias("runs_z"),
    )


@register(
    "bland_altman_agreement",
    oracle="""
    WITH m AS (
      SELECT l.l_extendedprice AS a, p.p_retailprice * l.l_quantity AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
      SELECT count(*) AS n, avg(a - b) AS bias,
             sqrt((sum((a - b) * (a - b))
                   - sum(a - b) * sum(a - b) / count(*))
                  / (count(*) - 1)) AS sd,
             corr(a, b) AS r
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(bias, 4) + 0.0 AS mean_bias,
           round(bias - 1.96 * sd, 4) + 0.0 AS loa_lower,
           round(bias + 1.96 * sd, 4) + 0.0 AS loa_upper,
           round(r, 4) + 0.0 AS pearson_r
    FROM s
    """,
)
def bland_altman_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measurement QA — Bland-Altman agreement between two price
    'instruments' (billed extendedprice vs catalog retailprice ×
    quantity): mean bias and 95% limits of agreement, the method-
    comparison analysis correlation alone cannot do (two measures can
    correlate 0.99 and still disagree by a systematic offset — BA
    shows it, r hides it). One broadcast-joined aggregate of
    sufficient statistics."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    m = li.join(dim_hint(p, bounded=False), li.l_partkey == p.p_partkey).select(
        F.col("l_extendedprice").alias("a"),
        (F.col("p_retailprice") * F.col("l_quantity")).alias("b"),
    )
    diff = F.col("a") - F.col("b")
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(diff).alias("bias"),
        F.sqrt(
            (F.sum(diff * diff) - F.sum(diff) * F.sum(diff) / F.count(F.lit(1)))
            / (F.count(F.lit(1)) - 1)
        ).alias("sd"),
        F.corr("a", "b").alias("r"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        r4(F.col("bias")).alias("mean_bias"),
        r4(F.col("bias") - 1.96 * F.col("sd")).alias("loa_lower"),
        r4(F.col("bias") + 1.96 * F.col("sd")).alias("loa_upper"),
        r4(F.col("r")).alias("pearson_r"),
    )


# Ljung-Box lags (1..10), shared with its oracle.
_LB_MAX_LAG = 10


def _ljung_box_sql() -> str:
    """Ljung-Box on the daily revenue series using the pairwise-corr ACF
    variant (matching autocorrelation_lags): lag columns from one
    window sort, one corr() per lag, Q = n(n+2)·Σ r_k²/(n−k)."""
    max_lag = _LB_MAX_LAG
    lags = ",\n             ".join(
        f"lag(y, {k}) OVER (ORDER BY day) AS y{k}" for k in range(1, max_lag + 1)
    )
    corrs = ", ".join(f"corr(y, y{k}) AS c{k}" for k in range(1, max_lag + 1))
    qsum = " + ".join(f"c{k} * c{k} / (n - {k})" for k in range(1, max_lag + 1))
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT day, y,
             {lags}
      FROM daily
    ),
    a AS (SELECT count(*) * 1.0 AS n, {corrs} FROM l)
    SELECT CAST(n AS BIGINT) AS n_days, CAST({max_lag} AS BIGINT) AS df,
           round(n * (n + 2.0) * ({qsum}), 4) + 0.0 AS ljung_box_q
    FROM a
    """


@register("ljung_box_q", oracle=_ljung_box_sql())
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — Ljung-Box portmanteau statistic Q = n(n+2)·Σ
    r_k²/(n−k) over lags 1..10 of daily revenue: the single-number
    'is there ANY residual autocorrelation' test that reads the whole
    ACF head at once (autocorrelation_lags shows the individual r_k;
    this is their calibrated sum — the standard residual-whiteness
    check after fitting holt/theil-sen trends). ACF via the same
    pairwise-corr lag-column pattern: one window sort, ten corr
    aggregates, no self-joins."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("y")
    )
    wo = Window.orderBy("day")
    cols = ["day", "y"] + [
        F.lag("y", k).over(wo).alias(f"y{k}") for k in range(1, _LB_MAX_LAG + 1)
    ]
    l = daily.select(*cols)
    aggs = [(F.count(F.lit(1)) * 1.0).alias("n")] + [
        F.corr("y", f"y{k}").alias(f"c{k}") for k in range(1, _LB_MAX_LAG + 1)
    ]
    a = l.agg(*aggs)
    q = F.col("n") * (F.col("n") + 2.0) * sum(
        F.col(f"c{k}") * F.col(f"c{k}") / (F.col("n") - k)
        for k in range(1, _LB_MAX_LAG + 1)
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.lit(_LB_MAX_LAG).cast("bigint").alias("df"),
        r4(q).alias("ljung_box_q"),
    )


# ---------------------------------------------------------------------------
# r7 batch 12 — SPC individuals chart / growth accounting / VaR-CVaR
# ---------------------------------------------------------------------------


@register(
    "spc_individuals_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, avg(value) AS x
      FROM events GROUP BY 1
    ),
    mr AS (
      SELECT day, x, abs(x - lag(x) OVER (ORDER BY day)) AS r
      FROM daily
    ),
    lim AS (
      SELECT avg(x) AS cl, avg(r) AS mrbar FROM mr
    )
    SELECT strftime(mr.day, '%Y-%m-%d') AS day_date,
           round(mr.x, 4) + 0.0 AS x,
           round(lim.cl, 4) + 0.0 AS center,
           round(lim.cl + 2.66 * lim.mrbar, 4) + 0.0 AS ucl,
           round(lim.cl - 2.66 * lim.mrbar, 4) + 0.0 AS lcl,
           CAST(CASE WHEN mr.x > lim.cl + 2.66 * lim.mrbar
                       OR mr.x < lim.cl - 2.66 * lim.mrbar
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM mr, lim
    """,
)
def spc_individuals_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality engineering — Shewhart individuals (X-MR) control chart
    on daily mean event value: control limits CL ± 2.66·M̄R from the
    average moving range (the d2-based short-term sigma estimate — NOT
    the overall stddev, which long-term drift inflates and which would
    hide exactly the shifts the chart exists to catch), with per-day
    out-of-control flags. One daily rollup + one lag window + a
    broadcast scalar row of limits."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.avg("value").alias("x"))
    wo = Window.orderBy("day")
    mr = daily.select(
        "day", "x", F.abs(F.col("x") - F.lag("x").over(wo)).alias("r")
    )
    lim = mr.agg(F.avg("x").alias("cl"), F.avg("r").alias("mrbar"))
    j = mr.crossJoin(F.broadcast(lim))
    ucl = F.col("cl") + 2.66 * F.col("mrbar")
    lcl = F.col("cl") - 2.66 * F.col("mrbar")
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day_date"),
        r4(F.col("x")).alias("x"),
        r4(F.col("cl")).alias("center"),
        r4(ucl).alias("ucl"),
        r4(lcl).alias("lcl"),
        F.when((F.col("x") > ucl) | (F.col("x") < lcl), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("out_of_control"),
    )


@register(
    "growth_accounting_weekly",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
      FROM events WHERE event_type = 'purchase' AND value >= 60
    ),
    firsts AS (SELECT user_id, min(wk) AS first_wk FROM uw GROUP BY 1),
    flags AS (
      SELECT uw.user_id, uw.wk, firsts.first_wk,
             lag(uw.wk) OVER (PARTITION BY uw.user_id ORDER BY uw.wk) AS prev_wk
      FROM uw JOIN firsts USING (user_id)
    ),
    cls AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                  ELSE 'resurrected' END AS kind
      FROM flags
    ),
    act AS (
      SELECT wk, CAST(count(*) AS BIGINT) AS active,
             CAST(sum(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
             CAST(sum(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
               AS retained,
             CAST(sum(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
                  AS BIGINT) AS resurrected
      FROM cls GROUP BY 1
    ),
    churn AS (
      SELECT a.wk + INTERVAL 7 DAY AS wk, count(*) AS c FROM uw a
      LEFT JOIN uw b ON a.user_id = b.user_id
                    AND b.wk = a.wk + INTERVAL 7 DAY
      WHERE b.user_id IS NULL
      GROUP BY 1
    )
    SELECT strftime(act.wk, '%Y-%m-%d') AS week_start, act.active,
           act.new_users, act.retained, act.resurrected,
           CAST(coalesce(churn.c, 0) AS BIGINT) AS churned_into_week
    FROM act LEFT JOIN churn ON act.wk = churn.wk
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product analytics — weekly growth accounting over a
    non-saturating activity definition (a high-value purchase that
    week — raw any-event activity is ~100% weekly on this fixture and
    would flatten the decomposition): every active user classified
    new / retained / resurrected (first week, consecutive week,
    gap-return), plus how many of last week's actives churned
    into this week — the decomposition behind 'are we growing or just
    churning', which the raw active count (streaming_daily_stats) and
    diagonal retention (cohort_retention) don't isolate. One distinct
    user-week rollup, one per-user lag window, one anti-join for
    churn."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 60)
    )
    uw = ev.select(
        "user_id", F.date_trunc("week", F.to_date("ts")).cast("date").alias("wk")
    ).distinct()
    firsts = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    wlag = Window.partitionBy("user_id").orderBy("wk")
    flags = uw.join(firsts, on="user_id").select(
        "user_id", "wk", "first_wk", F.lag("wk").over(wlag).alias("prev_wk")
    )
    cls = flags.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.date_sub("wk", 7), "retained")
        .otherwise("resurrected")
        .alias("kind"),
    )
    act = cls.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("active"),
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("bigint")
        .alias("resurrected"),
    )
    nxt = uw.select(
        F.col("user_id").alias("bu"), F.col("wk").alias("bwk")
    )
    churn = (
        uw.join(
            nxt,
            (F.col("user_id") == F.col("bu"))
            & (F.col("bwk") == F.date_add("wk", 7)),
            "left",
        )
        .filter(F.col("bu").isNull())
        .groupBy(F.date_add("wk", 7).alias("wk"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return act.join(churn, on="wk", how="left").select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "active",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("churned_into_week"),
    )


@register(
    "revenue_var_cvar",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT y - lag(y) OVER (ORDER BY day) AS chg FROM daily
    ),
    v AS (
      SELECT count(*) AS n, quantile_cont(chg, 0.05) AS var95
      FROM d WHERE chg IS NOT NULL
    ),
    es AS (
      SELECT avg(chg) AS cvar95, count(*) AS n_tail
      FROM d, v WHERE chg IS NOT NULL AND chg <= v.var95
    )
    SELECT CAST(v.n AS BIGINT) AS n_days,
           round(v.var95, 4) + 0.0 AS var_95,
           round(es.cvar95, 4) + 0.0 AS cvar_95,
           CAST(es.n_tail AS BIGINT) AS n_tail_days
    FROM v, es
    """,
)
def revenue_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk — 95% value-at-risk and conditional VaR (expected
    shortfall) of day-over-day revenue changes: the 5th-percentile
    drawdown and the MEAN of everything at or beyond it — CVaR is the
    coherent tail measure VaR alone is not (VaR says where the tail
    starts, CVaR how bad it is inside). Interpolating percentile
    (established cross-engine parity) + one filtered tail
    aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("y")
    )
    d = daily.select(
        (F.col("y") - F.lag("y").over(Window.orderBy("day"))).alias("chg")
    ).filter(F.col("chg").isNotNull())
    v = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(chg, 0.05)").alias("var95"),
    )
    es = d.crossJoin(F.broadcast(v)).filter(F.col("chg") <= F.col("var95")).agg(
        F.avg("chg").alias("cvar95"), F.count(F.lit(1)).alias("n_tail")
    )
    return v.crossJoin(es).select(
        F.col("n").cast("bigint").alias("n_days"),
        r4(F.col("var95")).alias("var_95"),
        r4(F.col("cvar95")).alias("cvar_95"),
        F.col("n_tail").cast("bigint").alias("n_tail_days"),
    )


# ---------------------------------------------------------------------------
# r7 batch 13 — difference-in-differences / grouped regression aggregates
# ---------------------------------------------------------------------------


@register(
    "diff_in_diff_uplift",
    oracle="""
    WITH cut AS (
      SELECT quantile_cont(date_diff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)), 0.5) AS c
      FROM orders
    ),
    j AS (
      SELECT o.o_totalprice AS y,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treat,
             CASE WHEN date_diff('day', DATE '1970-01-01',
                                 CAST(o.o_orderdate AS DATE)) >= cut.c
                  THEN 1 ELSE 0 END AS post
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey, cut
    ),
    g AS (
      SELECT treat, post, count(*) AS n, avg(y) AS m FROM j GROUP BY 1, 2
    )
    SELECT
      CAST((SELECT n FROM g WHERE treat = 1 AND post = 0) AS BIGINT) AS n_treat_pre,
      CAST((SELECT n FROM g WHERE treat = 1 AND post = 1) AS BIGINT) AS n_treat_post,
      round((SELECT m FROM g WHERE treat = 1 AND post = 0), 4) + 0.0 AS treat_pre,
      round((SELECT m FROM g WHERE treat = 1 AND post = 1), 4) + 0.0 AS treat_post,
      round((SELECT m FROM g WHERE treat = 0 AND post = 0), 4) + 0.0 AS control_pre,
      round((SELECT m FROM g WHERE treat = 0 AND post = 1), 4) + 0.0 AS control_post,
      round(((SELECT m FROM g WHERE treat = 1 AND post = 1)
             - (SELECT m FROM g WHERE treat = 1 AND post = 0))
            - ((SELECT m FROM g WHERE treat = 0 AND post = 1)
               - (SELECT m FROM g WHERE treat = 0 AND post = 0)), 4) + 0.0
        AS did_estimate
    """,
)
def diff_in_diff_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal inference — difference-in-differences on order value:
    BUILDING-segment customers as the treated group, the median order
    date (integer day number — no timezone surface) as the policy
    cutoff, DiD = (T_post − T_pre) − (C_post −
    C_pre) — the parallel-trends estimator that subtracts out both the
    group baseline and the common time shock, which the raw post-mean
    comparison (welch_t_test) conflates. One join + one 2×2 group
    aggregate; the cutoff is a broadcast scalar quantile."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    cut = o.agg(
        F.expr(
            "percentile(datediff(to_date(o_orderdate), date'1970-01-01'), 0.5)"
        ).alias("cut")
    )
    j = (
        o.join(dim_hint(c, bounded=False), o.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(cut))
        .select(
            F.col("o_totalprice").alias("y"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("treat"),
            F.when(days >= F.col("cut"), 1).otherwise(0).alias("post"),
        )
    )
    g = j.groupBy("treat", "post").agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("m")
    )
    g2 = g.agg(
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0), F.col("n"))).alias("n_tp"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1), F.col("n"))).alias("n_tq"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0), F.col("m"))).alias("tp"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1), F.col("m"))).alias("tq"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 0), F.col("m"))).alias("cp"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 1), F.col("m"))).alias("cq"),
    )
    return g2.select(
        F.col("n_tp").cast("bigint").alias("n_treat_pre"),
        F.col("n_tq").cast("bigint").alias("n_treat_post"),
        r4(F.col("tp")).alias("treat_pre"),
        r4(F.col("tq")).alias("treat_post"),
        r4(F.col("cp")).alias("control_pre"),
        r4(F.col("cq")).alias("control_post"),
        r4(
            (F.col("tq") - F.col("tp")) - (F.col("cq") - F.col("cp"))
        ).alias("did_estimate"),
    )


@register(
    "brand_price_elasticity",
    oracle="""
    WITH pp AS (
      SELECT p.p_brand AS brand, l.l_partkey,
             ln(avg(l.l_extendedprice / l.l_quantity)) AS ln_p,
             ln(sum(l.l_quantity)) AS ln_q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT brand, CAST(count(*) AS BIGINT) AS n_parts,
           round(regr_slope(ln_q, ln_p), 4) + 0.0 AS elasticity,
           round(regr_intercept(ln_q, ln_p), 4) + 0.0 AS intercept,
           round(regr_r2(ln_q, ln_p), 4) + 0.0 AS r2
    FROM pp GROUP BY 1
    """,
)
def brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Econometrics — log-log price elasticity per brand via the
    BUILT-IN regression aggregates (regr_slope/intercept/r2 — the
    one-pass co-moment machines both engines ship): across a brand's
    parts, how does log demand respond to log unit price? Showcases
    grouped closed-form regression (ols_normal_equations is the
    multi-feature hand-rolled form; this is the per-group built-in
    form a 100 TB pipeline reaches for first — one shuffle, no
    driver math)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pp = (
        li.join(dim_hint(p, bounded=False), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "l_partkey")
        .agg(
            F.log(F.avg(F.col("l_extendedprice") / F.col("l_quantity"))).alias(
                "ln_p"
            ),
            F.log(F.sum("l_quantity")).alias("ln_q"),
        )
    )
    return pp.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        r4(F.expr("regr_slope(ln_q, ln_p)")).alias("elasticity"),
        r4(F.expr("regr_intercept(ln_q, ln_p)")).alias("intercept"),
        r4(F.expr("regr_r2(ln_q, ln_p)")).alias("r2"),
    )


# ---------------------------------------------------------------------------
# r9 additions — registration freeze lifted (never-driver-checked pool back
# under one window at r9 open). 13 new queries: survival (Nelson-Aalen),
# LM smoothing (Kneser-Ney), ML screening (information gain, regression
# stump), calibration (Brier decomposition), marketing science (cumulative
# gains, position-based attribution), resampling (jackknife), multiple
# testing (Benjamini-Hochberg), BI classification (ABC), LLM-data curation
# (filter cascade), data-analysis audit (Simpson's paradox), and causal
# inference (quantile treatment effects). Every name is in the r9
# _GATE_WINDOW (tests/test_oracles.py pins the partition).
# ---------------------------------------------------------------------------


@register(
    "nelson_aalen_hazard",
    oracle="WITH " + _conversion_obs_sql() + ",\n    " + _cohort_risk_sql() + """,
    na AS (
      SELECT cohort, t, n_risk, d,
             sum(d * 1.0 / n_risk) OVER (PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h,
             sum(d * 1.0 / (n_risk * n_risk)) OVER (PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM risk WHERE d > 0
    )
    SELECT cohort, t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, d AS d_events,
           round(h, 4) + 0.0 AS cum_hazard,
           round(sqrt(v), 4) + 0.0 AS hazard_se
    FROM na
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis — Nelson-Aalen cumulative-hazard estimator,
    Kaplan-Meier's additive sibling (H(t) = Σ d_i/n_i with variance
    Σ d_i/n_i², vs KM's multiplicative S(t)): per cohort (the user's
    first event type), time to FIRST purchase of any value, censored at
    the observation horizon. The preferred estimator when hazards are
    the modeling target (Cox baselines, hazard-ratio sanity checks) and
    small risk sets make KM's product unstable. Same distributed shape
    as kaplan_meier_churn: everything reduces to per-(cohort, day)
    integer counts, the at-risk counts are a right-aligned cumulative
    over the bounded per-cohort day grid, and the hazard sums are
    ordered windows over those — each d/n term is an integer ratio, so
    both engines walk bit-identical partial sums."""
    risk = _cohort_risk(_conversion_obs(spark, sf_dir))
    wna = (
        Window.partitionBy("cohort").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    )
    na = risk.filter(F.col("d") > 0).select(
        "cohort", "t", "n_risk", "d",
        F.sum(F.col("d") * 1.0 / F.col("n_risk")).over(wna).alias("h_cum"),
        F.sum(F.col("d") * 1.0 / (F.col("n_risk") * F.col("n_risk")))
        .over(wna)
        .alias("v_cum"),
    )
    return na.select(
        "cohort",
        F.col("t").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("d_events"),
        r4(F.col("h_cum")).alias("cum_hazard"),
        r4(F.sqrt(F.col("v_cum"))).alias("hazard_se"),
    )


@register(
    "simpson_paradox_check",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT c_mktsegment AS seg,
             CASE WHEN l_discount >= CAST(0.05 AS DOUBLE) THEN 1 ELSE 0 END AS hi,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
    ),
    strat AS (
      SELECT seg AS stratum, count(*) AS n,
             sum(hi) AS n_hi, sum(hi * ret) AS r_hi,
             sum(1 - hi) AS n_lo, sum((1 - hi) * ret) AS r_lo
      FROM base GROUP BY 1
      UNION ALL
      SELECT 'ALL', count(*), sum(hi), sum(hi * ret),
             sum(1 - hi), sum((1 - hi) * ret)
      FROM base
    ),
    rates AS (
      SELECT stratum, n,
             r_hi * 1.0 / n_hi AS rate_hi, r_lo * 1.0 / n_lo AS rate_lo,
             r_hi * 1.0 / n_hi - r_lo * 1.0 / n_lo AS gap
      FROM strat
    ),
    agg AS (SELECT CASE WHEN gap > 0 THEN 1 WHEN gap < 0 THEN -1 ELSE 0 END AS s
            FROM rates WHERE stratum = 'ALL')
    SELECT stratum, CAST(n AS BIGINT) AS n,
           round(rate_hi, 4) + 0.0 AS rate_high,
           round(rate_lo, 4) + 0.0 AS rate_low,
           round(gap, 4) + 0.0 AS gap,
           CAST(CASE WHEN gap > 0 THEN 1 WHEN gap < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS direction,
           CAST(CASE WHEN stratum = 'ALL' THEN 0
                     WHEN (CASE WHEN gap > 0 THEN 1 WHEN gap < 0 THEN -1
                           ELSE 0 END) * agg.s < 0 THEN 1 ELSE 0 END
                AS BIGINT) AS reversed
    FROM rates CROSS JOIN agg
    """,
)
def simpson_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-analysis audit — Simpson's-paradox screen: the association
    between high discounting (>= 0.05) and return rate, measured on the
    AGGREGATE and within each market-segment stratum, flagging strata
    whose association direction REVERSES the aggregate's (the classic
    confounding trap every metrics dashboard should run before shipping
    a 'discounts cause returns' conclusion). Pure grouped counting —
    rates are integer ratios so both engines compute identical doubles
    and the direction sign is deterministic, no rounding involved in
    the flag. One fact scan, one broadcast dimension chain, a 6-row
    result at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("hi"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        )
        .localCheckpoint()  # stratum + aggregate passes share one materialization
    )

    def _rates(df: DataFrame, label_col: Column) -> DataFrame:
        return df.groupBy(label_col.alias("stratum")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("hi").alias("n_hi"),
            F.sum(F.col("hi") * F.col("ret")).alias("r_hi"),
            F.sum(1 - F.col("hi")).alias("n_lo"),
            F.sum((1 - F.col("hi")) * F.col("ret")).alias("r_lo"),
        )

    strat = _rates(base, F.col("seg")).unionByName(_rates(base, F.lit("ALL")))
    gap = F.col("r_hi") * 1.0 / F.col("n_hi") - F.col("r_lo") * 1.0 / F.col("n_lo")
    sgn = F.when(gap > 0, 1).when(gap < 0, -1).otherwise(0)
    rates = strat.select(
        "stratum",
        F.col("n").cast("bigint").alias("n"),
        (F.col("r_hi") * 1.0 / F.col("n_hi")).alias("rate_hi"),
        (F.col("r_lo") * 1.0 / F.col("n_lo")).alias("rate_lo"),
        gap.alias("gap"),
        sgn.cast("bigint").alias("direction"),
    )
    agg_s = rates.filter(F.col("stratum") == "ALL").select(
        F.col("direction").alias("_aggs")
    )
    return rates.crossJoin(F.broadcast(agg_s)).select(  # 1-row scalar attach
        "stratum",
        "n",
        r4(F.col("rate_hi")).alias("rate_high"),
        r4(F.col("rate_lo")).alias("rate_low"),
        r4(F.col("gap")).alias("gap"),
        "direction",
        F.when(F.col("stratum") == "ALL", 0)
        .when(F.col("direction") * F.col("_aggs") < 0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("reversed"),
    )


@register(
    "jackknife_ratio_variance",
    oracle="""
    WITH pv AS MATERIALIZED (
      SELECT c_nationkey AS nat,
             sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS a,
             sum(l_extendedprice * (1 - l_discount)) AS b
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ),
    tot AS (SELECT sum(a) AS ta, sum(b) AS tb, count(*) AS g FROM pv),
    ps AS (
      SELECT g, ta, tb, (ta - a) / (tb - b) AS r
      FROM pv CROSS JOIN tot
    ),
    st AS (
      SELECT g, ta, tb, avg(r) AS rbar,
             sum(r * r) - count(*) * avg(r) * avg(r) AS ssq
      FROM ps GROUP BY 1, 2, 3
    )
    SELECT CAST(g AS BIGINT) AS n_groups,
           round(ta / tb, 4) + 0.0 AS ratio,
           round(rbar, 4) + 0.0 AS jackknife_mean,
           round((g - 1) * (rbar - ta / tb), 4) + 0.0 AS jackknife_bias,
           round(sqrt((g - 1) * 1.0 / g * greatest(ssq, CAST(0 AS DOUBLE))),
                 4) + 0.0 AS jackknife_se
    FROM st
    """,
)
def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling statistics — delete-one-group jackknife for a RATIO
    estimator (returned revenue / total revenue, groups = customer
    nations): the standard error survey statistics attaches to any
    nonlinear estimator whose closed-form variance doesn't exist. The
    whole resample is algebra over per-group totals — delete-group
    pseudovalues R₍ᵢ₎ = (A−aᵢ)/(B−bᵢ) come from ONE grouped pass plus a
    broadcast of the grand totals, never a second scan per replicate,
    so 10⁹ rows jackknife as one shuffle + a 25-row reduction (the
    at-scale answer to 'bootstrap needs 1000 passes'). Σ(r−r̄)² uses the
    same one-pass Σr²−g·r̄² form on both sides; all emissions rounded.
    The one-pass form is cancellation-prone (pseudovalues cluster
    tightly around the ratio), and FP noise could drive ssq slightly
    NEGATIVE — where DuckDB sqrt(negative) raises while Spark returns
    NaN, an asymmetric cross-engine failure. Both sqrt inputs are
    guarded with greatest(ssq, 0)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nat"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", rev).otherwise(0.0)).alias("a"),
            F.sum(rev).alias("b"),
        )
    )
    tot = pv.agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb"), F.count(F.lit(1)).alias("g")
    )
    ps = pv.crossJoin(F.broadcast(tot)).select(  # 1-row scalar attach
        "g", "ta", "tb",
        ((F.col("ta") - F.col("a")) / (F.col("tb") - F.col("b"))).alias("r"),
    )
    st = ps.groupBy("g", "ta", "tb").agg(
        F.avg("r").alias("rbar"),
        (
            F.sum(F.col("r") * F.col("r"))
            - F.count(F.lit(1)) * F.avg("r") * F.avg("r")
        ).alias("ssq"),
    )
    return st.select(
        F.col("g").cast("bigint").alias("n_groups"),
        r4(F.col("ta") / F.col("tb")).alias("ratio"),
        r4(F.col("rbar")).alias("jackknife_mean"),
        r4((F.col("g") - 1) * (F.col("rbar") - F.col("ta") / F.col("tb"))).alias(
            "jackknife_bias"
        ),
        r4(
            F.sqrt(
                (F.col("g") - 1) * F.lit(1.0) / F.col("g")
                * F.greatest(F.col("ssq"), F.lit(0.0))
            )
        ).alias("jackknife_se"),
    )


@register(
    "brier_calibration_decomposition",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT l_discount * CAST(5 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS p,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (SELECT count(*) AS n, sum(y) AS d,
                 sum((p - y) * (p - y)) AS se FROM base),
    bins AS (
      SELECT p, count(*) AS nk, sum(y) AS dk FROM base GROUP BY 1
    ),
    dec AS (
      SELECT g.n, g.d, g.se,
             sum(nk * (p - dk * 1.0 / nk) * (p - dk * 1.0 / nk)) AS rel_num,
             sum(nk * (dk * 1.0 / nk - g.d * 1.0 / g.n)
                    * (dk * 1.0 / nk - g.d * 1.0 / g.n)) AS res_num
      FROM bins CROSS JOIN g GROUP BY 1, 2, 3
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(se / n, 4) + 0.0 AS brier,
           round(rel_num / n, 4) + 0.0 AS reliability,
           round(res_num / n, 4) + 0.0 AS resolution,
           round(d * 1.0 / n * (1 - d * 1.0 / n), 4) + 0.0 AS uncertainty,
           round(rel_num / n - res_num / n + d * 1.0 / n * (1 - d * 1.0 / n), 4)
             + 0.0 AS decomposition_check
    FROM dec
    """,
)
def brier_calibration_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model calibration — Murphy's decomposition of the Brier score
    (Brier = reliability − resolution + uncertainty) for a deterministic
    probability score (p̂ = 5·discount + 0.2, 11 exact bins from the
    discount grid) predicting returns: the reliability-diagram math that
    separates 'the probabilities are miscalibrated' (reliability) from
    'the model can't discriminate' (low resolution). Binning is EXACT
    group-by on the discrete score — no float bucket edges — so per-bin
    means are integer ratios and both engines agree bit-for-bit before
    the final rounded emission; the check column replays the identity.
    One scan, one 11-group agg, one broadcast of the global scalars."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_discount") * 5.0 + 0.2).alias("p"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    ).localCheckpoint()  # global scalars + bin table share one materialization
    g = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("d"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("se"),
    )
    bins = base.groupBy("p").agg(
        F.count(F.lit(1)).alias("nk"), F.sum("y").alias("dk")
    )
    ybark = F.col("dk") * 1.0 / F.col("nk")
    ybar = F.col("d") * 1.0 / F.col("n")
    dec = (
        bins.crossJoin(F.broadcast(g))  # 1-row scalar attach
        .groupBy("n", "d", "se")
        .agg(
            F.sum(F.col("nk") * (F.col("p") - ybark) * (F.col("p") - ybark)).alias(
                "rel_num"
            ),
            F.sum(F.col("nk") * (ybark - ybar) * (ybark - ybar)).alias("res_num"),
        )
    )
    return dec.select(
        F.col("n").cast("bigint").alias("n"),
        r4(F.col("se") / F.col("n")).alias("brier"),
        r4(F.col("rel_num") / F.col("n")).alias("reliability"),
        r4(F.col("res_num") / F.col("n")).alias("resolution"),
        r4(ybar * (1 - ybar)).alias("uncertainty"),
        r4(
            F.col("rel_num") / F.col("n") - F.col("res_num") / F.col("n")
            + ybar * (1 - ybar)
        ).alias("decomposition_check"),
    )


@register(
    "kneser_ney_bigram",
    oracle="""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)),
                                '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS g
      FROM toks WHERE len(t) >= 2
    ),
    tc AS MATERIALIZED (
      SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2
    ),
    fw AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n_fw FROM tc GROUP BY 1),
    bw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_bw FROM tc GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM tc)
    SELECT tc.w1, tc.w2, c,
           round(c * 1.0 / c1, 4) + 0.0 AS p_mle,
           round(greatest(c - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / c1
                 + CAST(0.75 AS DOUBLE) * n_fw / c1 * (n_bw * 1.0 / n_types),
                 4) + 0.0 AS p_kn
    FROM tc JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN tot
    ORDER BY c DESC, tc.w1, tc.w2 LIMIT 30
    """,
)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM smoothing — interpolated Kneser-Ney bigram probabilities over
    the corpus (absolute discount D = 0.75): P(w2|w1) = max(c-D,0)/c(w1.)
    + D*N1+(w1.)/c(w1.) * N1+(.w2)/N1+(..) — the continuation-count
    smoothing every production n-gram LM uses ('how many contexts does
    w2 complete' instead of raw frequency, the fix for 'Francisco' being
    frequent but only after 'San'). Top-30 bigrams by raw count with
    MLE vs KN side by side. The corpus tokenizes and shuffles ONCE into
    (w1,w2) type counts; forward totals, continuation counts, and the
    type total all RE-AGGREGATE that counts table (mergeable across
    shards — the 100 TB shape), and the top-k is TakeOrdered, never a
    global sort. Every probability input is an integer count plus the
    shared D literal -> bit-identical doubles both engines. Whitespace
    is the PINNED class [ \\t\\n\\x0B\\f\\r] on both sides (Java \\s
    includes \\x0B, RE2 \\s does not — a \\x0B document would otherwise
    tokenize differently across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.col("text"))), "[ \t\n\x0B\f\r]+")
    bg = (
        docs.select(t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), "
                    "i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    # four consumers (forward totals, continuation counts, type total,
    # final join) re-aggregate the counts table: materialize it ONCE so
    # the corpus tokenize+explode never replays — at 100 TB the bigram
    # TYPE table is vocab²-bounded, tiny next to the token stream
    tc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint()
    fw = tc.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n_fw"),
    )
    bw = tc.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n_bw"))
    tot = tc.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    p_kn = (
        F.greatest(F.col("c") - F.lit(0.75), F.lit(0.0)) / F.col("c1")
        + F.lit(0.75) * F.col("n_fw") / F.col("c1")
        * (F.col("n_bw") * 1.0 / F.col("n_types"))
    )
    return (
        tc.join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tot))  # 1-row scalar attach
        .select(
            "w1", "w2", "c",
            r4(F.col("c") * 1.0 / F.col("c1")).alias("p_mle"),
            r4(p_kn).alias("p_kn"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(30)
    )


@register(
    "information_gain_split",
    oracle="""
    WITH j AS MATERIALIZED (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             l_linestatus, o_orderpriority,
             CASE WHEN l_quantity <= 10 THEN 'q01_10'
                  WHEN l_quantity <= 25 THEN 'q11_25'
                  WHEN l_quantity <= 40 THEN 'q26_40'
                  ELSE 'q41_50' END AS qb,
             CASE WHEN l_discount < CAST(0.03 AS DOUBLE) THEN 'low'
                  WHEN l_discount < CAST(0.07 AS DOUBLE) THEN 'mid'
                  ELSE 'high' END AS db
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    s AS MATERIALIZED (
      SELECT 'linestatus' AS feature, l_linestatus AS v, y FROM j
      UNION ALL SELECT 'orderpriority', o_orderpriority, y FROM j
      UNION ALL SELECT 'quantity_band', qb, y FROM j
      UNION ALL SELECT 'discount_band', db, y FROM j
    ),
    cnt AS (SELECT feature, v, y, count(*) AS c FROM s GROUP BY 1, 2, 3),
    cv AS (SELECT feature, v, sum(c) AS n_v FROM cnt GROUP BY 1, 2),
    hv AS (
      SELECT cnt.feature, cnt.v, n_v,
             -sum(c * 1.0 / n_v * log2(c * 1.0 / n_v)) AS h_v
      FROM cnt JOIN cv USING (feature, v) GROUP BY 1, 2, 3
    ),
    ft AS (SELECT feature, sum(n_v) AS n FROM hv GROUP BY 1),
    hc AS (
      SELECT hv.feature, count(*) AS n_values,
             sum(n_v * 1.0 / n * h_v) AS h_cond
      FROM hv JOIN ft USING (feature) GROUP BY 1
    ),
    yc AS (SELECT feature, y, count(*) AS cy FROM s GROUP BY 1, 2),
    hy AS (
      SELECT yc.feature, -sum(cy * 1.0 / n * log2(cy * 1.0 / n)) AS h_y
      FROM yc JOIN ft USING (feature) GROUP BY 1
    )
    SELECT ft.feature, CAST(n AS BIGINT) AS n,
           CAST(n_values AS BIGINT) AS n_values,
           round(h_y, 4) + 0.0 AS target_entropy,
           round(h_cond, 4) + 0.0 AS conditional_entropy,
           round(h_y - h_cond, 4) + 0.0 AS info_gain
    FROM ft JOIN hc USING (feature) JOIN hy USING (feature)
    """,
)
def information_gain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML feature screening — information gain (mutual information with
    the target) of four candidate categorical splits predicting returns:
    IG(X) = H(Y) - sum_v (n_v/N)*H(Y|X=v), the decision-tree split
    criterion / feature-selection screen. The fact table is scanned
    ONCE; the four features ride a dim-tagged explode (4n rows, one
    shuffle into (feature, value, y) counts) and every entropy reduces
    that counts table — at 100 TB only count triples move after the
    first shuffle. All probabilities are integer-count ratios; the <=5
    per-feature entropy terms sum inside round(,4)'s guard band."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    qb = (
        F.when(F.col("l_quantity") <= 10, "q01_10")
        .when(F.col("l_quantity") <= 25, "q11_25")
        .when(F.col("l_quantity") <= 40, "q26_40")
        .otherwise("q41_50")
    )
    db = (
        F.when(F.col("l_discount") < 0.03, "low")
        .when(F.col("l_discount") < 0.07, "mid")
        .otherwise("high")
    )
    s = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("linestatus").alias("feature"),
                        F.col("l_linestatus").alias("v"),
                    ),
                    F.struct(
                        F.lit("orderpriority").alias("feature"),
                        F.col("o_orderpriority").alias("v"),
                    ),
                    F.struct(F.lit("quantity_band").alias("feature"), qb.alias("v")),
                    F.struct(F.lit("discount_band").alias("feature"), db.alias("v")),
                )
            ).alias("e"),
        )
        .select(F.col("e.feature").alias("feature"), F.col("e.v").alias("v"), "y")
        .localCheckpoint()  # value counts + target marginal share one pass
    )
    # everything downstream of the first aggregation is bounded by the
    # VALUE DOMAINS (<= 28 (feature,value,y) cells, <= 14 (feature,value)
    # rows, 4 features) — broadcast explicitly so the static plan is
    # right at any scale instead of relying on AQE's runtime SMJ->BHJ
    # conversion of unknown-size post-checkpoint stats
    cnt = s.groupBy("feature", "v", "y").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint()  # 28-row cell table; its two consumers skip re-agg
    cv = cnt.groupBy("feature", "v").agg(F.sum("c").alias("n_v"))
    plogp = F.col("c") * 1.0 / F.col("n_v") * F.log2(F.col("c") * 1.0 / F.col("n_v"))
    hv = (
        cnt.join(F.broadcast(cv), ["feature", "v"])
        .groupBy("feature", "v", "n_v")
        .agg((-F.sum(plogp)).alias("h_v"))
    )
    ft = hv.groupBy("feature").agg(F.sum("n_v").alias("n"))
    hc = (
        hv.join(F.broadcast(ft), "feature")
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(F.col("n_v") * 1.0 / F.col("n") * F.col("h_v")).alias("h_cond"),
        )
    )
    yc = s.groupBy("feature", "y").agg(F.count(F.lit(1)).alias("cy"))
    pylogpy = F.col("cy") * 1.0 / F.col("n") * F.log2(F.col("cy") * 1.0 / F.col("n"))
    hy = (
        yc.join(F.broadcast(ft), "feature")
        .groupBy("feature")
        .agg((-F.sum(pylogpy)).alias("h_y"))
    )
    return (
        ft.join(F.broadcast(hc), "feature")
        .join(F.broadcast(hy), "feature")
        .select(
            "feature",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_values").cast("bigint").alias("n_values"),
            r4(F.col("h_y")).alias("target_entropy"),
            r4(F.col("h_cond")).alias("conditional_entropy"),
            r4(F.col("h_y") - F.col("h_cond")).alias("info_gain"),
        )
    )


@register(
    "filter_cascade_attrition",
    oracle="""
    WITH flags AS MATERIALIZED (
      SELECT len(string_split_regex(lower(trim(text)),
                                    '[ \\t\\n\\x0B\\f\\r]+')) AS ntok,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS f1,
             CASE WHEN length(text) > 0
                   AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                       / length(text) >= CAST(0.5 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f2,
             CASE WHEN length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]',
                                             '', 'g')) * 1.0
                       / len(string_split_regex(lower(trim(text)),
                                                '[ \\t\\n\\x0B\\f\\r]+'))
                       BETWEEN CAST(2 AS DOUBLE) AND CAST(12 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f3,
             CASE WHEN length(text) > 0
                   AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                       / length(text) <= CAST(0.2 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f4,
             CASE WHEN len(string_split_regex(lower(trim(text)),
                                              '[ \\t\\n\\x0B\\f\\r]+')) >= 30
                  THEN 1 ELSE 0 END AS f5
      FROM documents
    ),
    s AS MATERIALIZED (
      SELECT ntok, f1 AS s1, f1 * f2 AS s2, f1 * f2 * f3 AS s3,
             f1 * f2 * f3 * f4 AS s4, f1 * f2 * f3 * f4 * f5 AS s5
      FROM flags
    ),
    stg AS (
      SELECT '1_min_chars' AS stage, count(*) AS d_in, sum(s1) AS d_out,
             sum(s1 * ntok) AS tok, count(*) AS total FROM s
      UNION ALL SELECT '2_alpha_ratio', sum(s1), sum(s2), sum(s2 * ntok),
             count(*) FROM s
      UNION ALL SELECT '3_word_length', sum(s2), sum(s3), sum(s3 * ntok),
             count(*) FROM s
      UNION ALL SELECT '4_digit_ratio', sum(s3), sum(s4), sum(s4 * ntok),
             count(*) FROM s
      UNION ALL SELECT '5_min_tokens', sum(s4), sum(s5), sum(s5 * ntok),
             count(*) FROM s
    )
    SELECT stage, CAST(d_in AS BIGINT) AS docs_in,
           CAST(d_out AS BIGINT) AS docs_out,
           round(CASE WHEN d_in = 0 THEN 0.0
                      ELSE d_out * 1.0 / d_in END, 4) + 0.0 AS pass_rate,
           round(d_out * 1.0 / total, 4) + 0.0 AS cum_survival,
           CAST(tok AS BIGINT) AS tokens_out
    FROM stg
    """,
)
def filter_cascade_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-data curation — per-rule attrition funnel of a quality-filter
    cascade (the RedPajama/C4-style report: after each rule, how many
    documents and tokens survive): min length -> alphabetic ratio ->
    mean word length -> digit ratio -> min tokens, applied in order,
    with per-stage pass rate and cumulative survival. The corpus is
    scanned ONCE into per-doc flags; the five stages are conditional
    sums over that single pass (stacked, not five scans) — the exact
    shape a 100 TB curation run needs, where each rule re-reading the
    corpus is the difference between hours and days. All rates are
    integer ratios, so both engines agree exactly. Whitespace is the
    PINNED class [ \\t\\n\\x0B\\f\\r] on both sides: Java's \\s includes
    vertical tab \\x0B while RE2's does not, so a bare \\s would make
    nospace/ntok (hence f3/f5 and token totals) engine-divergent on a
    document containing \\x0B."""
    docs = load_table(spark, sf_dir, "documents")
    ws = "[ \t\n\x0B\f\r]"
    ntok = F.size(F.split(F.lower(F.trim(F.col("text"))), ws + "+"))
    ln = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    nospace = F.length(F.regexp_replace("text", ws, ""))
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    b = F.lit(1)
    f1 = F.when(F.col("n_chars") >= 200, b).otherwise(0)
    f2 = F.when((ln > 0) & (alpha * 1.0 / ln >= 0.5), b).otherwise(0)
    f3 = F.when((nospace * 1.0 / ntok).between(2.0, 12.0), b).otherwise(0)
    f4 = F.when((ln > 0) & (digits * 1.0 / ln <= 0.2), b).otherwise(0)
    f5 = F.when(ntok >= 30, b).otherwise(0)
    s = docs.select(
        ntok.alias("ntok"), f1.alias("s1"), (f1 * f2).alias("s2"),
        (f1 * f2 * f3).alias("s3"), (f1 * f2 * f3 * f4).alias("s4"),
        (f1 * f2 * f3 * f4 * f5).alias("s5"),
    )
    stg = s.select(
        "ntok",
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_min_chars").alias("stage"),
                    F.lit(1).alias("inn"), F.col("s1").alias("out"),
                ),
                F.struct(
                    F.lit("2_alpha_ratio").alias("stage"),
                    F.col("s1").alias("inn"), F.col("s2").alias("out"),
                ),
                F.struct(
                    F.lit("3_word_length").alias("stage"),
                    F.col("s2").alias("inn"), F.col("s3").alias("out"),
                ),
                F.struct(
                    F.lit("4_digit_ratio").alias("stage"),
                    F.col("s3").alias("inn"), F.col("s4").alias("out"),
                ),
                F.struct(
                    F.lit("5_min_tokens").alias("stage"),
                    F.col("s4").alias("inn"), F.col("s5").alias("out"),
                ),
            )
        ).alias("e"),
    ).select(F.col("e.stage").alias("stage"), "e.inn", "e.out", "ntok")
    agg = stg.groupBy("stage").agg(
        F.sum("inn").alias("d_in"),
        F.sum("out").alias("d_out"),
        F.sum(F.col("out") * F.col("ntok")).alias("tok"),
        F.count(F.lit(1)).alias("total"),
    )
    return agg.select(
        "stage",
        F.col("d_in").cast("bigint").alias("docs_in"),
        F.col("d_out").cast("bigint").alias("docs_out"),
        r4(
            F.when(F.col("d_in") == 0, 0.0).otherwise(
                F.col("d_out") * 1.0 / F.col("d_in")
            )
        ).alias("pass_rate"),
        r4(F.col("d_out") * 1.0 / F.col("total")).alias("cum_survival"),
        F.col("tok").cast("bigint").alias("tokens_out"),
    )


