"""Registers 25 queries:

  market_basket_lift, ewma_smoothing, autocorrelation_lags
  theil_sen_trend, lineitem_correlations, zipf_law_fit
  modularity_communities, psi_distribution_drift, ks_two_sample
  ab_test_proportions, mannwhitney_u_test, spearman_rank_correlation
  trade_graph_transitivity, streaming_scd2_enrichment, sql_api_region_revenue
  degree_powerlaw_mle, conversion_latency_quantiles, session_path_topk
  rfm_customer_segments, snapshot_rebucket_evolution, snapshot_bloom_point_skip
  bootstrap_ci_mean, trimmed_mean_stats, snapshot_tag_travel
  ngram_containment_pairs
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.operators import text as TX
from graph_db_spark.operators.aggregates import ntile_of, with_global_rank
from graph_db_spark.operators.dedup import portable_hash
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.plans.families.q00_base import (
    _drain_to_memory, _poly_sql, _scratch_dir, r4, register,
)
from graph_db_spark.plans.families.q03_dedup_bounds_gate import _metric_rows
from graph_db_spark.plans.families.q05_scd2_graph_ivm import (
    _LPA_ROUNDS, _lpa_cte, _lpa_edges_labels,
)
from graph_db_spark.tables import load_table, register_views
from graph_db_spark.util import spread
from graph_db_spark.writers.snapshots import SnapshotTable


@register(
    "market_basket_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT count(DISTINCT o) AS n FROM items),
    bc AS (SELECT b, count(*) AS nb FROM items GROUP BY 1),
    pairs AS (
      SELECT a.b AS ba, c.b AS bb, count(*) AS nboth
      FROM items a JOIN items c ON a.o = c.o AND a.b < c.b
      GROUP BY 1, 2
    )
    SELECT ba AS brand_a, bb AS brand_b, CAST(nboth AS BIGINT) AS n_both,
           round(nboth * 1.0 / n.n, 4) AS support,
           round(nboth * 1.0 / x.nb, 4) AS confidence,
           round(nboth * 1.0 * n.n / (x.nb * y.nb), 4) AS lift
    FROM pairs JOIN bc x ON pairs.ba = x.b JOIN bc y ON pairs.bb = y.b
               CROSS JOIN n
    ORDER BY nboth * 1.0 * n.n / (x.nb * y.nb) DESC, ba, bb LIMIT 20
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining — market-basket support / confidence /
    lift over brand pairs co-purchased in one order (the Apriori
    first-pass; at brand granularity the statistics are dense enough to
    rank). Plan shape is the canonical bounded pair mine: distinct
    (order, brand) baskets — one shuffle — then a per-order self-join
    whose fan-out is capped by basket size (≤ 25 brands/order; the
    ngram-dedup family's big-block guard pattern applies if a basket
    key were unbounded), count aggregation, and |brands|-sized count
    tables broadcast back for the ratio math. All ratios are
    int-over-int divisions with identical expression structure in both
    engines. Top-20 by lift, deterministic brand tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(dim_hint(p, bounded=False), on=li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds n, bc, and both pair sides
    )
    n = items.select("o").distinct().count()  # 1-row scalar probe
    bc = items.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    a, c = items.alias("a"), items.alias("c")
    pairs = (
        a.join(c, on=[F.col("a.o") == F.col("c.o"), F.col("a.b") < F.col("c.b")])
        .groupBy(F.col("a.b").alias("ba"), F.col("c.b").alias("bb"))
        .agg(F.count(F.lit(1)).alias("nboth"))
    )
    x = bc.select(F.col("b").alias("ba"), F.col("nb").alias("na"))
    y = bc.select(F.col("b").alias("bb"), F.col("nb").alias("nb2"))
    lift = F.col("nboth") * 1.0 * n / (F.col("na") * F.col("nb2"))
    scored = pairs.join(F.broadcast(x), on="ba").join(F.broadcast(y), on="bb")
    return (
        scored.orderBy(lift.desc(), "ba", "bb")
        .limit(20)
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("nboth").cast("bigint").alias("n_both"),
            r4(F.col("nboth") * 1.0 / n).alias("support"),
            r4(F.col("nboth") * 1.0 / F.col("na")).alias("confidence"),
            r4(lift).alias("lift"),
        )
    )


_EWMA_ALPHA = 0.3


@register(
    "ewma_smoothing",
    oracle=f"""
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, sum(value) AS x
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
      FROM d
    ),
    s AS (
      SELECT event_type, day, x, t,
             sum(x * power(1.0 / {1 - _EWMA_ALPHA}, t))
               OVER (PARTITION BY event_type ORDER BY t) AS acc,
             first_value(x) OVER (PARTITION BY event_type ORDER BY t) AS x0
      FROM r
    )
    SELECT event_type, day,
           round(power({1 - _EWMA_ALPHA}, t)
                 * ({_EWMA_ALPHA} * (acc - x0) + x0), 2) + 0.0 AS ewma
    FROM s
    """,
)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — exponentially weighted moving average (α=0.3,
    ewma₀ = x₀) over the per-type daily value series, WITHOUT a
    sequential fold: the recurrence ewmaₜ = α·xₜ + (1−α)·ewmaₜ₋₁ has
    the closed form (1−α)ᵗ·(α·Σᵢ₌₁..ₜ xᵢ(1−α)⁻ⁱ + x₀), so one
    cumulative-sum window over u = x·(1−α)⁻ᵗ computes every point —
    the same one-shuffle cost as any per-series window, where the naive
    recursion needs applyInPandas (CUSUM covers that genuinely
    order-dependent family; EWMA is the fold that DOESN'T need it).
    Numerical guard: (1−α)⁻ᵗ grows 1.43ᵗ, so the rescaling costs
    ~t·log₂(1.43) ≈ 15 bits at t=29 — exact to ~1e-11 relative on the
    fixture's month of days; an unbounded series would switch to
    per-chunk re-anchoring, documented here rather than silently
    degrading. Windows partition by series — never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    a = _EWMA_ALPHA
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.sum("value").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    r = d.withColumn("t", F.row_number().over(w) - 1)
    wcum = Window.partitionBy("event_type").orderBy("t")
    s = r.withColumn(
        "acc", F.sum(F.col("x") * F.pow(F.lit(1.0 / (1 - a)), F.col("t"))).over(wcum)
    ).withColumn("x0", F.first("x").over(wcum))
    # emitted at 2 decimals, not the usual r4: the closed form amplifies
    # the engines' summation-order noise by (1−α)⁻ᵗ (~3e4 at t=29 →
    # ~1e-8 jitter on a ~3e3 value), and with 150 emitted reals one
    # landed exactly on a 5e-5 round() boundary at sf0.01. Two decimals
    # put the boundary 5e5× above the jitter.
    return s.select(
        "event_type",
        "day",
        (
            F.round(
                F.pow(F.lit(1 - a), F.col("t"))
                * (F.lit(a) * (F.col("acc") - F.col("x0")) + F.col("x0")),
                2,
            )
            + F.lit(0.0)
        ).alias("ewma"),
    )


@register(
    "autocorrelation_lags",
    oracle="""
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, sum(value) AS x
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, x,
             lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
             lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2,
             lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS x3
      FROM d
    ),
    a AS (
      SELECT event_type,
             corr(x, x1) AS c1, CAST(count(x1) AS BIGINT) AS n1,
             corr(x, x2) AS c2, CAST(count(x2) AS BIGINT) AS n2,
             corr(x, x3) AS c3, CAST(count(x3) AS BIGINT) AS n3
      FROM l GROUP BY 1
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
           round(acf, 4) + 0.0 AS acf
    FROM (
      SELECT event_type, 1 AS lag, n1 AS n_pairs, c1 AS acf FROM a
      UNION ALL SELECT event_type, 2, n2, c2 FROM a
      UNION ALL SELECT event_type, 3, n3, c3 FROM a
    )
    """,
)
def autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — sample autocorrelation of the per-type daily revenue
    series at lags 1..3, the ACF head a seasonality detector reads. No
    self-join: `lag(x, k)` window columns align each point with its
    k-back neighbor inside ONE per-series sort, then `corr(x, x_k)` is a
    hash aggregate — so the whole ACF costs one event_type shuffle
    regardless of how many lags are emitted (a lag-join formulation pays
    a shuffle per lag). Pairwise-complete semantics (first k rows of each
    series drop out via corr's null handling) match DuckDB exactly. The
    lag-wide→long unpivot is a metadata-only union of three projections.
    -0.0 guard on the rounded corr (a tiny negative ACF rounds to zero)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.sum("value").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagd = d.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
        F.lag("x", 3).over(w).alias("x3"),
    )
    a = lagd.groupBy("event_type").agg(
        *[
            e
            for k in (1, 2, 3)
            for e in (
                F.corr("x", f"x{k}").alias(f"c{k}"),
                F.count(f"x{k}").cast("bigint").alias(f"n{k}"),
            )
        ]
    )
    rows = [
        a.select(
            "event_type",
            F.lit(k).cast("bigint").alias("lag"),
            F.col(f"n{k}").alias("n_pairs"),
            r4(F.col(f"c{k}")).alias("acf"),
        )
        for k in (1, 2, 3)
    ]
    return rows[0].unionByName(rows[1]).unionByName(rows[2])


@register(
    "theil_sen_trend",
    oracle="""
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, sum(value) AS x
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
                  AS DOUBLE) AS t
      FROM d
    ),
    s AS (
      SELECT a.event_type, (b.x - a.x) / (b.t - a.t) AS slope
      FROM r a JOIN r b ON a.event_type = b.event_type AND a.t < b.t
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           round(median(slope), 4) + 0.0 AS sen_slope
    FROM s GROUP BY 1
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — Theil-Sen robust trend: the median of all pairwise
    slopes (x_j−x_i)/(t_j−t_i) of each type's daily revenue series,
    insensitive to the outlier days that wreck an OLS fit
    (forecast_revenue is the OLS twin). The pair join is per-series and
    day-bounded — d days → d(d−1)/2 slope rows (~400 for a month), so
    "quadratic" here is quadratic in DAYS, never in events; an unbounded
    series would chunk by window first (the market-basket basket-size
    bound, same discipline). One series-key shuffle feeds the rank, the
    pair join, and the median. Exact interpolated median on both engines
    (Spark `percentile` == DuckDB `median` on doubles)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.sum("value").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    r = d.select(
        "event_type", "x", (F.row_number().over(w) - 1).cast("double").alias("t")
    )
    a = r.alias("a")
    b = r.select(
        F.col("event_type").alias("et"), F.col("x").alias("xb"), F.col("t").alias("tb")
    ).alias("b")
    s = a.join(
        b, (F.col("a.event_type") == F.col("et")) & (F.col("a.t") < F.col("tb"))
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("xb") - F.col("a.x")) / (F.col("tb") - F.col("a.t"))).alias("slope"),
    )
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.round(F.expr("percentile(slope, 0.5)"), 4) + F.lit(0.0)).alias("sen_slope"),
    )


@register(
    "lineitem_correlations",
    oracle="""
    SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           round(corr(l_quantity, l_discount), 4) + 0.0 AS corr_qty_disc,
           round(corr(l_extendedprice, l_discount), 4) + 0.0 AS corr_price_disc,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0
             AS covar_qty_price
    FROM lineitem GROUP BY 1
    """,
)
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — grouped Pearson correlation matrix over the lineitem
    measures (the one-pass relationship profile a feature-engineering
    sweep starts with). `corr`/`covar_samp` are single-pass streaming
    aggregates in both engines — co-moments accumulate map-side, so the
    whole 4-cell matrix costs exactly one returnflag shuffle of 6 partial
    states, never a per-pair scan. Adding measures widens the aggregate
    list, not the pass count. Sample (n−1) semantics on both sides; -0.0
    guard on every rounded cell (a near-zero correlation can round to
    negative zero)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r4(F.corr("l_quantity", "l_discount")).alias("corr_qty_disc"),
        r4(F.corr("l_extendedprice", "l_discount")).alias("corr_price_disc"),
        r4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qty_price"),
    )


@register(
    "zipf_law_fit",
    oracle="""
    WITH toks AS (
      SELECT lang,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    freq AS (
      SELECT lang, token, count(*) AS f FROM toks GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, f,
             row_number() OVER (PARTITION BY lang ORDER BY f DESC, token) AS rnk
      FROM freq
    ),
    pts AS (
      SELECT lang, ln(CAST(rnk AS DOUBLE)) AS lx, ln(CAST(f AS DOUBLE)) AS ly
      FROM ranked WHERE rnk <= 100
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ly, lx), 4) + 0.0 AS zipf_slope,
           round(regr_intercept(ly, lx), 4) + 0.0 AS zipf_intercept,
           round(regr_r2(ly, lx), 4) + 0.0 AS r2
    FROM pts GROUP BY 1
    """,
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — Zipf's-law fit per language: OLS of ln(freq) on
    ln(rank) over each language's top-100 terms (natural text slopes
    ≈ −1; a flat or cliffed curve flags templated/synthetic corpora —
    the cheap generated-text detector). Plan: one (lang, token) count
    with map-side combine, a per-lang top-k window on the VOCABULARY
    (≪ corpus — the sort input is the distinct-term table), then
    `regr_slope/intercept/r2` as single-pass co-moment aggregates over
    ≤100 points per lang. Rank ties break on token asc, so both engines
    rank — and therefore fit — identically."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("f"), "token")
    pts = (
        freq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 100)
        .select(
            "lang",
            F.log(F.col("rnk").cast("double")).alias("lx"),
            F.log(F.col("f").cast("double")).alias("ly"),
        )
    )
    return pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        r4(F.regr_slope("ly", "lx")).alias("zipf_slope"),
        r4(F.regr_intercept("ly", "lx")).alias("zipf_intercept"),
        r4(F.regr_r2("ly", "lx")).alias("r2"),
    )


@register(
    "modularity_communities",
    oracle="WITH "
    + _lpa_cte()
    + f""",
    nl AS (SELECT node, label FROM lab{_LPA_ROUNDS}),
    deg AS (SELECT u AS node, count(*) AS d FROM ed GROUP BY 1),
    m AS (SELECT count(*) AS m FROM e),
    internal AS (
      SELECT la.label AS c, count(*) AS li
      FROM e JOIN nl la ON e.u = la.node
             JOIN nl lb ON e.v = lb.node AND la.label = lb.label
      GROUP BY 1
    ),
    per AS (
      SELECT g.c, g.n_nodes, coalesce(i.li, 0) AS li, g.dc,
             coalesce(i.li, 0) * 1.0 / m.m
               - power(g.dc * 1.0 / (2 * m.m), 2) AS q
      FROM (SELECT l.label AS c, count(*) AS n_nodes, sum(d) AS dc
            FROM nl l JOIN deg ON deg.node = l.node GROUP BY 1) g
      LEFT JOIN internal i ON i.c = g.c CROSS JOIN m
    )
    SELECT CAST(c AS BIGINT) AS community, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(li AS BIGINT) AS internal_edges, CAST(dc AS BIGINT) AS degree_sum,
           round(q, 4) + 0.0 AS q_contrib
    FROM per
    UNION ALL
    SELECT -1, CAST((SELECT count(*) FROM nl) AS BIGINT),
           CAST((SELECT m FROM m) AS BIGINT),
           CAST(2 * (SELECT m FROM m) AS BIGINT),
           round((SELECT sum(q) FROM per), 4) + 0.0
    """,
)
def modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph — Newman modularity of the LPA community assignment:
    Q = Σ_c [L_c/m − (D_c/2m)²] (L_c edges inside c, D_c its degree
    mass, m total edges) — the standard "are these communities real"
    score, computed on EXACTLY the assignment label_propagation reports
    (shared _lpa_edges_labels loop / _lpa_cte oracle). Cost beyond LPA
    itself: the checkpointed edge list joins the narrow (node, label)
    table twice (u then v side) plus two node-key aggregates — all
    hash joins on graph keys, no new quadratic term, so modularity adds
    O(E) work to any community algorithm it audits. Per-community
    contribution rows plus a community=-1 total row (n_nodes=|V|,
    internal_edges=m, degree_sum=2m there — the handshake identity)."""
    e, ed, labels = _lpa_edges_labels(spark, sf_dir, keep_edges=True)
    labels = labels.localCheckpoint(eager=True)  # u-join, v-join, degree agg
    m = e.count()  # 1-row scalar probe (total undirected edges)
    deg = ed.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    la = labels.select(F.col("node").alias("nu"), F.col("label").alias("lu"))
    lb = labels.select(F.col("node").alias("nv"), F.col("label").alias("lv"))
    internal = (
        e.join(la, e.u == F.col("nu"))
        .join(lb, (e.v == F.col("nv")) & (F.col("lu") == F.col("lv")))
        .groupBy(F.col("lu").alias("c"))
        .agg(F.count(F.lit(1)).alias("li"))
    )
    g = (
        labels.join(deg, on="node")
        .groupBy(F.col("label").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("dc"))
    )
    per = g.join(internal, on="c", how="left").select(
        "c",
        "n_nodes",
        F.coalesce(F.col("li"), F.lit(0)).alias("li"),
        "dc",
        (
            F.coalesce(F.col("li"), F.lit(0)) * 1.0 / m
            - F.pow(F.col("dc") * 1.0 / (2 * m), F.lit(2))
        ).alias("q"),
    )
    per = per.localCheckpoint(eager=True)  # detail rows + the total fold
    n_nodes_total = labels.count()  # 1-row scalar probe
    total = per.agg(r4(F.sum("q")).alias("qt")).select(
        F.lit(-1).cast("bigint").alias("community"),
        F.lit(n_nodes_total).cast("bigint").alias("n_nodes"),
        F.lit(m).cast("bigint").alias("internal_edges"),
        F.lit(2 * m).cast("bigint").alias("degree_sum"),
        F.col("qt").alias("q_contrib"),
    )
    detail = per.select(
        F.col("c").cast("bigint").alias("community"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("li").cast("bigint").alias("internal_edges"),
        F.col("dc").cast("bigint").alias("degree_sum"),
        r4(F.col("q")).alias("q_contrib"),
    )
    return detail.unionByName(total)


@register(
    "psi_distribution_drift",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN extract(day FROM ts) <= 15 THEN 'ref' ELSE 'cur' END AS g
      FROM events
    ),
    th AS (
      SELECT event_type,
             quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS t
      FROM e WHERE g = 'ref' GROUP BY 1
    ),
    binned AS (
      SELECT e.event_type, g,
             len(list_filter(t, x -> x < value)) AS bin
      FROM e JOIN th ON e.event_type = th.event_type
    ),
    cnt AS (
      SELECT event_type, bin,
             count(*) FILTER (WHERE g = 'ref') AS nr,
             count(*) FILTER (WHERE g = 'cur') AS nc
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(nr) AS tr, sum(nc) AS tc FROM cnt GROUP BY 1
    ),
    terms AS (
      SELECT cnt.event_type,
             (cnt.nr + 0.5) / (tot.tr + 5.0) AS p,
             (cnt.nc + 0.5) / (tot.tc + 5.0) AS q,
             tot.tr AS tr, tot.tc AS tc
      FROM cnt JOIN tot ON cnt.event_type = tot.event_type
    )
    SELECT event_type, CAST(any_value(tr) AS BIGINT) AS n_ref,
           CAST(any_value(tc) AS BIGINT) AS n_cur,
           round(sum((p - q) * ln(p / q)), 4) + 0.0 AS psi
    FROM terms GROUP BY 1
    """,
)
def psi_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift — Population Stability Index per event type between the
    month's first half (reference window) and second half (current): the
    standard production drift gate (PSI < 0.1 stable, > 0.25 shifted).
    Bins are the REFERENCE deciles — quantile binning, so PSI is
    scale-free — with 0.5/5 Laplace smoothing so an empty bin
    contributes a finite term (encoded identically both engines). Plan:
    one grouped-percentile pass builds the |types|×9 threshold table,
    broadcast back for bin assignment (a 9-element filtered-array count
    — in-task, codegen), then two narrow aggregates. Threshold
    comparisons are strict `<` on identically-interpolated doubles, so
    bin membership is bit-deterministic. This quantile-binned shape is
    also the 100 TB path where the exact-ECDF KS below must degrade."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.dayofmonth("ts") <= 15, "ref").otherwise("cur").alias("g"),
    )
    th = (
        ev.filter(F.col("g") == "ref")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
            ).alias("t")
        )
    )
    binned = ev.join(F.broadcast(th), on="event_type").select(
        "event_type",
        "g",
        F.size(F.filter(F.col("t"), lambda x: x < F.col("value"))).alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("g") == "ref", 1)).alias("nr"),
        F.count(F.when(F.col("g") == "cur", 1)).alias("nc"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("nr").alias("tr"), F.sum("nc").alias("tc")
    )
    terms = cnt.join(F.broadcast(tot), on="event_type").select(
        "event_type",
        ((F.col("nr") + 0.5) / (F.col("tr") + 5.0)).alias("p"),
        ((F.col("nc") + 0.5) / (F.col("tc") + 5.0)).alias("q"),
        "tr",
        "tc",
    )
    return terms.groupBy("event_type").agg(
        F.first("tr").cast("bigint").alias("n_ref"),
        F.first("tc").cast("bigint").alias("n_cur"),
        r4(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))).alias(
            "psi"
        ),
    )


@register(
    "ks_two_sample",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN extract(day FROM ts) <= 15 THEN 1 ELSE 0 END AS is_ref
      FROM events
    ),
    pv AS (
      SELECT event_type, value,
             sum(is_ref) AS nr, sum(1 - is_ref) AS nc
      FROM e GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(nr) AS tr, sum(nc) AS tc FROM pv GROUP BY 1
    ),
    cdf AS (
      SELECT pv.event_type,
             sum(nr) OVER (PARTITION BY pv.event_type ORDER BY value) * 1.0
               / tot.tr AS fr,
             sum(nc) OVER (PARTITION BY pv.event_type ORDER BY value) * 1.0
               / tot.tc AS fc,
             tot.tr AS tr, tot.tc AS tc
      FROM pv JOIN tot ON pv.event_type = tot.event_type
    )
    SELECT event_type, CAST(any_value(tr) AS BIGINT) AS n_ref,
           CAST(any_value(tc) AS BIGINT) AS n_cur,
           round(max(abs(fr - fc)), 4) AS ks_stat
    FROM cdf GROUP BY 1
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift — exact two-sample Kolmogorov-Smirnov statistic per type
    (max ECDF gap between the month's first and second half), PSI's
    bin-free companion. Tie-correct: rows collapse to per-(type, value)
    counts FIRST, so both ECDFs step once per distinct value and the sup
    is evaluated after each full step — the textbook treatment of tied
    observations. The running sums ride one per-type window sort over
    the DISTINCT-value table (≪ events when values repeat). Honest
    scale note: a per-key ordered window is a per-key sort — at 100 TB
    per-key cardinalities this becomes the quantile-binned approximation
    (psi_distribution_drift's shape); the exact form is the
    verification-scale oracle for it."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("is_ref"),
    )
    pv = ev.groupBy("event_type", "value").agg(
        F.sum("is_ref").alias("nr"), F.sum(1 - F.col("is_ref")).alias("nc")
    )
    tot = pv.groupBy("event_type").agg(
        F.sum("nr").alias("tr"), F.sum("nc").alias("tc")
    )
    w = Window.partitionBy("event_type").orderBy("value")
    cdf = pv.join(F.broadcast(tot), on="event_type").select(
        "event_type",
        (F.sum("nr").over(w) * 1.0 / F.col("tr")).alias("fr"),
        (F.sum("nc").over(w) * 1.0 / F.col("tc")).alias("fc"),
        "tr",
        "tc",
    )
    return cdf.groupBy("event_type").agg(
        F.first("tr").cast("bigint").alias("n_ref"),
        F.first("tc").cast("bigint").alias("n_cur"),
        r4(F.max(F.abs(F.col("fr") - F.col("fc")))).alias("ks_stat"),
    )


_POIS1_CDF = (  # Poisson(1) CDF at k=0..4 — identical literals both engines
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
)


@register(
    "ab_test_proportions",
    oracle="""
    WITH e AS (
      SELECT dayofweek(ts) AS dow,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    g AS (
      SELECT dow,
             sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN grp = 'a' THEN conv ELSE 0 END) AS xa,
             sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN grp = 'b' THEN conv ELSE 0 END) AS xb
      FROM e GROUP BY 1
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(xa * 1.0 / na, 4) AS p_a, round(xb * 1.0 / nb, 4) AS p_b,
           round((xa * 1.0 / na - xb * 1.0 / nb)
                 / sqrt(((xa + xb) * 1.0 / (na + nb))
                        * (1 - (xa + xb) * 1.0 / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 4) + 0.0 AS z,
           CAST(CASE WHEN abs((xa * 1.0 / na - xb * 1.0 / nb)
                 / sqrt(((xa + xb) * 1.0 / (na + nb))
                        * (1 - (xa + xb) * 1.0 / (na + nb))
                        * (1.0 / na + 1.0 / nb))) > 1.96
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM g
    """,
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — the two-proportion z-test, grouped: conversion
    (purchase share) of cohort A (even user ids) vs cohort B (odd) per
    day-of-week, with the pooled-variance z and a |z|>1.96 significance
    flag — the A/B-test readout, computed entirely from four grouped
    counters (one shuffle, map-side combined; the test statistic is
    driver-free closed-form arithmetic on the aggregate row). All inputs
    to the float math are exact integer counts, so both engines derive
    bit-identical z values; chi_square_independence is the k×m
    generalization, ks/psi the distributional cousins."""
    # DuckDB dayofweek is 0-6 Sunday-first; Spark's is 1-7 — map explicitly
    ev = load_table(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("grp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    g = ev.groupBy("dow").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "a", F.col("conv")).otherwise(0)).alias("xa"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("grp") == "b", F.col("conv")).otherwise(0)).alias("xb"),
    )
    pa = F.col("xa") * 1.0 / F.col("na")
    pb = F.col("xb") * 1.0 / F.col("nb")
    pp = (F.col("xa") + F.col("xb")) * 1.0 / (F.col("na") + F.col("nb"))
    z = (pa - pb) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    return g.select(
        F.col("dow").cast("bigint").alias("dow"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        r4(pa).alias("p_a"),
        r4(pb).alias("p_b"),
        r4(z).alias("z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("bigint").alias("significant"),
    )


@register(
    "mannwhitney_u_test",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN extract(day FROM ts) <= 15 THEN 1 ELSE 0 END AS is_ref
      FROM events
    ),
    pv AS (
      SELECT event_type, value,
             sum(is_ref) AS nr, sum(1 - is_ref) AS nc
      FROM e GROUP BY 1, 2
    ),
    rk AS (
      SELECT event_type, nr, nc, nr + nc AS t,
             sum(nr + nc) OVER (PARTITION BY event_type ORDER BY value)
               - (nr + nc) AS below
      FROM pv
    ),
    st AS (
      SELECT event_type,
             sum(nr) AS n1, sum(nc) AS n2,
             sum(nr * (below + (t + 1) / 2.0)) AS r1,
             sum(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM rk GROUP BY 1
    )
    SELECT event_type, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
           round(r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0, 4) AS u_stat,
           round((r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0
                  - CAST(n1 AS DOUBLE) * n2 / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                        * ((n1 + n2 + 1.0)
                           - ties / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) + 0.0
             AS z
    FROM st
    """,
)
def mannwhitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Mann-Whitney U (Wilcoxon rank-sum) per event type
    between the month's halves: the NONPARAMETRIC location test the
    parametric z/t tests can't replace under skew, with textbook
    midrank tie handling AND the tie-corrected variance. Rank sums come
    from the same per-(type, distinct value) collapse as the KS query —
    `below + (t+1)/2` is the average rank of a tie group, so no
    row-level ranking ever happens: the window sorts the DISTINCT-value
    table. Every input to the statistic is integer counts → both
    engines compute bit-identical U and z. Magnitude discipline
    (SCALE.md §33): the tie cube Σ(t³−t) sums in decimal vs HUGEINT
    (t is a per-value corpus count — int64 dies at t≈2.1e6); the
    U/μ/σ² products n₁(n₁+1), n₁n₂ are float-context and take the
    double-first form both engines share."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("is_ref"),
    )
    pv = ev.groupBy("event_type", "value").agg(
        F.sum("is_ref").alias("nr"), F.sum(1 - F.col("is_ref")).alias("nc")
    )
    w = Window.partitionBy("event_type").orderBy("value")
    t = F.col("nr") + F.col("nc")
    rk = pv.select(
        "event_type",
        "nr",
        "nc",
        t.alias("t"),
        (F.sum(t).over(w) - t).alias("below"),
    )
    # SCALE.md §33: the tie cube t³ is exact-context (both engines must
    # sum the identical integer) → decimal operand-first; the U/μ/σ
    # products are float-context (they feed the double statistic) →
    # double-first, bit-identical below 2^53 and overflow-free above
    dec = "decimal(38,0)"
    tdec = F.col("t").cast(dec)
    st = rk.groupBy("event_type").agg(
        F.sum("nr").alias("n1"),
        F.sum("nc").alias("n2"),
        F.sum(F.col("nr") * (F.col("below") + (F.col("t") + 1) / 2.0)).alias("r1"),
        F.sum(tdec * tdec * tdec - tdec).alias("ties"),
    )
    u = F.col("r1") - F.col("n1").cast("double") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1").cast("double") * F.col("n2") / 2.0
    sig = F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n1") + F.col("n2") + 1.0)
            - F.col("ties")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2") - 1.0))
        )
    )
    return st.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_ref"),
        F.col("n2").cast("bigint").alias("n_cur"),
        r4(u).alias("u_stat"),
        r4((u - mu) / sig).alias("z"),
    )


@register(
    "spearman_rank_correlation",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS flag, l_quantity AS q, l_extendedprice AS p
      FROM lineitem
    ),
    rq AS (
      SELECT flag, q,
             sum(count(*)) OVER (PARTITION BY flag ORDER BY q)
               - count(*) + (count(*) + 1) / 2.0 AS r
      FROM li GROUP BY flag, q
    ),
    rp AS (
      SELECT flag, p,
             sum(count(*)) OVER (PARTITION BY flag ORDER BY p)
               - count(*) + (count(*) + 1) / 2.0 AS r
      FROM li GROUP BY flag, p
    ),
    ranked AS (
      SELECT li.flag, rq.r AS r1, rp.r AS r2
      FROM li JOIN rq ON li.flag = rq.flag AND li.q = rq.q
              JOIN rp ON li.flag = rp.flag AND li.p = rp.p
    )
    SELECT flag, CAST(count(*) AS BIGINT) AS n,
           round(corr(r1, r2), 4) + 0.0 AS spearman_rho
    FROM ranked GROUP BY 1
    """,
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Spearman's ρ per return flag (quantity vs price):
    Pearson correlation of MIDRANKS, the tie-correct general form (the
    6Σd² shortcut is wrong under ties, and l_quantity is massively
    tied). Ranks come from the Mann-Whitney trick: collapse to distinct
    values per group, one window cumsum gives every tie group's midrank
    — so the rank "sort" runs over the DISTINCT-value tables (50-ish
    quantities, the price vocabulary), never a per-row ranking of the
    fact stream; the fact table then picks its ranks up via two
    hash joins and feeds one co-moment corr aggregate. Midranks are
    exact multiples of 0.5 → bit-identical inputs on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
    )

    def midranks(col: str) -> DataFrame:
        g = li.groupBy("flag", col).agg(F.count(F.lit(1)).alias("t"))
        w = Window.partitionBy("flag").orderBy(col)
        return g.select(
            "flag",
            col,
            (
                F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0
            ).alias(f"r_{col}"),
        )

    ranked = li.join(midranks("q"), on=["flag", "q"]).join(
        midranks("p"), on=["flag", "p"]
    )
    return ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.corr("r_q", "r_p")).alias("spearman_rho"),
    )


@register(
    "trade_graph_transitivity",
    oracle="""
    -- every multiply-referenced CTE is MATERIALIZED: DuckDB inlines
    -- plain CTEs per reference, so the un-materialized form re-ran the
    -- corpus-wide 4-way volume join inside EACH of e1/e2/e3 of the
    -- triangle join and each scalar subquery (sf0.1 sweep: >2 min ->
    -- 0.8 s materialized; result identical)
    WITH vol AS MATERIALIZED (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v, sum(l.l_quantity) AS q
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    und AS MATERIALIZED (
      SELECT least(u, v) AS a, greatest(u, v) AS b, sum(q) AS q
      FROM vol GROUP BY 1, 2
    ),
    med AS MATERIALIZED (SELECT median(q) AS m FROM und),
    e AS MATERIALIZED (SELECT a, b FROM und, med WHERE q > med.m),
    ed AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    tri AS (
      SELECT count(*) AS n3
      FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    deg AS MATERIALIZED (SELECT u, count(*) AS d FROM ed GROUP BY 1),
    wed AS (SELECT sum(d * (d - 1) / 2) AS nw FROM deg)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT n3 FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT nw FROM wed) AS BIGINT) AS n_wedges,
           round(3.0 * (SELECT n3 FROM tri) / (SELECT nw FROM wed), 4)
             AS transitivity
    """,
)
def trade_graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph — global transitivity (3·triangles / wedges) of the
    inter-nation trade graph, thresholded at the MEDIAN undirected edge
    volume so the topology is scale-invariant (an absolute cutoff would
    change the graph with SF — the scc_trade_partners discipline).
    local_clustering_coeff is the per-node version on the big
    co-occurrence graph; this is the one-number global summary, and on
    the nation graph the triangle join is dimension-sized — the
    heavyweight volume aggregation (the only corpus-wide pass) happens
    BEFORE any graph work. Oriented a<b triangle enumeration counts
    each exactly once; wedges from the degree identity Σd(d−1)/2."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim_hint(c, bounded=False), F.col("o_custkey") == c.c_custkey)
        .join(dim_hint(s, bounded=False), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(F.sum("l_quantity").alias("q"))
    )
    und = (
        vol.groupBy(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .agg(F.sum("q").alias("q"))
        .localCheckpoint(eager=True)  # median probe + edge filter
    )
    m = und.agg(F.expr("percentile(q, 0.5)").alias("m")).collect()[0]["m"]
    e = und.filter(F.col("q") > m).select("a", "b").localCheckpoint(eager=True)
    ed = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.a") == F.col("e1.a")) & (F.col("e2.b") > F.col("e1.b")),
        )
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .count()
    )
    deg = ed.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("nw"),
    ).collect()[0]
    n_edges = e.count()
    return spark.range(1).select(
        F.lit(stats["nn"]).cast("bigint").alias("n_nodes"),
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.lit(tri).cast("bigint").alias("n_triangles"),
        F.lit(stats["nw"]).cast("bigint").alias("n_wedges"),
        r4(F.lit(3.0 * tri / stats["nw"])).alias("transitivity"),
    )


@register(
    "streaming_scd2_enrichment",
    oracle="""
    WITH h AS (SELECT * FROM events WHERE extract(day FROM ts) <= 15),
    ordered AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             event_id
      FROM h
    ),
    seg AS (
      SELECT user_id, event_type, ts,
             count(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg_id
      FROM ordered
    ),
    spans AS (
      SELECT user_id, event_type AS state, seg_id, min(ts) AS vf
      FROM seg GROUP BY 1, 2, 3
    ),
    scd2 AS (
      SELECT user_id, state, vf,
             lead(vf) OVER (PARTITION BY user_id ORDER BY seg_id) AS vt
      FROM spans
    ),
    cur AS (
      SELECT e.ts, e.value, s.state
      FROM events e LEFT JOIN scd2 s
        ON e.user_id = s.user_id AND e.ts >= s.vf
           AND (s.vt IS NULL OR e.ts < s.vt)
      WHERE extract(day FROM e.ts) > 15 AND e.event_type = 'purchase'
    )
    SELECT coalesce(state, '<unknown>') AS state_at_purchase,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS purchase_value
    FROM cur GROUP BY 1, 2
    """,
)
def streaming_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming × SCD2 — POINT-IN-TIME enrichment: second-half
    purchase events stream through a stream-static LEFT join against
    the SCD2 state history built from the month's first half, matched
    AS OF each purchase's event time (valid_from ≤ ts < valid_to, open
    current spans) — the "what state was this user in when they bought"
    join that naive current-state enrichment gets wrong for late or
    replayed events. Stream-static joins are stateless per micro-batch,
    so this costs a per-batch hash join against the (broadcastable)
    dimension history — no state store, no watermark coupling; the
    batch twin is scd2_lookup_join. Purchases before any span or for
    users with no first-half history report '<unknown>' (the LEFT
    contract, oracle-encoded)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.filter(F.dayofmonth("ts") <= 15)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    marker = F.when(prev.isNull() | (prev != F.col("event_type")), 1)
    seg = h.select(
        "user_id", "event_type", "ts",
        F.count(marker).over(w).alias("seg_id"),
    )
    spans = seg.groupBy("user_id", "event_type", "seg_id").agg(
        F.min("ts").alias("vf")
    )
    w2 = Window.partitionBy("user_id").orderBy("seg_id")
    scd2 = spans.select(
        F.col("user_id").alias("s_user"),
        F.col("event_type").alias("state"),
        "vf",
        F.lead("vf").over(w2).alias("vt"),
    ).localCheckpoint(eager=True)  # frozen dimension history for every batch
    d = _scratch_dir("stream_scd2", sf_dir)
    ev.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(ev.schema).parquet(d)
        .filter((F.dayofmonth("ts") > 15) & (F.col("event_type") == "purchase"))
    )
    joined = stream.join(
        scd2,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("ts") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("ts") < F.col("vt"))),
        "left",
    )
    return (
        _drain_to_memory(spark, joined, "mem_scd2_enrich", "append")
        .groupBy(
            F.coalesce(F.col("state"), F.lit("<unknown>")).alias(
                "state_at_purchase"
            ),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            r4(F.sum("value")).alias("purchase_value"),
        )
    )


_SQL_API_TEXT = """
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) / 100.0, 4)
             AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
"""


@register("sql_api_region_revenue", oracle=_SQL_API_TEXT)
def sql_api_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API surface — the SAME ANSI SQL text runs on both engines:
    `register_views` (tables.py) exposes the fixture tables as temp
    views and `spark.sql` executes the oracle string VERBATIM (the
    oracle here IS the Spark query). Proves the engine's second query
    surface — everything else in this inventory is DataFrame-built, but
    a reference user migrating SQL text needs `spark.sql` to produce
    the identical Catalyst plans, broadcast the dimension chain, and
    push the column prune into the scans exactly as the DataFrame API
    does. Four-table star join: region→nation broadcast down the
    customer→orders fact chain, one aggregate."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_TEXT)


@register(
    "degree_powerlaw_mle",
    oracle="""
    WITH deg AS (
      SELECT l_partkey, count(DISTINCT o_custkey) AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    ),
    tail AS (SELECT d FROM deg WHERE d >= 2)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_tail,
           CAST(2 AS BIGINT) AS d_min,
           round(1.0 + count(*) / sum(ln(d / 1.5)), 4) AS alpha,
           round(avg(d), 4) AS mean_tail_degree
    FROM tail
    """,
)
def degree_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph statistics — the Clauset-Shalizi-Newman MLE for a discrete
    power-law exponent on the part-popularity degree distribution
    (distinct customers per part): α̂ = 1 + n / Σ ln(d/(dmin−½)),
    the estimator a log-log regression (zipf_law_fit's method) biases —
    the two queries are the method pair the CSN paper contrasts. One
    distinct-count aggregate builds the degree table; the MLE is a
    single co-aggregate over its d ≥ dmin tail (no ranking, no
    binning). heavy-tail α near 2-3 ⇒ hub-guard operators (the dedup
    family's bucket caps, skew salting) are mandatory at scale — this
    query is the measurement that justifies them."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    deg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .localCheckpoint(eager=True)  # node count + tail aggregate
    )
    n_nodes = deg.count()  # 1-row scalar probe
    tail = deg.filter(F.col("d") >= 2)
    return tail.agg(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.lit(2).cast("bigint").alias("d_min"),
        r4(1.0 + F.count(F.lit(1)) / F.sum(F.log(F.col("d") / 1.5))).alias("alpha"),
        r4(F.avg("d")).alias("mean_tail_degree"),
    )


@register(
    "conversion_latency_quantiles",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p0
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.v0
      WHERE e.event_type = 'purchase'
      GROUP BY 1
    ),
    lat AS (
      SELECT epoch(p.p0) - epoch(v.v0) AS sec
      FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(sec / 3600.0, 0.25), 4) AS p25_hours,
           round(quantile_cont(sec / 3600.0, 0.50), 4) AS p50_hours,
           round(quantile_cont(sec / 3600.0, 0.75), 4) AS p75_hours,
           round(quantile_cont(sec / 3600.0, 0.90), 4) AS p90_hours
    FROM lat
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics — time-to-convert distribution: for each user,
    the latency from FIRST view to the first purchase at-or-after it,
    summarized at p25/50/75/90 (funnel_conversion counts who converts;
    this measures HOW FAST — the pair product teams read together).
    Two per-user min-aggregates and one equi-join on user_id (the
    at-or-after condition folds into the purchase-side min over the
    semi-joined stream — never a per-user sort); the final quantiles
    run over the |converted users| latency vector via exact
    interpolated percentile. Latencies are exact epoch-microsecond
    diffs, identical doubles on both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(dim_hint(v, bounded=False), on="user_id")
        .filter(F.col("ts") >= F.col("v0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"))
    )
    lat = v.join(p, on="user_id").select(
        (
            (F.unix_micros("p0") - F.unix_micros("v0")) / F.lit(1e6) / 3600.0
        ).alias("hours")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        r4(F.expr("percentile(hours, 0.25)")).alias("p25_hours"),
        r4(F.expr("percentile(hours, 0.50)")).alias("p50_hours"),
        r4(F.expr("percentile(hours, 0.75)")).alias("p75_hours"),
        r4(F.expr("percentile(hours, 0.90)")).alias("p90_hours"),
    )


@register(
    "session_path_topk",
    oracle="""
    WITH paths AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths GROUP BY 1
    ORDER BY count(*) DESC, path LIMIT 10
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining — the top-10 most common user-day event PATHS
    (ordered event-type journeys, 'view>click>purchase'-style): what a
    product team reads before funnel design, and the order-sensitive
    counterpart of event_transition_matrix's first-order pairs. The
    path builds as `array_sort(collect_list(struct(ts, event_id,
    type)))` inside one (user, day) aggregate — event_id breaks
    timestamp ties so both engines concatenate the identical sequence —
    then paths count like any categorical. Per-group state is bounded
    by the session horizon (one day); the top-k ranks the path
    VOCABULARY, not the sessions."""
    ev = load_table(spark, sf_dir, "events")
    paths = ev.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@register(
    "rfm_customer_segments",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
    rfm AS (
      SELECT o_custkey AS c,
             date_diff('day', max(o_orderdate), (SELECT m FROM mx)) AS recency,
             count(*) AS frequency,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT c, recency, frequency, monetary,
             ntile(5) OVER (ORDER BY recency DESC, c) AS r_score,
             ntile(5) OVER (ORDER BY frequency, c) AS f_score,
             ntile(5) OVER (ORDER BY CAST(round(monetary * 100) AS BIGINT), c)
               AS m_score
      FROM rfm
    ),
    seg AS (
      SELECT *,
             CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                  WHEN r_score >= 4 THEN 'recent'
                  WHEN f_score >= 4 THEN 'loyal_lapsing'
                  WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                  ELSE 'regular' END AS segment
      FROM scored
    )
    SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(recency), 4) AS avg_recency_days,
           round(avg(frequency), 4) AS avg_orders,
           round(sum(monetary), 4) AS total_value,
           CAST(min(c) AS BIGINT) AS min_custkey,
           CAST(max(c) AS BIGINT) AS max_custkey
    FROM seg GROUP BY 1
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics capstone — RFM (recency / frequency / monetary)
    customer segmentation, the marketing-analytics standard: one grouped
    pass builds the per-customer RFM triple, three global ntile(5)
    windows score it, and a rule CASE maps scores to named segments
    (champion / recent / loyal_lapsing / at_risk / regular). NO global
    window (r7 verdict fix): each of the three quintile scores comes
    from the two-level prefix-sum global rank (``with_global_rank`` —
    range partition + pid-local row_number + broadcast offsets) plus
    the closed-form exact-ANSI tile arithmetic (``ntile_of``) — the
    order_value_deciles pattern ×3. A billion customers rank as
    3 × #partitions parallel sorts; ties break on custkey so both
    engines assign identical quintiles."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    mx = o.agg(F.max("o_orderdate")).collect()[0][0]  # 1-row scalar probe
    rfm = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.datediff(F.lit(mx), F.max("o_orderdate")).alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    ).localCheckpoint()  # three rankings + the count scalar share one materialization
    n_total = rfm.agg(F.count(F.lit(1)).alias("_n"))
    # ONE ranking pass serves all three quintiles: stack the three
    # (dimension, sort-value) projections dim-tagged into a 3n-row
    # frame and rank it globally by (dim, v, c) — the per-dimension
    # rank is then global_rank − dim·n (each dim block is contiguous
    # in the total order). Negating recency turns its DESC order into
    # the shared ASC one. The shared sort key is DECIMAL(38,0), never
    # raw double (r8 advice): monetary rides as an integer CENT count,
    # rounded to cents IDENTICALLY on both sides (half-up; the oracle
    # ranks CAST(round(monetary*100) AS BIGINT)), so sub-cent FP noise
    # in either engine's double sum can never reorder the quintile sort
    # — noise-distinct values collapse to a tie and break on custkey on
    # BOTH sides; recency/frequency are ints, exact in any integral
    # decimal. (The cent count itself is exact while the double sum is,
    # i.e. below 2^53 cents ≈ $9e13 per customer.)
    stacked = rfm.select(
        "c",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("dim"),
                    (-F.col("recency")).cast("decimal(38,0)").alias("v"),
                ),
                F.struct(
                    F.lit(1).alias("dim"),
                    F.col("frequency").cast("decimal(38,0)").alias("v"),
                ),
                F.struct(
                    F.lit(2).alias("dim"),
                    (F.col("monetary") * 100).cast("decimal(38,0)").alias("v"),
                ),
            )
        ).alias("e"),
    ).select("c", F.col("e.dim").alias("dim"), F.col("e.v").alias("v"))
    ranked = with_global_rank(
        stacked, [F.asc("dim"), F.asc("v"), F.asc("c")], rank_col="_gr"
    )
    tiles = ranked.crossJoin(F.broadcast(n_total)).select(  # 1-row scalar attach
        "c",
        "dim",
        ntile_of(
            F.col("_gr") - F.col("dim").cast("bigint") * F.col("_n"), F.col("_n"), 5
        ).alias("tile"),
    )
    scores = tiles.groupBy("c").agg(
        F.max(F.when(F.col("dim") == 0, F.col("tile"))).alias("r_score"),
        F.max(F.when(F.col("dim") == 1, F.col("tile"))).alias("f_score"),
        F.max(F.when(F.col("dim") == 2, F.col("tile"))).alias("m_score"),
    )
    scored = rfm.join(scores, on="c")
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_lapsing")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return scored.groupBy(segment.alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        r4(F.avg("recency")).alias("avg_recency_days"),
        r4(F.avg("frequency")).alias("avg_orders"),
        r4(F.sum("monetary")).alias("total_value"),
        F.min("c").cast("bigint").alias("min_custkey"),
        F.max("c").cast("bigint").alias("max_custkey"),
    )


@register(
    "snapshot_rebucket_evolution",
    oracle="""
    SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN c_custkey % 4 = 1 THEN c_acctbal * 2
                          ELSE c_acctbal END), 4) AS sum_bal
    FROM customer GROUP BY 1
    UNION ALL SELECT '__routed_1_of_16__', 1, 0.0
    UNION ALL SELECT '__v1_routed_1_of_4__', 1, 0.0
    """,
)
def snapshot_rebucket_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table — bucket-count EVOLUTION (partition-spec evolution
    for a hash layout): create at 4 buckets, merge an update, rebucket
    to 16, and verify atomically-switched routing — a point lookup on
    the latest version opens 1 of 16 files while TIME TRAVEL to the
    pre-evolution version still routes 1 of 4 (each manifest carries
    its own count; readers are manifest-driven so nothing is ever
    half-migrated). The aggregate of the post-evolution read is
    hash-checked against the closed-form reconstruction. Cost truth:
    rebucketing is one full rewrite — priced like capacity planning,
    not like a merge; see writers/snapshots.py rebucket."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = _scratch_dir("snap_rebkt", sf_dir)
    t = SnapshotTable.create(spark, path, cust, ["c_custkey"], n_buckets=4)
    t.merge(
        cust.filter(F.col("c_custkey") % 4 == 1).withColumn(
            "c_acctbal", F.col("c_acctbal") * 2
        )
    )
    t.rebucket(16)
    probe = cust.agg(F.min("c_custkey")).collect()[0][0]  # 1-row scalar
    r_new, tot_new = t.pruned_files({"c_custkey": (probe, probe)})
    r_old, tot_old = t.pruned_files({"c_custkey": (probe, probe)}, version=1)
    agg = t.read().groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.sum("c_acctbal")).alias("sum_bal"),
    )

    def flag(name: str, ok: bool) -> DataFrame:
        return spark.range(1).select(
            F.lit(name).alias("seg"),
            F.lit(1 if ok else 0).cast("bigint").alias("n"),
            F.lit(0.0).alias("sum_bal"),
        )

    return _metric_rows(
        agg,
        flag("__routed_1_of_16__", r_new == 1 and tot_new == 16),
        flag("__v1_routed_1_of_4__", r_old == 1 and tot_old == 4),
    )


@register(
    "snapshot_bloom_point_skip",
    oracle="""
    WITH probe AS (
      SELECT o_totalprice AS v FROM orders ORDER BY o_orderkey LIMIT 3
    )
    SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o.o_custkey AS BIGINT) AS o_custkey,
           round(o.o_totalprice, 4) AS price
    FROM orders o JOIN probe ON o.o_totalprice = probe.v
    UNION ALL SELECT -1, 1, 0.0
    """,
)
def snapshot_bloom_point_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table — per-bucket BLOOM-FILTER pruning (the Parquet /
    Iceberg bloom-index analog at manifest level): point lookups on a
    non-key, non-clustered, high-cardinality column (o_totalprice) skip
    every bucket whose filter proves the value absent — the pruning
    dimension hash bucketing (key equality only) and range stats
    (clustered order only) both miss. The query creates an orders
    snapshot with ``bloom_on=['o_totalprice']``, probes the prices of
    the three smallest orderkeys, and emits the matching rows (oracle:
    the same lookup on raw orders) plus a contract row asserting the
    scans together opened FEWER files than 3 full sweeps — with ~10 bits
    per distinct value the expected false-positive rate is ~1%, so at
    least one of the 8 buckets prunes with near-certainty at every SF.
    Filters are built in one distributed aggregate per commit and
    rebuilt only for rewritten buckets (carried entries keep theirs)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _scratch_dir("snap_bloom", sf_dir)
    t = SnapshotTable.create(
        spark, path, orders, ["o_orderkey"], n_buckets=8,
        bloom_on=["o_totalprice"],
    )
    probes = [
        r["o_totalprice"]
        for r in orders.orderBy("o_orderkey").limit(3).collect()  # 3-row probe
    ]
    hits = None
    files_read = 0
    files_total = 0
    for v in probes:
        r, tot = t.pruned_files({"o_totalprice": (v, v)})
        files_read, files_total = files_read + r, files_total + tot
        s = t.scan({"o_totalprice": (v, v)})
        hits = s if hits is None else hits.unionByName(s)
    pruned_ok = files_read < files_total
    return _metric_rows(
        hits.select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            r4(F.col("o_totalprice")).alias("price"),
        ),
        spark.range(1).select(
            F.lit(-1).cast("bigint").alias("o_orderkey"),
            F.lit(1 if pruned_ok else 0).cast("bigint").alias("o_custkey"),
            F.lit(0.0).alias("price"),
        ),
    )


@register(
    "bootstrap_ci_mean",
    oracle=f"""
    WITH x AS (
      SELECT event_type, value,
             CAST(event_id AS VARCHAR) || ':' || CAST(r.b AS VARCHAR) AS hk,
             r.b AS b
      FROM events CROSS JOIN (SELECT unnest(range(0, 32)) AS b) r
    ),
    w AS (
      SELECT event_type, b, value,
             CASE WHEN u < {_POIS1_CDF[0]} THEN 0
                  WHEN u < {_POIS1_CDF[1]} THEN 1
                  WHEN u < {_POIS1_CDF[2]} THEN 2
                  WHEN u < {_POIS1_CDF[3]} THEN 3
                  WHEN u < {_POIS1_CDF[4]} THEN 4
                  ELSE 5 END AS w
      FROM (SELECT event_type, b, value,
                   ({_poly_sql('hk')}) / 2147483647.0 AS u FROM x)
    ),
    rep AS (
      SELECT event_type, b, sum(w * value) / sum(w) AS mb
      FROM w GROUP BY 1, 2 HAVING sum(w) > 0
    ),
    base AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n, avg(value) AS mean
      FROM events GROUP BY 1
    )
    SELECT base.event_type, n, round(mean, 4) AS mean,
           round(quantile_cont(mb, 0.025), 4) AS ci_lo,
           round(quantile_cont(mb, 0.975), 4) AS ci_hi
    FROM base JOIN rep ON base.event_type = rep.event_type
    GROUP BY 1, 2, 3
    """,
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — DISTRIBUTED bootstrap: a 95% CI on each type's mean
    via the Poisson bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams" — resample weights ~ Poisson(1) per
    (row, replicate) instead of multinomial draws, which is the only
    bootstrap that works when no worker can see n). Fully deterministic:
    the weight comes from inverting the Poisson(1) CDF at a portable
    md5-hash uniform of (event_id, replicate), so both engines draw the
    SAME resamples — the randomness is reproducible, not seeded-global.
    Cost: one explode ×32 replicates (linear, constant factor B) + one
    (type, replicate) aggregate + a 32-row-per-type percentile — no
    driver loop, no global sort. The CI percentile interpolates
    identically (Spark `percentile` == DuckDB `quantile_cont`)."""
    # spread: events is one parquet file, and the x32 replicate explode +
    # md5 weight draw is the heavy PRE-shuffle stage — without this it
    # runs on a single task
    ev = spread(load_table(spark, sf_dir, "events")).select(
        "event_id", "event_type", "value"
    )
    x = ev.select(
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
        "event_id",
    ).withColumn("hk", F.concat_ws(":", "event_id", "b"))
    u = portable_hash(F.col("hk")) / F.lit(2147483647.0)
    cdf = [F.lit(float(c)) for c in _POIS1_CDF]
    w = (
        F.when(u < cdf[0], 0)
        .when(u < cdf[1], 1)
        .when(u < cdf[2], 2)
        .when(u < cdf[3], 3)
        .when(u < cdf[4], 4)
        .otherwise(5)
    )
    rep = (
        x.withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("value")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("event_type", (F.col("swx") / F.col("sw")).alias("mb"))
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("value").alias("mean"),
    )
    ci = rep.groupBy("event_type").agg(
        F.expr("percentile(mb, 0.025)").alias("lo"),
        F.expr("percentile(mb, 0.975)").alias("hi"),
    )
    return base.join(F.broadcast(ci), on="event_type").select(
        "event_type",
        "n",
        r4(F.col("mean")).alias("mean"),
        r4(F.col("lo")).alias("ci_lo"),
        r4(F.col("hi")).alias("ci_hi"),
    )


@register(
    "trimmed_mean_stats",
    oracle="""
    WITH th AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 4) AS raw_mean,
           round(avg(value) FILTER (WHERE value >= lo AND value <= hi), 4)
             AS trimmed_mean,
           round(avg(greatest(lo, least(hi, value))), 4) AS winsor_mean,
           round(any_value(lo), 4) AS p05, round(any_value(hi), 4) AS p95
    FROM events e JOIN th ON e.event_type = th.event_type
    GROUP BY 1
    """,
)
def trimmed_mean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — robust location estimates per type: the 5/95-trimmed
    mean (drop the tails) and the winsorized mean (clamp the tails),
    side by side with the raw mean — the outlier-robust aggregation pair
    (robust_outliers is the detection twin; this is the estimation one).
    Plan: one grouped percentile pass produces the |types|-sized
    threshold table, which broadcasts back over the fact stream for the
    conditional/clamped averages — two shuffles total, no per-group
    sort of the fact side. Thresholds interpolate identically in both
    engines, so the trim set membership is bit-deterministic."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    th = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    j = ev.join(F.broadcast(th), on="event_type")
    inside = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.avg("value")).alias("raw_mean"),
        r4(F.avg(F.when(inside, F.col("value")))).alias("trimmed_mean"),
        r4(F.avg(clamped)).alias("winsor_mean"),
        r4(F.first("lo")).alias("p05"),
        r4(F.first("hi")).alias("p95"),
    )


@register(
    "snapshot_tag_travel",
    oracle="""
    SELECT 'baseline' AS snap, c_mktsegment AS seg,
           CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 4) AS sum_bal
    FROM customer GROUP BY 2
    UNION ALL
    SELECT 'latest', c_mktsegment, CAST(count(*) AS BIGINT),
           round(sum(CASE WHEN c_custkey % 4 = 1 THEN c_acctbal * 2
                          WHEN c_custkey % 4 = 2 THEN c_acctbal + 1000
                          ELSE c_acctbal END), 4)
    FROM customer GROUP BY 2
    UNION ALL SELECT '__flags__', '__tag_pinned_v1__', 1, 0.0
    UNION ALL SELECT '__flags__', '__v2_vacuumed__', 1, 0.0
    """,
)
def snapshot_tag_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table — named refs (the Iceberg TAG analog): tag v1 as
    `baseline`, commit two more merges, then vacuum with keep_last=1.
    The contract under test: the tagged version's manifest AND data
    files survive vacuum (v2, untagged, is reclaimed — the flag rows
    assert both), and `read(tag=)` still serves the exact v1 snapshot —
    the audit/reproducibility anchor pattern ("the corpus revision this
    run trained on") that plain keep_last retention cannot express.
    Aggregates of the tag read and the latest read are both
    oracle-checked against closed-form reconstructions. Commit overhead
    is SF-independent driver-fixed cost, same as the WAP/lifecycle
    queries; see writers/snapshots.py create_tag/vacuum."""
    import os

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = _scratch_dir("snap_tag", sf_dir)
    t = SnapshotTable.create(spark, path, cust, ["c_custkey"], n_buckets=8)
    t.create_tag("baseline")
    t.merge(
        cust.filter(F.col("c_custkey") % 4 == 1).withColumn(
            "c_acctbal", F.col("c_acctbal") * 2
        )
    )
    t.merge(
        cust.filter(F.col("c_custkey") % 4 == 2).withColumn(
            "c_acctbal", F.col("c_acctbal") + 1000
        )
    )
    t.vacuum(keep_last=1, min_age_seconds=0.0)
    pinned = (
        t.resolve_tag("baseline") == 1
        and os.path.exists(t._manifest_path(1))
        and t.tags() == {"baseline": 1}
    )
    v2_gone = not os.path.exists(t._manifest_path(2))

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy(F.col("c_mktsegment").alias("seg")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r4(F.sum("c_acctbal")).alias("sum_bal"),
        ).select(F.lit(snap).alias("snap"), "seg", "n", "sum_bal")

    def flag(name: str, ok: bool) -> DataFrame:
        return spark.range(1).select(
            F.lit("__flags__").alias("snap"),
            F.lit(name).alias("seg"),
            F.lit(1 if ok else 0).cast("bigint").alias("n"),
            F.lit(0.0).alias("sum_bal"),
        )

    return _metric_rows(
        agg(t.read(tag="baseline"), "baseline"),
        agg(t.read(), "latest"),
        flag("__tag_pinned_v1__", pinned),
        flag("__v2_vacuumed__", v2_gone),
    )


@register(
    "ngram_containment_pairs",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    gl AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(w) - 2, 0)),
                                          i -> array_to_string(w[i+1:i+3], ' '))) AS grams
      FROM words
    ),
    sz AS (SELECT doc_id, len(grams) AS g FROM gl WHERE len(grams) > 0),
    posting AS (SELECT doc_id, unnest(grams) AS gram FROM gl),
    keepg AS (
      SELECT gram FROM posting GROUP BY 1 HAVING count(*) <= 100
    ),
    pk AS (SELECT doc_id, gram FROM posting JOIN keepg USING (gram)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM pk a JOIN pk b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT id_a, id_b, n_shared,
             n_shared * 1.0 / x.g AS ca, n_shared * 1.0 / y.g AS cb
      FROM shared JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(ca, 4) AS cont_a_in_b, round(cb, 4) AS cont_b_in_a
    FROM scored WHERE greatest(ca, cb) >= 0.5
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — asymmetric n-gram CONTAINMENT, |g(A)∩g(B)| / |g(A)|: the
    measure that catches a document swallowed inside a larger one, which
    symmetric Jaccard dilutes below threshold (Broder's containment vs
    resemblance distinction — the quote/boilerplate-inclusion detector).
    Scale path: a 3-gram posting-list self-join — never an all-pairs doc
    join — with stop-gram suppression (grams in >100 docs are dropped
    from the posting list; they carry no identification signal and their
    postings are exactly the quadratic blow-up, the ngram-jaccard
    guard_block_pairs discipline applied per-gram). Shared-gram counts
    group once per candidate pair; the per-doc gram-count table joins
    back for the two directional ratios (pure int division — identical
    doubles both engines). Emits both directions per unordered pair,
    kept when either containment ≥ 0.5."""
    # spread: documents is one parquet file; without it the gram build
    # (the dominant expression cost) runs on a single task
    docs = spread(load_table(spark, sf_dir, "documents"))
    gl = docs.select(
        "doc_id", TX.word_ngrams(F.col("text"), 3).alias("grams")
    )
    sz = gl.filter(F.size("grams") > 0).select(
        "doc_id", F.size("grams").alias("g")
    )
    posting = gl.select("doc_id", F.explode("grams").alias("gram"))
    # documents is ONE parquet file -> every descendant op runs single-task
    # unless spread; partition on the pair-join key so the self-join both
    # parallelizes AND needs no further exchange (measured 48s -> ~3s at
    # sf0.1 min-of-2; the ngram_jaccard bucket-spread lesson, same cause)
    posting = posting.repartition(32, "gram").localCheckpoint(eager=True)
    keepg = (
        posting.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 100)
        .select("gram")
    )
    pk = posting.join(dim_hint(keepg, bounded=False), on="gram")
    a = pk.alias("a")
    b = pk.select(F.col("doc_id").alias("id_b"), F.col("gram").alias("gb")).alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("gb")) & (F.col("a.doc_id") < F.col("id_b")))
        .groupBy(F.col("a.doc_id").alias("id_a"), "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    x = sz.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    y = sz.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb2"))
    scored = (
        shared.join(dim_hint(x, bounded=False), on="id_a")
        .join(dim_hint(y, bounded=False), on="id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.col("n_shared") * 1.0 / F.col("ga")).alias("ca"),
            (F.col("n_shared") * 1.0 / F.col("gb2")).alias("cb"),
        )
    )
    return (
        scored.filter(F.greatest("ca", "cb") >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            r4(F.col("ca")).alias("cont_a_in_b"),
            r4(F.col("cb")).alias("cont_b_in_a"),
        )
    )


