"""Registers 15 queries:

  durbin_watson_trend, max_drawdown_daily, chao1_vocab_richness
  cmh_return_rate, shapley_channel_attribution, wasserstein_price_shift
  negbin_overdispersion, engle_granger_cointegration, weibull_time_to_convert
  bray_curtis_source_matrix, hurst_exponent_rs, auc_doc_length_lang
  interevent_burstiness_memory, effect_size_priority, mrr_hit_at_k
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.operators import similarity as SIM
from graph_db_spark.operators.similarity import _IVF_ITERS, _IVF_NPROBE
from graph_db_spark.plans.families.q00_base import (
    _conversion_obs, _conversion_obs_sql, r4, register,
)
from graph_db_spark.plans.families.q01_relational_pipeline import _ivf_training_sql
from graph_db_spark.tables import load_table


@register(
    "durbin_watson_trend",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS dayd,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    tg AS MATERIALIZED (
      SELECT datediff('day', (SELECT min(dayd) FROM g), dayd) + 1 AS t, y
      FROM g
    ),
    s AS (
      SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy,
             sum(t * t) AS stt, sum(CAST(t AS HUGEINT) * y) AS sty
      FROM tg
    ),
    p AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n * sty - st * sy AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS b,
             CAST(sy AS DOUBLE) AS syd, CAST(st AS DOUBLE) AS std,
             CAST(n AS DOUBLE) AS nd
      FROM s
    ),
    res AS (
      SELECT t,
             CAST(round(y - ((syd - b * std) / nd) - b * t) AS BIGINT) AS e
      FROM tg CROSS JOIN p
    ),
    lagd AS (
      SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM res
    ),
    dws AS (
      SELECT sum(CASE WHEN ep IS NOT NULL
                      THEN CAST(e - ep AS HUGEINT) * (e - ep) END) AS num,
             sum(CAST(e AS HUGEINT) * e) AS den
      FROM lagd
    )
    SELECT p.n AS n_days,
           round(p.b / 100.0, 4) + 0.0 AS slope_dollars_per_day,
           round(CAST(dws.num AS DOUBLE) / CAST(dws.den AS DOUBLE), 4) + 0.0
             AS dw_stat,
           round(1.0 - CAST(dws.num AS DOUBLE) / CAST(dws.den AS DOUBLE)
                 / 2.0, 4) + 0.0 AS rho_approx
    FROM dws CROSS JOIN p
    """,
)
def durbin_watson_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial-correlation diagnostic — Durbin-Watson on the residuals
    of the daily-revenue linear trend: OLS (a, b) from exact integer
    sufficient statistics in decimal(38,0) (DuckDB: HUGEINT — the cuped
    idiom; Σt·y reaches ~3e15 at sf0.1 and would pass 2^63 near sf100),
    then DW = Σ(eₜ−eₜ₋₁)²/Σeₜ². Residuals are SNAPPED TO INTEGER CENTS
    before the quadratic sums, so both engines sum identical integers
    in any order — the one float step (a, b and the per-row e before
    rounding) is an identical expression tree on identical exact inputs.
    The lag runs on the calendar-bounded day grid (allowlisted); the
    corpus pays one scan + one day-grid reduction."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    g = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("dayd"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "y"
            )
        )
        .localCheckpoint()  # day grid: feeds the moments AND the residuals
    )
    m = g.agg(F.min("dayd").alias("d0"))
    tg = g.crossJoin(F.broadcast(m)).select(
        (F.datediff(F.col("dayd"), F.col("d0")) + 1).alias("t"), "y"
    )
    s = tg.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("t").cast(dec)).alias("st"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("t") * F.col("t")).cast(dec)).alias("stt"),
        # t*t is SF-independent (day-grid index ~2.5k); products that
        # carry the SF-dependent y (or the y-scale residual e below)
        # cast operands BEFORE multiplying so the per-row product never
        # sits in int64 (r10 advice — ANSI overflow one SF up otherwise)
        F.sum(F.col("t").cast(dec) * F.col("y").cast(dec)).alias("sty"),
    )
    p = s.select(
        F.col("n").cast("bigint").alias("n"),
        (
            (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
                "double"
            )
        ).alias("b"),
        F.col("sy").cast("double").alias("syd"),
        F.col("st").cast("double").alias("std"),
        F.col("n").cast("double").alias("nd"),
    ).localCheckpoint()  # 1 row; feeds the residual pass AND the emit
    res = tg.crossJoin(F.broadcast(p)).select(
        "t",
        F.round(
            F.col("y")
            - (F.col("syd") - F.col("b") * F.col("std")) / F.col("nd")
            - F.col("b") * F.col("t")
        )
        .cast("bigint")
        .alias("e"),
    )
    wlag = Window.orderBy("t")
    lagd = res.select("e", F.lag("e").over(wlag).alias("ep"))
    dws = lagd.agg(
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("e") - F.col("ep")).cast(dec)
                * (F.col("e") - F.col("ep")).cast(dec),
            )
        ).alias("num"),
        F.sum(F.col("e").cast(dec) * F.col("e").cast(dec)).alias("den"),
    )
    dw = F.col("num").cast("double") / F.col("den").cast("double")
    return dws.crossJoin(F.broadcast(p)).select(  # 1-row scalar attach
        F.col("n").alias("n_days"),
        r4(F.col("b") / 100.0).alias("slope_dollars_per_day"),
        r4(dw).alias("dw_stat"),
        r4(1.0 - dw / 2.0).alias("rho_approx"),
    )


@register(
    "max_drawdown_daily",
    oracle="""
    WITH g AS (
      SELECT CAST(o_orderdate AS DATE) AS dayd,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT y, max(y) OVER (ORDER BY dayd
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS runmax
      FROM g
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(1.0 - y * 1.0 / runmax), 4) + 0.0 AS max_drawdown,
           CAST(sum(CASE WHEN y < runmax THEN 1 ELSE 0 END) AS BIGINT)
             AS underwater_days
    FROM r
    """,
)
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk analytics — maximum drawdown of the daily-revenue series:
    the largest peak-to-trough decline 1 − y/runmax against the running
    maximum, plus the number of underwater days (strict integer compare
    y < runmax, no float threshold). The running max is a cumulative
    window over the calendar-bounded day grid (allowlisted); the corpus
    pays one scan + one day-grid reduction. Integer cents make the
    ratio identical doubles on both engines."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderdate").cast("date").alias("dayd")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    )
    wrun = Window.orderBy("dayd").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select("y", F.max("y").over(wrun).alias("runmax"))
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        r4(F.max(1.0 - F.col("y") * 1.0 / F.col("runmax"))).alias(
            "max_drawdown"
        ),
        F.sum(F.when(F.col("y") < F.col("runmax"), 1).otherwise(0))
        .cast("bigint")
        .alias("underwater_days"),
    )


@register(
    "chao1_vocab_richness",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)),
                                       '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents
    ),
    tf AS (SELECT tok, count(*) AS f FROM tok WHERE tok <> '' GROUP BY 1),
    fof AS (SELECT f, CAST(count(*) AS BIGINT) AS m FROM tf GROUP BY 1),
    s AS (
      SELECT CAST(sum(m) AS BIGINT) AS d,
             CAST(coalesce(sum(CASE WHEN f = 1 THEN m END), 0) AS BIGINT)
               AS f1,
             CAST(coalesce(sum(CASE WHEN f = 2 THEN m END), 0) AS BIGINT)
               AS f2,
             CAST(coalesce(sum(CASE WHEN f <= 10 THEN m END), 0) AS BIGINT)
               AS srare,
             CAST(coalesce(sum(CASE WHEN f <= 10 THEN f * m END), 0)
                  AS BIGINT) AS nrare,
             CAST(coalesce(sum(CASE WHEN f > 10 THEN m END), 0) AS BIGINT)
               AS sabund,
             CAST(coalesce(sum(CASE WHEN f <= 10 THEN f * (f - 1) * m END),
                           0) AS BIGINT) AS frare2
      FROM fof
    )
    SELECT d AS vocab_observed, f1 AS singletons, f2 AS doubletons,
           round(d + f1 * (f1 - 1.0) / (2.0 * (f2 + 1)), 4) + 0.0
             AS chao1_estimate,
           round(CASE WHEN nrare > 1 AND nrare > f1 THEN
             sabund + srare / (1.0 - f1 * 1.0 / nrare)
             + f1 / (1.0 - f1 * 1.0 / nrare)
               * greatest((srare / (1.0 - f1 * 1.0 / nrare))
                          * frare2 / (nrare * (nrare - 1.0)) - 1.0, 0.0)
             END, 4) + 0.0 AS ace_estimate
    FROM s
    """,
)
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation — unseen-vocabulary estimation: the Chao1
    richness estimator (bias-corrected, D + f1(f1−1)/(2(f2+1))) and ACE
    (abundance-based coverage, rare cutoff 10) from the token
    frequency-of-frequencies. good_turing_unseen_mass prices the
    probability mass of unseen TOKENS; this estimates how many unseen
    TYPES remain — the 'how much more corpus do we need' planning
    number. Whitespace pinned to the engine-independent class (SCALE.md
    §29). Two shuffles: corpus→token counts, counts→the tiny fof grid;
    every emitted float derives from exact integers."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.lower(F.trim("text")), "[ \t\n\x0B\f\r]+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    fof = tf.groupBy("f").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    z = F.lit(0).cast("bigint")
    s = fof.agg(
        F.sum("m").cast("bigint").alias("d"),
        F.coalesce(F.sum(F.when(F.col("f") == 1, F.col("m"))), z)
        .cast("bigint")
        .alias("f1"),
        F.coalesce(F.sum(F.when(F.col("f") == 2, F.col("m"))), z)
        .cast("bigint")
        .alias("f2"),
        F.coalesce(F.sum(F.when(F.col("f") <= 10, F.col("m"))), z)
        .cast("bigint")
        .alias("srare"),
        F.coalesce(
            F.sum(F.when(F.col("f") <= 10, F.col("f") * F.col("m"))), z
        )
        .cast("bigint")
        .alias("nrare"),
        F.coalesce(F.sum(F.when(F.col("f") > 10, F.col("m"))), z)
        .cast("bigint")
        .alias("sabund"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("f") <= 10,
                    F.col("f") * (F.col("f") - 1) * F.col("m"),
                )
            ),
            z,
        )
        .cast("bigint")
        .alias("frare2"),
    )
    crare = 1.0 - F.col("f1") * 1.0 / F.col("nrare")
    ace = (
        F.col("sabund")
        + F.col("srare") / crare
        + F.col("f1")
        / crare
        * F.greatest(
            (F.col("srare") / crare)
            * F.col("frare2")
            / (F.col("nrare") * (F.col("nrare") - 1.0))
            - 1.0,
            F.lit(0.0),
        )
    )
    return s.select(
        F.col("d").alias("vocab_observed"),
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        r4(
            F.col("d")
            + F.col("f1") * (F.col("f1") - 1.0) / (2.0 * (F.col("f2") + 1))
        ).alias("chao1_estimate"),
        r4(
            F.when(
                (F.col("nrare") > 1) & (F.col("nrare") > F.col("f1")), ace
            )
        ).alias("ace_estimate"),
    )


@register(
    "cmh_return_rate",
    oracle="""
    WITH ret AS MATERIALIZED (
      SELECT l_orderkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1
    ),
    rows_ AS (
      SELECT r_name,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x,
             ret.ret AS yy
      FROM orders
      JOIN ret ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    ),
    st AS (
      SELECT r_name, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS n1,
             CAST(sum(yy) AS BIGINT) AS nc1,
             CAST(sum(x * yy) AS BIGINT) AS n11
      FROM rows_ GROUP BY 1
    ),
    terms AS (
      SELECT sum(n11 - n1 * 1.0 * nc1 / n) AS dev,
             sum(n1 * 1.0 * (n - n1) * nc1 * (n - nc1)
                 / (n * 1.0 * n * (n - 1))) AS var,
             sum((n11 * 1.0 * ((n - n1) - (nc1 - n11))) / n) AS ornum,
             sum(((n1 - n11) * 1.0 * (nc1 - n11)) / n) AS orden,
             CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(n) AS BIGINT) AS n_total
      FROM st
    )
    SELECT n_strata, n_total,
           round(dev * dev / var, 4) + 0.0 AS cmh_chi2,
           round(ornum / orden, 4) + 0.0 AS mh_odds_ratio
    FROM terms
    """,
)
def cmh_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 2x2 testing — Cochran-Mantel-Haenszel: does URGENT
    priority associate with item returns AFTER controlling for region?
    The stratified companion to chi_square_independence (which pools and
    is Simpson-vulnerable — simpson_paradox_check shows why pooling
    lies). Per-region 2x2 margins from exact integer counts, the CMH
    χ² (no continuity correction) and the Mantel-Haenszel common odds
    ratio as 5-term double reductions — per-term doubles are identical
    expression trees on exact integers, so only the final 5-element sum
    carries the shared r4 guard-band risk. One lineitem→order
    reduction, one orders⋈customer shuffle, broadcast nation/region
    dims — the canonical star-join shape."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    re_ = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    ret = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "ret"
        )
    )
    rows = (
        o.join(ret, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cst, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re_), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "r_name",
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("x"),
            F.col("ret").alias("yy"),
        )
    )
    st = rows.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("n1"),
        F.sum("yy").cast("bigint").alias("nc1"),
        F.sum(F.col("x") * F.col("yy")).cast("bigint").alias("n11"),
    )
    terms = st.agg(
        F.sum(
            F.col("n11") - F.col("n1") * 1.0 * F.col("nc1") / F.col("n")
        ).alias("dev"),
        F.sum(
            F.col("n1")
            * 1.0
            * (F.col("n") - F.col("n1"))
            * F.col("nc1")
            * (F.col("n") - F.col("nc1"))
            / (F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1))
        ).alias("var"),
        F.sum(
            (
                F.col("n11")
                * 1.0
                * ((F.col("n") - F.col("n1")) - (F.col("nc1") - F.col("n11")))
            )
            / F.col("n")
        ).alias("ornum"),
        F.sum(
            (
                (F.col("n1") - F.col("n11"))
                * 1.0
                * (F.col("nc1") - F.col("n11"))
            )
            / F.col("n")
        ).alias("orden"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return terms.select(
        "n_strata",
        "n_total",
        r4(F.col("dev") * F.col("dev") / F.col("var")).alias("cmh_chi2"),
        r4(F.col("ornum") / F.col("orden")).alias("mh_odds_ratio"),
    )


@register(
    "shapley_channel_attribution",
    oracle="""
    WITH peru AS MATERIALIZED (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  + 2 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  + 4 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    cm AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS conv
           FROM peru GROUP BY 1),
    lat AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
      SELECT s, CAST(coalesce(sum(conv), 0) AS BIGINT) AS v
      FROM lat LEFT JOIN cm ON (cm.mask & lat.s) = cm.mask
      GROUP BY 1
    ),
    ch AS (SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                                 ('signup', CAST(2 AS BIGINT)),
                                 ('view', CAST(4 AS BIGINT)),
                                 ('error', CAST(8 AS BIGINT)))
           AS t(channel, bit)),
    pairs AS (
      SELECT ch.channel,
             ((v0.s & 1) + ((v0.s >> 1) & 1) + ((v0.s >> 2) & 1)
              + ((v0.s >> 3) & 1)) AS pc,
             v1.v - v0.v AS delta
      FROM ch
      JOIN v v0 ON (v0.s & ch.bit) = 0
      JOIN v v1 ON v1.s = (v0.s | ch.bit)
    ),
    phi AS (
      SELECT channel,
             CAST(sum((CASE WHEN pc IN (0, 3) THEN 6 ELSE 2 END) * delta)
                  AS BIGINT) AS phi24
      FROM pairs GROUP BY 1
    ),
    touch AS (
      SELECT channel,
             CAST(sum(CASE WHEN (mask & bit) > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS users_touched
      FROM peru CROSS JOIN ch GROUP BY 1
    )
    SELECT phi.channel AS channel, touch.users_touched,
           round(phi24 / 24.0, 4) + 0.0 AS shapley_conversions
    FROM phi JOIN touch USING (channel)
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution — EXACT Shapley values over the 4-channel coalition
    game (click/signup/view/error; purchase = conversion): v(S) = the
    number of converting users whose touched-channel set is contained
    in S, φᵢ = Σ_{S∌i} |S|!(3−|S|)!/4!·(v(S∪i)−v(S)). The game-theoretic
    answer to the position heuristics (last_touch_attribution,
    position_based_attribution) and the Markov removal-effect model
    (markov_absorption_conversion): efficiency guarantees Σφ equals the
    total attributable conversions. The corpus collapses to ≤16
    mask-level conversion counts in one shuffle; the 2⁴ coalition
    lattice, subset sums, and the 4×8 marginal table are broadcast-tiny
    joins at any corpus size. φ·24 is an INTEGER sum (weights 6/2/2/6),
    so the emission is an exact rational — no add-order float risk."""
    ev = load_table(spark, sf_dir, "events")
    bit_of = {"click": 1, "signup": 2, "view": 4, "error": 8}
    peru = ev.groupBy("user_id").agg(
        sum(
            F.max(F.when(F.col("event_type") == c, 1).otherwise(0)) * b
            for c, b in bit_of.items()
        )
        .cast("bigint")
        .alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cm = peru.groupBy("mask").agg(F.sum("conv").cast("bigint").alias("conv"))
    lat = spark.range(16).select(F.col("id").alias("s"))
    v = (
        lat.join(
            F.broadcast(cm),
            cm["mask"].bitwiseAND(lat["s"]) == cm["mask"],
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv"), F.lit(0)).cast("bigint").alias("v"))
        .localCheckpoint()  # 16 rows, joined against itself below
    )
    ch = spark.createDataFrame(
        list(bit_of.items()), "channel string, bit long"
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("vwo"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("vw"))
    pc = sum(
        F.shiftright(F.col("s0"), i).bitwiseAND(F.lit(1)) for i in range(4)
    )
    pairs = (
        F.broadcast(ch)
        .join(v0, v0["s0"].bitwiseAND(ch["bit"]) == 0)
        .join(v1, F.col("s1") == F.col("s0").bitwiseOR(F.col("bit")))
        .select(
            "channel",
            (
                F.when(pc.isin(0, 3), 6).otherwise(2)
                * (F.col("vw") - F.col("vwo"))
            ).alias("wdelta"),
        )
    )
    phi = pairs.groupBy("channel").agg(
        F.sum("wdelta").cast("bigint").alias("phi24")
    )
    touch = peru.crossJoin(F.broadcast(ch)).groupBy("channel").agg(
        F.sum(
            F.when(F.col("mask").bitwiseAND(F.col("bit")) > 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("users_touched")
    )
    return phi.join(touch, on="channel").select(
        "channel",
        "users_touched",
        r4(F.col("phi24") / 24.0).alias("shapley_conversions"),
    )


@register(
    "wasserstein_price_shift",
    oracle="""
    WITH o2 AS MATERIALIZED (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    st AS MATERIALIZED (
      SELECT CAST(sum(u) AS BIGINT) AS nu,
             CAST(sum(1 - u) AS BIGINT) AS nl,
             min(cents) AS cmin, max(cents) AS cmax,
             CAST(sum(CASE WHEN u = 1 THEN cents END) AS BIGINT) AS sumu,
             CAST(sum(CASE WHEN u = 0 THEN cents END) AS BIGINT) AS suml,
             greatest(CAST(1 AS BIGINT),
                      CAST(ceil((max(cents) - min(cents) + 1) / 65536.0)
                           AS BIGINT)) AS width
      FROM o2
    ),
    bc AS (
      SELECT (cents - cmin) // width AS b,
             CAST(sum(u) AS BIGINT) AS cu,
             CAST(sum(1 - u) AS BIGINT) AS cl
      FROM o2 CROSS JOIN st GROUP BY 1
    ),
    cum AS (
      SELECT b,
             sum(cu) OVER (ORDER BY b
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cumu,
             sum(cl) OVER (ORDER BY b
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cuml,
             lead(b) OVER (ORDER BY b) AS nb
      FROM bc
    ),
    s AS (
      SELECT sum(CASE WHEN nb IS NOT NULL
                      THEN abs(CAST(cumu AS HUGEINT) * st.nl
                               - CAST(cuml AS HUGEINT) * st.nu) * (nb - b)
                 END) AS tot
      FROM cum CROSS JOIN st
    )
    SELECT st.nu AS n_urgent, st.nl AS n_low,
           st.width AS quant_width_cents,
           round(CAST(s.tot AS DOUBLE) * st.width
                 / (st.nu * 1.0 * st.nl) / 100.0, 4) + 0.0
             AS w1_dollars,
           round(st.sumu * 1.0 / st.nu / 100.0
                 - st.suml * 1.0 / st.nl / 100.0, 4) + 0.0
             AS mean_diff_dollars
    FROM s CROSS JOIN st
    """,
)
def wasserstein_price_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution distance — exact 1-Wasserstein (earth mover's)
    distance between the URGENT and LOW order-value distributions,
    quantized to ≤65536 adaptive-width integer-cent buckets (the
    hodges_lehmann histogram idiom): W1 = Σ|F_u−F_l|·Δv as the step
    integral over the bucket grid, with gaps between occupied buckets
    carried by lead(b). Where ks_two_sample reports the max CDF gap,
    W1 reports the AREA — the magnitude of the shift in dollars. The
    per-bucket term |cumu·Nl − cuml·Nu| is exact integer arithmetic
    (decimal(38,0) sum; DuckDB HUGEINT) — identical on both engines,
    no add-order float risk. One corpus scan → bucket reduction; the
    cumulative runs on the bounded bucket grid (allowlisted)."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    o2 = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("u"),
    )
    st = (
        o2.agg(
            F.sum("u").cast("bigint").alias("nu"),
            F.sum(1 - F.col("u")).cast("bigint").alias("nl"),
            F.min("cents").alias("cmin"),
            F.max("cents").alias("cmax"),
            F.sum(F.when(F.col("u") == 1, F.col("cents")))
            .cast("bigint")
            .alias("sumu"),
            F.sum(F.when(F.col("u") == 0, F.col("cents")))
            .cast("bigint")
            .alias("suml"),
        )
        .withColumn(
            "width",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil((F.col("cmax") - F.col("cmin") + 1) / F.lit(65536.0))
                .cast("bigint"),
            ),
        )
        .localCheckpoint()  # 1 row; feeds the bucket pass AND the emit
    )
    bc = (
        o2.crossJoin(F.broadcast(st.select("cmin", "width")))
        .groupBy(F.expr("(cents - cmin) div width").alias("b"))
        .agg(
            F.sum("u").cast("bigint").alias("cu"),
            F.sum(1 - F.col("u")).cast("bigint").alias("cl"),
        )
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wlead = Window.orderBy("b")
    cum = bc.select(
        "b",
        F.sum("cu").over(wcum).alias("cumu"),
        F.sum("cl").over(wcum).alias("cuml"),
        F.lead("b").over(wlead).alias("nb"),
    )
    # SCALE.md §33: cumu/nl are corpus row counts, so the per-bucket
    # product is Θ(n²) — operand-first decimal (DuckDB's window sum is
    # already HUGEINT; int64 here dies one web-scale corpus up)
    s = cum.crossJoin(F.broadcast(st.select("nu", "nl"))).agg(
        F.sum(
            F.when(
                F.col("nb").isNotNull(),
                F.abs(
                    F.col("cumu").cast(dec) * F.col("nl").cast(dec)
                    - F.col("cuml").cast(dec) * F.col("nu").cast(dec)
                )
                * (F.col("nb") - F.col("b")),
            )
        ).alias("tot")
    )
    return s.crossJoin(F.broadcast(st)).select(  # 1-row scalar attach
        F.col("nu").alias("n_urgent"),
        F.col("nl").alias("n_low"),
        F.col("width").alias("quant_width_cents"),
        r4(
            F.col("tot").cast("double")
            * F.col("width")
            / (F.col("nu") * 1.0 * F.col("nl"))
            / 100.0
        ).alias("w1_dollars"),
        r4(
            F.col("sumu") * 1.0 / F.col("nu") / 100.0
            - F.col("suml") * 1.0 / F.col("nl") / 100.0
        ).alias("mean_diff_dollars"),
    )


@register(
    "negbin_overdispersion",
    oracle="""
    WITH k AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS k
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sk,
             CAST(sum(k * k) AS BIGINT) AS skk,
             CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zeros
      FROM k
    ),
    p AS (
      SELECT n, zeros, sk * 1.0 / n AS m,
             (n * 1.0 * skk - sk * 1.0 * sk) / (n * 1.0 * (n - 1)) AS v
      FROM s
    )
    SELECT n AS n_customers, round(m, 4) + 0.0 AS mean_orders,
           round(v, 4) + 0.0 AS var_orders,
           round(v / m, 4) + 0.0 AS dispersion_ratio,
           round(CASE WHEN v > m THEN m * m / (v - m) END, 4) + 0.0
             AS nb_r,
           round(zeros * 1.0 / n, 4) + 0.0 AS zero_frac_obs,
           round(exp(-m), 4) + 0.0 AS zero_frac_poisson
    FROM p
    """,
)
def negbin_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count modeling — overdispersion diagnosis and negative-binomial
    method-of-moments fit on per-customer order counts (zeros INCLUDED
    via the customer left join — dropping them is the classic selection
    bug): dispersion ratio var/mean (Poisson ⇒ 1), NB size r = m²/(v−m)
    when overdispersed, and the observed-vs-Poisson zero fraction (the
    zero-inflation read). Complements dispersion_index_check (events
    per day) with the cross-SECTIONAL count distribution. Sufficient
    statistics are exact BIGINTs (k ≤ ~40 per customer, n·Σk² safe past
    sf100); every emission is an identical-expression double ratio."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    cst = load_table(spark, sf_dir, "customer").select("c_custkey")
    k = (
        cst.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("k"))
    )
    s = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zeros"),
    )
    m = F.col("sk") * 1.0 / F.col("n")
    v = (F.col("n") * 1.0 * F.col("skk") - F.col("sk") * 1.0 * F.col("sk")) / (
        F.col("n") * 1.0 * (F.col("n") - 1)
    )
    return s.select(
        F.col("n").alias("n_customers"),
        r4(m).alias("mean_orders"),
        r4(v).alias("var_orders"),
        r4(v / m).alias("dispersion_ratio"),
        r4(F.when(v > m, m * m / (v - m))).alias("nb_r"),
        r4(F.col("zeros") * 1.0 / F.col("n")).alias("zero_frac_obs"),
        r4(F.exp(-m)).alias("zero_frac_poisson"),
    )


@register(
    "engle_granger_cointegration",
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
    s AS (
      SELECT count(*) AS n, sum(lc) AS sl, sum(uc) AS su,
             sum(CAST(lc AS HUGEINT) * lc) AS sll,
             sum(CAST(lc AS HUGEINT) * uc) AS slu
      FROM g
    ),
    p AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n * slu - sl * su AS DOUBLE)
               / CAST(n * sll - sl * sl AS DOUBLE) AS b,
             CAST(su AS DOUBLE) AS sud, CAST(sl AS DOUBLE) AS sld,
             CAST(n AS DOUBLE) AS nd
      FROM s
    ),
    z AS (
      SELECT dayd,
             CAST(round(uc - ((sud - b * sld) / nd) - b * lc) AS BIGINT)
               AS z
      FROM g CROSS JOIN p
    ),
    lagd AS (
      SELECT z, lag(z) OVER (ORDER BY dayd) AS zp FROM z
    ),
    df AS (
      SELECT count(*) AS m,
             sum(CAST(zp AS HUGEINT) * zp) AS szz,
             sum(CAST(zp AS HUGEINT) * (z - zp)) AS szd,
             sum(CAST(z - zp AS HUGEINT) * (z - zp)) AS sdd
      FROM lagd WHERE zp IS NOT NULL
    ),
    fit AS (
      SELECT CAST(m AS BIGINT) AS m,
             CAST(szd AS DOUBLE) / CAST(szz AS DOUBLE) AS phi,
             CAST(szz AS DOUBLE) AS szzd, CAST(szd AS DOUBLE) AS szdd,
             CAST(sdd AS DOUBLE) AS sddd
      FROM df
    )
    SELECT p.n AS n_days, round(p.b, 4) + 0.0 AS beta,
           round(fit.phi, 4) + 0.0 AS phi,
           round(fit.phi / sqrt(greatest(fit.sddd - 2 * fit.phi * fit.szdd
                                         + fit.phi * fit.phi * fit.szzd,
                                         0.0)
                                / (fit.m - 1) / fit.szzd), 4) + 0.0
             AS adf_t
    FROM fit CROSS JOIN p
    """,
)
def engle_granger_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series econometrics — the Engle-Granger two-step
    cointegration read between the URGENT and LOW daily-revenue series:
    (1) the cointegrating OLS u = a + b·l from exact decimal(38,0)
    moments (the cuped idiom), residuals SNAPPED TO INTEGER CENTS (the
    durbin_watson idiom); (2) the Dickey-Fuller regression Δz = φ·z₋₁
    on those integer residuals, with φ, its no-intercept t-statistic
    (RSS expanded as Σdz² − 2φΣz₋dz + φ²Σz₋² from three exact integer
    sums — never a per-row float residual), and the sqrt guarded with
    greatest(·,0) on BOTH sides (SCALE.md §29). A strongly negative
    adf_t = the spread mean-reverts = the series co-move. Day-grid lag
    windows are calendar-bounded (allowlisted); the corpus pays one
    scan + one day reduction."""
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
        .localCheckpoint()  # day grid: feeds the moments AND the residuals
    )
    s = g.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("lc").cast(dec)).alias("sl"),
        F.sum(F.col("uc").cast(dec)).alias("su"),
        # operand-FIRST decimal casts: lc/uc are SF-dependent daily
        # cents (~1e9 at sf1), so int64 per-row products overflow one
        # SF above the tested fixture (r10 advice; cuped class)
        F.sum(F.col("lc").cast(dec) * F.col("lc").cast(dec)).alias("sll"),
        F.sum(F.col("lc").cast(dec) * F.col("uc").cast(dec)).alias("slu"),
    )
    p = s.select(
        F.col("n").cast("bigint").alias("n"),
        (
            (F.col("n") * F.col("slu") - F.col("sl") * F.col("su")).cast(
                "double"
            )
            / (F.col("n") * F.col("sll") - F.col("sl") * F.col("sl")).cast(
                "double"
            )
        ).alias("b"),
        F.col("su").cast("double").alias("sud"),
        F.col("sl").cast("double").alias("sld"),
        F.col("n").cast("double").alias("nd"),
    ).localCheckpoint()  # 1 row; feeds the residual pass AND the emit
    z = g.crossJoin(F.broadcast(p)).select(
        "dayd",
        F.round(
            F.col("uc")
            - (F.col("sud") - F.col("b") * F.col("sld")) / F.col("nd")
            - F.col("b") * F.col("lc")
        )
        .cast("bigint")
        .alias("z"),
    )
    lagd = z.select(
        "z", F.lag("z").over(Window.orderBy("dayd")).alias("zp")
    ).filter(F.col("zp").isNotNull())
    df = lagd.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("zp").cast(dec) * F.col("zp").cast(dec)).alias("szz"),
        F.sum(
            F.col("zp").cast(dec) * (F.col("z") - F.col("zp")).cast(dec)
        ).alias("szd"),
        F.sum(
            (F.col("z") - F.col("zp")).cast(dec)
            * (F.col("z") - F.col("zp")).cast(dec)
        ).alias("sdd"),
    )
    fit = df.select(
        "m",
        (F.col("szd").cast("double") / F.col("szz").cast("double")).alias(
            "phi"
        ),
        F.col("szz").cast("double").alias("szzd"),
        F.col("szd").cast("double").alias("szdd"),
        F.col("sdd").cast("double").alias("sddd"),
    )
    rss = F.greatest(
        F.col("sddd")
        - 2 * F.col("phi") * F.col("szdd")
        + F.col("phi") * F.col("phi") * F.col("szzd"),
        F.lit(0.0),
    )
    return fit.crossJoin(F.broadcast(p)).select(  # 1-row scalar attach
        F.col("n").alias("n_days"),
        r4(F.col("b")).alias("beta"),
        r4(F.col("phi")).alias("phi"),
        r4(
            F.col("phi")
            / F.sqrt(rss / (F.col("m") - 1) / F.col("szzd"))
        ).alias("adf_t"),
    )


@register(
    "weibull_time_to_convert",
    oracle="WITH " + _conversion_obs_sql(95) + """,
    tot AS (SELECT count(*) AS n FROM obs),
    dt AS (
      SELECT t, CAST(sum(death) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS ended
      FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             tot.n - coalesce(sum(ended) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM dt CROSS JOIN tot
    ),
    km AS (
      SELECT t, d,
             exp(sum(ln(CASE WHEN n_risk > d
                             THEN (n_risk - d) * 1.0 / n_risk
                             ELSE 1.0 END))
                 OVER (ORDER BY t)) AS s
      FROM risk WHERE d > 0
    ),
    pts AS (
      SELECT ln(CAST(t AS DOUBLE)) AS x, ln(-ln(s)) AS y
      FROM km WHERE t > 0 AND s > 0 AND s < 1
    ),
    ols AS (
      SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts
    ),
    fit AS (
      SELECT CAST(np AS BIGINT) AS n_points,
             (np * sxy - sx * sy) / (np * sxx - sx * sx) AS shape,
             sy / np AS ybar, sx / np AS xbar
      FROM ols
    ),
    ev AS (SELECT CAST(sum(death) AS BIGINT) AS n_events,
                  CAST(count(*) AS BIGINT) AS n_users FROM obs)
    SELECT ev.n_users, ev.n_events, fit.n_points,
           round(fit.shape, 4) + 0.0 AS weibull_shape,
           round(exp(fit.xbar - fit.ybar / fit.shape), 4) + 0.0
             AS weibull_scale_days,
           round(exp(fit.xbar - fit.ybar / fit.shape)
                 * pow(0.6931471805599453, 1.0 / fit.shape), 4) + 0.0
             AS median_days
    FROM fit CROSS JOIN ev
    """,
)
def weibull_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric survival — Weibull fit to the pooled time-to-
    conversion distribution via Kaplan-Meier linearization: the KM
    curve (same censoring/horizon/conversion definitions as
    kaplan_meier_churn, pooled across cohorts) gives points
    (ln t, ln(−ln S(t))) whose OLS slope IS the Weibull shape k and
    whose intercept gives the scale λ = exp(x̄ − ȳ/k) — shape < 1 means
    conversion hazard falls with tenure (convert-early-or-never),
    > 1 means it accumulates. Emits shape, scale, and the parametric
    median λ·(ln2)^(1/k). The OLS runs over ≤ horizon-days KM points
    (log-log regression over a bounded grid — the heaps_law_fit float
    precedent); event-time windows are horizon-bounded (allowlisted)."""
    obs = (
        _conversion_obs(spark, sf_dir, min_value=95)
        .select("t", "death")
        .localCheckpoint()  # user-level frame: feeds KM grid AND totals
    )
    tot = obs.agg(F.count(F.lit(1)).alias("n"))
    dt = obs.groupBy("t").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("ended"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = dt.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n") - F.coalesce(F.sum("ended").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    wkm = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    safe = F.when(
        F.col("n_risk") > F.col("d"),
        (F.col("n_risk") - F.col("d")) * F.lit(1.0) / F.col("n_risk"),
    ).otherwise(F.lit(1.0))
    km = risk.filter(F.col("d") > 0).select(
        "t", "d", F.exp(F.sum(F.log(safe)).over(wkm)).alias("s")
    )
    pts = km.filter(
        (F.col("t") > 0) & (F.col("s") > 0) & (F.col("s") < 1)
    ).select(
        F.log(F.col("t").cast("double")).alias("x"),
        F.log(-F.log("s")).alias("y"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    fit = ols.select(
        F.col("np").cast("bigint").alias("n_points"),
        (
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("shape"),
        (F.col("sy") / F.col("np")).alias("ybar"),
        (F.col("sx") / F.col("np")).alias("xbar"),
    )
    evs = obs.agg(
        F.sum("death").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    scale = F.exp(F.col("xbar") - F.col("ybar") / F.col("shape"))
    return fit.crossJoin(F.broadcast(evs)).select(  # 1-row scalar attach
        "n_users",
        "n_events",
        "n_points",
        r4(F.col("shape")).alias("weibull_shape"),
        r4(scale).alias("weibull_scale_days"),
        r4(
            scale * F.pow(F.lit(0.6931471805599453), 1.0 / F.col("shape"))
        ).alias("median_days"),
    )


@register(
    "bray_curtis_source_matrix",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)),
                                       '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents
    ),
    c AS MATERIALIZED (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM tok WHERE tok <> '' GROUP BY 1, 2
    ),
    t AS MATERIALIZED (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1
    ),
    mins AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS shared_tokens,
             CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS w
      FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT m.source_a, m.source_b, m.shared_tokens,
           round(1.0 - 2.0 * m.w / (ta.tot + tb.tot), 4) + 0.0
             AS bray_curtis
    FROM mins m
    JOIN t ta ON ta.source = m.source_a
    JOIN t tb ON tb.source = m.source_b
    """,
)
def bray_curtis_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture design — the Bray-Curtis dissimilarity matrix between
    source unigram count profiles: BC = 1 − 2·Σmin(c_a, c_b)/(N_a+N_b),
    the abundance-weighted ecology measure that complements
    source_js_divergence (JSD compares SHAPES of the normalized
    distributions; BC feels absolute abundance, so a source that is a
    strict subsample of another scores far from 0 under BC but ≈0 under
    JSD — both reads matter when weighting a mixture). EXACT integers
    until the final ratio. One corpus shuffle to (source, token)
    counts; the pairwise Σmin is an inner join on token — |vocab|·
    |pairs-sharing-a-token| work, never |docs|²."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim("text")), "[ \t\n\x0B\f\r]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    c = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()  # consumed by the totals AND both join sides
    )
    t = c.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("tot"))
    a = c.select(
        F.col("source").alias("source_a"), "tok", F.col("cnt").alias("ca")
    )
    b = c.select(
        F.col("source").alias("source_b"), "tok", F.col("cnt").alias("cb")
    )
    mins = (
        a.join(b, on="tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_tokens"),
            F.sum(F.least("ca", "cb")).cast("bigint").alias("w"),
        )
    )
    ta = t.select(F.col("source").alias("source_a"), F.col("tot").alias("tota"))
    tb = t.select(F.col("source").alias("source_b"), F.col("tot").alias("totb"))
    return (
        mins.join(F.broadcast(ta), on="source_a")
        .join(F.broadcast(tb), on="source_b")
        .select(
            "source_a",
            "source_b",
            "shared_tokens",
            r4(
                1.0 - 2.0 * F.col("w") / (F.col("tota") + F.col("totb"))
            ).alias("bray_curtis"),
        )
    )


@register(
    "hurst_exponent_rs",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS dayd,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    tg AS (
      SELECT datediff('day', (SELECT min(dayd) FROM g), dayd) + 1 AS t, y
      FROM g
    ),
    sc AS (SELECT unnest([8, 16, 32, 64, 128, 256]) AS s),
    blk AS (
      SELECT s, (t - 1) // s AS block, t, y FROM tg CROSS JOIN sc
    ),
    wins AS (
      SELECT s, block, y,
             sum(y) OVER (PARTITION BY s, block ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumy,
             row_number() OVER (PARTITION BY s, block ORDER BY t) AS k,
             sum(y) OVER (PARTITION BY s, block) AS sy,
             count(*) OVER (PARTITION BY s, block) AS cnt
      FROM blk
    ),
    blocks AS (
      SELECT s, block, max(cnt) AS cnt, max(sy) AS sy,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             max(s * cumy - k * sy) AS mx, min(s * cumy - k * sy) AS mn
      FROM wins GROUP BY 1, 2
    ),
    rs AS (
      SELECT s,
             ln((mx - mn)
                / sqrt(CAST(s * syy - sy * sy AS DOUBLE))) AS lnrs
      FROM blocks
      WHERE cnt = s AND s * syy - sy * sy > 0 AND mx > mn
    ),
    pts AS (
      SELECT ln(CAST(s AS DOUBLE)) AS x, avg(lnrs) AS yv,
             CAST(count(*) AS BIGINT) AS nblocks
      FROM rs GROUP BY s
    ),
    ols AS (
      SELECT count(*) AS np, sum(x) AS sx, sum(yv) AS syv,
             sum(x * yv) AS sxy, sum(x * x) AS sxx,
             CAST(sum(nblocks) AS BIGINT) AS blocks_used
      FROM pts
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_days,
           CAST(np AS BIGINT) AS n_scales,
           CAST(coalesce(blocks_used, 0) AS BIGINT) AS blocks_used,
           round(CASE WHEN np >= 2 AND np * sxx - sx * sx <> 0
                      THEN (np * sxy - sx * syv) / (np * sxx - sx * sx)
                 END, 4) + 0.0 AS hurst_h
    FROM ols
    """,
)
def hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-memory diagnostics — the Hurst exponent by classical
    rescaled-range (R/S) analysis over the daily-revenue series: for
    dyadic scales s ∈ {8..256}, split the day grid into full blocks of
    s days, R = the range of cumulative deviations from the block mean,
    S = the block standard deviation, and H = the log-log OLS slope of
    mean ln(R/S) against ln(s). H≈0.5 is a memoryless walk, H>0.5
    persistent trends, H<0.5 mean reversion — the long-horizon
    complement to ljung_box_q/autocorrelation_lags. EXACT integer core:
    the deviation s·cumy − k·Σy and the variance argument s·Σy² − (Σy)²
    are integer-valued on both engines (decimal for the quadratic at
    scale), so R/S is an identical double; only the per-scale ln mean
    and the 6-point OLS carry the standard add-order guard band. All
    block windows are (s, block)-PARTITIONED — no global window, any
    corpus size."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    g = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("dayd"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "y"
            )
        )
        .localCheckpoint()  # day grid: feeds n_days AND the block pass
    )
    m = g.agg(F.min("dayd").alias("d0"))
    nd = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    tg = g.crossJoin(F.broadcast(m)).select(
        (F.datediff(F.col("dayd"), F.col("d0")) + 1).alias("t"), "y"
    )
    sc = spark.createDataFrame(
        [(8,), (16,), (32,), (64,), (128,), (256,)], "s long"
    )
    blk = tg.crossJoin(F.broadcast(sc)).select(
        "s", F.expr("(t - 1) div s").alias("block"), "t", "y"
    )
    wcum = (
        Window.partitionBy("s", "block")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("s", "block")
    wins = blk.select(
        "s",
        "block",
        "y",
        F.sum("y").over(wcum).alias("cumy"),
        F.row_number()
        .over(Window.partitionBy("s", "block").orderBy("t"))
        .alias("k"),
        F.sum("y").over(wall).alias("sy"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    dev = F.col("s") * F.col("cumy") - F.col("k") * F.col("sy")
    blocks = wins.groupBy("s", "block").agg(
        F.max("cnt").alias("cnt"),
        F.max("sy").alias("sy"),
        # operand-FIRST decimal cast: y is the SF-dependent full daily
        # revenue in cents (~9.4e9 at sf1), so an int64 y*y would pass
        # 2^63 one SF above the tested fixture and throw under ANSI
        # (r10 advice; same class as the cuped overflow)
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
        F.max(dev).alias("mx"),
        F.min(dev).alias("mn"),
    )
    varg = F.col("s").cast(dec) * F.col("syy") - (
        F.col("sy").cast(dec) * F.col("sy").cast(dec)
    )
    rs = blocks.filter(
        (F.col("cnt") == F.col("s")) & (varg > 0) & (F.col("mx") > F.col("mn"))
    ).select(
        "s",
        F.log((F.col("mx") - F.col("mn")) / F.sqrt(varg.cast("double"))).alias(
            "lnrs"
        ),
    )
    pts = rs.groupBy("s").agg(
        F.avg("lnrs").alias("yv"),
        F.count(F.lit(1)).cast("bigint").alias("nblocks"),
    ).select(F.log(F.col("s").cast("double")).alias("x"), "yv", "nblocks")
    ols = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("syv"),
        F.sum(F.col("x") * F.col("yv")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("nblocks").cast("bigint").alias("blocks_used"),
    )
    den = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    return ols.crossJoin(F.broadcast(nd)).select(  # 1-row scalar attach
        "n_days",
        F.col("np").cast("bigint").alias("n_scales"),
        F.coalesce(F.col("blocks_used"), F.lit(0))
        .cast("bigint")
        .alias("blocks_used"),
        r4(
            F.when(  # sparse small-SF day grids can leave < 2 scales
                (F.col("np") >= 2) & (den != 0),
                (F.col("np") * F.col("sxy") - F.col("sx") * F.col("syv"))
                / den,
            )
        ).alias("hurst_h"),
    )


@register(
    "auc_doc_length_lang",
    oracle="""
    WITH d AS (
      SELECT n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    vg AS (
      SELECT n_chars AS v, CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM d GROUP BY 1
    ),
    cum AS (
      SELECT v, np, nn,
             coalesce(sum(nn) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS negs_below
      FROM vg
    ),
    s AS (
      SELECT CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             sum(np * (negs_below + nn / 2.0)) AS u
      FROM cum
    )
    SELECT n_pos, n_neg,
           round(u / (n_pos * 1.0 * n_neg), 4) + 0.0 AS auc,
           round(2.0 * u / (n_pos * 1.0 * n_neg) - 1.0, 4) + 0.0
             AS gini_coefficient
    FROM s
    """,
)
def auc_doc_length_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation — ROC AUC of document length as a score
    for the 'en' label, computed EXACTLY as the Mann-Whitney U
    probability P(len_pos > len_neg) + ½P(=): U = Σ_v pos_v·(negs
    below + ½·negs at v) over the n_chars VALUE GRID — bounded by the
    document-length domain ([44, 577] in the fixtures), not the corpus,
    so the cumulative window is allowlist-bounded while the corpus pays
    one conditional-count shuffle. U sums exact half-integers ⇒
    identical on both engines. AUC completes the eval family: brier
    (calibration), ndcg (ranking), cumulative_gains (targeting) — this
    is threshold-free discrimination, and gini = 2·AUC − 1."""
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    vg = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("nn"),
    )
    wprev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vg.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(wprev), F.lit(0)).alias("negs_below"),
    )
    s = cum.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("np") * (F.col("negs_below") + F.col("nn") / 2.0)
        ).alias("u"),
    )
    auc = F.col("u") / (F.col("n_pos") * 1.0 * F.col("n_neg"))
    return s.select(
        "n_pos",
        "n_neg",
        r4(auc).alias("auc"),
        r4(2.0 * auc - 1.0).alias("gini_coefficient"),
    )


@register(
    "interevent_burstiness_memory",
    oracle="""
    WITH ts AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ),
    seq AS (
      SELECT user_id, g,
             lead(g) OVER (PARTITION BY user_id ORDER BY rn) AS gn
      FROM (
        SELECT user_id, g,
               row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
                 AS rn
        FROM (SELECT user_id,
                     (us - lag(us) OVER (PARTITION BY user_id
                                         ORDER BY us, event_id)) // 1000000
                       AS g,
                     us, event_id
              FROM ts)
        WHERE g IS NOT NULL
      )
    ),
    mom AS (
      SELECT count(*) AS n, sum(g) AS sg, sum(g * g) AS sgg FROM seq
    ),
    pm AS (
      SELECT count(*) AS n2, sum(g) AS sx, sum(gn) AS sy,
             sum(g * gn) AS sxy, sum(g * g) AS sxx, sum(gn * gn) AS syy
      FROM seq WHERE gn IS NOT NULL
    ),
    bstat AS (
      SELECT CAST(n AS BIGINT) AS n_gaps,
             sg * 1.0 / n AS mu,
             sqrt(greatest(CAST(n * sgg - sg * sg AS DOUBLE)
                           / (n * 1.0 * (n - 1)), 0.0)) AS sd
      FROM mom
    ),
    mstat AS (
      SELECT CAST(n2 AS BIGINT) AS n_pairs,
             CASE WHEN n2 * sxx - sx * sx > 0 AND n2 * syy - sy * sy > 0
                  THEN CAST(n2 * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n2 * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n2 * syy - sy * sy AS DOUBLE)))
             END AS m
      FROM pm
    )
    SELECT b.n_gaps, m.n_pairs,
           round(b.mu, 4) + 0.0 AS mean_gap_s,
           round(CASE WHEN b.sd + b.mu > 0
                      THEN (b.sd - b.mu) / (b.sd + b.mu) END, 4) + 0.0
             AS burstiness_b,
           round(m.m, 4) + 0.0 AS memory_m
    FROM bstat b CROSS JOIN mstat m
    """,
)
def interevent_burstiness_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-pattern analytics — the Goh-Barabási (B, M) signature
    of the event stream: burstiness B = (σ−μ)/(σ+μ) of inter-event
    gaps (B→−1 periodic, 0 Poisson, →1 bursty) and memory M = the
    correlation between consecutive gaps — together they separate
    'bursty because heavy-tailed' from 'bursty because correlated',
    which rate-based reads (dispersion_index_check) cannot. Gaps are
    EXACT INTEGER SECONDS (floor-divided microsecond deltas — the
    sessionize lesson), consecutive pairs come from a second
    user-PARTITIONED lag, and every moment is an exact integer sum
    (decimal vs HUGEINT), so B and M are identical doubles. Corpus
    cost: one shuffle to user partitions; windows never cross users."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    ts = ev.select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    gaps = ts.select(
        "user_id",
        F.expr("(us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) div 1000000").alias("g"),
        F.row_number().over(wseq).alias("rn"),
    ).filter(F.col("g").isNotNull())
    wnext = Window.partitionBy("user_id").orderBy("rn")
    seq = gaps.select(
        "g", F.lead("g").over(wnext).alias("gn")
    ).localCheckpoint()  # gap frame: feeds the B moments AND the M pairs
    mom = seq.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("g").cast(dec)).alias("sg"),
        F.sum((F.col("g") * F.col("g")).cast(dec)).alias("sgg"),
    )
    pm = seq.filter(F.col("gn").isNotNull()).agg(
        F.count(F.lit(1)).cast(dec).alias("n2"),
        F.sum(F.col("g").cast(dec)).alias("sx"),
        F.sum(F.col("gn").cast(dec)).alias("sy"),
        F.sum((F.col("g") * F.col("gn")).cast(dec)).alias("sxy"),
        F.sum((F.col("g") * F.col("g")).cast(dec)).alias("sxx"),
        F.sum((F.col("gn") * F.col("gn")).cast(dec)).alias("syy"),
    )
    bstat = mom.select(
        F.col("n").cast("bigint").alias("n_gaps"),
        (F.col("sg") * 1.0 / F.col("n")).alias("mu"),
        F.sqrt(
            F.greatest(
                (F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")).cast(
                    "double"
                )
                / (F.col("n").cast("double") * (F.col("n") - 1).cast("double")),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    cxx = F.col("n2") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n2") * F.col("syy") - F.col("sy") * F.col("sy")
    mstat = pm.select(
        F.col("n2").cast("bigint").alias("n_pairs"),
        F.when(
            (cxx > 0) & (cyy > 0),
            (F.col("n2") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.sqrt(cxx.cast("double")) * F.sqrt(cyy.cast("double"))),
        ).alias("m"),
    )
    return bstat.crossJoin(F.broadcast(mstat)).select(  # 1-row attach
        "n_gaps",
        "n_pairs",
        r4(F.col("mu")).alias("mean_gap_s"),
        r4(
            F.when(
                F.col("sd") + F.col("mu") > 0,
                (F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu")),
            )
        ).alias("burstiness_b"),
        r4(F.col("m")).alias("memory_m"),
    )


@register(
    "effect_size_priority",
    oracle="""
    WITH o2 AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    s AS (
      SELECT sum(t) AS n1, sum(1 - t) AS n0,
             sum(CASE WHEN t = 1 THEN c ELSE 0 END) AS s1,
             sum(CASE WHEN t = 0 THEN c ELSE 0 END) AS s0,
             sum(CASE WHEN t = 1 THEN c * c ELSE 0 END) AS ss1,
             sum(CASE WHEN t = 0 THEN c * c ELSE 0 END) AS ss0
      FROM o2
    ),
    p AS (
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
             s1 * 1.0 / n1 / 100.0 AS m1, s0 * 1.0 / n0 / 100.0 AS m0,
             CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
               / (n1 * 1.0 * (n1 - 1)) / 10000.0 AS v1,
             CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
               / (n0 * 1.0 * (n0 - 1)) / 10000.0 AS v0
      FROM s
    )
    SELECT n1 AS n_treat, n0 AS n_ctrl,
           round((m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                                  / (n1 + n0 - 2)), 4) + 0.0 AS cohens_d,
           round((m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                                  / (n1 + n0 - 2))
                 * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 4) + 0.0
             AS hedges_g,
           round((m1 - m0) / sqrt(v0), 4) + 0.0 AS glass_delta,
           round(v1 / v0, 4) + 0.0 AS var_ratio
    FROM p
    """,
)
def effect_size_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size family — Cohen's d, the small-sample Hedges g
    correction, Glass's Δ (control-sd denominator, the right choice
    when the treatment changes the variance — var_ratio says whether
    it did) for URGENT vs LOW order values. welch_t_test answers 'is
    there an effect'; these answer HOW BIG in pooled-sd units — the
    number that survives power analysis and meta-analysis. One
    conditional-aggregate corpus scan to six exact integer sufficient
    statistics (decimal vs HUGEINT); every emission is an
    identical-expression double."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    o2 = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("t"),
    )
    s = o2.agg(
        F.sum("t").cast(dec).alias("n1"),
        F.sum(1 - F.col("t")).cast(dec).alias("n0"),
        F.sum(F.when(F.col("t") == 1, F.col("c")).otherwise(0))
        .cast(dec)
        .alias("s1"),
        F.sum(F.when(F.col("t") == 0, F.col("c")).otherwise(0))
        .cast(dec)
        .alias("s0"),
        F.sum(
            F.when(F.col("t") == 1, F.col("c") * F.col("c")).otherwise(0).cast(
                dec
            )
        ).alias("ss1"),
        F.sum(
            F.when(F.col("t") == 0, F.col("c") * F.col("c")).otherwise(0).cast(
                dec
            )
        ).alias("ss0"),
    )
    p = s.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n0").cast("bigint").alias("n0"),
        (F.col("s1") * 1.0 / F.col("n1") / 100.0).alias("m1"),
        (F.col("s0") * 1.0 / F.col("n0") / 100.0).alias("m0"),
        (
            (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast(
                "double"
            )
            / (F.col("n1").cast("double") * (F.col("n1") - 1).cast("double"))
            / 10000.0
        ).alias("v1"),
        (
            (F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0")).cast(
                "double"
            )
            / (F.col("n0").cast("double") * (F.col("n0") - 1).cast("double"))
            / 10000.0
        ).alias("v0"),
    )
    sp = F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0"))
        / (F.col("n1") + F.col("n0") - 2)
    )
    d = (F.col("m1") - F.col("m0")) / sp
    return p.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        r4(d).alias("cohens_d"),
        r4(
            d * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n0")) - 9.0))
        ).alias("hedges_g"),
        r4((F.col("m1") - F.col("m0")) / F.sqrt(F.col("v0"))).alias(
            "glass_delta"
        ),
        r4(F.col("v1") / F.col("v0")).alias("var_ratio"),
    )


@register(
    "mrr_hit_at_k",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS nrm
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 5 = 0),
    ranked AS (
      SELECT a.vec_id, a.label, b.label AS nlabel,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                        b.vec_id
             ) AS rn
      FROM q a JOIN e b ON a.vec_id <> b.vec_id
    ),
    fr AS (
      SELECT vec_id, label,
             min(CASE WHEN nlabel = label THEN rn END) AS first_rel
      FROM ranked WHERE rn <= 10 GROUP BY 1, 2
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(coalesce(1.0 / first_rel, 0.0)), 4) + 0.0 AS mrr_10,
           round(avg(CASE WHEN first_rel = 1 THEN 1.0 ELSE 0.0 END), 4)
             + 0.0 AS hit_at_1,
           round(avg(CASE WHEN first_rel <= 5 THEN 1.0 ELSE 0.0 END), 4)
             + 0.0 AS hit_at_5,
           round(avg(CASE WHEN first_rel IS NOT NULL THEN 1.0 ELSE 0.0 END),
                 4) + 0.0 AS hit_at_10
    FROM fr GROUP BY 1
    """,
)
def mrr_hit_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval — MRR@10 and hit@{1,5,10} of brute-force cosine
    retrieval with same-label relevance, per class on the 1-in-5 query
    sample: the first-relevant-position metrics a RAG/recommendation
    readout quotes (ndcg_label_retrieval grades the whole list; MRR
    grades where the FIRST useful result lands; hit@k is the
    budget-k success rate). Same fold, sample, and tie discipline
    (sim DESC, vec_id) as the NDCG query. hit@k values are exact
    count ratios; MRR sums exact reciprocals 1/1..1/10 per class (the
    NDCG float precedent). Broadcast-side brute force is the baseline
    shape — the ANN family holds the scale path."""
    # r13: the 1-in-5 query sample fans out to one partition per core
    # before streaming the broadcast — the sample is a single parquet
    # split, so the whole pair scoring otherwise ran in ONE task (a
    # jstack'd ~10 s straggler at sf0.1; 6.8 -> ~2.5 s). The fold dot
    # kernel itself stays: an unrolled chain A/B'd 5x more CPU in this
    # non-codegen BNLJ projection context (SIM.dot docstring).
    sqn = F.sqrt(SIM.dot(F.col("v"), F.col("v")))
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", SIM._as_double(F.col("embedding")).alias("v")
        )
        .select("vec_id", "label", "v", sqn.alias("nrm"))
    )
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
        "vec_id",
        "label",
        "nlabel",
        (dot / (F.col("nrm") * F.col("nnrm"))).alias("sim"),
        "nid",
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "nid")
    fr = (
        pairs.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .groupBy("vec_id", "label")
        .agg(
            F.min(
                F.when(F.col("nlabel") == F.col("label"), F.col("rn"))
            ).alias("first_rel")
        )
    )
    return fr.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        r4(
            F.avg(F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)))
        ).alias("mrr_10"),
        r4(
            F.avg(F.when(F.col("first_rel") == 1, 1.0).otherwise(0.0))
        ).alias("hit_at_1"),
        r4(
            F.avg(F.when(F.col("first_rel") <= 5, 1.0).otherwise(0.0))
        ).alias("hit_at_5"),
        r4(
            F.avg(
                F.when(F.col("first_rel").isNotNull(), 1.0).otherwise(0.0)
            )
        ).alias("hit_at_10"),
    ).select(
        F.col("label").cast("bigint").alias("label"),
        "n_queries",
        "mrr_10",
        "hit_at_1",
        "hit_at_5",
        "hit_at_10",
    )


# The rank cutoff of mrr_hit_at_k_ivf (MRR@10), shared with its oracle.
_MRR_K = 10


def _mrr_ivf_oracle_sql() -> str:
    """mrr_hit_at_k_ivf oracle: the shared IVF training replay
    (`_ivf_training_sql`), the 1-in-5 query sample probing
    ``_IVF_NPROBE`` lists, first-relevant positions within the IVF
    top-``_MRR_K``, the exact
    brute-force first-relevant positions (the `mrr_hit_at_k` leg,
    verbatim discipline), per-label aggregation over the sample spine —
    and the contract flag PINNED to 1.0 (the hll_user_reach idiom): the
    Spark side computes whether the IVF MRR holds ≥70% of the exact MRR
    overall, so a quantizer/probe regression fails the driver gate."""
    parts = _ivf_training_sql()
    cur = f"cent{_IVF_ITERS}"
    parts += [
        f"qpro AS MATERIALIZED (SELECT id AS query_id, cluster, rawv AS qv FROM ("
        f"  SELECT uv.id, uv.rawv, c.cluster,"
        f"         row_number() OVER (PARTITION BY uv.id"
        f"           ORDER BY list_dot_product(uv.rawv, c.cvec) DESC, c.cluster DESC) AS rn"
        f"  FROM uv CROSS JOIN {cur} c WHERE uv.id % 5 = 0) WHERE rn <= {_IVF_NPROBE})",
        "iscored AS (SELECT q.query_id, c.neighbor_id,"
        " CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)) > 0"
        "      THEN list_dot_product(q.qv, c.cv)"
        "           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))"
        "      ELSE 0.0 END AS sim"
        " FROM qpro q JOIN casg c ON q.cluster = c.cluster AND q.query_id <> c.neighbor_id)",
        f"irank AS (SELECT query_id, neighbor_id, rn FROM ("
        f"  SELECT query_id, neighbor_id,"
        f"         row_number() OVER (PARTITION BY query_id"
        f"           ORDER BY sim DESC, neighbor_id) AS rn"
        f"  FROM iscored) WHERE rn <= {_MRR_K})",
        "lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label FROM embeddings)",
        "fri AS (SELECT r.query_id,"
        " min(CASE WHEN nl.label = ql.label THEN r.rn END) AS fr"
        " FROM irank r JOIN lab nl ON r.neighbor_id = nl.id"
        " JOIN lab ql ON r.query_id = ql.id GROUP BY 1)",
        # exact brute leg — the mrr_hit_at_k oracle verbatim
        "e2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,"
        " sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
        " CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings)",
        "q2 AS (SELECT * FROM e2 WHERE vec_id % 5 = 0)",
        f"eranked AS (SELECT a.vec_id, a.label, b.label AS nlabel,"
        f" row_number() OVER (PARTITION BY a.vec_id"
        f"   ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,"
        f"            b.vec_id) AS rn"
        f" FROM q2 a JOIN e2 b ON a.vec_id <> b.vec_id)",
        f"fre AS (SELECT vec_id AS query_id,"
        f" min(CASE WHEN nlabel = label THEN rn END) AS fr"
        f" FROM eranked WHERE rn <= {_MRR_K} GROUP BY 1)",
        "spine AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS label"
        " FROM embeddings WHERE vec_id % 5 = 0)",
        "per AS (SELECT s.label, count(*) AS n_queries,"
        " avg(coalesce(1.0 / fi.fr, 0.0)) AS mrr_i,"
        " avg(CASE WHEN fi.fr = 1 THEN 1.0 ELSE 0.0 END) AS h1,"
        " avg(CASE WHEN fi.fr <= 5 THEN 1.0 ELSE 0.0 END) AS h5,"
        " avg(CASE WHEN fi.fr IS NOT NULL THEN 1.0 ELSE 0.0 END) AS h10,"
        " avg(coalesce(1.0 / fe.fr, 0.0)) AS mrr_e"
        " FROM spine s LEFT JOIN fri fi ON s.query_id = fi.query_id"
        " LEFT JOIN fre fe ON s.query_id = fe.query_id GROUP BY 1)",
    ]
    return ",\n".join(parts) + """
    SELECT label, CAST(n_queries AS BIGINT) AS n_queries,
           round(mrr_i, 4) + 0.0 AS mrr_10,
           round(h1, 4) + 0.0 AS hit_at_1,
           round(h5, 4) + 0.0 AS hit_at_5,
           round(h10, 4) + 0.0 AS hit_at_10,
           round(mrr_e, 4) + 0.0 AS mrr_10_exact,
           CAST(1.0 AS DOUBLE) AS mrr_bound_ok
    FROM per
    """


