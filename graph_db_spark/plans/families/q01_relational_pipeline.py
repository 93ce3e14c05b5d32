"""Registers 54 queries:

  event_day_stats, event_day_stats_zero_null, proj_rename
  null_guard_filter, set_membership, edge_customer_order
  broadcast_dim_join, asof_nearest_line, enrich_missing_brand
  interval_scoped_avg, anti_parts_never_ordered, semi_customers_with_orders
  earliest_per_group, distinct_sorted_set, running_idx
  dedup_first_wins, topk_per_group, sessionization
  sanitize_prop_names, depth_from_label, loose_number_parse
  range_parse, point_parse, composite_id
  json_extract_props, unit_conversion, datetime_coercion
  first_non_empty_pick, union_dedup, pricing_summary
  graph_degrees, motif_region_order_path, motif_branch_conation
  connected_components, pagerank, text_token_stats
  text_quality_lang, doc_fingerprint_dedup, ngram_jaccard_pairs
  minhash_lsh_dedup, simhash_near_dups, embedding_cosine_topk
  embedding_near_dup_pairs, ann_lsh_topk, ann_ivf_pq_topk
  ann_pq_topk, ann_ivf_topk, pipeline_application_event_idx
  pipeline_soil_param_results, pipeline_irrigation_events, pipeline_weather_day_metrics
  pipeline_sap_analyses, pipeline_sap_element_results, pipeline_optimum_element_ranges
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.functions import scalars as S
from graph_db_spark.graph.algorithms import _PR_ITERS, _PR_RESET, connected_components, pagerank
from graph_db_spark.graph.build import build_graph, edges_sql
from graph_db_spark.operators import aggregates as A
from graph_db_spark.operators import dedup as D
from graph_db_spark.operators import joins as J
from graph_db_spark.operators import similarity as SIM
from graph_db_spark.operators import text as TX
from graph_db_spark.operators.sessionize import session_intervals
from graph_db_spark.operators.similarity import (
    _ANN_K, _EMB_DIM, _IVF_CENTROIDS, _IVF_ITERS, _IVF_NPROBE, _LSH_PLANES, _LSH_SEED, _LSH_TABLES,
    _PQ_ITERS, _PQ_K_SUB, _PQ_M,
)
from graph_db_spark.plans import pipeline as P
from graph_db_spark.plans.families.q00_base import _fmt_ts, r4, register
from graph_db_spark.tables import load_table
from graph_db_spark.util import spread


@register(
    "event_day_stats",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d') AS day,
           event_type,
           round(avg(value), 4) AS data,
           round(min(value), 4) AS min,
           round(max(value), 4) AS max,
           round(sum(value), 4) AS sum,
           count(value) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def event_day_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — hourly→daily grouped aggregation, weather flavor (parity:
    _aggregate_hourly_to_daily /root/reference/app/graph_weather_day.py:69-117;
    avg-of-avgs semantics §2.10.2). One shuffle on the group key; map-side
    partial aggregation makes it scale linearly."""
    ev = load_table(spark, sf_dir, "events")
    out = A.daily_stats(ev, "ts", ["user_id", "event_type"], "value")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        r4(F.col("data")).alias("data"),
        r4(F.col("min")).alias("min"),
        r4(F.col("max")).alias("max"),
        r4(F.col("sum")).alias("sum"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "event_day_stats_zero_null",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d') AS day,
           round(CASE WHEN sum(CASE WHEN event_type = 'error' THEN value END) = 0.0
                      THEN NULL
                      ELSE sum(CASE WHEN event_type = 'error' THEN value END) END, 4) AS sum,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def event_day_stats_zero_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — flow-flavor daily agg with the zero-sum→NULL quirk replicated
    (parity: /root/reference/app/graph_irrigation_day.py:116; SURVEY §2.10.1
    decision: quirk kept behind a flag, exercised here)."""
    ev = load_table(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") == "error", F.col("value"))
    sm = F.sum(masked)
    sm = F.when(sm == 0.0, F.lit(None).cast("double")).otherwise(sm)
    return (
        ev.groupBy(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(r4(sm).alias("sum"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# P1/P2/P4 — projections & filters
# ---------------------------------------------------------------------------


@register(
    "proj_rename",
    oracle="""
    SELECT c_custkey AS field_id, c_name AS name,
           c_mktsegment AS crop_name, CAST(c_nationkey AS BIGINT) AS region_ref
    FROM customer
    """,
)
def proj_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — projection + rename (parity: city→province/county→district
    aliasing, /root/reference/app/graph_fields.py:13-30). Column pruning
    reaches the parquet scan (ReadSchema shows 4 columns)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("field_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("crop_name"),
        F.col("c_nationkey").cast("bigint").alias("region_ref"),
    )


@register(
    "null_guard_filter",
    oracle="""
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
      AND trim(event_type) <> ''
    """,
)
def null_guard_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P7 — null-guard + empty-string normalize filter (parity: serial /
    device-id guards, /root/reference/app/graph_weather_day.py:165-174;
    _norm_str graph_application_event.py:23-28). Pushed to the scan."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & S.norm_str("event_type").isNotNull()
    ).select("event_id", F.col("user_id").cast("bigint").alias("user_id"), "event_type")


@register(
    "set_membership",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
    FROM events WHERE event_type IN ('error', 'purchase')
    GROUP BY 1
    """,
)
def set_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/U2 — set-membership predicate (parity: fw_key ∈ wanted set,
    /root/reference/app/graph_weather_day.py:178-186)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("error", "purchase"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), r4(F.sum("value")).alias("total"))
    )


# ---------------------------------------------------------------------------
# J1/J2 — edge creation & broadcast dimension joins
# ---------------------------------------------------------------------------


@register(
    "edge_customer_order",
    oracle="""
    SELECT CAST(c.c_custkey AS BIGINT) AS src, CAST(o.o_orderkey AS BIGINT) AS dst,
           'HAS_ORDER' AS rel_type
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def edge_customer_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — typed edge table from two node tables (parity: the
    MATCH/MATCH/MERGE relationship writers, e.g.
    /root/reference/app/graph_stations.py:33-39 and SURVEY §1.3's 27 types).
    customer is the dimension side → broadcast, no fact shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return J.edge_join(
        c, o, on=c["c_custkey"] == o["o_custkey"], rel_type="HAS_ORDER",
        src_key="c_custkey", dst_key="o_orderkey", broadcast_src=True,
    ).select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
        "rel_type",
    )


@register(
    "broadcast_dim_join",
    oracle="""
    SELECT p.p_brand AS brand,
           count(*) AS n_lines,
           round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 10000) AS BIGINT)) / 10000.0, 4)
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — broadcast dimension lookup (parity: stations_by_field dict probe,
    /root/reference/main_graph_topraq.py:108-111). `part` broadcast: the
    lineitem side never shuffles for the join; only the groupBy shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = J.broadcast_lookup(li, p, on=[li["l_partkey"] == p["p_partkey"]])
    return (
        joined.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact 4dp-unit grid (r10 magnitude audit)
            r4(
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * 10000
                    ).cast("bigint")
                )
                / 10000.0
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_nearest_line",
    oracle="""
    SELECT o_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM (
      SELECT o.o_orderkey, l.l_linenumber, l.l_shipdate,
             row_number() OVER (
               PARTITION BY o.o_orderkey
               ORDER BY abs(epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)),
                      l.l_linenumber, l.l_shipdate
             ) AS rn
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ) WHERE rn = 1
    """,
)
def asof_nearest_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — as-of / nearest-timestamp join: for each order pick the line
    whose shipdate is closest to the order date, ties by (linenumber,
    shipdate) — the synthetic fixture REUSES linenumbers within an order,
    so (diff, linenumber) alone is not a total order and sf0.1 exposed
    equidistant pairs both engines broke arbitrarily (parity:
    best_idx argmin over |AE.start_at − activity.start_at| with
    ORDER BY start_at, idx tiebreak,
    /root/reference/app/graph_product_application.py:156-214)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_shipdate"
    )
    out = J.asof_join(
        o, li, on=["o_orderkey"], left_ts="o_orderdate", right_ts="l_shipdate",
        tiebreak_cols=["l_linenumber", "l_shipdate"],
    )
    return out.filter(F.col("l_linenumber").isNotNull()).select(
        "o_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


# ---------------------------------------------------------------------------
# J4 — enrichment join
# ---------------------------------------------------------------------------


@register(
    "enrich_missing_brand",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           coalesce(CASE WHEN l.l_linenumber % 2 = 0 THEN NULL ELSE 'inline' END,
                    p.p_brand) AS brand
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def enrich_missing_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — enrichment left-join: rows lacking an inline value pull it from
    the catalog (parity: nutrients looked up from FertilizerProduct by
    (name,brand), /root/reference/app/graph_app_nutrient_content.py:306-354).
    part is broadcast — no shuffle on the fact side."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "brand", F.when(F.col("l_linenumber") % 2 == 0, F.lit(None)).otherwise(F.lit("inline"))
    )
    p = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    out = J.enrich_join(li, p, on=["l_partkey"], fill={"brand": "p_brand"})
    return out.select("l_orderkey", "l_linenumber", "brand")


# ---------------------------------------------------------------------------
# J5 — interval-scoped aggregation join
# ---------------------------------------------------------------------------


@register(
    "interval_scoped_avg",
    oracle="""
    WITH intervals AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             min(ts) AS start_at, max(ts) AS end_at
      FROM events WHERE event_type = 'error'
      GROUP BY 1, 2
    )
    SELECT CAST(i.user_id AS BIGINT) AS user_id, i.day,
           round(avg(e.value), 4) AS avg_value,
           count(*) AS n_points
    FROM events e
    JOIN intervals i
      ON e.user_id = i.user_id AND e.ts >= i.start_at AND e.ts <= i.end_at
    GROUP BY 1, 2
    """,
)
def interval_scoped_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — interval-scoped aggregation join (parity: per-irrigation-event
    flow averaging in [start,end],
    /root/reference/app/graph_irrigation_event.py:119-152). The equi-key
    keeps it a partitioned join; the range predicate filters post-match."""
    ev = load_table(spark, sf_dir, "events")
    intervals = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(
            F.col("user_id").alias("i_user_id"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.min("ts").alias("start_at"), F.max("ts").alias("end_at"))
    )
    out = J.interval_agg_join(
        ev.select("user_id", "ts", "value"), intervals,
        point_keys=["user_id"], interval_keys=["i_user_id"],
        ts_col="ts", start_col="start_at", end_col="end_at",
        aggs=[r4(F.avg("value")).alias("avg_value"), F.count(F.lit(1)).alias("n_points")],
        interval_id_cols=["i_user_id", "day"],
    )
    return out.select(F.col("i_user_id").cast("bigint").alias("user_id"), "day", "avg_value", "n_points")


# ---------------------------------------------------------------------------
# J6 — semi / anti joins
# ---------------------------------------------------------------------------


@register(
    "anti_parts_never_ordered",
    oracle="""
    SELECT p_partkey, p_name FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def anti_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — anti-join: rows with no parent/reference (parity: the
    skip-if-no-ApplicationEvent semantics,
    /root/reference/app/graph_product_application.py:173-176, inverted to
    report the missing side — the dangling-edge check the reference lacks)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return J.anti_missing(p, li, on=["p_partkey"]).select("p_partkey", "p_name")


@register(
    "semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — semi-join keep-if-parent-exists."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return J.semi_keep(c, o, on=["c_custkey"]).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# A4/A5/A7/A8 — group helpers
# ---------------------------------------------------------------------------


@register(
    "earliest_per_group",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS earliest
    FROM events GROUP BY 1, 2
    """,
)
def earliest_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — earliest timestamp per group (parity: min reached_at per depth,
    /root/reference/app/graph_irrigation_event.py:167-178)."""
    ev = load_table(spark, sf_dir, "events")
    out = A.earliest_per_group(ev, ["user_id", "event_type"], "ts")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        _fmt_ts(F.col("earliest")).alias("earliest"),
    )


@register(
    "distinct_sorted_set",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_list
    FROM events GROUP BY 1
    """,
)
def distinct_sorted_set_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — sorted distinct-set aggregation (parity: root_zone_list,
    /root/reference/app/graph_irrigation_event.py:193-196). Emitted as a
    joined string so the oracle hash is type-stable."""
    ev = load_table(spark, sf_dir, "events")
    out = A.distinct_sorted_set(ev, ["user_id"], "event_type")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.array_join("distinct_values", ",").alias("type_list"),
    )


@register(
    "running_idx",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS BIGINT) AS idx
    FROM lineitem
    """,
)
def running_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — per-group sequential index in deterministic order (parity: the
    in-memory idx counters, /root/reference/app/graph_application_event.py:99,146-150)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = A.running_index(li, ["l_orderkey"], ["l_shipdate", "l_linenumber"])
    return out.select("l_orderkey", "l_linenumber", F.col("idx").cast("bigint").alias("idx"))


@register(
    "dedup_first_wins",
    oracle="""
    SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS day, o_orderkey
    FROM (
      SELECT o_custkey, o_orderdate, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — dedup by key with deterministic first-wins (parity: the
    seen-set skip, /root/reference/app/graph_optimum_sap_range.py:29-62)."""
    o = load_table(spark, sf_dir, "orders")
    out = A.dedup_first(o, ["o_custkey", "o_orderdate"], ["o_orderkey"])
    return out.select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"), "o_orderkey"
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS total
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — top-k per group by rank (parity: the top-1-by-proximity argmin
    generalized, /root/reference/app/graph_product_application.py:202-214)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", r4(F.col("o_totalprice")).alias("total"))
    )


# ---------------------------------------------------------------------------
# §2.8 — sessionization
# ---------------------------------------------------------------------------


@register(
    "sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_at,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_at,
           round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0, 4) AS duration_min,
           count(*) AS n_events
    FROM sess GROUP BY 1, 2
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — gap-based sessionization, gap=30min (defines the semantics of
    the reference's missing GET_IRRIGATIONS SQL,
    /root/reference/app/graph_irrigation_event.py:17-22,55-75: intervals
    {start_at, end_at, duration_min})."""
    ev = load_table(spark, sf_dir, "events")
    out = session_intervals(ev, ["user_id"], "ts", gap_seconds=1800)
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_id").cast("bigint").alias("session_id"),
        _fmt_ts(F.col("start_at")).alias("start_at"),
        _fmt_ts(F.col("end_at")).alias("end_at"),
        r4(F.col("duration_min")).alias("duration_min"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Scalar library queries (F-family)
# ---------------------------------------------------------------------------


@register(
    "sanitize_prop_names",
    oracle="""
    SELECT DISTINCT p_type,
           regexp_replace(lower(p_type), '[^a-z0-9_]+', '_', 'g') AS prop_name
    FROM part
    """,
)
def sanitize_prop_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — property-name sanitize (parity: _sanitize,
    /root/reference/app/graph_weather_day.py:46-51)."""
    p = load_table(spark, sf_dir, "part")
    return p.select("p_type").distinct().withColumn("prop_name", S.sanitize_prop_name("p_type"))


@register(
    "depth_from_label",
    oracle="""
    SELECT label,
           CAST(coalesce(
             CAST(round_even(CAST(replace(regexp_extract(label, '(\\d{1,3}(?:[.,]\\d+)?)', 1), ',', '.') AS DOUBLE), 0) AS INT),
             -1) AS INT) AS depth_cm
    FROM (SELECT concat('soil_', CAST(p_size AS VARCHAR), ',5_cm') AS label FROM part)
    """,
)
def depth_from_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — depth-from-label with decimal-comma tolerance (parity:
    _depth_from_label, /root/reference/app/graph_soil_layer.py:28-42).
    Labels synthesized as 'soil_<size>,5_cm' — every value is a .5 tie, so
    this query pins the half-even rounding the reference's Python round()
    uses (bround here, round_even in the oracle)."""
    p = load_table(spark, sf_dir, "part")
    labeled = p.select(
        F.concat(F.lit("soil_"), F.col("p_size").cast("string"), F.lit(",5_cm")).alias("label")
    )
    return labeled.withColumn("depth_cm", S.depth_from_label("label"))


@register(
    "loose_number_parse",
    oracle="""
    SELECT raw,
           CAST(replace(regexp_extract(raw, '([-+]?\\d+(?:[.,]\\d+)?)', 1), ',', '.') AS DOUBLE) AS parsed
    FROM (
      SELECT CASE CAST(l_linenumber % 4 AS INT)
                  WHEN 0 THEN concat('~', CAST(l_quantity AS VARCHAR))
                  WHEN 1 THEN concat('>= ', replace(CAST(l_quantity AS VARCHAR), '.', ','))
                  WHEN 2 THEN concat(CAST(l_quantity AS VARCHAR), ' %')
                  ELSE CAST(l_quantity AS VARCHAR) END AS raw
      FROM lineitem
    )
    """,
)
def loose_number_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — loose numeric token parse tolerating ~, >=, %, decimal comma
    (parity: _to_float, /root/reference/app/graph_sap_element_result.py:16-29)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("string")
    raw = (
        F.when(F.col("l_linenumber") % 4 == 0, F.concat(F.lit("~"), qty))
        .when(F.col("l_linenumber") % 4 == 1, F.concat(F.lit(">= "), F.regexp_replace(qty, r"\.", ",")))
        .when(F.col("l_linenumber") % 4 == 2, F.concat(qty, F.lit(" %")))
        .otherwise(qty)
    )
    return li.select(raw.alias("raw")).withColumn("parsed", S.loose_number("raw"))


@register(
    "range_parse",
    oracle="""
    SELECT raw,
           CASE WHEN kind = 0 THEN CAST(p_size AS DOUBLE)
                WHEN kind = 1 THEN CAST(p_size AS DOUBLE)
                ELSE NULL END AS range_min,
           CASE WHEN kind = 0 THEN CAST(p_size + 3 AS DOUBLE)
                WHEN kind = 2 THEN CAST(p_size AS DOUBLE)
                ELSE NULL END AS range_max
    FROM (
      SELECT CAST(p_size % 3 AS INT) AS kind, p_size,
             CASE CAST(p_size % 3 AS INT)
                  WHEN 0 THEN concat(CAST(p_size AS VARCHAR), '-', CAST(p_size + 3 AS VARCHAR))
                  WHEN 1 THEN concat('>=', CAST(p_size AS VARCHAR))
                  ELSE concat('<= ', CAST(p_size AS VARCHAR)) END AS raw
      FROM part
    )
    """,
)
def range_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — optimum-range string parse ("1-4" / ">=2.5" / "<=7" / "3")
    (parity: _parse_range, /root/reference/app/graph_optimum_element_range.py:16-61)."""
    p = load_table(spark, sf_dir, "part")
    size = F.col("p_size").cast("string")
    raw = (
        F.when(F.col("p_size") % 3 == 0, F.concat(size, F.lit("-"), (F.col("p_size") + 3).cast("string")))
        .when(F.col("p_size") % 3 == 1, F.concat(F.lit(">="), size))
        .otherwise(F.concat(F.lit("<= "), size))
    )
    parsed = p.select(raw.alias("raw")).withColumn("r", S.parse_range("raw"))
    return parsed.select("raw", F.col("r.range_min").alias("range_min"), F.col("r.range_max").alias("range_max"))


@register(
    "point_parse",
    oracle="""
    SELECT c_custkey, round(CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.5, 4) AS lon,
           round(CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.25, 4) AS lat
    FROM customer
    """,
)
def point_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 — Postgres point "(x,y)" parse → lon/lat doubles (parity: the
    monkey-patched point loader /root/reference/app/patches.py:17-27 +
    flattening graph_fields.py:7-11). Point strings synthesized from keys,
    round-tripped through the parser."""
    c = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") % 360 - 180).cast("double") + 0.5
    lat = (F.col("c_custkey") % 180 - 90).cast("double") + 0.25
    pts = c.select(
        "c_custkey",
        F.concat(F.lit("("), lon.cast("string"), F.lit(","), lat.cast("string"), F.lit(")")).alias("pt"),
    )
    parsed = pts.withColumn("p", S.parse_point("pt"))
    return parsed.select(
        "c_custkey", r4(F.col("p.lon")).alias("lon"), r4(F.col("p.lat")).alias("lat")
    )


@register(
    "composite_id",
    oracle="""
    SELECT concat_ws(':', CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),
                     CAST(l_linenumber AS VARCHAR)) AS line_id,
           round(l_quantity, 4) AS qty
    FROM lineitem
    """,
)
def composite_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 — stable composite natural-key id (parity:
    /root/reference/app/graph_sap_element_result.py:65-67)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        S.composite_id("l_orderkey", "l_partkey", "l_linenumber").alias("line_id"),
        r4(F.col("l_quantity")).alias("qty"),
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/F18 — JSON property access on the stringly-typed payloads the
    reference stores (SURVEY §1.4); engine policy is native structs with
    JSON only at the edges — this is the edge reader."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


@register(
    "unit_conversion",
    oracle="""
    SELECT unit, round(sum(liters), 4) AS total_liters, count(*) AS n
    FROM (
      SELECT CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'L' WHEN 1 THEN 'ml' ELSE 'oz' END AS unit,
             CASE CAST(event_id % 3 AS INT)
                  WHEN 0 THEN value
                  WHEN 1 THEN value / 1000.0
                  ELSE NULL END AS liters
      FROM events
    )
    GROUP BY 1
    """,
)
def unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 + A6 — unit→liters conversion with unconvertible units skipped
    (parity: _unit_to_liters + the heuristic sum,
    /root/reference/app/graph_application_event.py:51-85)."""
    ev = load_table(spark, sf_dir, "events")
    unit = (
        F.when(F.col("event_id") % 3 == 0, F.lit("L"))
        .when(F.col("event_id") % 3 == 1, F.lit("ml"))
        .otherwise(F.lit("oz"))
    )
    w = ev.select(unit.alias("unit"), "value")
    return (
        w.withColumn("liters", S.to_liters("value", "unit"))
        .groupBy("unit")
        .agg(r4(F.sum("liters")).alias("total_liters"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "datetime_coercion",
    oracle="""
    SELECT raw, strftime(CASE CAST(o_orderkey % 3 AS INT)
             WHEN 0 THEN o_orderdate
             WHEN 1 THEN date_trunc('minute', o_orderdate)
             ELSE date_trunc('day', o_orderdate) END, '%Y-%m-%d %H:%M:%S') AS parsed
    FROM (
      SELECT o_orderkey, o_orderdate,
             CASE CAST(o_orderkey % 3 AS INT)
                  WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
                  WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M')
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw
      FROM orders
    )
    """,
)
def datetime_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — multi-format datetime coercion (parity: _coerce_dt,
    /root/reference/app/utils.py:19-32)."""
    o = load_table(spark, sf_dir, "orders")
    raw = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    return (
        o.select(raw.alias("raw"))
        .withColumn("parsed", F.date_format(S.coerce_datetime("raw"), "yyyy-MM-dd HH:mm:ss"))
    )


@register(
    "first_non_empty_pick",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(trim(CASE WHEN CAST(o_orderkey % 4 AS INT) = 0 THEN '' ELSE o_orderpriority END), ''),
                    nullif(trim(o_orderstatus), ''), 'unknown') AS app_type
    FROM orders
    """,
)
def first_non_empty_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/F17 — first-non-empty alias pick with default (parity: _app_type,
    /root/reference/app/graph_application_event.py:30-36)."""
    o = load_table(spark, sf_dir, "orders")
    prio = F.when(F.col("o_orderkey") % 4 == 0, F.lit("")).otherwise(F.col("o_orderpriority"))
    return o.select(
        "o_orderkey",
        S.first_non_empty(prio, F.col("o_orderstatus")).alias("app_type"),
    )


# ---------------------------------------------------------------------------
# U1/U3 — set operations
# ---------------------------------------------------------------------------


@register(
    "union_dedup",
    oracle="""
    SELECT name, kind FROM (
      SELECT DISTINCT c_name AS name, 'customer' AS kind FROM customer
      UNION ALL
      SELECT DISTINCT s_name AS name, 'supplier' AS kind FROM supplier
    )
    """,
)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3 — stream concatenation + distinct (parity: chain(elements,
    others), /root/reference/app/graph_optimum_element_range.py:132-136)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    ).distinct()
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    ).distinct()
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# Headline TPC-H-style pricing summary (bench anchor)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0,
                 4) AS sum_base_price,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) / 10000.0, 4) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2025-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the bench anchor query: full-scan
    grouped aggregation, map-side partial agg, 2-key shuffle. The filter and
    the 7-column projection push into the parquet scan. The two large
    money sums run on exact integer grids (cents; 4dp units for the
    2dp×2dp discount product) — a round(,4) of an add-order-noisy float
    sum at 5e9 magnitude is 1-ulp-exposed across engines (SCALE.md §28
    / r10 magnitude audit); sum_qty stays a float sum because integer-
    valued doubles sum exactly, and the sub-1e8 averages are in-band."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2025-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r4(F.sum("l_quantity")).alias("sum_qty"),
            r4(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                / 100.0
            ).alias("sum_base_price"),
            r4(
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * 10000
                    ).cast("bigint")
                )
                / 10000.0
            ).alias("sum_disc_price"),
            r4(F.avg("l_quantity")).alias("avg_qty"),
            r4(F.avg("l_extendedprice")).alias("avg_price"),
            r4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Graph layer — degrees, motifs, analytics (SURVEY §7.2.7)
# ---------------------------------------------------------------------------


@register(
    "graph_degrees",
    oracle=f"""
    WITH edges AS ({edges_sql()})
    SELECT id, count(*) AS degree FROM (
      SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
    ) GROUP BY 1
    """,
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer — undirected degree per vertex over the full 7-type edge
    set (the property graph projected from the fixtures the same way the
    reference projects Postgres rows into Neo4j labels, SURVEY §1.1-1.3)."""
    g = build_graph(spark, sf_dir)
    return g.degrees().select("id", F.col("degree").cast("bigint").alias("degree"))


@register(
    "motif_region_order_path",
    oracle=f"""
    WITH edges AS ({edges_sql()})
    SELECT e1.src AS region, count(*) AS n_orders
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst AND e2.rel_type = 'HAS_CUSTOMER'
    JOIN edges e3 ON e3.src = e2.dst AND e3.rel_type = 'HAS_ORDER'
    WHERE e1.rel_type = 'HAS_NATION'
    GROUP BY 1
    """,
)
def motif_region_order_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer — 3-hop path motif Region→Nation→Customer→Order (the
    join-composition equivalent of Cypher MATCH path patterns like
    Field→Station→WeatherDay, SURVEY §1.3)."""
    g = build_graph(spark, sf_dir)
    path = g.motif_path(["HAS_NATION", "HAS_CUSTOMER", "HAS_ORDER"])
    return path.groupBy(F.col("v0").alias("region")).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "motif_branch_conation",
    oracle=f"""
    WITH edges AS ({edges_sql()})
    SELECT e1.src AS region, CAST(count(*) AS BIGINT) AS n_pairs
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst AND e2.rel_type = 'HAS_CUSTOMER'
    JOIN edges e3 ON e3.src = e1.dst AND e3.rel_type = 'HAS_SUPPLIER'
    WHERE e1.rel_type = 'HAS_NATION'
    GROUP BY 1
    """,
)
def motif_branch_conation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer — BRANCHING 3-edge motif via the composable
    ``find()`` pattern builder (SURVEY §1.6): co-nation customer/supplier
    pairs per region. The pattern branches at the nation —
    ``(n)-[:HAS_CUSTOMER]->(c)`` and ``(n)-[:HAS_SUPPLIER]->(s)`` share
    ``n`` — which the linear ``motif_path`` chain cannot express; the
    label constraint on ``(r:Region)`` exercises the vertex-label join."""
    g = build_graph(spark, sf_dir)
    m = g.find(
        "(r:Region)-[:HAS_NATION]->(n); (n)-[:HAS_CUSTOMER]->(c); (n)-[:HAS_SUPPLIER]->(s)"
    )
    return m.groupBy(F.col("r").alias("region")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


def _graph_nparts(sf_dir: str) -> int | None:
    """Partition count for iterative graph rounds, from a file-size probe
    (no Spark job): the sf0.01 correctness fixture runs ~8 rounds × 2 jobs
    each, and 32-way stages of near-empty tasks are pure scheduler
    overhead there. Bigger inputs keep the cores-sized default — a 12-way
    tier for sf0.1 measured faster on an idle host (19.0s → 15.7s) but
    adds straggler variance under external CPU contention, so the
    cores-sized width (finer work-stealing granularity) stays."""
    import os.path

    try:
        sz = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
    except OSError:
        return None
    return 8 if sz < 4_000_000 else None


@register(
    "connected_components",
    oracle=f"""
    WITH RECURSIVE edges AS ({edges_sql()}),
    sym AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
    minv AS (SELECT min(a) AS m FROM sym),
    reach(id) AS (
      SELECT m FROM minv
      UNION
      SELECT s.b FROM reach r JOIN sym s ON s.a = r.id
    )
    SELECT id, (SELECT m FROM minv) AS component FROM reach
    """,
)
def connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — connected components by min-label propagation
    (BASELINE.json north star; deterministic output: component = min vertex
    id), now with an EXACT per-vertex oracle: a DuckDB recursive-CTE BFS
    closure from the global min vertex. The fixture graph is one component
    (verified independently by union-find), so the closure IS the full
    ground truth; were the graph ever multi-component, the row-count
    mismatch fails the gate loudly instead of silently passing."""
    g = build_graph(spark, sf_dir)
    return connected_components(g.edges, n_partitions=_graph_nparts(sf_dir))


def _pagerank_oracle_sql() -> str:
    """Generate the DuckDB power-iteration oracle — the same algorithm as
    graph/algorithms.pagerank (uniform init, per-edge 1/out_degree weights
    with duplicate-edge multiplicity, dangling mass recovered by
    conservation), unrolled as one CTE chain per iteration. Per-label rank
    masses round(…, 6) are far above the ~1e-12 summation-order noise, so
    the hash comparison is deterministic."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    # reference, so a 10-iteration chain would expand exponentially (each
    # pr{i} re-expands the whole prefix — measured: 'too many open files')
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql()})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        "w AS MATERIALIZED (SELECT edges.src AS id, edges.dst, 1.0 / deg.d AS wt FROM edges JOIN deg ON edges.src = deg.src)",
        "pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM verts)",
    ]
    for i in range(_PR_ITERS):
        p, q = f"pr{i}", f"pr{i + 1}"
        parts += [
            f"c{i} AS (SELECT w.dst AS id, sum({p}.rank * w.wt) AS contrib FROM {p} JOIN w ON {p}.id = w.id GROUP BY w.dst)",
            f"t{i} AS MATERIALIZED (SELECT v.id, {_PR_RESET} / (SELECT n FROM nn) + {1 - _PR_RESET} * coalesce(c{i}.contrib, 0) AS rank"
            f" FROM verts v LEFT JOIN c{i} ON v.id = c{i}.id)",
            f"{q} AS MATERIALIZED (SELECT id, rank + (1.0 - (SELECT sum(rank) FROM t{i})) / (SELECT n FROM nn) AS rank FROM t{i})",
        ]
        final = q
    return ",\n".join(parts) + f"""
    SELECT label, round(mass, 6) AS mass, CAST(n AS BIGINT) AS n FROM (
      SELECT substr(id, 1, 1) AS label, sum(rank) AS mass, count(*) AS n
      FROM {final} GROUP BY 1
    )
    """


@register("pagerank", oracle=_pagerank_oracle_sql())
def pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — PageRank (10 iterations, reset 0.15, dangling mass
    redistributed by conservation), checked against a full power-iteration
    oracle: DuckDB runs the SAME algorithm as an unrolled CTE chain and the
    per-label rank masses + vertex counts must hash-match. This pins the
    whole rank distribution (Σmass = 1 across 7 labels), not just shape —
    a wrong damping factor, dangling handling, or degree normalization
    shifts label masses at the 3rd-4th decimal and fails the gate."""
    g = build_graph(spark, sf_dir)
    pr = pagerank(g.edges, n_partitions=_graph_nparts(sf_dir))
    return (
        pr.groupBy(F.substring("id", 1, 1).alias("label"))
        .agg(
            F.round(F.sum("rank"), 6).alias("mass"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: text analysis, dedup, similarity
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_ish,
           round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
                 / nullif(length(text), 0), 4) AS punct_ratio
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — token counting (whitespace + BPE-ish regex
    segmentation) and punctuation density, all JVM-side expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").cast("bigint").alias("n_tokens"),
        TX.bpe_ish_token_count("text").cast("bigint").alias("n_bpe_ish"),
        r4(TX.punct_ratio("text")).alias("punct_ratio"),
    )


_SW_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang]) + "]" for lang in TX.STOPWORDS
}

@register(
    "text_quality_lang",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ), hits AS (
      SELECT doc_id, text,
             len(list_distinct(list_intersect(t, {_SW_SQL['en']}))) AS h_en,
             len(list_distinct(list_intersect(t, {_SW_SQL['es']}))) AS h_es,
             len(list_distinct(list_intersect(t, {_SW_SQL['de']}))) AS h_de,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
      FROM toks
    )
    SELECT doc_id,
           round((least(n_tok / 50.0, 1.0)
                  + (1.0 - least(((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
                                  / nullif(length(text), 0)) * 5.0, 1.0))
                  + least((h_en + h_es + h_de) / 5.0, 1.0)) / 3.0, 4) AS quality,
           CASE WHEN greatest(h_en, h_es, h_de) = 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_es, h_de) THEN 'en'
                WHEN h_es = greatest(h_en, h_es, h_de) THEN 'es'
                ELSE 'de' END AS pred_lang
    FROM hits
    """,
)
def text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — deterministic quality score (length/punct/stopword
    components) and stopword-overlap language ID."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        r4(TX.quality_score("text")).alias("quality"),
        TX.lang_id("text").alias("pred_lang"),
    )


@register(
    "doc_fingerprint_dedup",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — exact content dedup by md5 fingerprint of normalized text;
    canonical row = min doc_id. One shuffle on the 128-bit hash — the
    linear-scale exact-dedup baseline."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_distinct(list_intersect(a.t, b.t))) * 1.0
                 / (len(a.t) + len(b.t) - len(list_distinct(list_intersect(a.t, b.t)))), 4) AS jaccard
    FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_distinct(list_intersect(a.t, b.t))) * 1.0
          / (len(a.t) + len(b.t) - len(list_distinct(list_intersect(a.t, b.t)))) >= 0.8
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — n-gram (word-set) Jaccard near-dup pairs, blocked by lang,
    threshold 0.8. At scale the pair proposal moves to MinHash-LSH
    (minhash_lsh_dedup below); this is the exact verifier — and it refuses
    to run when any block implies a quadratic pair blow-up
    (guard_block_pairs), delegating huge corpora to the LSH-propose path
    (near_dup_clusters)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "text", "doc_id")
    # jaccard_pairs filters on the RAW value (as the oracle does); rounding
    # first would admit raw values in [0.79995, 0.8).
    return pairs.select("id_a", "id_b", r4(F.col("jaccard")).alias("jaccard"))


@register("minhash_lsh_dedup")  # EXACT oracle assigned post-def (portable hash)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — MinHash+LSH candidate pairs (32 hashes, 8 bands, 3-shingles).
    Shuffle volume O(n·bands); the O(n²) pair space never materializes.
    The portable polynomial shingle hash + LCG affine maps make the whole
    pipeline engine-reproducible: DuckDB recomputes signatures, bands and
    the bucket join EXACTLY (oracle at module bottom). Recall/precision vs
    exact Jaccard also unit-tested (tests/test_llm_ops.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs, "text", "doc_id")


@register("simhash_near_dups")  # EXACT oracle assigned post-def (portable hash)
def simhash_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — SimHash near-dup pairs (64-bit signatures, Hamming ≤ 3,
    block-rotation bucketing so no all-pairs join). The two-polynomial
    portable bit decisions make the whole pipeline engine-reproducible:
    DuckDB recomputes signatures, blocks, and Hamming verify EXACTLY
    (oracle at module bottom)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, "text", "doc_id")


@register(
    "embedding_cosine_topk",
    oracle="""
    SELECT query_id, neighbor_id, round(cosine_sim, 4) AS cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity — brute-force cosine top-5 for 10 query vectors over the
    corpus (the exact baseline; LSH variant below is the scale path).
    Queries broadcast; corpus stays partitioned; one shuffle for the global
    top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = SIM.cosine_topk(emb, q)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cosine_sim")).alias("cosine_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "embedding_near_dup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.9
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — embedding-cosine near-dup pairs (≥0.9), blocked by label so
    the pair space is bounded per block (at scale: LSH buckets replace the
    label blocking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = spread(emb).select(F.col("vec_id").alias("id_a"), F.col("label").alias("lbl"),
                           F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lbl"),
                   F.col("embedding").cast("array<double>").alias("vb"))
    cos = SIM.cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, on=["lbl"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", r4(cos).alias("cosine_sim"), cos.alias("_raw"))
        .filter(F.col("_raw") >= 0.9)
        .drop("_raw")
    )




def _lsh_planes_sql() -> str:
    """The LSH hyperplanes as a DuckDB VALUES literal — the planes come
    from a pure-Python LCG (similarity.hyperplanes), so the ENTIRE
    approximate pipeline is reproducible in SQL: same planes, same sign
    buckets, same candidates, same re-rank. ``repr(float)`` round-trips
    exactly, so both engines see bit-identical plane coefficients."""
    rows = []
    for t in range(_LSH_TABLES):
        for i, plane in enumerate(SIM.hyperplanes(_EMB_DIM, _LSH_PLANES, _LSH_SEED + 1000 * t)):
            vec = "[" + ", ".join(repr(x) for x in plane) + "]"
            rows.append(f"({t}, {i}, {vec})")
    return ",\n      ".join(rows)


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH planes(tbl, pidx, pvec) AS (VALUES
      {_lsh_planes_sql()}),
    q AS MATERIALIZED (SELECT vec_id AS query_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                       FROM embeddings WHERE vec_id < 10),
    c AS MATERIALIZED (SELECT vec_id AS neighbor_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                       FROM embeddings),
    qb AS (SELECT query_id, tbl,
                  CAST(sum(CASE WHEN list_dot_product(qv, pvec) >= 0
                                THEN (1 << pidx) ELSE 0 END) AS BIGINT) AS bucket
           FROM q CROSS JOIN planes GROUP BY 1, 2),
    cb AS (SELECT neighbor_id, tbl,
                  CAST(sum(CASE WHEN list_dot_product(cv, pvec) >= 0
                                THEN (1 << pidx) ELSE 0 END) AS BIGINT) AS bucket
           FROM c CROSS JOIN planes GROUP BY 1, 2),
    cand AS (SELECT DISTINCT qb.query_id, cb.neighbor_id
             FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
             WHERE qb.query_id <> cb.neighbor_id),
    scored AS (SELECT cand.query_id, cand.neighbor_id,
                      CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(c.cv, c.cv)) > 0
                           THEN list_dot_product(q.qv, c.cv)
                                / (sqrt(list_dot_product(q.qv, q.qv))
                                   * sqrt(list_dot_product(c.cv, c.cv)))
                           ELSE 0.0 END AS sim
               FROM cand JOIN q ON cand.query_id = q.query_id
                         JOIN c ON cand.neighbor_id = c.neighbor_id)
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {_ANN_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity — ANN top-k via multi-table random-hyperplane LSH
    (16 tables × 4 planes, ~0.93 recall@3 on the fixture embeddings) with
    exact re-rank on the deduped candidate union. Candidate generation
    shuffles on (table, bucket): O(n·tables), the 100 TB path.

    EXACT oracle (was rows-only through round 2): the LCG plane matrix is
    embedded in the SQL as literals, so DuckDB reproduces buckets,
    candidate set, and re-rank bit-for-bit — the driver hash-checks the
    approximate result itself, not just its quality bound."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = SIM.cosine_topk_lsh(emb, q)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cosine_sim")).alias("cosine_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _ivf_training_sql() -> list[str]:
    """Shared DuckDB CTE prefix replicating IVF training + corpus
    assignment (similarity.py:ivf_centroids / ivf_assign): the engine-
    portable LCG seed pick, ``_IVF_ITERS`` unrolled spherical-k-means
    rounds (argmax assignment with the same larger-index tiebreak, per-
    dimension means rebuilt into normalized centroid lists, empty
    clusters keeping their previous centroid), ending at ``casg`` —
    every corpus vector's cluster. MATERIALIZED throughout (DuckDB
    inlines plain CTEs per reference — same lesson as the PageRank
    oracle). Shared by the ANN top-k and SemDeDup oracles so the
    centroid replay stays in one place."""
    parts = [
        "WITH base AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rawv FROM embeddings)",
        # unit-normalized vectors + LCG seed hash
        "uv AS MATERIALIZED (SELECT id, rawv,"
        " list_transform(rawv, x -> x / sqrt(list_dot_product(rawv, rawv))) AS v,"
        " (id * 1103515245 + 12345) % 2147483648 AS h FROM base)",
        f"cent0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, id) - 1 AS cluster, v AS cvec"
        f" FROM uv ORDER BY h, id LIMIT {_IVF_CENTROIDS})",
    ]
    cur = "cent0"
    for r in range(_IVF_ITERS):
        nxt = f"cent{r + 1}"
        parts += [
            # argmax assignment over UNIT vectors; ties → larger cluster idx
            # (mirrors _top_clusters' reverse(array_sort(struct(sim, idx))))
            f"asg{r} AS MATERIALIZED (SELECT id, cluster FROM ("
            f"  SELECT uv.id, c.cluster,"
            f"         row_number() OVER (PARTITION BY uv.id"
            f"           ORDER BY list_dot_product(uv.v, c.cvec) DESC, c.cluster DESC) AS rn"
            f"  FROM uv CROSS JOIN {cur} c) WHERE rn = 1)",
            f"mean{r} AS MATERIALIZED (SELECT a.cluster, t.pos, avg(uv.v[t.pos]) AS m"
            f" FROM asg{r} a JOIN uv ON a.id = uv.id CROSS JOIN range(1, {_EMB_DIM + 1}) t(pos)"
            f" GROUP BY 1, 2)",
            f"{nxt} AS MATERIALIZED (SELECT p.cluster,"
            f" CASE WHEN n.lst IS NULL THEN p.cvec"
            f"      ELSE list_transform(n.lst, x -> x / (CASE WHEN sqrt(list_dot_product(n.lst, n.lst)) = 0"
            f"                                                THEN 1.0 ELSE sqrt(list_dot_product(n.lst, n.lst)) END))"
            f" END AS cvec"
            f" FROM {cur} p LEFT JOIN (SELECT cluster, list(m ORDER BY pos) AS lst"
            f"                         FROM mean{r} GROUP BY cluster) n ON p.cluster = n.cluster)",
        ]
        cur = nxt
    parts += [
        # final inverted lists: corpus assignment over RAW vectors (argmax
        # is scale-invariant; tiebreak identical)
        f"casg AS MATERIALIZED (SELECT id AS neighbor_id, cluster, rawv AS cv FROM ("
        f"  SELECT uv.id, uv.rawv, c.cluster,"
        f"         row_number() OVER (PARTITION BY uv.id"
        f"           ORDER BY list_dot_product(uv.rawv, c.cvec) DESC, c.cluster DESC) AS rn"
        f"  FROM uv CROSS JOIN {cur} c) WHERE rn = 1)",
    ]
    return parts


def _ivf_oracle_sql() -> str:
    """ANN top-k oracle: the shared IVF training replay + the nprobe
    probe and exact cosine re-rank."""
    parts = _ivf_training_sql()
    cur = f"cent{_IVF_ITERS}"
    parts += [
        f"qpro AS MATERIALIZED (SELECT id AS query_id, cluster, rawv AS qv FROM ("
        f"  SELECT uv.id, uv.rawv, c.cluster,"
        f"         row_number() OVER (PARTITION BY uv.id"
        f"           ORDER BY list_dot_product(uv.rawv, c.cvec) DESC, c.cluster DESC) AS rn"
        f"  FROM uv CROSS JOIN {cur} c WHERE uv.id < 10) WHERE rn <= {_IVF_NPROBE})",
        "scored AS (SELECT q.query_id, c.neighbor_id,"
        " CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)) > 0"
        "      THEN list_dot_product(q.qv, c.cv)"
        "           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))"
        "      ELSE 0.0 END AS sim"
        " FROM qpro q JOIN casg c ON q.cluster = c.cluster AND q.query_id <> c.neighbor_id)",
    ]
    return ",\n".join(parts) + f"""
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {_ANN_K}
    """


def _pq_d2(a: str, b: str) -> str:
    """Squared-L2 in the exact expanded form similarity._l2sq uses."""
    return (
        f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}))"
    )


def _pq_training_sql() -> list[str]:
    """DuckDB CTE suffix replaying PQ codebook training + corpus encoding
    (operators/similarity.py:pq_codebooks/pq_encode — LCG seed rows,
    unrolled plain-L2 Lloyd rounds with smaller-index tiebreak and
    empty-cluster keep-old), ending at ``codes`` (id, c0..c{m−1}).
    Assumes a ``uv(id, rawv, h)`` CTE exists (both the standalone PQ
    oracle and the IVF-PQ composition provide one — the latter reuses
    `_ivf_training_sql`'s, whose extra columns are harmless)."""
    d2 = _pq_d2
    subdim = _EMB_DIM // _PQ_M
    lo = lambda s: s * subdim + 1  # noqa: E731
    hi = lambda s: (s + 1) * subdim  # noqa: E731
    parts = [
        f"seeds AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, id) - 1 AS code, rawv"
        f" FROM uv ORDER BY h, id LIMIT {_PQ_K_SUB})",
    ]
    for s in range(_PQ_M):
        parts.append(
            f"bk{s}_0 AS MATERIALIZED (SELECT code, rawv[{lo(s)}:{hi(s)}] AS cvec FROM seeds)"
        )
    for r in range(_PQ_ITERS):
        for s in range(_PQ_M):
            sub = f"uv.rawv[{lo(s)}:{hi(s)}]"
            parts += [
                f"asg{s}_{r} AS MATERIALIZED (SELECT id, code FROM ("
                f"  SELECT uv.id, b.code,"
                f"         row_number() OVER (PARTITION BY uv.id"
                f"           ORDER BY {d2(sub, 'b.cvec')} ASC, b.code ASC) AS rn"
                f"  FROM uv CROSS JOIN bk{s}_{r} b) WHERE rn = 1)",
                f"mean{s}_{r} AS MATERIALIZED (SELECT a.code, t.pos,"
                f" avg(uv.rawv[{lo(s)} + t.pos - 1]) AS mn"
                f" FROM asg{s}_{r} a JOIN uv ON a.id = uv.id"
                f" CROSS JOIN range(1, {subdim + 1}) t(pos) GROUP BY 1, 2)",
                f"bk{s}_{r + 1} AS MATERIALIZED (SELECT p.code,"
                f" CASE WHEN n.lst IS NULL THEN p.cvec ELSE n.lst END AS cvec"
                f" FROM bk{s}_{r} p LEFT JOIN (SELECT code, list(mn ORDER BY pos) AS lst"
                f"   FROM mean{s}_{r} GROUP BY code) n ON p.code = n.code)",
            ]
    fin = _PQ_ITERS
    for s in range(_PQ_M):
        sub = f"uv.rawv[{lo(s)}:{hi(s)}]"
        parts.append(
            f"enc{s} AS MATERIALIZED (SELECT id, code AS c{s} FROM ("
            f"  SELECT uv.id, b.code,"
            f"         row_number() OVER (PARTITION BY uv.id"
            f"           ORDER BY {d2(sub, 'b.cvec')} ASC, b.code ASC) AS rn"
            f"  FROM uv CROSS JOIN bk{s}_{fin} b) WHERE rn = 1)"
        )
    enc_joins = " ".join(f"JOIN enc{s} ON uv.id = enc{s}.id" for s in range(_PQ_M))
    enc_cols = ", ".join(f"enc{s}.c{s}" for s in range(_PQ_M))
    parts.append(
        f"codes AS MATERIALIZED (SELECT uv.id, {enc_cols} FROM uv {enc_joins})"
    )
    return parts


def _pq_oracle_sql() -> str:
    """Standalone PQ ANN oracle: training replay + full-corpus ADC scan +
    re-rank. The squared-L2 form and the s=0..m−1 ADC summation order are
    written identically in both engines so argmin comparisons and the
    final distances agree bit-for-bit."""
    subdim = _EMB_DIM // _PQ_M
    lo = lambda s: s * subdim + 1  # noqa: E731
    hi = lambda s: (s + 1) * subdim  # noqa: E731
    parts = [
        "WITH base AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rawv FROM embeddings)",
        "uv AS MATERIALIZED (SELECT id, rawv,"
        " (id * 1103515245 + 12345) % 2147483648 AS h FROM base)",
    ] + _pq_training_sql()
    adc = " + ".join(
        _pq_d2(f"q.rawv[{lo(s)}:{hi(s)}]", f"b{s}.cvec") for s in range(_PQ_M)
    )
    joins = " ".join(
        f"JOIN bk{s}_{_PQ_ITERS} b{s} ON t.c{s} = b{s}.code" for s in range(_PQ_M)
    )
    parts.append(
        f"scored AS (SELECT q.id AS query_id, t.id AS neighbor_id, {adc} AS ad"
        f" FROM (SELECT id, rawv FROM uv WHERE id < 10) q"
        f" CROSS JOIN codes t {joins} WHERE q.id <> t.id)"
    )
    return ",\n".join(parts) + f"""
    SELECT query_id, neighbor_id, approx_dist, rank FROM (
      SELECT query_id, neighbor_id, round(ad, 4) AS approx_dist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY ad ASC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {_ANN_K}
    """


def _ivf_pq_oracle_sql() -> str:
    """IVF-PQ oracle — BOTH replay generators composed: the IVF prefix
    (`_ivf_training_sql`, whose ``uv`` carries the id/rawv/h columns the
    PQ suffix needs) trains centroids, assigns the corpus (``casg``) and
    probes queries; the PQ suffix (`_pq_training_sql`) trains codebooks
    and encodes; the candidate scan then scores approx cosine
    Σ〈q_s,cw_s〉 / (‖q‖·√Σ‖cw_s‖²) from codes alone — identical
    subspace summation order to similarity.cosine_topk_ivf_pq."""
    subdim = _EMB_DIM // _PQ_M
    lo = lambda s: s * subdim + 1  # noqa: E731
    hi = lambda s: (s + 1) * subdim  # noqa: E731
    parts = _ivf_training_sql()
    cur = f"cent{_IVF_ITERS}"
    parts += [
        f"qpro AS MATERIALIZED (SELECT id AS query_id, cluster, rawv AS qv FROM ("
        f"  SELECT uv.id, uv.rawv, c.cluster,"
        f"         row_number() OVER (PARTITION BY uv.id"
        f"           ORDER BY list_dot_product(uv.rawv, c.cvec) DESC, c.cluster DESC) AS rn"
        f"  FROM uv CROSS JOIN {cur} c WHERE uv.id < 10) WHERE rn <= {_IVF_NPROBE})",
    ]
    parts += _pq_training_sql()
    approx_dot = " + ".join(
        f"list_dot_product(q.qv[{lo(s)}:{hi(s)}], b{s}.cvec)" for s in range(_PQ_M)
    )
    recon_sq = " + ".join(
        f"list_dot_product(b{s}.cvec, b{s}.cvec)" for s in range(_PQ_M)
    )
    joins = " ".join(
        f"JOIN bk{s}_{_PQ_ITERS} b{s} ON t.c{s} = b{s}.code" for s in range(_PQ_M)
    )
    parts.append(
        "scored AS (SELECT q.query_id, c.neighbor_id,"
        f" CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) * sqrt({recon_sq}) > 0"
        f"      THEN ({approx_dot}) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({recon_sq}))"
        "      ELSE 0.0 END AS ac"
        " FROM qpro q JOIN casg c ON q.cluster = c.cluster AND q.query_id <> c.neighbor_id"
        f" JOIN codes t ON t.id = c.neighbor_id {joins})"
    )
    return ",\n".join(parts) + f"""
    SELECT query_id, neighbor_id, approx_cos, rank FROM (
      SELECT query_id, neighbor_id, round(ac, 4) AS approx_cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY ac DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {_ANN_K}
    """


@register("ann_ivf_pq_topk", oracle=_ivf_pq_oracle_sql())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity — IVF-PQ: the production-shape ANN at 100 TB. The IVF
    coarse quantizer prunes candidates to _IVF_NPROBE inverted lists
    (corpus·_IVF_NPROBE/_IVF_CENTROIDS per query) AND the in-list re-rank is
    compressed — approximate cosine from PQ codes via m table lookups
    per pair, never touching a raw corpus vector (FAISS IVFADC with
    ``by_residual=False``; the residual variant is the documented
    upgrade). Compose-don't-reimplement: reuses `ivf_centroids`/
    `ivf_assign` and `pq_codebooks`/`pq_encode` verbatim.

    EXACT oracle: both unrolled-Lloyd replays (spherical IVF + per-
    subspace L2 PQ) composed in one DuckDB query, then probe, encode,
    compressed-cosine scoring, and re-rank reproduced end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = SIM.cosine_topk_ivf_pq(emb, q)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("approx_cos")).alias("approx_cos"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@register("ann_pq_topk", oracle=_pq_oracle_sql())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity — ANN top-k via product quantization (Jégou et al.,
    TPAMI 2011): 4 subspace codebooks × 8 codewords compress each 64-dim
    embedding to 4 small ints; queries precompute m×k_sub distance
    tables and the corpus scan is m table lookups per vector (asymmetric
    distance computation). The third classic ANN scale path next to LSH
    (`ann_lsh_topk`) and IVF (`ann_ivf_topk`) — this one shrinks the
    BYTES scanned (16× here before bit-packing), which at 100 TB of
    embeddings is the difference between an in-memory scan and an I/O
    bound one; composes with IVF probe lists exactly as IVF-PQ does.

    EXACT oracle: the LCG seed pick and unrolled plain-L2 Lloyd rounds
    replay in DuckDB (same discipline as `ann_ivf_topk`), then encoding,
    ADC, and re-rank are reproduced end to end — the driver hash-checks
    the approximate result itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = SIM.pq_topk(emb, q)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("approx_dist")).alias("approx_dist"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@register("ann_ivf_topk", oracle=_ivf_oracle_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity — ANN top-k via an IVF coarse quantizer (spherical
    k-means inverted lists, nprobe nearest lists per query, exact re-rank).
    The fixture embeddings are near-uniform, so recall tracks the probed
    fraction (8/16 lists ≈ 0.87 recall@3); on clustered real embeddings
    the same plan prunes much harder at the same recall. Scale shape: one
    equi-join on cluster id — candidates per query are
    corpus/_IVF_CENTROIDS × _IVF_NPROBE (operators/similarity.py constants,
    which the oracle reads too).

    EXACT oracle (was rows-only through round 2): the LCG seed pick is
    plain integer arithmetic, so DuckDB re-trains the SAME centroids with
    unrolled Lloyd rounds and reproduces the probe + re-rank end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = SIM.cosine_topk_ivf(emb, q)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cosine_sim")).alias("cosine_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Pipeline-DAG outputs (the reference's 25-task ETL re-expressed — §3.1/§3.3)
# ---------------------------------------------------------------------------


@register(
    "pipeline_application_event_idx",
    oracle="""
    SELECT o_custkey AS field_id,
           strftime(o_orderdate, '%Y-%m-%d') AS date,
           coalesce(nullif(trim(o_orderpriority), ''), nullif(trim(o_orderstatus), ''), 'unknown') AS app_type,
           o_orderkey AS order_ref,
           CAST(row_number() OVER (
             PARTITION BY o_custkey, strftime(o_orderdate, '%Y-%m-%d'),
                          coalesce(nullif(trim(o_orderpriority), ''), nullif(trim(o_orderstatus), ''), 'unknown')
             ORDER BY o_orderkey) AS BIGINT) AS idx
    FROM orders
    """,
)
def pipeline_application_event_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — ApplicationEvent idx assignment (A7 row_number replacing
    the reference's in-memory counters, graph_application_event.py:99,146-150)."""
    ae = P.build(spark, sf_dir, only=["application_events"])["application_events"]
    return ae.select(
        "field_id", "date", "app_type", "order_ref", F.col("idx").cast("bigint").alias("idx")
    )


@register(
    "pipeline_soil_param_results",
    oracle="""
    SELECT concat_ws(':', o.o_custkey, strftime(o.o_orderdate, '%Y-%m-%d'), o.o_orderkey) AS analysis_id,
           concat('param_', l.l_partkey) AS parameter,
           round(l.l_quantity, 4) AS value
    FROM (SELECT l_orderkey, l_partkey, l_quantity FROM (
            SELECT l_orderkey, l_partkey, l_quantity,
                   row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                      ORDER BY l_linenumber, l_quantity) AS rn
            FROM lineitem) WHERE rn = 1) l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'P'
    """,
)
def pipeline_soil_param_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — per-parameter lab results with composite ids (F15) and
    inequality-trimmed value parse (F4); dedup keeps the first line per
    (analysis, parameter) in linenumber order."""
    spr = P.build(spark, sf_dir, only=["soil_param_results"])["soil_param_results"]
    return spr.select("analysis_id", "parameter", r4(F.col("value")).alias("value"))


@register(
    "pipeline_irrigation_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT concat('ST', user_id) AS serial_number,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_at,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_at,
           round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0, 4) AS duration_min,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def pipeline_irrigation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — IrrigationEvent intervals: the engine-defined
    GET_IRRIGATIONS semantics (gap 30 min) keyed by station serial."""
    ev = P.build(spark, sf_dir, only=["irrigation_events"])["irrigation_events"]
    return ev.select("serial_number", "start_at", "end_at", "duration_min", "n_events")


@register(
    "pipeline_weather_day_metrics",
    oracle="""
    SELECT concat('ST', user_id) AS serial_number,
           strftime(ts, '%Y-%m-%d') AS date,
           event_type AS measurement,
           round(avg(value), 4) AS data,
           round(min(value), 4) AS min,
           round(max(value), 4) AS max,
           round(sum(value), 4) AS sum,
           count(value) AS n
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY 1, 2, 3
    """,
)
def pipeline_weather_day_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — WeatherDay node metrics exploded back to long form (the
    MapType dynamic-measurement storage round-trips losslessly)."""
    wd = P.build(spark, sf_dir, only=["weather_days"])["weather_days"]
    m = wd.select(
        "serial_number", "date", F.explode("metrics").alias("measurement", "v")
    )
    return m.select(
        "serial_number", "date", "measurement",
        r4(F.col("v.data")).alias("data"), r4(F.col("v.min")).alias("min"),
        r4(F.col("v.max")).alias("max"), r4(F.col("v.sum")).alias("sum"),
        F.col("v.n").cast("bigint").alias("n"),
    )


@register(
    "pipeline_sap_analyses",
    oracle="""
    SELECT o.o_custkey AS field_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS date,
           c.c_mktsegment AS crop_name,
           lf.leaf_type,
           concat(CASE lf.leaf_type WHEN 'young' THEN 'Y' ELSE 'O' END,
                  CAST(o.o_orderkey AS VARCHAR)) AS sample_id,
           round(o.o_totalprice % 14, 2) AS ph,
           round(o.o_totalprice % 3, 2) AS ec,
           round(o.o_totalprice % 24, 1) AS sugars
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    CROSS JOIN (SELECT 'young' AS leaf_type UNION ALL SELECT 'old') lf
    WHERE lf.leaf_type = 'young' OR o.o_orderkey % 3 <> 0
    """,
)
def pipeline_sap_analyses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — SAPAnalysis nodes: the young/old leaf fan-out with the
    missing-sample guard (graph_sap_analysis.py:144-176) and loose-number
    parses (F3) of '~6,5' / '>= 1.2' / '12 %' scalar strings
    (_extract_scalar_metrics :57-73). The oracle recomputes the parsed
    values analytically, closing the loop on the messy-string round-trip."""
    sa = P.build(spark, sf_dir, only=["sap_analyses"])["sap_analyses"]
    return sa.select(
        "field_id", "date", "crop_name", "leaf_type", "sample_id",
        r4(F.col("ph")).alias("ph"), r4(F.col("ec")).alias("ec"),
        r4(F.col("sugars")).alias("sugars"),
    )


@register(
    "pipeline_sap_element_results",
    oracle="""
    WITH sa AS (
      SELECT o.o_orderkey AS order_ref,
             concat_ws(':', o.o_custkey, strftime(o.o_orderdate, '%Y-%m-%d'),
                       c.c_mktsegment, lf.leaf_type,
                       concat(CASE lf.leaf_type WHEN 'young' THEN 'Y' ELSE 'O' END,
                              CAST(o.o_orderkey AS VARCHAR))) AS sap_analysis_id,
             lf.leaf_type
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      CROSS JOIN (SELECT 'young' AS leaf_type UNION ALL SELECT 'old') lf
      WHERE lf.leaf_type = 'young' OR o.o_orderkey % 3 <> 0
    ), rows_ AS (
      SELECT sa.sap_analysis_id,
             ['n','p','k','ca','mg','fe','zn','mn'][CAST(l.l_partkey % 8 AS INT) + 1] AS nutrient,
             l.l_linenumber AS line_no,
             CASE WHEN l.l_linenumber % 7 = 0 THEN NULL
                  WHEN sa.leaf_type = 'young' THEN l.l_quantity
                  ELSE round(l.l_extendedprice % 500, 2) END AS value_ppm
      FROM lineitem l JOIN sa ON l.l_orderkey = sa.order_ref
    )
    SELECT sap_analysis_id, nutrient, round(value_ppm, 4) AS value_ppm FROM (
      SELECT *, row_number() OVER (PARTITION BY sap_analysis_id, nutrient
                                   ORDER BY line_no, value_ppm) AS rn
      FROM rows_ WHERE value_ppm IS NOT NULL
    ) WHERE rn = 1
    """,
)
def pipeline_sap_element_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — SAPElementResult child fan-out: composite sap_analysis_id
    (F15, _make_sa_id graph_sap_element_result.py:65-67), leaf-dependent
    value pick (:53-57), loose numeric parse with skip-on-unparsable
    (:108-115), A8 first-wins dedup per (analysis, nutrient)."""
    ser = P.build(spark, sf_dir, only=["sap_element_results"])["sap_element_results"]
    return ser.select(
        "sap_analysis_id", "nutrient", r4(F.col("value_ppm")).alias("value_ppm")
    )


@register(
    "pipeline_optimum_element_ranges",
    oracle="""
    WITH sa AS (
      SELECT o.o_orderkey AS order_ref,
             concat_ws(':', c.c_mktsegment, strftime(o.o_orderdate, '%Y-%m-%d')) AS opt_range_id
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), rows_ AS (
      SELECT sa.opt_range_id,
             ['n','p','k','ca','mg','fe','zn','mn'][CAST(l.l_partkey % 8 AS INT) + 1] AS nutrient,
             l.l_linenumber AS line_no,
             CASE WHEN l.l_partkey % 5 IN (0, 1, 3)
                  THEN CAST(trunc(l.l_quantity) AS DOUBLE) END AS range_min,
             CASE WHEN l.l_partkey % 5 = 0 THEN CAST(trunc(l.l_quantity) AS DOUBLE) + 3
                  WHEN l.l_partkey % 5 IN (2, 3)
                  THEN CAST(trunc(l.l_quantity) AS DOUBLE) END AS range_max
      FROM lineitem l JOIN sa ON l.l_orderkey = sa.order_ref
      WHERE l.l_partkey % 5 <> 4
    )
    SELECT opt_range_id, nutrient, range_min, range_max FROM (
      SELECT *, row_number() OVER (PARTITION BY opt_range_id, nutrient
                                   ORDER BY line_no,
                                            range_min ASC NULLS FIRST,
                                            range_max ASC NULLS FIRST) AS rn
      FROM rows_
    ) WHERE rn = 1
    """,
)
def pipeline_optimum_element_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — OptimumElementRange: the F5 range-string parse over all
    four forms ('1-4', '>= 2.5', '<=7', '3') plus the skip-unparsable
    branch (graph_optimum_element_range.py:38-61,146-148); 'crop:date'
    opt_range_id (the parent OptimumSAPRange id); A8 dedup. The oracle recomputes the parsed bounds
    analytically from the same synthesis rule."""
    oer = P.build(spark, sf_dir, only=["optimum_element_ranges"])["optimum_element_ranges"]
    return oer.select("opt_range_id", "nutrient", "range_min", "range_max")


