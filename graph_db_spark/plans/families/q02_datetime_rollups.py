"""Registers 51 queries:

  pipeline_water_param_results, pipeline_app_nutrient_contents, pipeline_depth_points
  tz_offset_map, tz_zone_correct_offsets, datetime_components
  epoch_seconds, nutrient_alias_wide, depth_diff
  iso_z_parse, area_normalized_sum, capped_label_sample
  longest_label_pick, intersect_types, except_types
  wide_melt_roundtrip, constraint_violations, dangling_edge_check
  multimodal_features, multimodal_png_decode, multimodal_audio_features
  multimodal_frame_sample, multimodal_resize, benchmark_decontamination
  sequence_packing, stratified_sample, dsir_selection
  mixture_weights, fallback_selection, data_field_discovery
  ineq_trimmed_float, json_encode_props, asof_bucketed_line
  streaming_daily_stats, streaming_sliding_counts, streaming_exact_dedup
  streaming_decontamination, curated_corpus_stats, streaming_sessions
  conditional_edge_join, window_widened_scan, motif_4hop_counts
  dynamic_measurement_pivot, rollup_pricing, cube_order_counts
  grouping_sets_revenue, hll_user_reach, hll_user_reach_portable
  percentile_value_stats, time_rollup_multigrain, rolling_7day_window
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark import checks as CK
from graph_db_spark.functions import scalars as S
from graph_db_spark.graph.build import build_graph
from graph_db_spark.operators import aggregates as A
from graph_db_spark.operators import joins as J
from graph_db_spark.operators import multimodal as MM
from graph_db_spark.operators import packing as PK
from graph_db_spark.operators import sketches as SK
from graph_db_spark.operators import text as TX
from graph_db_spark.operators.dedup import portable_hash
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.plans import pipeline as P
from graph_db_spark.plans.families.q00_base import (
    _fmt_ts, _poly_sql, _run_stream_to_table, r4, register,
)
from graph_db_spark.plans.families.q01_relational_pipeline import _SW_SQL
from graph_db_spark.streaming import jobs as STRM
from graph_db_spark.tables import load_table


@register(
    "pipeline_water_param_results",
    oracle="""
    WITH wo AS (
      SELECT o_orderkey, o_custkey AS field_id,
             strftime(o_orderdate, '%Y-%m-%d') AS date,
             CASE WHEN o_orderkey % 3 = 0 THEN 'well'
                  WHEN o_orderkey % 3 = 1 THEN 'canal'
                  ELSE 'unknown' END AS sample_source
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ), rows_ AS (
      SELECT concat_ws(':', wo.field_id, wo.date, wo.sample_source) AS water_analysis_id,
             concat('param_', CAST(l.l_partkey % 10 AS VARCHAR)) AS parameter,
             l.l_linenumber AS line_no,
             l.l_quantity AS value,
             'mg/L' AS unit
      FROM lineitem l JOIN wo ON l.l_orderkey = wo.o_orderkey
    )
    SELECT water_analysis_id, parameter, round(value, 4) AS value, unit FROM (
      SELECT *, row_number() OVER (PARTITION BY water_analysis_id, parameter
                                   ORDER BY line_no, value) AS rn
      FROM rows_
    ) WHERE rn = 1
    """,
)
def pipeline_water_param_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — WaterParamResult: normalized parameter keys (_norm_param
    graph_water_param_result.py:23-27), inequality-trimmed values (F4),
    and the canonical 'unknown' sample_source fill on BOTH parent and
    child (fixing quirk §2.10.4 — the reference's ''-vs-'unknown' split
    left every null-source param dangling). Children collapsing onto one
    WaterAnalysis via shared (field, date, source) merge exactly as the
    reference's MERGE-by-wa_id does."""
    wpr = P.build(spark, sf_dir, only=["water_param_results"])["water_param_results"]
    return wpr.select(
        "water_analysis_id", "parameter", r4(F.col("value")).alias("value"), "unit"
    )


@register(
    "pipeline_app_nutrient_contents",
    oracle="""
    WITH ae AS (
      SELECT o_orderkey AS order_ref,
             concat_ws(':', o_custkey, strftime(o_orderdate, '%Y-%m-%d'),
                       coalesce(nullif(trim(o_orderpriority), ''), nullif(trim(o_orderstatus), ''), 'unknown'),
                       row_number() OVER (
                         PARTITION BY o_custkey, strftime(o_orderdate, '%Y-%m-%d'),
                                      coalesce(nullif(trim(o_orderpriority), ''), nullif(trim(o_orderstatus), ''), 'unknown')
                         ORDER BY o_orderkey)) AS ae_id
      FROM orders
    ), pa AS (
      SELECT concat_ws(':', ae.ae_id,
                       row_number() OVER (PARTITION BY ae.ae_id
                                          ORDER BY l.l_linenumber, l.l_partkey,
                                                   round(l.l_quantity, 4))) AS product_application_id,
             l.l_partkey AS partkey,
             round(l.l_quantity, 4) AS amount
      FROM lineitem l JOIN ae ON l.l_orderkey = ae.order_ref
    ), fp AS (
      SELECT partkey, nutrients_raw FROM (
        SELECT p_partkey AS partkey, p_type AS nutrients_raw,
               row_number() OVER (PARTITION BY p_name, p_brand ORDER BY p_partkey) AS rn
        FROM part WHERE p_name IS NOT NULL AND p_brand IS NOT NULL
      ) WHERE rn = 1
    ), expl AS (
      SELECT pa.product_application_id,
             unnest(string_split(coalesce(fp.nutrients_raw, 'unknown'), ' ')) AS nutrient,
             pa.amount
      FROM pa LEFT JOIN fp ON pa.partkey = fp.partkey
    )
    SELECT product_application_id, nutrient, round(sum(amount), 4) AS amount
    FROM expl GROUP BY 1, 2
    """,
)
def pipeline_app_nutrient_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — the deepest dependency chain end-to-end (SURVEY §3.3):
    ApplicationEvent idx (A7) → ProductApplication positional idx over the
    in-engine join (replacing the reference's Neo4j read-back,
    graph_product_application.py:156-214) → FertilizerProduct catalog with
    deterministic min-partkey A8 dedup → nutrient explode (F18) with
    catalog enrichment for missing nutrients (J4,
    graph_app_nutrient_content.py:306-354). The oracle recomputes all four
    stages in SQL, so a regression anywhere in the chain breaks the hash."""
    anc = P.build(spark, sf_dir, only=["app_nutrient_contents"])["app_nutrient_contents"]
    return anc.select("product_application_id", "nutrient", r4(F.col("amount")).alias("amount"))


@register(
    "pipeline_depth_points",
    oracle="""
    SELECT concat('ST', CAST(u.user_id AS VARCHAR)) AS serial_number,
           CAST(d.depth AS BIGINT) AS depth,
           CAST(CASE WHEN d.depth <= 30 THEN d.depth // 10 END AS BIGINT) AS sensor_index,
           round((u.user_id % 50 + d.depth) / 10.0, 4) AS y
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (VALUES (10), (30), (60), (90)) d(depth)
    """,
)
def pipeline_depth_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — DepthPoint nodes with the conditional sensor_index key
    dimension (the reference's two MERGE shapes,
    graph_stations.py:45-66, as one nullable column) and the AT_DEPTH
    fan-out per station."""
    dp = P.build(spark, sf_dir, only=["depth_points"])["depth_points"]
    return dp.select(
        "serial_number",
        F.col("depth").cast("bigint").alias("depth"),
        F.col("sensor_index").cast("bigint").alias("sensor_index"),
        r4(F.col("y")).alias("y"),
    )


# ---------------------------------------------------------------------------
# Remaining §2 coverage: scalar family + agg family + set ops + melt
# ---------------------------------------------------------------------------


@register(
    "tz_offset_map",
    oracle="""
    SELECT tz,
           CASE lower(trim(tz))
                WHEN 'utc' THEN '+00:00'
                WHEN 'gmt' THEN '+00:00'
                WHEN 'europe/istanbul' THEN '+03:00'
                WHEN 'asia/istanbul' THEN '+03:00'
                WHEN 'turkey' THEN '+03:00'
                ELSE NULL END AS offset
    FROM (
      SELECT CASE CAST(c_custkey % 4 AS INT)
                  WHEN 0 THEN 'UTC' WHEN 1 THEN 'Europe/Istanbul'
                  WHEN 2 THEN 'America/New_York' ELSE 'GMT' END AS tz
      FROM customer
    )
    """,
)
def tz_offset_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — the reference's lossy tz→offset map (app/utils.py:34-43),
    replicated for parity; real pipelines use convert_timezone."""
    c = load_table(spark, sf_dir, "customer")
    tz = (
        F.when(F.col("c_custkey") % 4 == 0, F.lit("UTC"))
        .when(F.col("c_custkey") % 4 == 1, F.lit("Europe/Istanbul"))
        .when(F.col("c_custkey") % 4 == 2, F.lit("America/New_York"))
        .otherwise(F.lit("GMT"))
    )
    return c.select(tz.alias("tz")).withColumn("offset", S.tz_offset("tz"))


@register(
    "tz_zone_correct_offsets",
    oracle="""
    WITH t AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(o_orderdate AS TIMESTAMP) + INTERVAL 12 HOUR AS ts
      FROM orders),
    off AS (
      SELECT yr,
             date_diff('hour', ts, timezone('America/New_York', timezone('UTC', ts))) AS ny_off,
             date_diff('hour', ts, timezone('Europe/Istanbul', timezone('UTC', ts))) AS ist_off
      FROM t)
    SELECT yr, CAST(ny_off AS BIGINT) AS ny_off, CAST(ist_off AS BIGINT) AS ist_off,
           CAST(ist_off <> 3 AS BOOLEAN) AS ist_diverges_from_lossy_map,
           CAST(count(*) AS BIGINT) AS n
    FROM off GROUP BY 1, 2, 3, 4
    """,
)
def tz_zone_correct_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8's zone-CORRECT companion (SURVEY §7.4.5 "real zone conversion
    and document divergence"): DST-true conversion via Spark
    ``convert_timezone`` against DuckDB ICU ``timezone()``, grouped into
    per-year (zone-offset) distributions over orders noon timestamps.

    Divergence from the reference's lossy map (app/utils.py:34-43,
    replicated as `tz_offset_map`/F8), measured in the data itself:
    - America/New_York: the lossy map returns NULL; the zone-correct
      offset is -5 (EST) or -4 (EDT) depending on the date.
    - Europe/Istanbul: the lossy map hardcodes +03:00, but Turkey
      observed DST through 2016, so the 1992-1998 order dates split
      +2 (winter) / +3 (summer) — every +2 row is a date the reference
      would shift by a wrong hour. ``ist_diverges_from_lossy_map``
      flags them.
    Scale: pure Column expressions over one scan + one grouped agg."""
    o = load_table(spark, sf_dir, "orders")
    ts = F.to_timestamp_ntz(
        F.concat(F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit(" 12:00:00"))
    )
    ny = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), ts)
    ist = F.convert_timezone(F.lit("UTC"), F.lit("Europe/Istanbul"), ts)
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.timestamp_diff("HOUR", ts, ny).cast("bigint").alias("ny_off"),
            F.timestamp_diff("HOUR", ts, ist).cast("bigint").alias("ist_off"),
        )
        .withColumn("ist_diverges_from_lossy_map", F.col("ist_off") != 3)
        .groupBy("yr", "ny_off", "ist_off", "ist_diverges_from_lossy_map")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "datetime_components",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS year, CAST(month(o_orderdate) AS INT) AS month,
           CAST(day(o_orderdate) AS INT) AS day, CAST(hour(o_orderdate) AS INT) AS hour,
           CAST(minute(o_orderdate) AS INT) AS minute, CAST(second(o_orderdate) AS INT) AS second
    FROM orders
    """,
)
def datetime_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — datetime→component struct (Neo4j-export edge; app/utils.py:45-63),
    flattened for the oracle hash."""
    o = load_table(spark, sf_dir, "orders")
    comp = S.datetime_components("o_orderdate")
    return o.withColumn("comp", comp).select(
        "o_orderkey",
        F.col("comp.year").alias("year"), F.col("comp.month").alias("month"),
        F.col("comp.day").alias("day"), F.col("comp.hour").alias("hour"),
        F.col("comp.minute").alias("minute"), F.col("comp.second").alias("second"),
    )


@register(
    "epoch_seconds",
    oracle="""
    SELECT o_orderkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def epoch_seconds_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22 — epoch seconds from TimestampType (the reference's heterogenous
    temporal branching collapses after ingest,
    graph_product_application.py:179-197)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", S.epoch_seconds("o_orderdate").cast("bigint").alias("epoch_s")
    )


@register(
    "nutrient_alias_wide",
    oracle="""
    SELECT field_id,
           round(sum(CASE WHEN canon = 'total_nitrogen' THEN val END), 4) AS total_nitrogen,
           round(sum(CASE WHEN canon = 'total_potassium' THEN val END), 4) AS total_potassium,
           round(sum(CASE WHEN canon = 'total_carbon' THEN val END), 4) AS total_carbon
    FROM (
      SELECT o_custkey AS field_id,
             CASE CAST(o_orderkey % 4 AS INT)
                  WHEN 0 THEN 'total_nitrogen' WHEN 1 THEN 'total_potassium'
                  WHEN 2 THEN 'total_carbon' ELSE NULL END AS canon,
             o_totalprice AS val
      FROM orders
    )
    WHERE canon IS NOT NULL
    GROUP BY 1
    """,
)
def nutrient_alias_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/F13 + A11 — nutrient alias→canonical mapping then wide pivot of
    total_* columns (graph_tnd_analysis.py:66-114). Alias spellings
    synthesized per row; the alias map resolves them; fixed pivot values so
    no discovery pass."""
    o = load_table(spark, sf_dir, "orders")
    raw_name = (
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(" N "))
        .when(F.col("o_orderkey") % 4 == 1, F.lit("Potassium"))
        .when(F.col("o_orderkey") % 4 == 2, F.lit("carbon"))
        .otherwise(F.lit("mystery"))
    )
    rows = o.select(
        F.col("o_custkey").alias("field_id"),
        S.nutrient_canonical(S.mineral_norm(raw_name)).alias("canon"),
        F.col("o_totalprice").alias("val"),
    ).filter(F.col("canon").isNotNull())
    return (
        rows.groupBy("field_id")
        .pivot("canon", ["total_nitrogen", "total_potassium", "total_carbon"])
        .agg(r4(F.sum("val")))
    )


@register(
    "depth_diff",
    oracle="""
    SELECT p_partkey, CAST(p_size + 15 - p_size AS DOUBLE) AS sample_depth_cm
    FROM part
    """,
)
def depth_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 — sample depth = ending − beginning (graph_haney_analysis.py:99-102)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        S.depth_diff((F.col("p_size") + 15), F.col("p_size")).alias("sample_depth_cm"),
    )


@register(
    "iso_z_parse",
    oracle="""
    SELECT raw, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS parsed
    FROM (SELECT strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || 'Z' AS raw, o_orderdate FROM orders)
    """,
)
def iso_z_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 — 'Z'-suffixed ISO parse (graph_product_application.py:26-38)."""
    o = load_table(spark, sf_dir, "orders")
    raw = F.concat(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z"))
    return o.select(raw.alias("raw")).withColumn(
        "parsed", F.date_format(S.iso_z_timestamp("raw"), "yyyy-MM-dd HH:mm:ss")
    )


@register(
    "area_normalized_sum",
    oracle="""
    SELECT unit, round(sum(CASE factor WHEN 0 THEN NULL ELSE val / factor END), 4) AS per_da, count(*) AS n
    FROM (
      SELECT CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'da' WHEN 1 THEN 'ha' WHEN 2 THEN 'm2' ELSE 'acre' END AS unit,
             CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 1.0 WHEN 1 THEN 10.0 WHEN 2 THEN 0.01 ELSE 0 END AS factor,
             value AS val
      FROM events
    )
    GROUP BY 1
    """,
)
def area_normalized_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 + A6 — area-unit normalization to decares with unconvertible
    units skipped (the _estimate_water_per_da_L heuristic,
    graph_application_event.py:38-85)."""
    ev = load_table(spark, sf_dir, "events")
    unit = (
        F.when(F.col("event_id") % 4 == 0, F.lit("da"))
        .when(F.col("event_id") % 4 == 1, F.lit("ha"))
        .when(F.col("event_id") % 4 == 2, F.lit("m2"))
        .otherwise(F.lit("acre"))
    )
    w = ev.select(unit.alias("unit"), F.col("value").alias("val"))
    per_da = F.col("val") / S.area_decare_factor("unit")
    return w.groupBy("unit").agg(
        r4(F.sum(per_da)).alias("per_da"), F.count(F.lit(1)).alias("n")
    )


@register(
    "capped_label_sample",
    oracle=f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           array_to_string(list_sort(list_distinct(list(event_type)))[1:{A._SAMPLE_CAP}], ',') AS sample
    FROM events GROUP BY 1
    """,
)
def capped_label_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W3 — capped distinct sample per group (label samples capped at 20,
    graph_soil_layer.py:64-68; ``_SAMPLE_CAP`` here)."""
    ev = load_table(spark, sf_dir, "events")
    out = A.capped_sample(ev, ["user_id"], "event_type")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.array_join("sample", ",").alias("sample"),
    )


@register(
    "longest_label_pick",
    oracle="""
    SELECT o_custkey,
           min(o_orderpriority) FILTER (
             WHERE length(o_orderpriority) = maxlen) AS label
    FROM (
      SELECT o_custkey, o_orderpriority,
             max(length(o_orderpriority)) OVER (PARTITION BY o_custkey) AS maxlen
      FROM orders
    )
    GROUP BY o_custkey
    """,
)
def longest_label_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — prefer the longest label per group, min-string tiebreak for
    determinism (_pick_label, graph_soil_layer.py:45-51)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    maxlen = F.max(F.length("o_orderpriority")).over(w)
    return (
        o.withColumn("maxlen", maxlen)
        .filter(F.length("o_orderpriority") == F.col("maxlen"))
        .groupBy("o_custkey")
        .agg(F.min("o_orderpriority").alias("label"))
    )


@register(
    "intersect_types",
    oracle="""
    SELECT event_type FROM events WHERE user_id = 0
    INTERSECT
    SELECT event_type FROM events WHERE user_id = 1
    """,
)
def intersect_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — set intersection (discovered ∩ wanted measurement keys,
    graph_weather_day.py:178-186)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("user_id") == 0).select("event_type")
    b = ev.filter(F.col("user_id") == 1).select("event_type")
    return a.intersect(b)


@register(
    "except_types",
    oracle="""
    SELECT event_type FROM events
    EXCEPT
    SELECT event_type FROM events WHERE event_type IN ('error', 'view')
    """,
)
def except_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family — EXCEPT set difference (the skip-if-seen anti-pattern as a
    set op, SURVEY §2.6 note): measurement keys minus an exclusion set."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type").distinct()
        .subtract(ev.filter(F.col("event_type").isin("error", "view")).select("event_type").distinct())
    )


@register(
    "wide_melt_roundtrip",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d') AS day,
           event_type AS measurement,
           round(sum(value), 4) AS total
    FROM events
    WHERE event_type IN ('error', 'view', 'click')
    GROUP BY 1, 2, 3
    """,
)
def wide_melt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A11 — wide sensor-key rows melted back to long format: pivot to
    wide (the reference's c167_110-style stat columns,
    graph_soil_layer.py:186,205-209) then `unpivot` (melt) back; the
    round-trip must be lossless."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "view", "click")
    )
    wide = (
        ev.groupBy(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .pivot("event_type", ["error", "view", "click"])
        .agg(F.sum("value"))
    )
    long = wide.unpivot(
        ids=["user_id", "day"], values=["error", "view", "click"],
        variableColumnName="measurement", valueColumnName="total",
    ).filter(F.col("total").isNotNull())
    return long.select("user_id", "day", "measurement", r4(F.col("total")).alias("total"))


# ---------------------------------------------------------------------------
# Check jobs (S14 + §5.5), multimodal plumbing, and remaining P/S/F operators
# ---------------------------------------------------------------------------


@register(
    "constraint_violations",
    oracle="""
    SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY 1, 2
    HAVING count(*) > 1
    """,
)
def constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/§5.5 — composite-key uniqueness check as a data-quality job
    (the reference's CREATE CONSTRAINT DDL, graph_constraints.py:4-133,
    turned into an assertable violation set). Keyed (customer, day) over
    orders, which deliberately has collisions — the check must find them."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    )
    return CK.key_violations(o, ["o_custkey", "day"]).select(
        "o_custkey", "day", F.col("n_rows").cast("bigint").alias("n_rows")
    )


@register(
    "dangling_edge_check",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
    )
    """,
)
def dangling_edge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§5.5 — dangling-edge detection via left_anti join (the integrity
    breach the reference silently produces when writer key types disagree,
    SURVEY §2.10.3-4). Node set restricted to status-'F' orders so the
    check provably finds the dangling remainder."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    nodes = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return CK.dangling_edges(li, nodes, ["l_orderkey"], ["o_orderkey"])


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash,
           CAST(CASE WHEN octet_length(encode(text)) > 0 THEN 1 ELSE 0 END AS BIGINT) AS feature_ok
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing — opaque binary media column through the
    ``mapInPandas`` feature extractor (Arrow batches, binary dropped on
    output). This entry checks the byte-level plumbing path (fake decoder);
    the REAL PNG decoder is oracle-checked by multimodal_png_decode."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_media_from_documents(docs)
    feats = MM.extract_features(media, fake=True)
    return feats.select("media_id", "kind", "n_bytes", "content_hash", "feature_ok")


# The synthetic media geometry the media oracles recompute: pixel indices
# of one image or frame, the sampled frame indices, and the source pixel
# each pixel of the 2×2 resize reads (nearest neighbour).
_PX_LAST = MM._SYNTH_WIDTH * MM._SYNTH_HEIGHT - 1
_SAMPLED_FRAMES = ", ".join(f"({f})" for f in range(0, MM._RAWV_FRAMES, MM._FRAME_EVERY))
_RESIZE_W = _RESIZE_H = 2
_RESIZE_SRC = ", ".join(
    f"({y * MM._SYNTH_HEIGHT // _RESIZE_H * MM._SYNTH_WIDTH + x * MM._SYNTH_WIDTH // _RESIZE_W})"
    for y in range(_RESIZE_H)
    for x in range(_RESIZE_W)
)


@register(
    "multimodal_png_decode",
    oracle=f"""
    SELECT d.doc_id AS media_id,
           CAST({MM._SYNTH_WIDTH} AS BIGINT) AS width,
           CAST({MM._SYNTH_HEIGHT} AS BIGINT) AS height,
           round(avg(CAST((d.doc_id * 7 + t.i * 13) % 256 AS DOUBLE)), 4) AS mean_px,
           CAST(1 AS BIGINT) AS feature_ok
    FROM documents d CROSS JOIN generate_series(0, {_PX_LAST}) t(i)
    GROUP BY d.doc_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — REAL image decode, end to end: per document a genuine
    8-bit grayscale PNG is encoded (stdlib zlib) with pixel i = (doc_id*7 +
    i*13) % 256, shipped as an opaque binary column, and decoded back by
    the pure-Python PNG decoder (operators/multimodal.py) inside
    Arrow-batched ``mapInPandas``. Because the pixel function is closed
    form, DuckDB recomputes the decoded mean analytically — the oracle
    verifies the DECODER, not just the plumbing. Binary column never
    shuffles (features extracted in the same stage that synthesized it)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_png_media(docs)
    feats = MM.extract_features(media, fake=False)
    return feats.select(
        "media_id", "width", "height", r4(F.col("mean_px")).alias("mean_px"), "feature_ok"
    )


@register(
    "multimodal_audio_features",
    oracle=f"""
    WITH s AS (
      SELECT d.doc_id, t.i,
             ((d.doc_id * 31 + t.i * 17) % 201) - 100 AS v
      FROM documents d CROSS JOIN generate_series(0, {MM._WAV_SAMPLES - 1}) t(i)
    ), z AS (
      SELECT doc_id, i, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s
    )
    SELECT doc_id AS media_id,
           CAST({MM._WAV_RATE} AS BIGINT) AS sample_rate,
           CAST({MM._WAV_SAMPLES} AS BIGINT) AS n_samples,
           CAST({MM._WAV_SAMPLES * 1000 // MM._WAV_RATE} AS BIGINT) AS duration_ms,
           round(sqrt(avg(CAST(v * v AS DOUBLE))), 4) AS rms,
           CAST(sum(CASE WHEN (v >= 0) <> (pv >= 0) THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           CAST(1 AS BIGINT) AS feature_ok
    FROM z GROUP BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — REAL audio decode end to end: per document a genuine
    PCM16 mono RIFF/WAVE file (sample i = ((doc_id*31 + i*17) % 201) - 100,
    8 kHz) is encoded, shipped as an opaque binary column, and decoded back
    by the pure-stdlib WAV parser inside Arrow-batched ``mapInPandas``
    (operators/multimodal.py). RMS energy and zero-crossing count are
    closed-form, so DuckDB recomputes them analytically — the oracle
    verifies the DECODER and the feature math, not just the plumbing.
    Parity: the reference stores no media, but its opaque-payload pattern
    (JSON props columns, graph_fields.py) is the same bytes-stay-opaque
    contract."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_wav_media(docs)
    feats = MM.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "duration_ms",
        r4(F.col("rms")).alias("rms"),
        "zero_crossings",
        "feature_ok",
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT d.doc_id AS media_id,
           CAST(f.f AS BIGINT) AS frame_idx,
           CAST({MM._SYNTH_WIDTH} AS BIGINT) AS width,
           CAST({MM._SYNTH_HEIGHT} AS BIGINT) AS height,
           round(avg(CAST((d.doc_id * 11 + f.f * 5 + t.i * 13) % 256 AS DOUBLE)), 4)
             AS mean_px,
           CAST(1 AS BIGINT) AS feature_ok
    FROM documents d
    CROSS JOIN (VALUES {_SAMPLED_FRAMES}) f(f)
    CROSS JOIN generate_series(0, {_PX_LAST}) t(i)
    GROUP BY d.doc_id, f.f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — video frame sampling: every 2nd frame of a 6-frame
    raw-gray container (pixel i of frame f = (doc_id*11 + f*5 + i*13) %
    256), one OUTPUT row per sampled frame — ``mapInPandas`` with
    row-expanding batches (frame extraction is a generator, not a map; the
    binary column never leaves the stage). Per-frame means are closed-form
    ⇒ exact oracle. Real containers (MP4) need codec libs absent here; the
    container is synthetic, the distributed sampling plumbing is real."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_rawv_media(docs)
    frames = MM.sample_video_frames(media)
    return frames.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        r4(F.col("mean_px")).alias("mean_px"),
        "feature_ok",
    )


@register(
    "multimodal_resize",
    oracle=f"""
    SELECT d.doc_id AS media_id,
           CAST({_RESIZE_W} AS BIGINT) AS width,
           CAST({_RESIZE_H} AS BIGINT) AS height,
           round(avg(CAST((d.doc_id * 7 + t.i * 13) % 256 AS DOUBLE)), 4) AS mean_px,
           CAST(1 AS BIGINT) AS feature_ok
    FROM documents d CROSS JOIN (VALUES {_RESIZE_SRC}) t(i)
    GROUP BY d.doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — image resize as a composable media→media pipeline
    stage: encode a real 4×4 gray PNG per document (pixel i = (doc_id*7 +
    i*13) % 256), nearest-neighbor downsample to 2×2 (target (x,y) reads
    source (x*4//2, y*4//2) ⇒ sources i ∈ {0,2,8,10}), re-encode PNG, then
    decode AGAIN with the feature extractor — a full
    encode→decode→resample→encode→decode round trip through two
    Arrow-batched ``mapInPandas`` stages, with the resized mean recomputed
    analytically by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_png_media(docs)
    small = MM.resize_png_batch(media, out_w=_RESIZE_W, out_h=_RESIZE_H)
    feats = MM.extract_features(small, fake=False)
    return feats.select(
        "media_id",
        "width",
        "height",
        r4(F.col("mean_px")).alias("mean_px"),
        "feature_ok",
    )


@register(
    "benchmark_decontamination",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), gl AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(w) - 2, 0)),
                                          i -> array_to_string(w[i+1:i+3], ' '))) AS grams
      FROM words
    ), grams AS (
      SELECT doc_id, unnest(grams) AS gram FROM gl
    ), eval_g AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM grams g JOIN eval_g e USING (gram)
    WHERE g.doc_id % 17 <> 0
    GROUP BY g.doc_id
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination — the n-gram-collision test of the
    GPT-3/PaLM data papers: a corpus document is contaminated if any of its
    word n-grams appears in the held-out benchmark set (here: docs with
    doc_id % 17 == 0 stand in for the benchmark; n=3 sized to the ~50-word
    fixture docs, production web text uses 8-13). Plan: distinct grams per
    doc via pure Column exprs (transform+slice, codegen), benchmark grams
    — dimension-small by construction, eval suites are tiny vs a 100 TB
    corpus — broadcast to the corpus gram stream; one aggregation per doc.
    The corpus side never self-joins and never shuffles text."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(TX.word_ngrams(F.col("text"), 3)).alias("gram")
    )
    eval_g = grams.filter(F.col("doc_id") % 17 == 0).select("gram").distinct()
    corpus = grams.filter(F.col("doc_id") % 17 != 0)
    return (
        corpus.join(F.broadcast(eval_g), on="gram")
        .groupBy("doc_id")
        # grams are already distinct per doc ⇒ count(*) = distinct shared
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_grams"))
    )


@register(
    "sequence_packing",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS nt
      FROM documents
    ), ord AS (
      SELECT doc_id, lang, nt,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM toks
    ), rec AS (
      SELECT lang, rn, doc_id, nt, 0 AS bin_id, nt AS acc
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.lang, o.rn, o.doc_id, o.nt,
             CASE WHEN r.acc + o.nt > 256 THEN r.bin_id + 1 ELSE r.bin_id END,
             CASE WHEN r.acc + o.nt > 256 THEN o.nt ELSE r.acc + o.nt END
      FROM rec r JOIN ord o ON o.lang = r.lang AND o.rn = r.rn + 1
    )
    SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
           CAST(bin_id AS BIGINT) AS bin_id
    FROM rec
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data sequence packing — greedy token-budget (256) bin
    packing per language stream. The reset-at-overflow cumulative fold has
    no window-function form, so it runs as ``applyInPandas`` per stream
    (parallel across streams, linear within — at 100 TB streams are input
    shards, never a global order). The oracle replays the same fold as a
    DuckDB recursive CTE over row_number — an exact check of genuinely
    sequential semantics."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", TX.token_count("text").cast("long").alias("n_tokens")
    )
    packed = PK.pack_sequences(
        toks, stream_col="lang", order_col="doc_id", tokens_col="n_tokens", budget=256
    )
    return packed.select("doc_id", "lang", "n_tokens", "bin_id")


@register(
    "stratified_sample",
    oracle="""
    WITH rates(lang, rate) AS (VALUES ('en', 10), ('de', 30), ('es', 30),
                                      ('fr', 30), ('zh', 30))
    SELECT d.doc_id, d.lang,
           CAST(len(string_split_regex(lower(trim(d.text)), '\\s+')) AS BIGINT)
             AS n_tokens
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE (d.doc_id * 2654435761) % 100 < r.rate
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data stratified sampling — per-language keep rates (the
    standard down-sample-the-head / keep-the-tail mixture move) decided by
    a DETERMINISTIC multiplicative hash of the id, not rand(): the sample
    is reproducible across runs, engines and retries (a shuffle replay
    never changes membership — rand() sampling breaks exactly-once
    semantics under task retry). The rate map is a literal (broadcast by
    construction); the corpus is filtered in one narrow pass."""
    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 10, "de": 30, "es": 30, "fr": 30, "zh": 30}
    rate_map = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    return docs.select(
        "doc_id",
        "lang",
        TX.token_count("text").cast("bigint").alias("n_tokens"),
        ((F.col("doc_id") * F.lit(2654435761)) % 100).alias("__h"),
    ).filter(F.col("__h") < rate_map[F.col("lang")]).drop("__h")


# DSIR's hashed feature count and selection size, shared with its oracle.
_DSIR_BUCKETS, _DSIR_K = 256, 50


def _dsir_oracle_sql() -> str:
    """DSIR replay: same whitespace tokens, same md5-window hash mod
    ``_DSIR_BUCKETS``, Laplace-smoothed bucket distributions, identical
    log-ratio formula (division/paren structure matters for float
    parity), per-doc sum, top-k. ``round(w,4) + 0.0`` pins the -0.0
    sign for near-zero weights (r5 lesson)."""
    h = _poly_sql("t")
    n_buckets = _DSIR_BUCKETS
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, t FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents) WHERE t <> ''
    ),
    hb AS (SELECT doc_id, lang, {h} % {n_buckets} AS b FROM tok),
    tgt AS (SELECT b, count(*) AS ct FROM hb WHERE lang <> 'en' GROUP BY b),
    rawp AS (SELECT b, count(*) AS cr FROM hb WHERE lang = 'en' GROUP BY b),
    tots AS (SELECT (SELECT count(*) FROM hb WHERE lang <> 'en') AS nt,
                    (SELECT count(*) FROM hb WHERE lang = 'en') AS nr),
    lr AS (SELECT r.b,
             ln(((coalesce(t.ct, 0) + 1.0) / (tots.nt + {n_buckets}.0))
                / ((coalesce(w.cr, 0) + 1.0) / (tots.nr + {n_buckets}.0))) AS lw
           FROM range(0, {n_buckets}) r(b)
           LEFT JOIN tgt t ON r.b = t.b
           LEFT JOIN rawp w ON r.b = w.b
           CROSS JOIN tots),
    scored AS (SELECT hb.doc_id, count(*) AS n_tok, sum(lr.lw) AS w
               FROM hb JOIN lr ON hb.b = lr.b
               WHERE hb.lang = 'en' GROUP BY hb.doc_id)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           round(w, 4) + 0.0 AS dsir_logweight
    FROM scored ORDER BY w DESC, doc_id LIMIT {_DSIR_K}
    """


@register("dsir_selection", oracle=_dsir_oracle_sql())
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data selection via hashed-n-gram importance resampling
    (DSIR — Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): estimate target/raw token-bucket
    distributions with ``_DSIR_BUCKETS`` hashed features + Laplace
    smoothing, score every raw-pool document by its summed bucket
    log-ratio, and take the top-k most target-like. Here the target
    domain is the non-English documents and the raw pool is English —
    the canonical "select from the big pool what looks like the small
    domain" shape. The selection itself is `weighted_sample_docs`-style
    deterministic top-k (no rand(): retry-safe, oracle-replayable).

    Scale shape: one explode→hash pass over the corpus (linear in
    tokens), two 256-row distribution aggregates, a BROADCAST join of
    the 256-entry log-ratio table back onto the token stream, one
    per-doc sum, TakeOrdered top-k. Nothing quadratic, nothing
    driver-side beyond the k rows; the same plan at 100 TB is one
    map-side-combined shuffle per distribution + one for the doc sum."""
    B = _DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", "lang", F.explode(TX.tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .select("doc_id", "lang", (portable_hash(F.col("t")) % B).alias("b"))
    )
    tgt = tok.filter(F.col("lang") != "en").groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    rawp = tok.filter(F.col("lang") == "en").groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    # totals ride a 1-row broadcast (the scalar-probe idiom) — a global
    # window over the bucket table would single-partition it
    tots = tgt.agg(F.sum("ct").alias("nt")).crossJoin(rawp.agg(F.sum("cr").alias("nr")))
    buckets = (
        spark.range(B).select(F.col("id").cast("bigint").alias("b"))
        .join(tgt, on="b", how="left")
        .join(rawp, on="b", how="left")
        .crossJoin(F.broadcast(tots))
    )
    lr = buckets.select(
        "b",
        F.log(
            ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + F.lit(float(B))))
            / ((F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / (F.col("nr") + F.lit(float(B))))
        ).alias("lw"),
    )
    scored = (
        tok.filter(F.col("lang") == "en")
        .join(F.broadcast(lr), on="b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"), F.sum("lw").alias("w"))
    )
    return (
        scored.orderBy(F.desc("w"), "doc_id")
        .limit(_DSIR_K)
        .select("doc_id", "n_tok", r4(F.col("w")).alias("dsir_logweight"))
    )


@register(
    "mixture_weights",
    oracle="""
    WITH toks AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
           round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM toks), 4) AS current_share,
           round(0.2 * (SELECT sum(n_tokens) FROM toks) / n_tokens, 4) AS sample_rate,
           CAST(CASE WHEN 0.2 * (SELECT sum(n_tokens) FROM toks) / n_tokens > 1.0
                     THEN 1 ELSE 0 END AS BIGINT) AS needs_upsampling
    FROM toks
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture planning — given a target mixture (uniform
    share per language here), compute each stratum's current token share
    and the sampling rate that hits the target: rate = target·Σtokens /
    stratum_tokens; rate > 1 flags strata that need upsampling
    (repetition). One aggregation + a total via window — the whole plan is
    |strata|-sized after the first combine, nothing driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(TX.token_count("text")).cast("bigint").alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    rate = F.lit(0.2) * total / F.col("n_tokens")
    return toks.select(
        "lang",
        "n_docs",
        "n_tokens",
        r4(F.col("n_tokens") / total).alias("current_share"),
        r4(rate).alias("sample_rate"),
        F.when(rate > 1.0, 1).otherwise(0).cast("bigint").alias("needs_upsampling"),
    )


@register(
    "fallback_selection",
    oracle="""
    SELECT user_id, event_type, n FROM (
      SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END AS pri,
             max(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id) AS mx
      FROM events GROUP BY user_id, event_type
    ) WHERE pri = mx
    """,
)
def fallback_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — conditional fallback selection, per group and fully declarative:
    prefer the wanted measurement set; groups where it is empty fall back to
    everything (the reference's filtered→unfiltered discovery fallback,
    graph_weather_day.py:197, graph_soil_layer.py:82-118 — done there with
    a driver-side if-empty re-query)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    pri = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    w = Window.partitionBy("user_id")
    return (
        counts.withColumn("pri", pri)
        .withColumn("mx", F.max("pri").over(w))
        .filter(F.col("pri") == F.col("mx"))
        .select("user_id", "event_type", "n")
    )


@register(
    "data_field_discovery",
    oracle="""
    SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
    """,
)
def data_field_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — data-field discovery scan: which measurement keys exist per
    device in a window (``_get_data_fields``, graph_soil_layer.py:82-118) —
    a distinct() over the pushed-down time-range scan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        )
        .select(F.col("user_id").cast("bigint").alias("user_id"), "event_type")
        .distinct()
    )


@register(
    "ineq_trimmed_float",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(coalesce(
             TRY_CAST(raw AS DOUBLE),
             TRY_CAST(regexp_replace(raw, '^[<>=\\s]+', '') AS DOUBLE)
           ), 4) AS val
    FROM (
      SELECT l_orderkey, l_linenumber,
             CASE CAST(l_linenumber % 4 AS INT)
                  WHEN 0 THEN CAST(l_quantity AS VARCHAR)
                  WHEN 1 THEN '<' || CAST(l_quantity AS VARCHAR)
                  WHEN 2 THEN '>= ' || CAST(l_quantity AS VARCHAR)
                  ELSE 'n/a' END AS raw
      FROM lineitem
    )
    """,
)
def ineq_trimmed_float_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — inequality-trimmed float parse: plain cast, else strip leading
    ``<>=`` and retry (graph_tnd_analysis.py:24-37)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("string")
    raw = (
        F.when(F.col("l_linenumber") % 4 == 0, qty)
        .when(F.col("l_linenumber") % 4 == 1, F.concat(F.lit("<"), qty))
        .when(F.col("l_linenumber") % 4 == 2, F.concat(F.lit(">= "), qty))
        .otherwise(F.lit("n/a"))
    )
    return li.select(
        "l_orderkey", "l_linenumber", r4(S.ineq_trimmed_float(raw)).alias("val")
    )


@register(
    "json_encode_props",
    oracle="""
    SELECT o_orderkey,
           '{"k":' || CAST(o_orderkey AS VARCHAR) || ',"s":"' || o_orderstatus || '"}' AS packed
    FROM orders
    """,
)
def json_encode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 — JSON-encode packed structures at the export edge
    (``json.dumps`` of wetting-depth structures,
    graph_irrigation_event.py:33-41; engine keeps native structs internally
    and emits JSON only here)."""
    o = load_table(spark, sf_dir, "orders")
    packed = S.json_encode(
        F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s"))
    )
    return o.select("o_orderkey", packed.alias("packed"))


@register(
    "asof_bucketed_line",
    oracle="""
    SELECT o_orderkey, l_linenumber, ship_day FROM (
      SELECT o.o_orderkey, l.l_linenumber,
             strftime(l.l_shipdate, '%Y-%m-%d') AS ship_day,
             row_number() OVER (
               PARTITION BY o.o_orderkey
               ORDER BY abs(epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)),
                      l.l_linenumber, l.l_shipdate
             ) AS rn
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         AND abs(epoch(l.l_shipdate) - epoch(o.o_orderdate)) <= 90 * 86400
    ) WHERE rn = 1
    """,
)
def asof_bucketed_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 scale path — tolerance-bounded as-of via (key, coarse-time-bucket)
    equi-join (SURVEY §7.4.2): candidate fan-out per row is bounded by
    right-rows-per-3·tolerance regardless of per-key history. Equivalence
    to the naive join-then-rank is property-tested
    (tests/test_property.py)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_shipdate"
    )
    out = J.asof_join_bucketed(
        o, li, on=["o_orderkey"], left_ts="o_orderdate", right_ts="l_shipdate",
        tolerance_seconds=90 * 86400,
        tiebreak_cols=["l_linenumber", "l_shipdate"],
    )
    return out.filter(F.col("l_linenumber").isNotNull()).select(
        "o_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


# ---------------------------------------------------------------------------
# Streaming entries (availableNow runs through q00_base's
# _run_stream_to_table; on static input the stream result equals the batch
# result, so the batch oracle applies), plus the corpus-curation, edge-join,
# motif and pivot queries that follow them.
# ---------------------------------------------------------------------------


@register(
    "streaming_daily_stats",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(user_id AS BIGINT) AS user_id,
           event_type,
           round(avg(value), 4) AS data,
           round(min(value), 4) AS min,
           round(max(value), 4) AS max,
           round(avg(value), 4) AS avg,
           round(sum(value), 4) AS sum,
           CAST(count(value) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming — tumbling 1-day windowed stats via Structured
    Streaming (watermark wide enough that the static fixture drops nothing);
    on static input the stream result equals the batch A1 aggregation, so
    the same DuckDB oracle applies."""
    out = _run_stream_to_table(
        spark, sf_dir, "daily_stats",
        lambda s: STRM.stream_daily_stats(s, STRM._REPLAY_WATERMARK),
    )
    return out.select(
        "day",
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        r4(F.col("data")).alias("data"),
        r4(F.col("min")).alias("min"),
        r4(F.col("max")).alias("max"),
        r4(F.col("avg")).alias("avg"),
        r4(F.col("sum")).alias("sum"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "streaming_sliding_counts",
    oracle="""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 2 HOURS, ts) - k.k * INTERVAL 2 HOURS
               AS window_start,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1), (2)) k(k)
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(window_start + INTERVAL 6 HOURS, '%Y-%m-%d %H:%M:%S')
             AS window_end,
           event_type,
           CAST(count(value) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM assigned GROUP BY 1, 2, 3
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming — SLIDING 6h-window / 2h-slide per-type counts via
    Structured Streaming (complete mode over the static fixture, the same
    runner as streaming_daily_stats). The oracle replays Spark's window
    assignment arithmetic exactly: every event belongs to the w/s = 3
    epoch-aligned windows starting at time_bucket_2h(t) − k·2h, k∈{0,1,2}
    — so the overlap semantics, not just the totals, are hash-checked.
    Tumbling (streaming_daily_stats) is the s = w special case."""
    out = _run_stream_to_table(
        spark, sf_dir, "sliding_counts",
        STRM.stream_sliding_counts,
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        r4(F.col("sum_value")).alias("sum_value"),
    )


@register(
    "streaming_exact_dedup",
    oracle="""
    SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
    FROM documents
    """,
)
def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming × LLM ops — in-flight exact dedup: documents stream
    through ``dropDuplicates`` on the normalized-content hash, so only the
    first copy of each text ever lands (the ingest-time half of the dedup
    story; the batch near_dup_clusters sweep is the at-rest half). The
    surviving hash SET is deterministic even though which doc_id survives
    per hash is arrival-order-dependent — the oracle checks exactly the
    deterministic part."""
    out = _run_stream_to_table(
        spark, sf_dir, "exact_dedup",
        STRM.stream_exact_dedup,
        table="documents", mode="append",
    )
    return out.select("content_hash")


@register(
    "streaming_decontamination",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), gl AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(w) - 2, 0)),
                                          i -> array_to_string(w[i+1:i+3], ' '))) AS grams
      FROM words
    ), eval_g AS (
      SELECT DISTINCT unnest(grams) AS gram FROM gl WHERE doc_id % 17 = 0
    ), ev AS (
      SELECT list(gram) AS eg FROM eval_g
    )
    SELECT g.doc_id,
           len(list_intersect(g.grams, ev.eg)) > 0 AS contaminated
    FROM gl g CROSS JOIN ev WHERE g.doc_id % 17 <> 0
    """,
)
def streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming × LLM ops — ingest-time decontamination: corpus
    documents stream past a broadcast eval-set gram array and get a
    per-row contaminated flag via ``arrays_overlap`` (stateless, append
    mode — the in-flight complement of the batch
    ``benchmark_decontamination`` aggregation). Same eval split as the
    batch query (doc_id % 17 == 0 is the held-out benchmark)."""
    docs = load_table(spark, sf_dir, "documents")
    eval_arr = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.explode(TX.word_ngrams(F.col("text"), 3)).alias("g"))
        .agg(F.collect_set("g").alias("eval_grams"))
    )
    out = _run_stream_to_table(
        spark, sf_dir, "decontam",
        lambda s: STRM.stream_decontaminate(
            s.filter(F.col("doc_id") % 17 != 0), eval_arr
        ),
        table="documents", mode="append",
    )
    return out.select("doc_id", "contaminated")


@register(
    "curated_corpus_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
      FROM documents
    ), scored AS (
      SELECT doc_id, text, n_tok,
             round((least(n_tok / 50.0, 1.0)
                    + (1.0 - least(((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
                                    / nullif(length(text), 0)) * 5.0, 1.0))
                    + least((len(list_distinct(list_intersect(t, {_SW_SQL['en']})))
                             + len(list_distinct(list_intersect(t, {_SW_SQL['es']})))
                             + len(list_distinct(list_intersect(t, {_SW_SQL['de']})))) / 5.0, 1.0)) / 3.0, 4) AS quality,
             CASE WHEN greatest(len(list_distinct(list_intersect(t, {_SW_SQL['en']}))),
                               len(list_distinct(list_intersect(t, {_SW_SQL['es']}))),
                               len(list_distinct(list_intersect(t, {_SW_SQL['de']})))) = 0 THEN 'und'
                  WHEN len(list_distinct(list_intersect(t, {_SW_SQL['en']})))
                       = greatest(len(list_distinct(list_intersect(t, {_SW_SQL['es']}))),
                                  len(list_distinct(list_intersect(t, {_SW_SQL['de']}))),
                                  len(list_distinct(list_intersect(t, {_SW_SQL['en']})))) THEN 'en'
                  WHEN len(list_distinct(list_intersect(t, {_SW_SQL['es']})))
                       = greatest(len(list_distinct(list_intersect(t, {_SW_SQL['es']}))),
                                  len(list_distinct(list_intersect(t, {_SW_SQL['de']})))) THEN 'es'
                  ELSE 'de' END AS pred_lang
      FROM toks
    ), kept AS (
      SELECT * FROM scored WHERE quality >= 0.4 AND pred_lang <> 'und'
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(quality), 4) AS avg_quality,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM dedup GROUP BY 1
    """,
)
def curated_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM ops — the corpus-curation pipeline END TO END as one verified
    query: quality scoring + language ID filter (drop 'und' and
    quality < 0.4) → exact dedup keeping the min doc_id per normalized
    content hash → per-language corpus stats. This is the shape of a real
    pretraining-data prep job (filter → dedup → budget accounting), every
    stage of which is individually oracle-verified elsewhere; this entry
    verifies the COMPOSITION."""
    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "text",
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("pred_lang"),
        TX.token_count("text").alias("n_tok"),
        F.md5(TX.normalize_text(F.col("text"))).alias("content_hash"),
    )
    kept = enriched.filter((F.round(F.col("quality"), 4) >= 0.4) & (F.col("pred_lang") != "und"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    dedup = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return dedup.groupBy("pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        r4(F.avg(F.round(F.col("quality"), 4))).alias("avg_quality"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


@register(
    "streaming_sessions",
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
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_at,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_at,
           round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0, 4) AS duration_min,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming — session_window sessionization (gap 30min) via
    Structured Streaming; equals the batch lag+cumsum intervals on static
    input, so the batch sessionization oracle applies (minus session_id,
    which streaming doesn't number)."""
    out = _run_stream_to_table(
        spark, sf_dir, "sessions",
        STRM.stream_sessions,
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        _fmt_ts(F.col("start_at")).alias("start_at"),
        _fmt_ts(F.col("end_at")).alias("end_at"),
        r4(F.col("duration_min")).alias("duration_min"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@register(
    "conditional_edge_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_partkey
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name IS NOT NULL AND trim(p.p_name) <> ''
      AND p.p_brand IS NOT NULL AND trim(p.p_brand) <> ''
      AND p.p_size >= 25
    """,
)
def conditional_edge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/P6 — conditional edge creation: the edge exists only when the
    endpoint passes a predicate (Cypher ``CALL { WITH ... WHERE }`` guard,
    ProductApplication→FertilizerProduct only when name+brand non-null,
    /root/reference/app/graph_app_nutrient_content.py:154-162). A filtered
    broadcast join; the filter prunes the build side before broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").isNotNull() & (F.trim("p_name") != "")
        & F.col("p_brand").isNotNull() & (F.trim("p_brand") != "")
        & (F.col("p_size") >= 25)
    )
    return li.join(
        dim_hint(p, bounded=False), on=li["l_partkey"] == p["p_partkey"], how="inner"
    ).select("l_orderkey", "l_linenumber", "p_partkey")


@register(
    "window_widened_scan",
    oracle="""
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' - INTERVAL 7 DAY
      AND ts <  TIMESTAMP '2024-01-10' + INTERVAL 1 DAY
    """,
)
def window_widened_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — interval scan with boundary widening (−7d/+1d so events
    straddling the window edge are re-processed idempotently,
    /root/reference/app/graph_irrigation_event.py:43-75, widening :52-53).
    The widened predicate still pushes into the scan / prunes partitions."""
    ev = load_table(spark, sf_dir, "events")
    start, end = F.lit("2024-01-08").cast("timestamp"), F.lit("2024-01-10").cast("timestamp")
    return ev.filter(
        (F.col("ts") >= start - F.expr("INTERVAL 7 DAYS"))
        & (F.col("ts") < end + F.expr("INTERVAL 1 DAYS"))
    ).select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        _fmt_ts(F.col("ts")).alias("ts"),
    )


@register(
    "motif_4hop_counts",
    oracle="""
    WITH edges AS (
      SELECT concat('R:', n_regionkey) AS src, concat('N:', n_nationkey) AS dst, 'HAS_NATION' AS rel_type FROM nation
      UNION ALL
      SELECT concat('N:', c_nationkey), concat('C:', c_custkey), 'HAS_CUSTOMER' FROM customer
      UNION ALL
      SELECT concat('C:', o_custkey), concat('O:', o_orderkey), 'HAS_ORDER' FROM orders
      UNION ALL
      SELECT concat('O:', l_orderkey), concat('L:', l_orderkey, ':', l_linenumber), 'HAS_LINE' FROM lineitem
    )
    SELECT e1.src AS region, CAST(count(*) AS BIGINT) AS n_paths
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst AND e2.rel_type = 'HAS_CUSTOMER'
    JOIN edges e3 ON e3.src = e2.dst AND e3.rel_type = 'HAS_ORDER'
    JOIN edges e4 ON e4.src = e3.dst AND e4.rel_type = 'HAS_LINE'
    WHERE e1.rel_type = 'HAS_NATION'
    GROUP BY 1
    """,
)
def motif_4hop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer — 4-hop typed motif traversal
    Region→Nation→Customer→Order→Line with per-region path counts (the
    Field→Station→WeatherDay chain shape, SURVEY §1.3, two hops deeper).
    Each hop is one equi-join on vertex id; Catalyst chains them without
    materializing intermediate paths."""
    g = build_graph(spark, sf_dir)
    path = g.motif_path(["HAS_NATION", "HAS_CUSTOMER", "HAS_ORDER", "HAS_LINE"])
    first = path.columns[0]
    return (
        path.groupBy(F.col(first).alias("region"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
    )


@register(
    "dynamic_measurement_pivot",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d') AS day,
           round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
           round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
           round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
           round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view
    FROM events
    GROUP BY 1, 2
    """,
)
def dynamic_measurement_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.1.4 — dynamic measurement pivot: the wide per-measurement property
    columns whose names the reference resolves at runtime
    (graph_weather_day.py:53-67,235-248). Two passes: (1) discover the
    measurement keys (tiny distinct → driver), (2) pivot with the explicit
    value list (skips Spark's own discovery job and keeps the plan
    deterministic). At unbounded key cardinality the engine stores MapType
    instead (pipeline_weather_day_metrics) — this is the bounded-key path.
    """
    ev = load_table(spark, sf_dir, "events")
    keys = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )
    return (
        ev.groupBy(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .pivot("event_type", keys)
        .agg(r4(F.sum("value")))
    )


# ---------------------------------------------------------------------------
# Grouping analytics — ROLLUP / CUBE / GROUPING SETS (absent in the
# reference, free in Spark per SURVEY.md §2.4; exposed as first-class
# engine surface. One shuffle each: Expand multiplies rows by the number
# of grouping sets BEFORE the exchange, and map-side partial aggregation
# collapses the expansion, so the shuffle stays O(distinct groups).)
# ---------------------------------------------------------------------------


@register(
    "rollup_pricing",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) / 10000.0, 4) AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals over the pricing summary: (flag, status) →
    (flag) → (). grouping_id disambiguates real NULL group values from
    subtotal rows; the non-null TPC-H columns also get a '<all>' sentinel
    so both sides hash identically."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            r4(F.sum("l_quantity")).alias("sum_qty"),
            # exact 4dp-unit grid — 3e10-magnitude float sums are
            # 1-ulp-exposed under round(,4) (r10 magnitude audit)
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
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "gid",
            "sum_qty",
            "sum_disc_price",
            "n",
        )
    )


@register(
    "cube_order_counts",
    oracle="""
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 4)
             AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k marginal totals over (status, priority) in one pass — the
    Expand operator emits each input row once per grouping set and the
    partial aggregation collapses them pre-shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # exact cents — 3.7e10 float sums are 1-ulp-exposed under
            # round(,4) (r10 magnitude audit)
            r4(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / 100.0
            ).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "gid",
            "n",
            "total",
        )
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT coalesce(n_name, '<all>') AS nation,
           coalesce(strftime(o_orderdate, '%Y') , '<all>') AS year,
           CAST(grouping(n_name) * 2 + grouping(strftime(o_orderdate, '%Y')) AS BIGINT) AS gid,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 4)
             AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (strftime(o_orderdate, '%Y')), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping-set selection — per-nation and per-year marginals
    plus the grand total, WITHOUT the (nation, year) cross detail a cube
    would also emit. nation is broadcast (true dimension at any scale);
    orders⋈customer is left to AQE — broadcast locally, sort-merge on
    co-bucketed keys at fact scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "n_name", F.date_format("o_orderdate", "yyyy").alias("year"), "o_totalprice"
    )
    return (
        joined.groupingSets(
            [["n_name"], ["year"], []], "n_name", "year"
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            # exact cents (r10 magnitude audit)
            r4(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / 100.0
            ).alias("revenue"),
        )
        .select(
            F.coalesce("n_name", F.lit("<all>")).alias("nation"),
            F.coalesce("year", F.lit("<all>")).alias("year"),
            "gid",
            "revenue",
        )
    )


# ---------------------------------------------------------------------------
# Mergeable sketches + exact quantiles (A9 telemetry generalized to the
# re-aggregatable 100 TB form — see operators/sketches.py)
# ---------------------------------------------------------------------------


@register(
    "hll_user_reach",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1.0 AS DOUBLE) AS est_within_5pct
    FROM events GROUP BY event_type
    """,
)
def hll_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type from MERGED per-day HLL sketches —
    the range-rollup answers from O(days×types) sketch rows, never
    re-scanning raw events. The Datasketches estimate itself is
    implementation-specific (DuckDB cannot replay the binary sketch), so
    the driver-checked emission is the `percentile_sketch_bound`
    CONTRACT shape: the exact per-type distinct count (a fact DuckDB
    verifies) plus a flag asserting the merged-sketch estimate landed
    within 5% of it — the oracle pins the flag to 1.0, so an estimator
    or merge regression fails the gate, not just a pytest. The portable
    twin `hll_user_reach_portable` hash-matches the full register math."""
    ev = load_table(spark, sf_dir, "events")
    daily = SK.hll_day_sketches(ev, "ts", ["event_type"], "user_id")
    est = SK.hll_merge_estimate(daily, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "exact_users",
        F.when(
            F.abs(F.col("distinct_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users"),
            1.0,
        )
        .otherwise(0.0)
        .alias("est_within_5pct"),
    )


@register("hll_user_reach_portable")  # oracle assigned post-def (shared literals)
def hll_user_reach_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type from MERGED per-day PORTABLE-HLL
    register rows — the same mergeable range-rollup shape as
    hll_user_reach, but every step (two-polynomial 62-bit hash, register
    rank, max merge, harmonic estimator + linear-counting correction) is
    plain arithmetic DuckDB reproduces EXACTLY. The Datasketches variant
    stays as the compact-binary production path; this one closes the last
    rows-only gap with a hash-matched oracle."""
    ev = load_table(spark, sf_dir, "events")
    regs = SK.portable_hll_registers(ev, "ts", ["event_type"], "user_id")
    return SK.portable_hll_estimate(regs, ["event_type"])


@register(
    "percentile_value_stats",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p_0_5,
           round(quantile_cont(value, 0.95), 4) AS p_0_95
    FROM events
    GROUP BY event_type
    """,
)
def percentile_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per event_type (ANSI percentile_cont
    semantics, hash-matches DuckDB quantile_cont). At 100 TB swap to
    approx_percentile — same query shape, bounded-error single pass."""
    ev = load_table(spark, sf_dir, "events")
    return SK.exact_percentiles(ev, ["event_type"], "value", [0.5, 0.95])


@register(
    "time_rollup_multigrain",
    oracle="""
    SELECT event_type,
           coalesce(strftime(date_trunc('month', ts), '%Y-%m-%d'), '<all>') AS month,
           coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), '<all>') AS day,
           CAST(grouping(strftime(date_trunc('month', ts), '%Y-%m-%d')) * 2
                + grouping(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS BIGINT) AS gid,
           round(sum(value), 4) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, ROLLUP (strftime(date_trunc('month', ts), '%Y-%m-%d'),
                                 strftime(date_trunc('day', ts), '%Y-%m-%d'))
    """,
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity time rollup: day, month, and
    all-time totals per event_type in ONE scan — ROLLUP over
    (month, day) truncations instead of three separate aggregations.
    The Expand triples rows pre-shuffle but partial agg collapses them to
    O(groups); at 100 TB this replaces three full passes with one."""
    ev = load_table(spark, sf_dir, "events")
    month = F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM-dd")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        ev.select("event_type", month.alias("m"), day.alias("d"), "value")
        .rollup("event_type", "m", "d")
        .agg(
            F.grouping_id().cast("bigint").alias("g3"),
            r4(F.sum("value")).alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        # event_type is a real group key on both sides: keep only the
        # rollup levels where it is grouped (g3 < 4 ⇔ grouping(event_type)=0)
        .filter(F.col("g3") < 4)
        .select(
            "event_type",
            F.coalesce("m", F.lit("<all>")).alias("month"),
            F.coalesce("d", F.lit("<all>")).alias("day"),
            (F.col("g3") % 4).alias("gid"),
            "total",
            "n",
        )
    )


@register(
    "rolling_7day_window",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS sum_7d,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
    FROM events
    WHERE user_id < 50
    """,
)
def rolling_7day_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day window aggregate (sum + count) — a true rangeBetween frame over
    epoch seconds (SURVEY.md §2.5: frame-spec windows exposed beyond the
    reference's ranking-only usage). One shuffle on user_id; frames are
    evaluated with a sliding two-pointer pass per partition, no
    per-row rescan."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-7 * 86400, 0)
    )
    # a windowed float MEAN lands on round(x,4) ties often enough (3 rows
    # in 60k outputs) that engine summation order flips the last digit;
    # the rolling SUM over exact DECIMAL is deterministic on both sides
    dec_sum = F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 4)
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        _fmt_ts(F.col("ts")).alias("ts"),
        dec_sum.cast("double").alias("sum_7d"),
        n.cast("bigint").alias("n_7d"),
    )


