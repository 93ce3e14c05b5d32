"""The reference's full ETL DAG — 27 node labels + 27 relationship types —
re-expressed declaratively.

The reference builds a static ordered TASKS list and awaits each
sequentially over Postgres→Neo4j round-trips
(/root/reference/main_graph_topraq.py:117-334); dependencies are implicit
in list position (product_applications at :300 reads ApplicationEvents back
from Neo4j written at :292). Here every task is a **table definition** —
a function from its dependency DataFrames to a node/edge DataFrame — and
the DAG is explicit: ``build()`` resolves topologically, Catalyst optimizes
through the whole lineage, and ``--only/--skip`` becomes target selection
(``_env_enabled`` parity, main_graph_topraq.py:57-62).

Input mapping (FIXTURES.md §B): the driver's TPC-H-ish tables play the
agronomy shapes — customer→Field, events→sensor stream (user_id→station),
orders→lab analyses / application events, lineitem→per-parameter results /
product applications, part→FertilizerProduct catalog.

Every node table ends with a uniqueness assertion on its natural key — the
23 Neo4j constraints (/root/reference/app/graph_constraints.py) as checked
invariants instead of DDL.

Node ids: ``node_id(label)`` is the node's one key column unchanged, or
``S.composite_id`` of its keys in declared order when it has several. It is
the only place the id format lives; every edge endpoint and every child's
parent-id column comes from it, so an edge row always names an existing node.

Edges: each relationship is an inner join of two node tables, declared as
one row of ``EDGES`` (name, REL_TYPE, src label, dst label, join pairs) and
built by ``_edge_task``. Broadcast rule: the dst side is broadcast when its
label is a dimension (stations, fields, crops, fertilizer_products),
otherwise the src side when it is one; an edge between two fact tables is
left to the planner.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_db_spark.functions import scalars as S
from graph_db_spark.operators import aggregates as A
from graph_db_spark.operators import joins as J
from graph_db_spark.operators.sessionize import session_intervals
from graph_db_spark.tables import load_table


@dataclass
class TableDef:
    name: str
    kind: str  # "node" | "edge"
    builder: Callable[..., DataFrame]  # (ctx, **dep_dfs) -> DataFrame
    deps: list[str] = field(default_factory=list)
    keys: list[str] = field(default_factory=list)  # uniqueness constraint
    ends: tuple[str, str] | None = None  # edge: (src label, dst label)


@dataclass
class Context:
    spark: SparkSession
    sf_dir: str
    # processing window (ISO dates), mirroring the reference's --start/--end
    # incremental runs (main_graph_topraq.py:78-80): sensor-stream scans are
    # range-filtered; the predicate pushes down / prunes partitions, and the
    # idempotent upsert writer makes overlapping re-runs safe (the MERGE
    # contract the reference relies on, window widening included).
    start: str | None = None
    end: str | None = None

    def table(self, name: str) -> DataFrame:
        df = load_table(self.spark, self.sf_dir, name)
        if name == "events" and (self.start or self.end):
            if self.start:
                df = df.filter(F.col("ts") >= F.lit(self.start).cast("timestamp"))
            if self.end:
                df = df.filter(F.col("ts") < F.lit(self.end).cast("timestamp"))
        return df


REGISTRY: dict[str, TableDef] = {}


def task(name: str, kind: str, deps: list[str] | None = None, keys: list[str] | None = None,
         ends: tuple[str, str] | None = None):
    def deco(fn):
        REGISTRY[name] = TableDef(name, kind, fn, deps or [], keys or [], ends)
        return fn

    return deco


def node_id(label: str) -> Column:
    """The id of a ``label`` node, from its declared keys."""
    keys = REGISTRY[label].keys
    return F.col(keys[0]) if len(keys) == 1 else S.composite_id(*keys)


# ---------------------------------------------------------------------------
# Dimensions (reference: fields/crops/stations — graph_fields.py,
# graph_stations.py)
# ---------------------------------------------------------------------------


@task("fields", "node", keys=["field_id"])
def fields(ctx: Context) -> DataFrame:
    """Field nodes (graph_fields.py:13-35): projection+rename off the
    customer dimension; point "(x,y)" parse exercised via synthesized geo."""
    c = ctx.table("customer")
    lon = (F.col("c_custkey") % 360 - 180).cast("double") + 0.5
    lat = (F.col("c_custkey") % 180 - 90).cast("double") + 0.25
    pt = F.concat(F.lit("("), lon.cast("string"), F.lit(","), lat.cast("string"), F.lit(")"))
    parsed = S.parse_point(pt)
    return c.select(
        F.col("c_custkey").alias("field_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("crop_name"),
        F.col("c_nationkey").cast("bigint").alias("customer_id"),
        F.lit("UTC").alias("timezone"),
        parsed["lon"].alias("lon"),
        parsed["lat"].alias("lat"),
    )


@task("crops", "node", deps=["fields"], keys=["name"])
def crops(ctx: Context, fields: DataFrame) -> DataFrame:
    """Crop nodes keyed by name (graph_constraints.py:9-12)."""
    return fields.select(F.col("crop_name").alias("name")).distinct()


@task("stations", "node", keys=["serial_number"])
def stations(ctx: Context) -> DataFrame:
    """Station nodes (graph_stations.py:16-39): registry = distinct event
    emitters; field assignment deterministic (user_id+1 is a valid
    field_id at every SF)."""
    ev = ctx.table("events")
    return (
        ev.select(F.col("user_id").cast("bigint").alias("uid"))
        .distinct()
        .select(
            F.concat(F.lit("ST"), F.col("uid").cast("string")).alias("serial_number"),
            F.col("uid").alias("device_id"),
            (F.col("uid") + 1).alias("field_id"),
            F.lit(True).alias("has_soil_moisture"),
        )
    )


# ---------------------------------------------------------------------------
# Sensor-day family (weather/soil/irrigation/canopy/sap days — A1/A2)
# ---------------------------------------------------------------------------


def _day_nodes(ctx: Context, stations: DataFrame, event_types: list[str],
               zero_sum_to_null: bool) -> DataFrame:
    """Shared sensor-day shape: daily stats per (station, day, measurement),
    pivoted to a metrics map (dynamic measurement properties §1.5 as
    MapType — the unbounded-cardinality-safe form, SURVEY §7.4.4)."""
    ev = ctx.table("events").filter(F.col("event_type").isin(event_types))
    daily = A.daily_stats(ev, "ts", ["user_id", "event_type"], "value",
                          zero_sum_to_null=zero_sum_to_null)
    metrics = daily.groupBy("user_id", "day").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("event_type"),
                    F.struct("data", "min", "max", "avg", "sum", "n"),
                )
            )
        ).alias("metrics")
    )
    st = stations.select("serial_number", F.col("device_id").alias("user_id"))
    return (
        metrics.join(F.broadcast(st), on="user_id")
        .select(
            "serial_number",
            F.date_format("day", "yyyy-MM-dd").alias("date"),
            "metrics",
        )
    )


@task("weather_days", "node", deps=["stations"], keys=["serial_number", "date"])
def weather_days(ctx: Context, stations: DataFrame) -> DataFrame:
    """WeatherDay nodes (graph_weather_day.py:151-257): A1 weather-flavor
    aggregation (real zero sums kept — §2.10.1 weather keeps sums)."""
    return _day_nodes(ctx, stations, ["view", "click"], zero_sum_to_null=False)


@task("soil_days", "node", deps=["stations"], keys=["serial_number", "date"])
def soil_days(ctx: Context, stations: DataFrame) -> DataFrame:
    """SoilDay nodes (graph_soil_day.py) — weather-flavor agg."""
    return _day_nodes(ctx, stations, ["error"], zero_sum_to_null=False)


@task("irrigation_days", "node", deps=["stations"], keys=["serial_number", "date"])
def irrigation_days(ctx: Context, stations: DataFrame) -> DataFrame:
    """IrrigationDay nodes (graph_irrigation_day.py:77-135) — flow-flavor
    agg WITH the zero-sum→null quirk replicated (:116)."""
    return _day_nodes(ctx, stations, ["purchase"], zero_sum_to_null=True)


@task("canopy_days", "node", deps=["stations"], keys=["serial_number", "date"])
def canopy_days(ctx: Context, stations: DataFrame) -> DataFrame:
    """CanopyDay nodes (graph_canopy_day.py) — flow flavor."""
    return _day_nodes(ctx, stations, ["signup"], zero_sum_to_null=True)


@task("sap_days", "node", deps=["stations"], keys=["serial_number", "date"])
def sap_days(ctx: Context, stations: DataFrame) -> DataFrame:
    """SAPDay nodes (graph_sap_day.py) — flow flavor."""
    return _day_nodes(ctx, stations, ["view"], zero_sum_to_null=True)


@task("soil_layer_readings", "node", deps=["stations"],
      keys=["serial_number", "date", "depth_cm"])
def soil_layer_readings(ctx: Context, stations: DataFrame) -> DataFrame:
    """SoilLayerReading nodes (graph_soil_layer.py:121-261): per-depth daily
    readings; depth parsed from a sensor label (F2) synthesized off the
    event_type — exercising the wide→long melt + depth regroup (A11)."""
    ev = ctx.table("events")
    label = F.concat(F.lit("soil "), (F.length("event_type") * 10).cast("string"), F.lit(" cm"))
    depth = S.depth_from_label(label)
    daily = (
        ev.withColumn("depth_cm", depth)
        .groupBy("user_id", F.to_date("ts").alias("day"), "depth_cm")
        .agg(
            F.round(F.avg("value"), 4).alias("vwc_avg"),
            F.round(F.min("value"), 4).alias("vwc_min"),
            F.round(F.max("value"), 4).alias("vwc_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    st = stations.select("serial_number", F.col("device_id").alias("user_id"))
    return daily.join(F.broadcast(st), on="user_id").select(
        "serial_number", F.date_format("day", "yyyy-MM-dd").alias("date"),
        "depth_cm", "vwc_avg", "vwc_min", "vwc_max", "n",
    )


@task("irrigation_events", "node", deps=["stations"],
      keys=["serial_number", "start_at"])
def irrigation_events(ctx: Context, stations: DataFrame) -> DataFrame:
    """IrrigationEvent nodes (graph_irrigation_event.py:55-348): gap
    sessionization (30 min) of the purchase stream per station; per-event
    stats via the interval-scoped join happen downstream of the same
    intervals."""
    ev = ctx.table("events").filter(F.col("event_type") == "purchase")
    sess = session_intervals(ev, ["user_id"], "ts", gap_seconds=1800)
    st = stations.select("serial_number", F.col("device_id").alias("user_id"))
    return sess.join(F.broadcast(st), on="user_id").select(
        "serial_number",
        F.date_format("start_at", "yyyy-MM-dd HH:mm:ss").alias("start_at"),
        F.date_format("end_at", "yyyy-MM-dd HH:mm:ss").alias("end_at"),
        F.round("duration_min", 4).alias("duration_min"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@task("et0_days", "node", deps=["stations"], keys=["serial_number", "date"])
def et0_days(ctx: Context, stations: DataFrame) -> DataFrame:
    """ET0Day nodes (graph_et0.py:66-93) — one daily scalar per station;
    canonical date key (fixes quirk §2.10.3: no string dates)."""
    ev = ctx.table("events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.avg("value"), 4).alias("et0")
    )
    st = stations.select("serial_number", F.col("device_id").alias("user_id"))
    return daily.join(F.broadcast(st), on="user_id").select(
        "serial_number", F.date_format("day", "yyyy-MM-dd").alias("date"), "et0"
    )


@task("weather_forecasts", "node", deps=["stations"], keys=["serial_number", "date"])
def weather_forecasts(ctx: Context, stations: DataFrame) -> DataFrame:
    """WeatherForecast nodes (graph_weather_forecast.py:20-71): map payload
    {measurement → {min,max,avg,total}} per station-day — the `SET wf +=
    $props` dynamic map as native MapType."""
    ev = ctx.table("events")
    per_measure = ev.groupBy("user_id", F.to_date("ts").alias("day"), "event_type").agg(
        F.round(F.min("value"), 4).alias("min"),
        F.round(F.max("value"), 4).alias("max"),
        F.round(F.avg("value"), 4).alias("avg"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    m = per_measure.groupBy("user_id", "day").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", F.struct("min", "max", "avg", "total")))
        ).alias("measurements")
    )
    st = stations.select("serial_number", F.col("device_id").alias("user_id"))
    return m.join(F.broadcast(st), on="user_id").select(
        "serial_number", F.date_format("day", "yyyy-MM-dd").alias("date"), "measurements"
    )


# ---------------------------------------------------------------------------
# Lab-analysis family (orders → analyses; lineitem → param results)
# ---------------------------------------------------------------------------


def _analyses(ctx: Context, status: str) -> DataFrame:
    """Shared lab-analysis shape off orders (S10: one range scan replaces
    the reference's O(days×fields) per-day fetch loops,
    graph_haney_analysis.py:64-84)."""
    o = ctx.table("orders").filter(F.col("o_orderstatus") == status)
    return o.select(
        F.col("o_custkey").alias("field_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        F.col("o_orderkey").alias("lab_no"),
        F.round("o_totalprice", 4).alias("score"),
    )


@task("haney_analyses", "node", keys=["field_id", "date", "lab_no"])
def haney_analyses(ctx: Context) -> DataFrame:
    """HaneyAnalysis nodes (graph_haney_analysis.py:86-151)."""
    return _analyses(ctx, "F")


@task("tnd_analyses", "node", keys=["field_id", "date", "lab_no"])
def tnd_analyses(ctx: Context) -> DataFrame:
    """TNDAnalysis nodes (graph_tnd_analysis.py:129-230), C/N handled in
    param results via the alias map (F12)."""
    return _analyses(ctx, "O")


@task("soil_analyses", "node", keys=["field_id", "date", "lab_no"])
def soil_analyses(ctx: Context) -> DataFrame:
    """SoilAnalysis nodes (graph_soil_analysis.py:62-144) — canonical
    timestamp-derived keys both here and in param results (fixes the
    string-vs-datetime dangling-edge bug, SURVEY §2.10.3)."""
    return _analyses(ctx, "P")


@task("soil_param_results", "node", deps=["soil_analyses"],
      keys=["analysis_id", "parameter"])
def soil_param_results(ctx: Context, soil_analyses: DataFrame) -> DataFrame:
    """SoilParamResult nodes (graph_soil_param_result.py:28-153): child
    fan-out from lineitem under the parent analysis; values parsed with the
    inequality-trimmed float (F4) from stringified measurements; composite
    id (F15)."""
    li = ctx.table("lineitem")
    parents = soil_analyses.select("field_id", "date", "lab_no")
    rows = li.select(
        F.col("l_orderkey").alias("lab_no"),
        F.col("l_linenumber").alias("line_no"),
        F.concat(F.lit("param_"), F.col("l_partkey").cast("string")).alias("parameter"),
        F.concat(F.lit(">= "), F.col("l_quantity").cast("string")).alias("raw_value"),
    )
    joined = rows.join(parents, on="lab_no")  # J6 semi-ish: only rows with parents
    out = joined.select(
        node_id("soil_analyses").alias("analysis_id"),
        "parameter",
        "line_no",
        S.ineq_trimmed_float("raw_value").alias("value"),
    )
    # A8 dedup with an explicit deterministic order (first line wins; value
    # breaks ties — the fixtures contain true duplicate (order, linenumber)
    # rows) — a bare dropDuplicates picks an arbitrary row and breaks
    # re-run stability
    return A.dedup_first(out, ["analysis_id", "parameter"], ["line_no", "value"]).drop("line_no")


# ---------------------------------------------------------------------------
# Activity chain (application events → product applications → products →
# nutrient contents) — the deepest dependency chain (§3.3)
# ---------------------------------------------------------------------------


@task("application_events", "node",
      keys=["field_id", "date", "app_type", "idx"])
def application_events(ctx: Context) -> DataFrame:
    """ApplicationEvent nodes (graph_application_event.py:87-214): the
    in-memory per-group counters (:99,146-150) become a deterministic
    row_number (A7) over (field, date, app_type)."""
    o = ctx.table("orders")
    base = o.select(
        F.col("o_custkey").alias("field_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        S.first_non_empty(F.col("o_orderpriority"), F.col("o_orderstatus")).alias("app_type"),
        F.col("o_orderkey").alias("order_ref"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("start_at"),
    )
    return A.running_index(base, ["field_id", "date", "app_type"], ["order_ref"])


@task("product_applications", "node", deps=["application_events"],
      keys=["application_event_id", "idx"])
def product_applications(ctx: Context, application_events: DataFrame) -> DataFrame:
    """ProductApplication nodes (graph_product_application.py:107-294):
    the Neo4j read-back + argmin (:156-214) becomes an in-engine as-of join
    (J3) of inventory lines to their nearest application event; per-event
    product idx by position (W1 ordering contract)."""
    li = ctx.table("lineitem")
    o = ctx.table("orders").select("o_orderkey", "o_custkey", "o_orderdate")
    inv = li.join(o, on=li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("field_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        F.col("o_orderkey").alias("order_ref"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_partkey").alias("partkey"),
        F.round("l_quantity", 4).alias("amount"),
        "l_shipdate",
    )
    ae = application_events.select(
        node_id("application_events").alias("application_event_id"),
        F.col("order_ref").alias("ae_order_ref"),
    )
    # events and inventories share order_ref in this mapping → equi-join
    # (the general nearest-time matcher asof_join is exercised in
    # queries.asof_nearest_line and tests)
    matched = inv.join(ae, inv["order_ref"] == ae["ae_order_ref"], "inner")
    # full deterministic order: the fixtures contain duplicate (order, line)
    # rows, so linenumber alone would assign idx arbitrarily among dups
    out = A.running_index(matched, ["application_event_id"], ["line_no", "partkey", "amount"])
    return out.select(
        "application_event_id", "idx", "partkey", "amount",
        node_id("product_applications").alias("product_application_id"),
    )


@task("fertilizer_products", "node", keys=["name", "brand"])
def fertilizer_products(ctx: Context) -> DataFrame:
    """FertilizerProduct catalog (graph_fertilizer_product.py:89-237):
    existence precondition name+brand (P6); the keep-existing-unless-new
    COALESCE upsert semantics live in writers.upsert(strategy='coalesce')."""
    p = ctx.table("part")
    rows = p.filter(F.col("p_name").isNotNull() & F.col("p_brand").isNotNull()).select(
        F.col("p_partkey").alias("partkey"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("nutrients_raw"),
        F.round("p_retailprice", 4).alias("price"),
    )
    # deterministic A8 dedup (min partkey wins) — a bare dropDuplicates
    # picks an arbitrary survivor, making which partkeys resolve in the
    # catalog lookup depend on partition layout
    return A.dedup_first(rows, ["name", "brand"], ["partkey"])


@task("app_nutrient_contents", "node",
      deps=["product_applications", "fertilizer_products"],
      keys=["product_application_id", "nutrient"])
def app_nutrient_contents(ctx: Context, product_applications: DataFrame,
                          fertilizer_products: DataFrame) -> DataFrame:
    """AppNutrientContent nodes (graph_app_nutrient_content.py:168-366):
    nutrient explode (F18) from the product's type string; missing inline
    nutrients enriched from the catalog by key (J4); loose numeric parse
    (F3) on the amounts."""
    fp = fertilizer_products.select("partkey", "nutrients_raw")
    pa = product_applications.join(F.broadcast(fp), on="partkey", how="left")
    exploded = pa.select(
        "product_application_id",
        F.explode(F.split(F.coalesce(F.col("nutrients_raw"), F.lit("unknown")), " ")).alias("nutrient"),
        "amount",
    )
    return (
        exploded.groupBy("product_application_id", "nutrient")
        .agg(F.round(F.sum("amount"), 4).alias("amount"))
    )


# ---------------------------------------------------------------------------
# SAP-analysis family (graph_sap_analysis.py, graph_sap_element_result.py,
# graph_optimum_sap_range.py, graph_optimum_element_range.py)
# ---------------------------------------------------------------------------


@task("sap_analyses", "node", deps=["fields"],
      keys=["field_id", "date", "crop_name", "leaf_type", "sample_id"])
def sap_analyses(ctx: Context, fields: DataFrame) -> DataFrame:
    """SAPAnalysis nodes (graph_sap_analysis.py:97-194): one node per
    (analysis, leaf_type) — the young/old fan-out (:144-176) becomes an
    explode over a 2-element struct array; rows with a missing sample_id
    are dropped (the `if not sample_id: continue` guard, :146). ph/ec/
    sugars are loose-number parses (F3) of messy strings
    (_extract_scalar_metrics, :57-73): '~6,5' / '>= 1.2' / '12 %' forms.
    crop_name resolves through the Field dimension (broadcast, J2)."""
    o = ctx.table("orders")
    dim = fields.select("field_id", "crop_name")
    base = o.join(F.broadcast(dim), on=o["o_custkey"] == dim["field_id"]).select(
        "field_id",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        "crop_name",
        F.col("o_orderkey").alias("order_ref"),
        F.col("o_totalprice").alias("price"),
    )
    # young sample always present; old sample missing for every 3rd order —
    # exercising the sample-id precondition
    leaf = F.explode(
        F.array(
            F.struct(
                F.lit("young").alias("leaf_type"),
                F.concat(F.lit("Y"), F.col("order_ref").cast("string")).alias("sample_id"),
            ),
            F.struct(
                F.lit("old").alias("leaf_type"),
                F.when(
                    F.col("order_ref") % 3 != 0,
                    F.concat(F.lit("O"), F.col("order_ref").cast("string")),
                ).alias("sample_id"),
            ),
        )
    )
    ph_raw = F.concat(F.lit("~"), F.regexp_replace(F.round(F.col("price") % 14, 2).cast("string"), "\\.", ","))
    ec_raw = F.concat(F.lit(">= "), F.round(F.col("price") % 3, 2).cast("string"))
    sug_raw = F.concat(F.round(F.col("price") % 24, 1).cast("string"), F.lit(" %"))
    return (
        base.select("field_id", "date", "crop_name", "order_ref", "price", leaf.alias("lf"))
        .select(
            "field_id", "date", "crop_name",
            F.col("lf.leaf_type").alias("leaf_type"),
            F.col("lf.sample_id").alias("sample_id"),
            "order_ref",
            S.loose_number(ph_raw).alias("ph"),
            S.loose_number(ec_raw).alias("ec"),
            S.loose_number(sug_raw).alias("sugars"),
        )
        .filter(F.col("sample_id").isNotNull())
    )


_NUTRIENTS = ["n", "p", "k", "ca", "mg", "fe", "zn", "mn"]


@task("sap_element_results", "node", deps=["sap_analyses"],
      keys=["sap_analysis_id", "nutrient"])
def sap_element_results(ctx: Context, sap_analyses: DataFrame) -> DataFrame:
    """SAPElementResult nodes (graph_sap_element_result.py:103-156): per
    (analysis-leaf, nutrient) ppm values; the composite sap_analysis_id
    replicates _make_sa_id (:65-67, F15); values parse with the loose
    number regex (_parse_number :18-29, F3) and unparsable rows are
    skipped (:113-115); leaf_type picks which raw value applies
    (_pick_for_leaf :53-57). A8 first-wins dedup keeps one row per
    (analysis, nutrient) with a deterministic order."""
    from graph_db_spark.util import spread

    # regex parses run BEFORE the join, on a spread scan: the single-file
    # fixture arrives as one split and AQE coalesces the post-join shuffle
    # to a few partitions, so parsing after the join serializes the CPU-
    # heavy part; pre-join both leaf variants parse on all cores
    li = spread(ctx.table("lineitem"))
    parents = sap_analyses.select(
        node_id("sap_analyses").alias("sap_analysis_id"), "order_ref", "leaf_type"
    )
    nutrient = F.element_at(
        F.array(*[F.lit(n) for n in _NUTRIENTS]), (F.col("l_partkey") % 8 + 1).cast("int")
    )
    # young reads l_quantity; old reads a comma-decimal price residue; every
    # 7th line is 'n/a' → loose parse null → skipped
    na = F.col("l_linenumber") % 7 == 0
    young_raw = F.when(na, F.lit("n/a")).otherwise(
        F.concat(F.col("l_quantity").cast("string"), F.lit(" ppm"))
    )
    old_raw = F.when(na, F.lit("n/a")).otherwise(
        F.regexp_replace(F.round(F.col("l_extendedprice") % 500, 2).cast("string"), "\\.", ",")
    )
    parsed = li.select(
        F.col("l_orderkey").alias("order_ref"),
        F.col("l_linenumber").alias("line_no"),
        nutrient.alias("nutrient"),
        S.loose_number(young_raw).alias("young_ppm"),
        S.loose_number(old_raw).alias("old_ppm"),
    )
    # broadcast the dim side explicitly — without the hint the planner
    # broadcasts the PARSED lineitem side (no stats post-repartition)
    rows = parsed.join(F.broadcast(parents), on="order_ref").select(
        "sap_analysis_id",
        "nutrient",
        "line_no",
        F.when(F.col("leaf_type") == "young", F.col("young_ppm"))
        .otherwise(F.col("old_ppm"))
        .alias("value_ppm"),
    )
    # skip-unparsable inside the dedup window (see dedup_first(keep=...))
    return A.dedup_first(
        rows,
        ["sap_analysis_id", "nutrient"],
        ["line_no", "value_ppm"],
        keep=F.col("value_ppm").isNotNull(),
    ).drop("line_no")


@task("optimum_sap_ranges", "node", deps=["sap_analyses"], keys=["crop_name", "date"])
def optimum_sap_ranges(ctx: Context, sap_analyses: DataFrame) -> DataFrame:
    """OptimumSAPRange headers (graph_optimum_sap_range.py:23-88): the
    in-memory `seen` set (:29-30,59-62) becomes dropDuplicates on the
    natural key (A8)."""
    return (
        sap_analyses.filter(F.col("crop_name").isNotNull())
        .select("crop_name", "date")
        .dropDuplicates(["crop_name", "date"])
    )


@task("optimum_element_ranges", "node", deps=["sap_analyses"],
      keys=["opt_range_id", "nutrient"])
def optimum_element_ranges(ctx: Context, sap_analyses: DataFrame) -> DataFrame:
    """OptimumElementRange nodes (graph_optimum_element_range.py:86-171):
    optimum range strings ('1-4', '>= 2.5', '<=7', '3') parse to
    (min,max) via F5 (_parse_optimum :38-61 ≙ S.parse_range); rows where
    neither bound parses are skipped (:146-148); opt_range_id is the
    parent OptimumSAPRange's node id (the reference's 'crop|date' handle,
    :117). The elements⊎others stream concat (U1, :132-136)
    is one lineitem scan here; A8 dedup keeps the first entry per
    (header, nutrient)."""
    from graph_db_spark.util import spread

    # parse on the spread scan BEFORE joining parents (see
    # sap_element_results for why — post-join partitions are AQE-coalesced)
    li = spread(ctx.table("lineitem"))
    parents = sap_analyses.filter(F.col("leaf_type") == "young").select(
        node_id("optimum_sap_ranges").alias("opt_range_id"),
        "order_ref",
    )
    q = F.col("l_quantity").cast("int").cast("string")
    q3 = (F.col("l_quantity").cast("int") + 3).cast("string")
    optimum = (
        F.when(F.col("l_partkey") % 5 == 0, F.concat(q, F.lit("-"), q3))
        .when(F.col("l_partkey") % 5 == 1, F.concat(F.lit(">= "), q))
        .when(F.col("l_partkey") % 5 == 2, F.concat(F.lit("<="), q))
        .when(F.col("l_partkey") % 5 == 3, q)
        .otherwise(F.lit("not a range"))  # unparsable → dropped
    )
    nutrient = F.element_at(
        F.array(*[F.lit(n) for n in _NUTRIENTS]), (F.col("l_partkey") % 8 + 1).cast("int")
    )
    parsed = S.parse_range(optimum)
    pre = li.select(
        F.col("l_orderkey").alias("order_ref"),
        F.col("l_linenumber").alias("line_no"),
        nutrient.alias("nutrient"),
        parsed["range_min"].alias("range_min"),
        parsed["range_max"].alias("range_max"),
    )
    # broadcast the dim side explicitly: left to itself the planner has no
    # stats for the parsed fact side and may broadcast THAT (600k rows of
    # regex output collected to the driver, single-threaded build)
    rows = pre.join(F.broadcast(parents), on="order_ref").select(
        "opt_range_id", "nutrient", "line_no", "range_min", "range_max"
    )
    # skip-unparsable via dedup_first(keep=...): a plain pre-dedup filter on
    # the parsed bounds would be pushed below the spread() repartition and
    # drag the whole regex parse into the single-split scan stage
    return A.dedup_first(
        rows,
        ["opt_range_id", "nutrient"],
        ["line_no", "range_min", "range_max"],
        keep=F.col("range_min").isNotNull() | F.col("range_max").isNotNull(),
    ).drop("line_no")


# ---------------------------------------------------------------------------
# Water family (graph_water_analysis.py, graph_water_param_result.py)
# ---------------------------------------------------------------------------


def _sample_source() -> Column:
    """An order's water sample source, a missing one filled with the one
    canonical 'unknown' (see water_analyses). It is a WaterAnalysis key, so
    water_param_results must derive it exactly as water_analyses does for
    its parent id to name an existing node."""
    src = (
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("well"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("canal"))
        .otherwise(F.lit(None).cast("string"))
    )
    return F.coalesce(S.norm_str(src), F.lit("unknown"))


@task("water_analyses", "node", deps=["fields"],
      keys=["field_id", "date", "sample_source"])
def water_analyses(ctx: Context, fields: DataFrame) -> DataFrame:
    """WaterAnalysis nodes (graph_water_analysis.py:73-105): keyed
    (field_id, date, sample_source) with ONE canonical missing-source fill
    ('unknown') — fixing quirk §2.10.4 where the node writer used '' (:77)
    but the edge MATCH used 'unknown' (graph_water_param_result.py:31-32),
    leaving every null-source param result dangling. The reference's
    day×field fetch loop (:51-68) is one range scan (S10)."""
    o = ctx.table("orders").filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    dim = fields.select("field_id", "crop_name")
    rows = o.join(F.broadcast(dim), on=o["o_custkey"] == dim["field_id"]).select(
        "field_id",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        _sample_source().alias("sample_source"),
        "crop_name",
        F.col("o_orderkey").alias("lab_id"),
    )
    # MERGE idempotence: several orders can share (field, date, source) —
    # deterministic first-wins on lab_id
    return A.dedup_first(
        rows, ["field_id", "date", "sample_source"], ["lab_id", "crop_name"]
    )


@task("water_param_results", "node", keys=["water_analysis_id", "parameter"])
def water_param_results(ctx: Context) -> DataFrame:
    """WaterParamResult nodes (graph_water_param_result.py:78-118):
    parameter keys normalized lowercase/trim (_norm_param :23-27), values
    with the inequality-trimmed float (F4), water_analysis_id = _make_wa_id
    (:29-32) — same 'unknown' fill as the parent so no edge dangles.
    Children key by wa_id, NOT by source order: multiple orders collapsing
    to one WaterAnalysis contribute to the same result set, exactly as the
    reference's MERGE-by-wa_id does."""
    o = ctx.table("orders").filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    li = ctx.table("lineitem")
    parents = o.select(
        F.col("o_orderkey").alias("order_ref"),
        F.col("o_custkey").alias("field_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        _sample_source().alias("sample_source"),
    )
    raw_param = F.concat(F.lit("  Param_"), (F.col("l_partkey") % 10).cast("string"), F.lit(" "))
    raw_val = F.concat(F.lit("< "), F.col("l_quantity").cast("string"))
    rows = li.join(parents, on=li["l_orderkey"] == parents["order_ref"]).select(
        node_id("water_analyses").alias("water_analysis_id"),
        S.mineral_norm(raw_param).alias("parameter"),
        F.col("l_linenumber").alias("line_no"),
        S.ineq_trimmed_float(raw_val).alias("value"),
        F.lit("mg/L").alias("unit"),
    )
    return A.dedup_first(
        rows, ["water_analysis_id", "parameter"], ["line_no", "value"]
    ).drop("line_no")


# ---------------------------------------------------------------------------
# DepthPoint (graph_stations.py:40-66)
# ---------------------------------------------------------------------------


@task("depth_points", "node", deps=["stations"],
      keys=["serial_number", "depth", "sensor_index"])
def depth_points(ctx: Context, stations: DataFrame) -> DataFrame:
    """DepthPoint nodes (graph_stations.py:47-66): one point per station ×
    root depth; sensor_index is a conditional key dimension — present for
    shallow sensors, null for deep ones (the reference branches into two
    MERGE shapes :45-57/:58-66; one nullable column subsumes both)."""
    depth = F.explode(F.array(*[F.lit(d) for d in (10, 30, 60, 90)])).alias("depth")
    d = stations.select("serial_number", F.col("device_id"), depth)
    return d.select(
        "serial_number",
        "depth",
        F.when(F.col("depth") <= 30, (F.col("depth") / 10).cast("int")).alias("sensor_index"),
        F.round((F.col("device_id") % 50 + F.col("depth")) / 10.0, 4).alias("y"),
    )


# ---------------------------------------------------------------------------
# Edges (J1 family): one declaration row per relationship type
# ---------------------------------------------------------------------------


ID = object()  # a join-pair src that is the src node's id
_DIMENSIONS = {"stations", "fields", "crops", "fertilizer_products"}

# name, REL_TYPE, src label, dst label, join pairs: (src column | ID, dst
# column), or one column name that both sides join on, as in
# DataFrame.join(on=[...]); the comment cites the reference's edge writer
EDGES: list[tuple[str, str, str, str, list]] = [
    ("planted_with", "PLANTED_WITH", "fields", "crops",
     [("crop_name", "name")]),  # graph_fields.py:40-46
    ("has_station", "HAS_STATION", "fields", "stations", ["field_id"]),  # graph_stations.py:33-39
    ("has_sap_analysis", "HAS_SAP_ANALYSIS", "fields", "sap_analyses",
     ["field_id"]),  # graph_sap_analysis.py:180-194
    ("has_haney_analysis", "HAS_HANEY_ANALYSIS", "fields", "haney_analyses",
     ["field_id"]),  # graph_haney_analysis.py:135-144
    ("has_tnd_analysis", "HAS_TND_ANALYSIS", "fields", "tnd_analyses",
     ["field_id"]),  # graph_tnd_analysis.py:215-224
    ("has_soil_analysis", "HAS_SOIL_ANALYSIS", "fields", "soil_analyses",
     ["field_id"]),  # graph_soil_analysis.py:129-138
    ("has_water_analysis", "HAS_WATER_ANALYSIS", "fields", "water_analyses",
     ["field_id"]),  # graph_water_analysis.py:110-123
    ("has_application", "HAS_APPLICATION", "fields", "application_events",
     ["field_id"]),  # graph_application_event.py:190-207
    ("at_depth", "AT_DEPTH", "stations", "depth_points",
     ["serial_number"]),  # graph_stations.py:51-55,62-66
    ("has_weather_day", "HAS_WEATHER_DAY", "stations", "weather_days",
     ["serial_number"]),  # graph_weather_day.py:250-257
    ("has_soil_day", "HAS_SOIL_DAY", "stations", "soil_days",
     ["serial_number"]),  # graph_soil_day.py:132-140
    ("has_irrigation_day", "HAS_IRRIGATION_DAY", "stations", "irrigation_days",
     ["serial_number"]),  # graph_irrigation_day.py:233-240
    ("has_canopy_day", "HAS_CANOPY_DAY", "stations", "canopy_days",
     ["serial_number"]),  # graph_canopy_day.py:231-238
    ("has_sap_day", "HAS_SAP_DAY", "stations", "sap_days",
     ["serial_number"]),  # graph_sap_day.py:223-230
    ("has_et0", "HAS_ET0", "stations", "et0_days", ["serial_number"]),  # graph_et0.py:86-93
    ("has_forecast", "HAS_FORECAST", "stations", "weather_forecasts",
     ["serial_number"]),  # graph_weather_forecast.py:64-71
    ("has_irrigation_event", "HAS_IRRIGATION_EVENT", "stations", "irrigation_events",
     ["serial_number"]),  # graph_irrigation_event.py:335-343
    ("has_layer_reading", "HAS_LAYER_READING", "soil_days", "soil_layer_readings",
     ["serial_number", "date"]),  # graph_soil_layer.py:254-261
    ("has_soil_param", "HAS_SOIL_PARAM", "soil_analyses", "soil_param_results",
     [(ID, "analysis_id")]),  # graph_soil_param_result.py:131-146
    ("measured_element", "MEASURED_ELEMENT", "sap_analyses", "sap_element_results",
     [(ID, "sap_analysis_id")]),  # graph_sap_element_result.py:135-151
    ("has_optimum_range", "HAS_OPTIMUM_RANGE", "crops", "optimum_sap_ranges",
     [("name", "crop_name")]),  # graph_optimum_sap_range.py:74-82
    ("has_optimum_element", "HAS_OPTIMUM_ELEMENT", "optimum_sap_ranges",
     "optimum_element_ranges",
     [(ID, "opt_range_id")]),  # graph_optimum_element_range.py:159-167
    ("has_water_param", "HAS_WATER_PARAM", "water_analyses", "water_param_results",
     [(ID, "water_analysis_id")]),  # graph_water_param_result.py:120-135
    ("has_product_app", "HAS_PRODUCT_APP", "application_events", "product_applications",
     [(ID, "application_event_id")]),  # graph_product_application.py:267-287
    ("uses_product", "USES_PRODUCT", "product_applications", "fertilizer_products",
     ["partkey"]),  # graph_fertilizer_product.py:223-230
    ("has_nutrient_content", "HAS_NUTRIENT_CONTENT", "product_applications",
     "app_nutrient_contents", ["product_application_id"]),  # graph_app_nutrient_content.py:153
]


def _endpoint(df: DataFrame, label: str, end: str, values: list) -> tuple[DataFrame, list[str]]:
    """``df`` projected to its node id (column ``end``) plus its join values
    under fresh aliases — the two sides of an edge often share one scan
    lineage. A value that is the id itself joins on ``end``: a second alias
    of a computed id (a station's serial) would keep a Project above the
    aggregate that computes it. Returns the join column names in pair order."""
    cols, names = {end: node_id(label)}, []
    for i, v in enumerate(values):
        if v is ID or [v] == REGISTRY[label].keys:
            names.append(end)
        else:
            names.append(f"{end}{i}")
            cols[names[-1]] = F.col(v)
    return df.select(*[c.alias(n) for n, c in cols.items()]), names


def _edge_task(rel_type: str, src: str, dst: str, pairs: list) -> Callable[..., DataFrame]:
    pairs = [(p, p) if isinstance(p, str) else p for p in pairs]

    def build(ctx: Context, **dfs: DataFrame) -> DataFrame:
        s, s_on = _endpoint(dfs[src], src, "src", [v for v, _ in pairs])
        d, d_on = _endpoint(dfs[dst], dst, "dst", [c for _, c in pairs])
        return J.edge_join(
            s, d, on=[s[a] == d[b] for a, b in zip(s_on, d_on)],
            rel_type=rel_type, src_key="src", dst_key="dst",
            broadcast_dst=dst in _DIMENSIONS,
            broadcast_src=dst not in _DIMENSIONS and src in _DIMENSIONS,
        )

    return build


for _name, _rel, _src, _dst, _pairs in EDGES:
    REGISTRY[_name] = TableDef(_name, "edge", _edge_task(_rel, _src, _dst, _pairs),
                               [_src, _dst], ends=(_src, _dst))


@task("contains_nutrient", "edge",
      deps=["product_applications", "fertilizer_products", "app_nutrient_contents"],
      ends=("fertilizer_products", "app_nutrient_contents"))
def contains_nutrient(ctx: Context, product_applications: DataFrame,
                      fertilizer_products: DataFrame,
                      app_nutrient_contents: DataFrame) -> DataFrame:
    """FertilizerProduct-CONTAINS_NUTRIENT→AppNutrientContent
    (graph_app_nutrient_content.py:155-162) — the conditional edge (J7):
    only products with name+brand present (the Cypher `CALL { WHERE }`
    subquery) link to the nutrient rows of their applications. The one edge
    that is not a two-table join: it goes through product_applications."""
    pa = product_applications.select("product_application_id", "partkey")
    fp = fertilizer_products.filter(
        F.col("name").isNotNull() & F.col("brand").isNotNull()
    ).select("partkey", node_id("fertilizer_products").alias("src"))
    anc = app_nutrient_contents.select(
        "product_application_id", node_id("app_nutrient_contents").alias("dst")
    )
    linked = pa.join(F.broadcast(fp), on="partkey").join(anc, on="product_application_id")
    return linked.select("src", "dst", F.lit("CONTAINS_NUTRIENT").alias("rel_type"))


# ---------------------------------------------------------------------------
# DAG resolution
# ---------------------------------------------------------------------------


def build(
    spark: SparkSession,
    sf_dir: str,
    only: list[str] | None = None,
    skip: list[str] | None = None,
    start: str | None = None,
    end: str | None = None,
) -> dict[str, DataFrame]:
    """Resolve the task DAG: returns {task → DataFrame} for the selected
    targets (plus their transitive dependencies — unlike the reference,
    where running product_applications without application_events silently
    reads stale Neo4j state). ``start``/``end`` bound the sensor-stream
    window for incremental runs."""
    targets = list(only) if only else list(REGISTRY)
    if skip:
        targets = [t for t in targets if t not in set(skip)]
    for t in targets:
        if t not in REGISTRY:
            raise KeyError(f"unknown task {t!r}; known: {sorted(REGISTRY)}")

    ctx = Context(spark, sf_dir, start=start, end=end)
    built: dict[str, DataFrame] = {}

    def resolve(name: str, stack: tuple[str, ...] = ()) -> DataFrame:
        if name in built:
            return built[name]
        if name in stack:
            raise ValueError(f"dependency cycle: {stack + (name,)}")
        td = REGISTRY[name]
        deps = {d: resolve(d, stack + (name,)) for d in td.deps}
        built[name] = td.builder(ctx, **deps)
        return built[name]

    return {t: resolve(t) for t in targets}


def validate_keys(dfs: dict[str, DataFrame]) -> None:
    """Uniqueness-constraint sweep: assert every node table's natural key
    (the reference's 23 constraints as checks — graph_constraints.py)."""
    from graph_db_spark.writers.upsert import assert_unique_key

    for name, df in dfs.items():
        td = REGISTRY[name]
        if td.kind == "node" and td.keys:
            assert_unique_key(df, td.keys)
