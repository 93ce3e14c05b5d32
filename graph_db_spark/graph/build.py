"""Assemble the fixture property graph.

Mirrors how the reference projects relational rows into a labeled graph
(SURVEY §1.1): each driver table becomes a node label with a composite
natural-key id (F15), each foreign key becomes a typed edge (J1) — the same
shape as Field-HAS_STATION→Station / Station-HAS_WEATHER_DAY→WeatherDay
(/root/reference/app/graph_stations.py:33-39, graph_weather_day.py:250-257).

Node ids are label-prefixed strings so one vertex table can hold all labels:
``R:<regionkey>``, ``N:<nationkey>``, ``C:<custkey>``, ``O:<orderkey>``,
``L:<orderkey>:<linenumber>``, ``S:<suppkey>``, ``P:<partkey>``.

The graph analytics queries share three projections, each built here
once in Spark and once as the DuckDB oracles' CTE text:

- the customer–supplier trade graph: a customer and a supplier are
  adjacent when some order of the customer has a line from the supplier
  (``trade_edges`` / ``trade_edges_sql``);
- the part co-occurrence graph: two parts are adjacent when some order
  has a line of each (``cooccurrence_edges`` / ``cooccurrence_edges_sql``);
- the customer–part purchase graph: a customer is adjacent to every part
  some order of theirs has a line of (``purchase_edges`` /
  ``purchase_edges_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_db_spark.graph.model import PropertyGraph
from graph_db_spark.tables import load_table


def _vid(prefix: str, *cols) -> F.Column:
    return F.concat_ws(":", F.lit(prefix), *[F.col(c).cast("string") for c in cols])


def build_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")

    vertices = (
        region.select(_vid("R", "r_regionkey").alias("id"), F.lit("Region").alias("label"),
                      F.col("r_name").alias("name"))
        .unionByName(nation.select(_vid("N", "n_nationkey").alias("id"), F.lit("Nation").alias("label"),
                                   F.col("n_name").alias("name")))
        .unionByName(customer.select(_vid("C", "c_custkey").alias("id"), F.lit("Customer").alias("label"),
                                     F.col("c_name").alias("name")))
        .unionByName(orders.select(_vid("O", "o_orderkey").alias("id"), F.lit("Order").alias("label"),
                                   F.col("o_orderstatus").alias("name")))
        .unionByName(lineitem.select(_vid("L", "l_orderkey", "l_linenumber").alias("id"),
                                     F.lit("Line").alias("label"),
                                     F.col("l_returnflag").alias("name")))
        .unionByName(supplier.select(_vid("S", "s_suppkey").alias("id"), F.lit("Supplier").alias("label"),
                                     F.col("s_name").alias("name")))
        .unionByName(part.select(_vid("P", "p_partkey").alias("id"), F.lit("Part").alias("label"),
                                 F.col("p_name").alias("name")))
    )

    edges = (
        nation.select(_vid("R", "n_regionkey").alias("src"), _vid("N", "n_nationkey").alias("dst"),
                      F.lit("HAS_NATION").alias("rel_type"))
        .unionByName(customer.select(_vid("N", "c_nationkey").alias("src"), _vid("C", "c_custkey").alias("dst"),
                                     F.lit("HAS_CUSTOMER").alias("rel_type")))
        .unionByName(orders.select(_vid("C", "o_custkey").alias("src"), _vid("O", "o_orderkey").alias("dst"),
                                   F.lit("HAS_ORDER").alias("rel_type")))
        .unionByName(lineitem.select(_vid("O", "l_orderkey").alias("src"),
                                     _vid("L", "l_orderkey", "l_linenumber").alias("dst"),
                                     F.lit("HAS_LINE").alias("rel_type")))
        .unionByName(lineitem.select(_vid("L", "l_orderkey", "l_linenumber").alias("src"),
                                     _vid("P", "l_partkey").alias("dst"),
                                     F.lit("USES_PART").alias("rel_type")))
        .unionByName(lineitem.select(_vid("L", "l_orderkey", "l_linenumber").alias("src"),
                                     _vid("S", "l_suppkey").alias("dst"),
                                     F.lit("FROM_SUPPLIER").alias("rel_type")))
        .unionByName(supplier.select(_vid("N", "s_nationkey").alias("src"), _vid("S", "s_suppkey").alias("dst"),
                                     F.lit("HAS_SUPPLIER").alias("rel_type")))
    )
    return PropertyGraph(vertices=vertices, edges=edges)


def edges_sql() -> str:
    """The DuckDB-equivalent edge list (same ids/types) for oracle queries."""
    return """
    SELECT concat('R:', n_regionkey) AS src, concat('N:', n_nationkey) AS dst, 'HAS_NATION' AS rel_type FROM nation
    UNION ALL
    SELECT concat('N:', c_nationkey), concat('C:', c_custkey), 'HAS_CUSTOMER' FROM customer
    UNION ALL
    SELECT concat('C:', o_custkey), concat('O:', o_orderkey), 'HAS_ORDER' FROM orders
    UNION ALL
    SELECT concat('O:', l_orderkey), concat('L:', l_orderkey, ':', l_linenumber), 'HAS_LINE' FROM lineitem
    UNION ALL
    SELECT concat('L:', l_orderkey, ':', l_linenumber), concat('P:', l_partkey), 'USES_PART' FROM lineitem
    UNION ALL
    SELECT concat('L:', l_orderkey, ':', l_linenumber), concat('S:', l_suppkey), 'FROM_SUPPLIER' FROM lineitem
    UNION ALL
    SELECT concat('N:', s_nationkey), concat('S:', s_suppkey), 'HAS_SUPPLIER' FROM supplier
    """


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer–supplier trade graph: distinct ``C:<custkey>`` ↔
    ``S:<suppkey>`` pairs over orders ⋈ lineitem, listed in both
    directions as ``src``/``dst``."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    eb = (
        li.join(o, on=[F.col("l_orderkey") == F.col("o_orderkey")])
        .select(
            F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    return eb.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        eb.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def trade_edges_sql() -> str:
    """DuckDB twin of ``trade_edges``: the CTEs ``eb`` (distinct pairs)
    and ``e`` (both directions), to follow a ``WITH``."""
    return (
        "eb AS MATERIALIZED (SELECT DISTINCT"
        " 'C:' || CAST(o_custkey AS VARCHAR) AS c,"
        " 'S:' || CAST(l_suppkey AS VARCHAR) AS s"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey),\n"
        "e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb"
        " UNION ALL SELECT s, c FROM eb)"
    )


def cooccurrence_edges(lineitem: DataFrame, u: str = "p1", v: str = "p2") -> DataFrame:
    """The part co-occurrence graph over ``lineitem`` (or a filtered
    subset of it): distinct part pairs that share an order, each listed
    once with the smaller part key in column ``u`` and the larger in
    ``v``."""
    op = lineitem.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, on=[F.col("a.o") == F.col("b.o"), F.col("a.p") < F.col("b.p")])
        .select(F.col("a.p").alias(u), F.col("b.p").alias(v))
        .distinct()
    )


def cooccurrence_edges_sql(src: str = "lineitem", u: str = "p1", v: str = "p2") -> str:
    """DuckDB twin of ``cooccurrence_edges`` over the relation ``src``:
    the CTEs ``op`` (distinct order–part rows) and ``e`` (the edges), to
    follow a ``WITH``."""
    return (
        f"op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM {src}),\n"
        f"    e AS MATERIALIZED (SELECT DISTINCT a.p AS {u}, b.p AS {v}"
        " FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)"
    )


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer–part purchase graph: distinct (``c`` = custkey,
    ``p`` = partkey) pairs over lineitem ⋈ orders."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )


def purchase_edges_sql() -> str:
    """DuckDB twin of ``purchase_edges``: the CTE ``cp``, to follow a
    ``WITH``."""
    return (
        "cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"
    )
