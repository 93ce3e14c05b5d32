"""Registers 31 queries:

  curation_provenance, curated_training_corpus, streaming_left_outer_attribution
  streaming_full_outer_attribution, motif_props_projection, shortest_path_routes
  local_clustering_coeff, forecast_revenue, nation_volume_shipping
  nation_market_share, product_type_profit, important_parts_share
  customer_order_distribution, promo_revenue_share, parts_supplier_counts
  late_shipment_priority, heavy_part_suppliers, doc_token_entropy
  bm25_doc_ranking, zorder_clustering_prune, harmonic_centrality_landmarks
  landmark_eccentricity, hybrid_retrieval_rerank, degree_assortativity
  hard_negative_mining, snapshot_schema_evolution, rrf_fusion_ranking
  streaming_watermark_dedup, sample_sum_estimate_bound, scc_trade_partners
  snapshot_write_audit_publish
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.graph.algorithms import (
    shortest_path_tree, shortest_paths, strongly_connected_components,
)
from graph_db_spark.graph.build import (
    build_graph, cooccurrence_edges, cooccurrence_edges_sql, edges_sql,
)
from graph_db_spark.operators import profiling as PF
from graph_db_spark.operators import text as TX
from graph_db_spark.operators.dedup import near_dup_clusters, portable_hash
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.operators.similarity import _as_double, cosine
from graph_db_spark.plans.families.q00_base import (
    _run_batched_stream, _scratch_dir, _touch_pairs_table, r4, register,
)
from graph_db_spark.plans.families.q01_relational_pipeline import (
    _graph_nparts,
)
from graph_db_spark.plans.families.q03_dedup_bounds_gate import _metric_rows
from graph_db_spark.plans.families.q05_scd2_graph_ivm import _CURATED_ORACLE, _PROVENANCE_ORACLE
from graph_db_spark.streaming import jobs as STRM
from graph_db_spark.tables import load_table
from graph_db_spark.util import spread
from graph_db_spark.writers.snapshots import AuditRejected, SnapshotTable, zorder_column


@register("curation_provenance", oracle=_PROVENANCE_ORACLE)
def curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation lineage/debuggability: the same four-stage pipeline as
    ``curated_training_corpus``, but instead of the survivors' report it
    emits the FUNNEL — for every source, how many docs exited at each
    stage ('near_dup', 'low_quality') and how the survivors split
    (train/valid/test). At 100 TB this is the audit artifact a data team
    ships with a corpus release: every document is attributed to exactly
    one decision, and the counts reconcile to the input by construction
    (Σ stages = |docs| per source). Shares every verified stage operator
    with the capstone; the oracle shares its CTE prefix literally."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = near_dup_clusters(docs, "text", "doc_id")
    drops = clusters.filter(~F.col("is_canonical")).select(
        F.col("id").cast("bigint").alias("doc_id"), F.lit(1).alias("_dropped")
    )
    keep = docs.join(drops.select("doc_id"), on="doc_id", how="left_anti")
    q = keep.select(
        "doc_id", r4(TX.quality_score("text")).alias("quality"), "source"
    )
    med = q.groupBy("source").agg(PF.percentile(F.col("quality"), 0.5).alias("m"))
    bucket = portable_hash(F.col("doc_id").cast("string")) % 100
    stage = (
        F.when(F.col("_dropped").isNotNull(), "near_dup")
        .when(F.col("quality") < F.col("m"), "low_quality")
        .when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
    )
    cls = (
        docs.join(drops, on="doc_id", how="left")
        .join(q.select("doc_id", "quality"), on="doc_id", how="left")
        .join(F.broadcast(med), on="source", how="left")
        .select("source", stage.alias("stage"))
    )
    return cls.groupBy("source", "stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


@register("curated_training_corpus", oracle=_CURATED_ORACLE)
def curated_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data curation pipeline as ONE composed
    query — what this engine exists for at 100 TB:

    1. near-duplicate clustering (MinHash-LSH → exact Jaccard verify →
       transitive closure) drops every non-canonical copy;
    2. per-source MEDIAN quality cut (quantile-relative, not absolute);
    3. deterministic hash split into train/valid/test (retry-safe, no
       rand());
    4. the per-(source, split) corpus report.

    Every stage is an already-verified operator; the oracle replays the
    entire composition in SQL (recursive closure included), so the
    four-stage hand-off — including exactly WHICH docs each stage drops
    — is hash-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = near_dup_clusters(docs, "text", "doc_id")
    drops = clusters.filter(~F.col("is_canonical")).select(
        F.col("id").cast("bigint").alias("doc_id")
    )
    keep = docs.join(drops, on="doc_id", how="left_anti")
    q = keep.select(
        "doc_id", "source", "n_chars", r4(TX.quality_score("text")).alias("quality")
    )
    med = q.groupBy("source").agg(PF.percentile(F.col("quality"), 0.5).alias("m"))
    kept = q.join(F.broadcast(med), on="source").filter(F.col("quality") >= F.col("m"))
    bucket = portable_hash(F.col("doc_id").cast("string")) % 100
    split = F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    return kept.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@register(
    "streaming_left_outer_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts AS tts, event_type AS touch FROM events
      WHERE event_type IN ('view', 'click')
    ),
    wm AS (
      SELECT least((SELECT max(pts) FROM p) - INTERVAL 1 DAY,
                   (SELECT max(tts) FROM t) - INTERVAL 2 DAY) AS w
    ),
    matched AS (
      SELECT p.pts, t.touch FROM p JOIN t ON t.user_id = p.user_id
        AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 24 HOURS
    ),
    unmatched AS (
      SELECT p.pts, 'none' AS touch FROM p, wm
      WHERE p.pts < wm.w AND NOT EXISTS (
        SELECT 1 FROM t WHERE t.user_id = p.user_id
          AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 24 HOURS)
    ),
    allr AS (
      SELECT strftime(pts, '%Y-%m-%d') AS day, touch FROM matched
      UNION ALL
      SELECT strftime(pts, '%Y-%m-%d'), touch FROM unmatched
    )
    SELECT day, touch AS touch_type, CAST(count(*) AS BIGINT) AS n
    FROM allr GROUP BY 1, 2
    """,
)
def streaming_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 STREAM-STREAM LEFT OUTER join — the null-emission contract,
    oracle-encoded: matched purchase×touch pairs emit as they join, and
    an untouched purchase emits ONCE with a null touch — but only after
    the query's global watermark (min of the two sides' horizons: here
    max(touch ts) − 2d wins) passes its event time, because a matching
    touch could otherwise still arrive. Purchases younger than that
    horizon at end-of-stream never emit their null row — the oracle's
    ``pts < wm`` cut reproduces exactly which purchases report as
    unattributed vs stay pending. State stays bounded by the interval
    condition + watermarks on both sides, same as the inner variant."""
    return (
        _touch_pairs_table(spark, sf_dir, "lo", "mem_touch_lo", "left_outer")
        .groupBy(
            F.date_format(F.to_date("pts"), "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "streaming_full_outer_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts AS tts, event_type AS touch FROM events
      WHERE event_type IN ('view', 'click')
    ),
    wm AS (
      SELECT least((SELECT max(pts) FROM p) - INTERVAL 1 DAY,
                   (SELECT max(tts) FROM t) - INTERVAL 2 DAY) AS w
    ),
    matched AS (
      SELECT strftime(p.pts, '%Y-%m-%d') AS day, t.touch, 'both' AS side
      FROM p JOIN t ON t.user_id = p.user_id
        AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 24 HOURS
    ),
    p_only AS (
      SELECT strftime(p.pts, '%Y-%m-%d') AS day, 'none' AS touch,
             'purchase_only' AS side
      FROM p, wm
      WHERE p.pts < wm.w AND NOT EXISTS (
        SELECT 1 FROM t WHERE t.user_id = p.user_id
          AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 24 HOURS)
    ),
    t_only AS (
      SELECT strftime(t.tts, '%Y-%m-%d') AS day, t.touch,
             'touch_only' AS side
      FROM t, wm
      WHERE t.tts + INTERVAL 24 HOURS < wm.w AND NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = t.user_id
          AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 24 HOURS)
    ),
    allr AS (
      SELECT * FROM matched UNION ALL SELECT * FROM p_only
      UNION ALL SELECT * FROM t_only
    )
    SELECT day, touch AS touch_type, side, CAST(count(*) AS BIGINT) AS n
    FROM allr GROUP BY 1, 2, 3
    """,
)
def streaming_full_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 STREAM-STREAM FULL OUTER join — completes the interval-join
    matrix (inner: streaming_touch_pairs; left: the left_outer variant).
    Both sides' null-emission timing is oracle-encoded against the ONE
    global watermark (min of the two sides' horizons): an untouched
    purchase emits its null row once the watermark passes its event
    time (pts < wm — the pinned left-outer contract), and a touch that
    converted no purchase emits once the watermark passes the END of
    its forward match window (tts + 24h < wm), because until then a
    qualifying purchase could still arrive. Rows younger than their
    horizon at end-of-stream stay pending and never emit — the oracle's
    two cuts reproduce exactly which rows report unmatched."""
    side = (
        F.when(F.col("pts").isNull(), "touch_only")
        .when(F.col("touch").isNull(), "purchase_only")
        .otherwise("both")
    )
    return (
        _touch_pairs_table(spark, sf_dir, "fo", "mem_touch_fo", "full_outer")
        .groupBy(
            F.date_format(
                F.to_date(F.coalesce("pts", "tts")), "yyyy-MM-dd"
            ).alias("day"),
            F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"),
            side.alias("side"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "motif_props_projection",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM nation n
    JOIN region r ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def motif_props_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif finder with PROPERTY projection — Cypher's ``MATCH
    (r:Region)-[:HAS_NATION]->(n)-[:HAS_CUSTOMER]->(c) RETURN r.name,
    n.name, count(c)`` (``PropertyGraph.find(props=...)``): each named
    vertex's requested properties join in column-pruned (never the whole
    vertex attribute set), then the binding table aggregates. The oracle
    is the plain relational join — the property-graph view and the
    relational view of the same data must agree exactly."""
    g = build_graph(spark, sf_dir)
    m = g.find(
        "(r:Region)-[:HAS_NATION]->(n); (n)-[:HAS_CUSTOMER]->(c)",
        props={"r": ["name"], "n": ["name"]},
    )
    return m.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))


@register(
    "shortest_path_routes",
    oracle=f"""
    WITH RECURSIVE e AS MATERIALIZED (SELECT src, dst FROM ({edges_sql()})),
    walk(id, dist) AS (
      SELECT 'R:0', 0
      UNION ALL
      SELECT e.dst, walk.dist + 1 FROM walk JOIN e ON e.src = walk.id
      WHERE walk.dist < 8
    ),
    best AS MATERIALIZED (SELECT id, min(dist) AS dist FROM walk GROUP BY 1),
    par AS MATERIALIZED (
      SELECT b.id, min(e.src) AS parent
      FROM best b JOIN e ON e.dst = b.id
      JOIN best p ON p.id = e.src AND p.dist = b.dist - 1
      GROUP BY b.id
    ),
    route(id, path) AS (
      SELECT 'R:0', 'R:0'
      UNION ALL
      SELECT pr.id, route.path || '>' || pr.id
      FROM par pr JOIN route ON route.id = pr.parent
    )
    SELECT id, path FROM route
    -- TRY_CAST, never CAST: DuckDB's vectorized filter does NOT
    -- short-circuit the LIKE guard, so the cast also sees composite
    -- 'L:<order>:<line>' ids ('23919:5' raised at sf0.1); TRY_CAST
    -- nulls them and NULL % 37 = 0 is NULL -> filtered, same semantics
    WHERE id LIKE 'S:%' AND TRY_CAST(substr(id, 3) AS INTEGER) % 37 = 0
    """,
)
def shortest_path_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — shortest-path RECONSTRUCTION (not just
    distances): the deterministic min-parent BFS tree from the Region
    landmark (graph/algorithms.py:shortest_path_tree), with the actual
    path strings rebuilt by a depth-bounded level-by-level join over the
    tree — never a driver-side walk; each level joins only that level's
    vertices against the previous level's routes. Output: the canonical
    route for every 37th supplier. Oracle: recursive-CTE BFS + the same
    min-parent rule + a recursive path walk."""
    g = build_graph(spark, sf_dir)
    tree = shortest_path_tree(g.edges, "R:0", n_partitions=_graph_nparts(sf_dir))
    maxd = tree.agg(F.max("dist").alias("m")).collect()[0]["m"]  # scalar probe
    routes = tree.filter(F.col("dist") == 0).select(
        "id", F.col("id").alias("path")
    ).localCheckpoint(eager=True)
    acc = [routes]
    for d in range(1, maxd + 1):
        routes = (
            tree.filter(F.col("dist") == d)
            .join(
                routes.select(F.col("id").alias("parent"), F.col("path").alias("ppath")),
                on="parent",
            )
            .select("id", F.concat_ws(">", "ppath", "id").alias("path"))
            .localCheckpoint(eager=True)
        )
        acc.append(routes)
    allr = acc[0]
    for r in acc[1:]:
        allr = allr.unionByName(r)
    return allr.filter(
        F.col("id").startswith("S:")
        # try_cast mirrors the oracle's TRY_CAST: under ANSI a plain cast
        # would throw if a plan reorder ever let composite ids reach it
        & (F.expr("try_cast(substring(id, 3, 10) AS int)") % 37 == 0)
    ).select("id", "path")


@register(
    "local_clustering_coeff",
    oracle="WITH "
    + cooccurrence_edges_sql("(SELECT * FROM lineitem WHERE l_partkey % 4 = 0)", "a", "b")
    + """,
    tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tv AS (
      SELECT v, count(*) AS t FROM (
        SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
      ) GROUP BY 1
    ),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b FROM e
      ) GROUP BY 1
    ),
    lcc AS (
      SELECT deg.v, deg.d, coalesce(tv.t, 0) AS t,
             CASE WHEN deg.d >= 2
                  THEN round(coalesce(tv.t, 0) * 2.0 / (deg.d * (deg.d - 1)), 4)
                  ELSE 0.0 END AS c
      FROM deg LEFT JOIN tv ON tv.v = deg.v
    )
    SELECT CAST(round(c, 1) AS DOUBLE) AS coeff_bucket,
           CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(sum(t) AS BIGINT) AS total_triangles
    FROM lcc GROUP BY 1
    """,
)
def local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — per-vertex local clustering coefficient on the
    p%4 part-co-occurrence graph: triangles(v) / C(deg(v), 2). Triangles
    enumerate ONCE via the id-ordering (x<y<z) and fold to per-vertex
    counts — one triangle join + two vertex-sized aggregations, the same
    shuffle shape as k_truss's single round; never per-vertex
    neighborhood intersection. Output is the 0.1-bucketed coefficient
    histogram plus the (3×triangle-count) mass check."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    e = cooccurrence_edges(li, "a", "b").localCheckpoint(eager=True)
    xy = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    yz = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    xz = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = xy.join(yz, on="y").join(xz, on=["x", "z"])
    tv = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lcc = deg.join(tv, on="v", how="left").select(
        "v", "d", F.coalesce("t", F.lit(0)).alias("t"),
        F.when(
            F.col("d") >= 2,
            F.round(F.coalesce("t", F.lit(0)) * 2.0 / (F.col("d") * (F.col("d") - 1)), 4),
        ).otherwise(0.0).alias("c"),
    )
    return lcc.groupBy(
        F.round(F.col("c"), 1).cast("double").alias("coeff_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum("t").cast("bigint").alias("total_triangles"),
    )


# ---------------------------------------------------------------------------
# TPC-H decision-support shapes, rounds 5 additions (Q6/Q7/Q8/Q9/Q11/Q13/
# Q14/Q16 adapted to the fixture columns — no partsupp/comment/shipmode, so
# Q9/Q11 substitute shipped value for supplycost terms). Together with the
# existing Q1-Q5/Q10/Q15/Q17-Q19/Q21/Q22 shapes this closes the classic
# 22-query decision-support surface a reference user would expect.
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.025 AND l_discount <= 0.065
      AND l_quantity < 24
    """,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — forecast revenue change: single-table filter +
    aggregate. The whole query is one codegen'd scan: shipdate/discount/
    quantity predicates all push to the parquet reader (PushedFilters),
    zero shuffle beyond the final 1-row reduce. Non-boundary discount
    bounds (0.025/0.065) so no stored value sits exactly on a float
    comparison edge in either engine."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.025)
        & (F.col("l_discount") <= 0.065)
        & (F.col("l_quantity") < 24)
    ).agg(
        r4(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@register(
    "nation_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume between two nations by
    ship year. Join shape at 100 TB: the fact (lineitem) joins orders on
    the shuffle key once; the bounded nation dim is force-broadcast while
    the SF-scaling supplier/customer sides carry no hint (AQE broadcasts
    them at bench scale, shuffles past the 8 GB limit — ``dim_hint``),
    and the nation-pair predicate prunes BEFORE the fact join fans out
    (the supplier side filters to two nations' suppliers first)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = F.col("supp_nation").isin("NATION_1", "NATION_2") & F.col(
        "cust_nation"
    ).isin("NATION_1", "NATION_2") & (F.col("supp_nation") != F.col("cust_nation"))
    j = (
        li.join(dim_hint(s, bounded=False), on=li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn"), F.col("n_name").alias("supp_nation"))),
            on=F.col("s_nationkey") == F.col("sn"),
        )
        .join(o, on=li["l_orderkey"] == o["o_orderkey"])
        .join(dim_hint(c, bounded=False), on=o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cn"), F.col("n_name").alias("cust_nation"))),
            on=F.col("c_nationkey") == F.col("cn"),
        )
        .filter(pair)
    )
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(
        r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue")
    )


@register(
    "nation_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM vol GROUP BY 1
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — NATION_3's market share of revenue consumed in
    ASIA, by order year: one fact⋈orders shuffle join, the bounded
    nation/region dims force-broadcast while the SF-scaling supplier and
    customer-derived sides go unhinted (``dim_hint`` — AQE decides), the
    region predicate applied on the customer side BEFORE
    the fact join, and the share computed as a conditional-sum ratio in
    the same aggregation (no second pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asia_nations = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               on=n["n_regionkey"] == r["r_regionkey"])
        .select(F.col("n_nationkey").alias("cn"))
    )
    cust_asia = c.join(F.broadcast(asia_nations), on=c["c_nationkey"] == F.col("cn")).select(
        "c_custkey"
    )
    vol = (
        li.join(dim_hint(s, bounded=False), on=li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn"), F.col("n_name").alias("supp_nation"))),
            on=F.col("s_nationkey") == F.col("sn"),
        )
        .join(o, on=li["l_orderkey"] == o["o_orderkey"])
        .join(dim_hint(cust_asia, bounded=False), on=o["o_custkey"] == cust_asia["c_custkey"])
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        r4(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
            / F.sum("volume")
        ).alias("mkt_share")
    )


@register(
    "product_type_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type = 'PROMO'
    GROUP BY 1, 2
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: the fixture has no partsupp, so profit is
    shipped net revenue) — PROMO-part profit by supplier nation and order
    year. The part-type filter semi-reduces the fact before the orders
    shuffle join; nation is force-broadcast, while part and supplier --
    both SF-scaling -- are unhinted (``dim_hint``, AQE decides)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = (
        li.join(dim_hint(p, bounded=False), on=li["l_partkey"] == p["p_partkey"])
        .join(dim_hint(s, bounded=False), on=li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), on=s["s_nationkey"] == n["n_nationkey"])
        .join(o, on=li["l_orderkey"] == o["o_orderkey"])
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    ).agg(
        r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("profit")
    )


@register(
    "important_parts_share",
    oracle="""
    WITH pv AS (
      SELECT l.l_partkey, sum(l.l_extendedprice) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_1'
      GROUP BY 1
    )
    SELECT CAST(l_partkey AS BIGINT) AS p_partkey, round(value, 4) AS value
    FROM pv
    WHERE value > (SELECT sum(value) * 0.002 FROM pv)
    """,
)
def important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: shipped value stands in for
    supplycost×availqty) — parts whose NATION_1-shipped value exceeds
    0.2% of that nation's total. The total is a 1-row aggregate
    broadcast back over the per-part values (the scalar-subquery
    decorrelation shape) — one fact pass feeds both via checkpoint."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1").select("n_nationkey")
    pv = (
        li.join(dim_hint(s, bounded=False), on=li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), on=F.col("s_nationkey") == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
        .localCheckpoint(eager=True)
    )
    cut = pv.agg((F.sum("value") * 0.002).alias("cut"))
    return (
        pv.crossJoin(F.broadcast(cut))
        .filter(F.col("value") > F.col("cut"))
        .select(
            F.col("l_partkey").cast("bigint").alias("p_partkey"),
            r4(F.col("value")).alias("value"),
        )
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ) GROUP BY 1
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — order-count-per-customer histogram INCLUDING
    zero-order customers (the left join is the point: an inner join
    silently drops the empty cohort). Two aggregations, the second over
    customer-sized data."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per = (
        c.join(o, on=c["c_custkey"] == o["o_custkey"], how="left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))


@register(
    "promo_revenue_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — PROMO share of one month's revenue: conditional
    sum over a date-pruned fact scan with the part dim broadcast; the
    ratio computes inside a single aggregation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(dim_hint(p, bounded=False), on=li["l_partkey"] == p["p_partkey"]).agg(
        r4(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev)
        ).alias("promo_revenue")
    )


@register(
    "parts_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (5, 10, 15, 20, 25)
    GROUP BY 1, 2, 3
    """,
)
def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier relationships observed through
    lineitem instead of partsupp) — distinct suppliers per (brand, type,
    size) for selected sizes, excluding one brand. The part-side
    predicates broadcast-prune the fact before the distinct-count
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(dim_hint(p, bounded=False), on=li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "late_shipment_priority",
    oracle="""
    SELECT o.o_orderpriority,
           CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'le_30d'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 60 THEN 'le_60d'
                ELSE 'gt_60d' END AS ship_lag,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no shipmode/commitdate columns, so the
    lag is shipdate − orderdate bucketed at 30/60 days) — does shipping
    latency correlate with order priority? One fact⋈orders shuffle join
    + a two-key aggregate; the CASE buckets evaluate inside codegen."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(lag <= 30, "le_30d").when(lag <= 60, "le_60d").otherwise("gt_60d")
    )
    return (
        li.join(o, on=li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority", bucket.alias("ship_lag"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    )


@register(
    "heavy_part_suppliers",
    oracle="""
    WITH sq AS (
      SELECT l.l_suppkey, sum(l.l_quantity) AS total_qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'SMALL'
      GROUP BY 1
    )
    SELECT CAST(sq.l_suppkey AS BIGINT) AS s_suppkey, s.s_name,
           round(sq.total_qty, 4) AS total_qty
    FROM sq JOIN supplier s ON s.s_suppkey = sq.l_suppkey
    WHERE sq.total_qty > (SELECT avg(total_qty) * 1.1 FROM sq)
    """,
)
def heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: shipped quantity stands in for availqty)
    — suppliers who moved >1.1× the average SMALL-part volume (the
    fixture quantities are near-uniform, so 1.1× is the discriminating
    cut at every SF): the
    candidate-supplier decorrelation with the average as a broadcast
    1-row aggregate over the checkpointed per-supplier totals (one fact
    pass feeds both sides)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sq = (
        li.join(dim_hint(p, bounded=False), on=li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .localCheckpoint(eager=True)
    )
    cut = sq.agg((F.avg("total_qty") * 1.1).alias("cut"))
    return (
        sq.crossJoin(F.broadcast(cut))
        .filter(F.col("total_qty") > F.col("cut"))
        .join(dim_hint(s, bounded=False), on=sq["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("l_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            r4(F.col("total_qty")).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 continuation — retrieval / quality additions
# ---------------------------------------------------------------------------


@register(
    "doc_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents) WHERE t <> ''
    ),
    cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
    ent AS (
      SELECT doc_id, sum(c) AS n, count(*) AS nd, sum(c * ln(c)) AS s
      FROM cnt GROUP BY 1
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(nd AS BIGINT) AS n_distinct,
           round(ln(CAST(n AS DOUBLE)) - s / n, 4) + 0.0 AS entropy,
           round(CASE WHEN nd > 1
                      THEN (ln(CAST(n AS DOUBLE)) - s / n) / ln(CAST(nd AS DOUBLE))
                      ELSE 0.0 END, 4) + 0.0 AS norm_entropy
    FROM ent
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality — per-document Shannon token entropy (the
    C4/RefinedWeb-style repetitiveness signal: near-zero entropy means
    boilerplate/spam, near-1 normalized entropy means diverse text).
    Computed via the fold-free identity H = ln(N) − (Σ c·ln c)/N so one
    (doc, token) count pass and one per-doc aggregate suffice — no
    window, no second scan; both shuffles map-side-combine. Normalized
    entropy divides by ln(n_distinct) (0 when the doc is a single
    repeated token). At 100 TB this is two linear shuffles keyed on
    doc_id — the same shape as any per-doc quality score."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
        .filter(F.col("t") != "")
    )
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    ent = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("c") * F.log("c")).alias("s"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("s") / F.col("n")
    return ent.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("nd").cast("bigint").alias("n_distinct"),
        r4(h).alias("entropy"),
        r4(
            F.when(F.col("nd") > 1, h / F.log(F.col("nd").cast("double"))).otherwise(0.0)
        ).alias("norm_entropy"),
    )


_BM25_TERMS = ("spark", "join", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_cte_sql() -> str:
    """Shared DuckDB CTE block replaying _bm25_scored: same tokenizer,
    same idf smoothing, same k1/b saturation expression STRUCTURE (float
    parity depends on the division/paren shape matching the Spark
    Columns). Ends with ``scored(doc_id, n_terms, score)``."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""dl AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS DOUBLE) AS dl
      FROM documents
    ),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS f FROM (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents)
      WHERE t IN ({terms}) GROUP BY 1, 2
    ),
    idf AS (
      SELECT tf.t, ln(1.0 + (stats.n - count(*) + 0.5) / (count(*) + 0.5)) AS idf
      FROM tf CROSS JOIN stats GROUP BY tf.t, stats.n
    ),
    scored AS (
      SELECT tf.doc_id, count(*) AS n_terms,
             sum(idf.idf * (tf.f * ({_BM25_K1} + 1.0))
                 / (tf.f + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)))
               AS score
      FROM tf JOIN idf ON tf.t = idf.t
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
      GROUP BY 1
    )"""


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """Okapi BM25 per-doc scores for the fixed ``_BM25_TERMS`` query —
    ``(doc_id, n_terms, score)``, unrounded. One term-pruned explode,
    broadcast idf/stats, one per-doc sum (plan notes on
    bm25_doc_ranking)."""
    dl = docs.select(
        "doc_id",
        F.size(F.filter(TX.tokens("text"), lambda x: x != "")).cast("double").alias("dl"),
    ).localCheckpoint(eager=True)  # feeds stats AND the per-doc join
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
        .filter(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    ).localCheckpoint(eager=True)  # feeds idf AND the scored join
    idf = (
        tf.crossJoin(F.broadcast(stats))
        .groupBy("t", "n")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "t",
            F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = F.col("idf") * (F.col("f") * (k1 + 1.0)) / (
        F.col("f") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(idf), on="t")
        .join(dl, on="doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms"), F.sum(contrib).alias("score"))
    )


@register(
    "bm25_doc_ranking",
    oracle=f"""
    WITH {_bm25_cte_sql()}
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
           round(score, 4) + 0.0 AS score
    FROM scored ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval — Okapi BM25 ranking of the corpus against a fixed
    query ("spark join merge"): idf·tf saturation with k1=1.2 and b=0.75
    doc-length normalization (Robertson/Spärck Jones — the standard
    lexical scorer for decontamination lookups and quality-by-relevance
    cuts in training pipelines; tfidf_top_terms covers the unsaturated
    variant). Plan shape: one token explode restricted to the query
    terms (the IN filter prunes before the shuffle), a |terms|-row idf
    table and a 1-row corpus-stats row both BROADCAST onto the per-doc
    partials, one per-doc sum, TakeOrdered top-k — at 100 TB one linear
    pass plus k driver rows, nothing quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scored(docs)
        .orderBy(F.desc("score"), "doc_id")
        .limit(50)
        .select("doc_id", "n_terms", r4(F.col("score")).alias("score"))
    )


@register(
    "zorder_clustering_prune",
    oracle="""
    WITH sel AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey >= 0 AND c_nationkey <= 5
    )
    SELECT 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS value FROM sel
    UNION ALL
    SELECT 'sum_bal', round(CAST(sum(c_acctbal) AS DOUBLE), 4) + 0.0 FROM sel
    UNION ALL SELECT 'zorder_files_pruned', 1.0
    UNION ALL SELECT 'zorder_beats_linear', 1.0
    """,
)
def zorder_clustering_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table format — MULTI-dimensional clustering via a Z-order (Morton)
    cluster key (writers/snapshots.py:zorder_column; the Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` layout). snapshot_range_pruning proved 1-D
    range clustering prunes its sort column; this query proves the 2-D
    claim by building the SAME customer table twice — linearly clustered
    on (c_acctbal, c_nationkey) and z-ordered over both domains — and
    scanning on nationkey ALONE (6 of 25 values): the dimension the
    linear layout cannot prune, since every acctbal-sorted file spans
    most nationkeys (at every fixture SF the linear scan opens all or
    most files; the z scan opens ~1/3). The scan ROWS hash-match a
    direct SQL filter (pruning
    is an optimization, never a semantics change); the contract rows are
    1.0 iff the z-scan skipped files at all AND opened strictly fewer
    than the linear layout did. At 100 TB the z-key costs one codegen
    expression at write time and prunes every dimension of the
    rectangle at read time."""
    import os

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n = cust.count()
    root = _scratch_dir("snap_zorder", sf_dir)
    rpf = max(5, n // 64)
    lin = SnapshotTable.create(
        spark, os.path.join(root, "linear"), cust, keys=["c_custkey"], n_buckets=4,
        cluster_by=["c_acctbal", "c_nationkey"], records_per_file=rpf,
    )
    zdf = cust.withColumn(
        "_z",
        zorder_column(
            [(F.col("c_acctbal"), -1000.0, 10000.0), (F.col("c_nationkey"), 0.0, 25.0)]
        ),
    )
    zt = SnapshotTable.create(
        spark, os.path.join(root, "zorder"), zdf, keys=["c_custkey"], n_buckets=4,
        cluster_by=["_z", "c_acctbal", "c_nationkey"], records_per_file=rpf,
    )
    where = {"c_nationkey": (0, 5)}
    got = zt.scan(where).drop("_z").localCheckpoint(eager=True)
    zread, ztotal = zt.pruned_files(where)
    lread, _ = lin.pruned_files(where)
    return _metric_rows(
        got.agg(F.count(F.lit(1)).cast("double").alias("value")).select(
            F.lit("n_rows").alias("metric"), "value"
        ),
        got.agg(r4(F.sum("c_acctbal")).alias("value")).select(
            F.lit("sum_bal").alias("metric"), "value"
        ),
        spark.range(1).select(
            F.lit("zorder_files_pruned").alias("metric"),
            F.lit(1.0 if zread < ztotal else 0.0).alias("value"),
        ),
        spark.range(1).select(
            F.lit("zorder_beats_linear").alias("metric"),
            F.lit(1.0 if zread < lread else 0.0).alias("value"),
        ),
    )


def _landmark_levels_cte_sql() -> str:
    """Shared DuckDB CTE pair ending in ``best(landmark, id, dist)`` —
    the exact per-landmark BFS distances over the directed fixture graph
    enumerated level by level (the fixed topology makes every path depth
    writable as a join; min(dist) settles the supplier/part double
    reach). Used by the harmonic-centrality and eccentricity oracles."""
    return """reach AS (
      SELECT 'R:' || CAST(r_regionkey AS VARCHAR) AS landmark,
             'R:' || CAST(r_regionkey AS VARCHAR) AS id, 0 AS dist
      FROM region
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'N:' || CAST(n_nationkey AS VARCHAR), 1
      FROM nation
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'C:' || CAST(c_custkey AS VARCHAR), 2
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'S:' || CAST(s_suppkey AS VARCHAR), 2
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'O:' || CAST(o_orderkey AS VARCHAR), 3
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR),
             'L:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR), 4
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT DISTINCT 'R:' || CAST(n_regionkey AS VARCHAR), 'P:' || CAST(l_partkey AS VARCHAR), 5
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT DISTINCT 'R:' || CAST(n_regionkey AS VARCHAR), 'S:' || CAST(l_suppkey AS VARCHAR), 5
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
    ), best AS (
      SELECT landmark, id, min(dist) AS dist FROM reach GROUP BY 1, 2
    )"""


@register(
    "harmonic_centrality_landmarks",
    oracle=f"""
    WITH {_landmark_levels_cte_sql()}
    SELECT landmark, CAST(count(*) AS BIGINT) AS n_reachable,
           round(sum(1.0 / dist), 4) + 0.0 AS harmonic
    FROM best WHERE dist > 0 GROUP BY 1
    """,
)
def harmonic_centrality_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — harmonic centrality of landmark vertices,
    H(l) = Σ_{v reachable} 1/d(l,v) (the reachability-robust closeness
    variant; Boldi & Vigna 2014): one multi-landmark frontier BFS over
    the directed fixture graph with ALL five Region roots at once —
    rounds join only the shrinking frontier against the pre-partitioned
    checkpointed edge table (the CC/PageRank exchange-reuse contract),
    so 5 landmarks cost one BFS, not five. Cross-region reach is real,
    not assumed: another region's suppliers enter at depth 5 through
    customer→order→lineitem while home suppliers settle at depth 2 (the
    oracle's min(dist) proves the BFS settles each pair at its first
    frontier). At 100 TB landmark-set BFS is the standard centrality
    surrogate — state is |landmarks|×V pairs, never all-pairs."""
    g = build_graph(spark, sf_dir)
    lms = g.vertices.filter(F.col("label") == "Region").select("id")
    sp = shortest_paths(g.edges, lms, n_partitions=_graph_nparts(sf_dir))
    return (
        sp.filter(F.col("dist") > 0)
        .groupBy("landmark")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reachable"),
            r4(F.sum(F.lit(1.0) / F.col("dist"))).alias("harmonic"),
        )
    )


@register(
    "landmark_eccentricity",
    oracle=f"""
    WITH {_landmark_levels_cte_sql()},
    ecc AS (
      SELECT landmark, max(dist) AS e FROM best WHERE dist > 0 GROUP BY 1
    )
    SELECT b.landmark, CAST(ecc.e AS BIGINT) AS eccentricity,
           CAST(count(*) AS BIGINT) AS n_at_ecc,
           CAST((SELECT max(e) FROM ecc) AS BIGINT) AS diameter_lower_bound
    FROM best b JOIN ecc ON b.landmark = ecc.landmark AND b.dist = ecc.e
    GROUP BY 1, 2
    """,
)
def landmark_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — landmark eccentricity and the BFS
    diameter lower bound (the standard scalable diameter estimator:
    exact eccentricity needs all-pairs, but max over a landmark sample
    lower-bounds the diameter and a double-sweep tightens it). Same
    one-run multi-landmark BFS as harmonic_centrality_landmarks, reduced
    to per-landmark max depth + the frontier population at that depth;
    the global max rides a broadcast 1-row aggregate onto the 5 output
    rows, never a global window."""
    g = build_graph(spark, sf_dir)
    lms = g.vertices.filter(F.col("label") == "Region").select("id")
    sp = shortest_paths(
        g.edges, lms, n_partitions=_graph_nparts(sf_dir)
    ).localCheckpoint(eager=True)  # feeds both the ecc agg and the join back
    ecc = sp.filter(F.col("dist") > 0).groupBy("landmark").agg(
        F.max("dist").alias("e")
    )
    dia = ecc.agg(F.max("e").alias("d"))
    return (
        sp.join(F.broadcast(ecc), on="landmark")
        .filter(F.col("dist") == F.col("e"))
        .groupBy("landmark", F.col("e").cast("bigint").alias("eccentricity"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_at_ecc"))
        .crossJoin(F.broadcast(dia))
        .select(
            "landmark", "eccentricity", "n_at_ecc",
            F.col("d").cast("bigint").alias("diameter_lower_bound"),
        )
    )


# The embedding label whose centroid the rerank queries score against,
# shared with their oracles.
_CENTROID_LABEL = 0


def _centroid_cte_sql() -> str:
    """Shared DuckDB CTE pair ending in ``centv(cv)`` — the label-
    ``_CENTROID_LABEL`` embedding centroid as one list row (replays
    _label_centroid)."""
    return f"""cent AS (
      SELECT pos, avg(val) AS c FROM (
        SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS val
        FROM embeddings WHERE label = {_CENTROID_LABEL}) GROUP BY pos
    ),
    centv AS (SELECT list(c ORDER BY pos) AS cv FROM cent)"""


def _label_centroid(emb: DataFrame) -> DataFrame:
    """1-row DataFrame ``(cv: array<double>)`` — the mean vector of the
    ``_CENTROID_LABEL`` embeddings, computed in-plan (posexplode → per-position avg
    → packed array); broadcast it onto whatever needs scoring."""
    return (
        emb.filter(F.col("label") == _CENTROID_LABEL)
        .select(F.posexplode(_as_double(F.col("embedding"))).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg("val").alias("c"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("cv")
        )
    )


@register(
    "hybrid_retrieval_rerank",
    oracle=f"""
    WITH {_bm25_cte_sql()},
    cands AS (
      SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 100
    ),
    {_centroid_cte_sql()},
    rer AS (
      SELECT cands.doc_id, cands.score,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), centv.cv) AS cos
      FROM cands JOIN embeddings e ON e.vec_id = cands.doc_id
                 CROSS JOIN centv
    )
    SELECT doc_id, round(score, 4) + 0.0 AS bm25_score,
           round(cos, 4) + 0.0 AS cosine_sim
    FROM rer ORDER BY cos DESC, doc_id LIMIT 20
    """,
)
def hybrid_retrieval_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval capstone — the standard two-stage hybrid stack: BM25
    lexical preselection (cheap, inverted-index-shaped) feeding a dense
    embedding rerank (expensive, quality), here against a deterministic
    query vector (the label-0 centroid — a topic prototype). Stage 1
    reuses _bm25_scored's linear plan and keeps only the top-100
    candidate ids; stage 2 joins JUST those candidates to their
    embeddings (semi-join-sized, never the corpus), scores cosine to
    the centroid via the JVM-side zip_with/aggregate kernel
    (operators/similarity.py:29), and emits the top-20. The centroid is
    computed in-plan (posexplode → 64-row avg → packed array on one
    row, broadcast) — no driver-side vector math. At 100 TB: candidate
    generation is the only corpus-wide pass; the rerank touches k rows.
    Both stages replay exactly in the oracle (same idf smoothing, same
    saturation structure, DuckDB list_cosine_similarity)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    cands = (
        _bm25_scored(docs)
        .orderBy(F.desc("score"), "doc_id")
        .limit(100)
        .select("doc_id", "score")
        .localCheckpoint(eager=True)
    )
    centv = _label_centroid(emb)
    rer = (
        cands.join(emb, on=cands["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(centv))
        .select(
            "doc_id",
            "score",
            cosine(_as_double(F.col("embedding")), F.col("cv")).alias("cos"),
        )
    )
    return (
        rer.orderBy(F.desc("cos"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            r4(F.col("score")).alias("bm25_score"),
            r4(F.col("cos")).alias("cosine_sim"),
        )
    )


@register(
    "degree_assortativity",
    oracle=f"""
    WITH e AS ({edges_sql()}),
    outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY 1),
    ind AS (SELECT dst, CAST(count(*) AS DOUBLE) AS id_ FROM e GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           round(corr(outd.od, ind.id_), 4) + 0.0 AS assortativity,
           round(avg(outd.od), 4) AS mean_src_outdeg,
           round(avg(ind.id_), 4) AS mean_dst_indeg
    FROM e JOIN outd ON e.src = outd.src
           JOIN ind ON e.dst = ind.dst
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — directed degree assortativity (Newman 2002):
    the Pearson correlation, over every edge, between the source's
    out-degree and the destination's in-degree. Negative values mean
    hubs feed leaves (the fixture's hierarchy shape); positive means
    hub-to-hub wiring. Plan: two map-side-combined degree aggregates,
    both joined back onto the edge list (degree tables are
    vertex-sized; the joins shuffle on the same src/dst keys the
    degrees grouped on), then ONE pass of Spark's built-in distributed
    co-moment fold (F.corr) — never a driver-side collect. Exact
    oracle: DuckDB corr() over the identical join."""
    g = build_graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    outd = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).cast("double").alias("id_"))
    return (
        e.join(outd, on="src")
        .join(ind, on="dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            r4(F.corr("od", "id_")).alias("assortativity"),
            F.round(F.avg("od"), 4).alias("mean_src_outdeg"),
            F.round(F.avg("id_"), 4).alias("mean_dst_indeg"),
        )
    )


@register(
    "hard_negative_mining",
    oracle="""
    SELECT query_id, neg_id, round(cosine_sim, 4) + 0.0 AS cosine_sim,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings q JOIN embeddings c ON q.label <> c.label
      WHERE q.vec_id < 10
    ) WHERE rank <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op — hard-negative mining for contrastive training
    (the retrieval/embedding-training staple): for each anchor vector,
    the most similar corpus vectors with a DIFFERENT label — maximally
    confusing negatives. Same plan as the brute cosine baseline (anchors
    broadcast, corpus partitioned, one shuffle for the per-anchor
    top-k); the label-mismatch predicate rides the broadcast join. The
    scale path swaps the corpus scan for the IVF/LSH candidate
    generation exactly as in ann_*_topk — this query pins the exact
    semantics those approximations are graded against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _as_double(F.col("embedding")).alias("q_vec"),
    )
    c = spread(emb).select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("c_label"),
        _as_double(F.col("embedding")).alias("c_vec"),
    )
    scored = c.join(F.broadcast(q), on=F.col("q_label") != F.col("c_label")).select(
        "query_id", "neg_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neg_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "neg_id", r4(F.col("cosine_sim")).alias("cosine_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@register(
    "snapshot_schema_evolution",
    oracle="""
    WITH up AS (
      SELECT c_custkey, c_mktsegment, c_acctbal * 2 AS c_acctbal,
             CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END AS c_tier
      FROM customer WHERE c_custkey > 700 AND c_custkey <= 900
    ),
    base AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, NULL AS c_tier
      FROM customer
      WHERE c_custkey <= 800 AND c_custkey NOT IN (SELECT c_custkey FROM up)
    ),
    m AS (SELECT * FROM up UNION ALL SELECT * FROM base)
    SELECT coalesce(c_tier, '__null__') AS tier, CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 4) AS sum_bal
    FROM m GROUP BY 1
    UNION ALL SELECT '__v1_has_tier__', 0, 0.0
    """,
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table format — explicit schema evolution
    (writers/snapshots.py:_evolve; the Delta mergeSchema contract):
    create the customer table, then MERGE a batch carrying a NEW
    ``c_tier`` column under ``allow_schema_evolution=True`` (without the
    flag the merge raises — typo protection, pytest-pinned). The new
    column appends as a nullable field; untouched buckets' files are
    NOT rewritten — their rows null-fill at read time through the
    evolved manifest schema, so evolution costs one manifest write plus
    the touched buckets, never a table rewrite. The hash check proves
    read-side semantics (updated rows carry tiers, carried-forward rows
    read NULL, doubled balances land); the ``__v1_has_tier__`` contract
    row pins that TIME TRAVEL to v1 still serves the pre-evolution
    schema — old snapshots never grow columns retroactively."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = _scratch_dir("snap_evolve", sf_dir)
    t = SnapshotTable.create(
        spark, path, cust.filter(F.col("c_custkey") <= 800), ["c_custkey"], n_buckets=8
    )
    up = (
        cust.filter((F.col("c_custkey") > 700) & (F.col("c_custkey") <= 900))
        .withColumn(
            "c_tier", F.when(F.col("c_acctbal") > 5000, "gold").otherwise("std")
        )
        .withColumn("c_acctbal", F.col("c_acctbal") * 2)
    )
    t.merge(up, allow_schema_evolution=True)
    agg = (
        t.read()
        .groupBy(F.coalesce(F.col("c_tier"), F.lit("__null__")).alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r4(F.sum("c_acctbal")).alias("sum_bal"),
        )
    )
    v1_has_tier = "c_tier" in t.read(version=1).columns
    return _metric_rows(
        agg,
        spark.range(1).select(
            F.lit("__v1_has_tier__").alias("tier"),
            F.lit(1 if v1_has_tier else 0).cast("bigint").alias("n"),
            F.lit(0.0).alias("sum_bal"),
        ),
    )


@register(
    "rrf_fusion_ranking",
    oracle=f"""
    WITH {_bm25_cte_sql()},
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lrank
      FROM scored ORDER BY score DESC, doc_id LIMIT 100
    ),
    {_centroid_cte_sql()},
    -- MATERIALIZE the per-row cosine BEFORE the ranking window: with the
    -- cosine inlined in the window's ORDER BY, DuckDB re-evaluates the
    -- expression (and the non-materialized centroid subquery feeding it)
    -- per sort comparison — the sf0.1 sweep measured this CTE at 5+
    -- CPU-hours; projected-then-ranked it is corpus-linear (~seconds)
    centm AS MATERIALIZED (SELECT cv FROM centv),
    dcos AS MATERIALIZED (
      SELECT vec_id AS doc_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    (SELECT cv FROM centm)) AS cos
      FROM embeddings
    ),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos DESC, doc_id) AS drank
      FROM dcos ORDER BY drank LIMIT 100
    ),
    fused AS (
      SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id, lex.lrank, dense.drank,
             coalesce(1.0 / (60 + lex.lrank), 0) + coalesce(1.0 / (60 + dense.drank), 0)
               AS rrf
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
    )
    SELECT doc_id, CAST(lrank AS BIGINT) AS lex_rank,
           CAST(drank AS BIGINT) AS dense_rank,
           round(rrf, 4) + 0.0 AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 25
    """,
)
def rrf_fusion_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval — reciprocal-rank fusion (Cormack et al. 2009, the
    standard score-free way to fuse heterogeneous rankers): BM25 lexical
    top-100 and dense centroid-cosine top-100 fuse by
    Σ 1/(60 + rank), which needs no score normalization across the two
    incomparable scales. hybrid_retrieval_rerank is the cascade
    (lexical gates dense); this is the parallel-union alternative —
    docs ranked by either signal survive. Plan: each ranker is a
    corpus-linear pass ending in TakeOrdered(100); rank assignment and
    the FULL OUTER fuse then run on two 100-row sets (the global
    row_number windows are k-sized by construction — never a
    corpus-wide single-partition sort). Both rankers quantize to
    discrete score levels (integer tf/doc-length grids), so ranking is
    reproducible across engines — the oracle replays ranks exactly."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = (
        _bm25_scored(docs)
        .orderBy(F.desc("score"), "doc_id")
        .limit(100)
        .withColumn(
            "lrank", F.row_number().over(Window.orderBy(F.desc("score"), "doc_id"))
        )
        .select("doc_id", "lrank")
    )
    dense = (
        emb.crossJoin(F.broadcast(_label_centroid(emb)))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(_as_double(F.col("embedding")), F.col("cv")).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(100)
        .withColumn(
            "drank", F.row_number().over(Window.orderBy(F.desc("cos"), "doc_id"))
        )
        .select("doc_id", "drank")
    )
    fused = lex.join(dense, on="doc_id", how="full_outer").select(
        "doc_id",
        "lrank",
        "drank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lrank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("drank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(25)
        .select(
            "doc_id",
            F.col("lrank").cast("bigint").alias("lex_rank"),
            F.col("drank").cast("bigint").alias("dense_rank"),
            r4(F.col("rrf")).alias("rrf_score"),
        )
    )


@register(
    "streaming_watermark_dedup",
    oracle="""
    WITH base AS (SELECT event_id, ts FROM events WHERE user_id % 25 = 3),
    m AS (SELECT max(ts) AS m FROM base)
    SELECT CAST(e.event_id AS BIGINT) AS event_id,
           CAST(CASE WHEN e.ts < m.m - INTERVAL 4 DAY THEN 2 ELSE 1 END AS BIGINT)
             AS n_emitted
    FROM base e, m
    """,
)
def streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming — BOUNDED-state dedup via
    ``dropDuplicatesWithinWatermark`` (streaming/jobs.py:
    dedupe_within_watermark): the contract that makes streaming exact
    dedup viable at 100 TB — state holds one entry per key only inside
    the watermark horizon, and the price is that a key re-sent AFTER its
    horizon re-admits. This query pins the exact eviction timing,
    measured on Spark 4.1 (same method as q00_base._run_batched_stream's
    late-data mechanics):

    - batch 0: the base cohort — every key lands, state created.
    - batch 1: the ENTIRE cohort re-sent verbatim — every copy drops.
      (Eviction is LAGGED one batch: at batch 1 the operative watermark
      is still −∞, so all state is alive and every resend is a
      duplicate. Even under an unlagged reading the outcome is
      identical: old keys would be evicted but their old timestamps
      fall below the unlagged watermark and drop as late — the batch
      design makes both readings agree, so the oracle is robust to the
      internal two-watermark schedule.)
    - batch 2: the cohort re-sent with a FRESH timestamp (max−1h, which
      also never advances the watermark): evicted keys RE-ADMIT; keys
      still held drop. The measured eviction rule (this oracle went red
      under the naive reading and pinned it): state stores an
      EXPIRATION of first_seen_ts + delay and evicts when that falls
      below the watermark (max_prior_ts − delay) — so with delay d the
      re-admission cutoff is max − 2·d, not max − d. The dedup horizon
      a key is actually protected for is up to TWICE the configured
      delay.

    Emitted copies per key are therefore exactly 2 for keys first seen
    before max−2·delay and 1 otherwise — a pure function of the data
    split that DuckDB replays with one CASE. At scale this is the
    ingest-dedup configuration: O(keys-per-horizon) state instead of
    O(corpus), with the re-admission tail swept by the downstream batch
    near-dup/exact-dedup passes (stream_exact_dedup docstring)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("user_id") % 25 == 3).select("event_id", "ts")
    m = base.agg(F.max("ts")).collect()[0][0]  # 1-row scalar probe
    b2 = base.withColumn(
        "ts", (F.lit(m) - F.expr("INTERVAL 1 HOUR")).cast("timestamp")
    )
    out = _run_batched_stream(
        spark,
        sf_dir,
        "wm_dedup",
        [base, base, b2],
        lambda s: STRM.dedupe_within_watermark(s, ["event_id"]),
    )
    return out.groupBy(F.col("event_id").cast("bigint").alias("event_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_emitted")
    )


@register(
    "sample_sum_estimate_bound",
    oracle="""
    WITH li AS (
      SELECT l_extendedprice * (1 - l_discount) AS v,
             (l_orderkey * 2654435761 + l_linenumber) % 100 AS h
      FROM lineitem
    ),
    st AS (
      SELECT count(*) AS n, avg(v) AS m, stddev_samp(v) AS sd, sum(v) AS ssum
      FROM li WHERE h < 10
    ),
    tot AS (SELECT sum(v) AS t FROM li)
    SELECT 'n_sample' AS metric, CAST(st.n AS DOUBLE) AS value FROM st
    UNION ALL
    SELECT 'est_over_true', round(st.ssum * 10 / tot.t, 4) FROM st, tot
    UNION ALL SELECT 'within_3sigma_bound', 1.0
    """,
)
def sample_sum_estimate_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing — estimate a global revenue SUM from
    a deterministic 10% sample with a self-computed CLT error contract
    (the BlinkDB/quickstats move for 100 TB interactive queries: scan
    1/10th, answer with a confidence interval). Membership is the same
    multiplicative-hash idiom as stratified_sample — reproducible across
    engines, runs, and task retries, never rand(). The estimate is
    Horvitz-Thompson (sample sum / sampling fraction); the bound is
    3·√((1−f)/n)·cv with cv taken FROM THE SAMPLE (the production
    setting: the true spread is unknown). The contract row is 1.0 iff
    the TRUE relative error — the oracle computes the full sum too —
    lies inside the bound (verified holding at every fixture SF; the
    sample is fixed, so this is deterministic, not flaky). Plan: two
    aggregations over one scan, the sample side filter-pruned; nothing
    driver-side. The ratio (not the raw sums) is what's hash-compared:
    global float sums of ~1e10 differ across engines in the last ulps,
    while the ratio is stable to 1e-12."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"),
        ((F.col("l_orderkey") * F.lit(2654435761) + F.col("l_linenumber")) % 100).alias("h"),
    ).localCheckpoint(eager=True)  # one scan feeds both aggregates
    st = li.filter(F.col("h") < 10).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("v").alias("m"),
        F.stddev_samp("v").alias("sd"),
        F.sum("v").alias("ssum"),
    )
    tot = li.agg(F.sum("v").alias("t"))
    joined = st.crossJoin(F.broadcast(tot))
    est = F.col("ssum") * 10
    rel_err = F.abs(est - F.col("t")) / F.col("t")
    bound = 3 * F.sqrt((1.0 - 0.1) / F.col("n")) * (F.col("sd") / F.col("m"))
    return _metric_rows(
        joined.select(
            F.lit("n_sample").alias("metric"), F.col("n").cast("double").alias("value")
        ),
        joined.select(
            F.lit("est_over_true").alias("metric"), r4(est / F.col("t")).alias("value")
        ),
        joined.select(
            F.lit("within_3sigma_bound").alias("metric"),
            F.when(rel_err <= bound, 1.0).otherwise(0.0).alias("value"),
        ),
    )


@register(
    "scc_trade_partners",
    oracle="""
    WITH RECURSIVE flow AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS cnt
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    mx AS (SELECT src, max(cnt) AS m FROM flow GROUP BY 1),
    e AS (SELECT f.src, f.dst FROM flow f JOIN mx ON f.src = mx.src
          WHERE f.cnt = mx.m),
    nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
    reach(a, b) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
    ),
    mutual AS (
      SELECT r1.a AS v, r1.b AS w
      FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
      UNION ALL
      SELECT v, v FROM nodes
    )
    SELECT CAST(v AS BIGINT) AS nationkey, CAST(min(w) AS BIGINT) AS scc
    FROM mutual GROUP BY 1
    """,
)
def scc_trade_partners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics — strongly connected components
    (graph/algorithms.py:strongly_connected_components, TRIM + FW-BW) of
    the "top trade partner" digraph: nation A → nation B when B is A's
    heaviest export destination (suppliers in A shipping to customers in
    B through lineitem⋈orders; per-source argmax keeps the graph sparse
    and SCALE-INVARIANT — an absolute volume threshold would change the
    topology with SF). Functional-graph SCCs are the classic mutual-
    top-partner cycles: the fixture yields a 3-cycle at sf0.01, a
    2-cycle at sf0.1, and a pure DAG (all trims) at sf0.001, so the
    oracle exercises both the trim and the pivot-peel paths. Heavy
    lifting is the ONE fact-join pass building the flow matrix (the
    SF-scaling supplier side unhinted per ``dim_hint``, map-side-combined
    count); the SCC loop then runs on a
    |nations|-sized edge list. The DuckDB oracle computes mutual
    reachability via a recursive closure — exact, per-node."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flow = (
        li.join(o, on=li["l_orderkey"] == o["o_orderkey"])
        .join(c, on=o["o_custkey"] == c["c_custkey"])
        .join(dim_hint(s, bounded=False), on=li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # feeds both mx and the edge filter
    )
    mx = flow.groupBy("src").agg(F.max("cnt").alias("m"))
    # zero-pad the ids: the SCC labels are STRING minima (the algorithm's
    # ids are strings, like every graph in this module), so fixed-width
    # rendering makes lexicographic min == numeric min — the oracle's
    # min(nationkey) semantics
    e = (
        flow.join(F.broadcast(mx), on="src")
        .filter(F.col("cnt") == F.col("m"))
        .select(
            F.format_string("%02d", F.col("src")).alias("src"),
            F.format_string("%02d", F.col("dst")).alias("dst"),
        )
    )
    scc = strongly_connected_components(e)
    return scc.select(
        F.col("id").cast("bigint").alias("nationkey"),
        F.col("scc").cast("bigint").alias("scc"),
    )


@register(
    "snapshot_write_audit_publish",
    oracle="""
    WITH m AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 4 = 1 THEN c_acctbal * 2 ELSE c_acctbal END
               AS c_acctbal
      FROM customer
    )
    SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 4) AS sum_bal
    FROM m GROUP BY 1
    UNION ALL SELECT '__rejected_left_v1__', 1, 0.0
    UNION ALL SELECT '__published_v2__', 1, 0.0
    """,
)
def snapshot_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table format — write-audit-publish (the Iceberg WAP gate;
    writers/snapshots.py:merge(audit=...)): a DQ check runs against the
    EXACT staged snapshot after the data files land but before the
    manifest publishes, so a failing batch never has a moment of being
    live. Sequence: create → a POISON merge (balances forced to −9999)
    whose audit rejects — the table must still be v1 with pristine
    balances — then the real merge (doubled balances for the
    custkey%4==1 cohort) whose audit passes and publishes v2. The hash check proves the final
    state equals the direct SQL replay WITHOUT the poison batch (the
    rejected write left zero trace in reader-visible state); the
    contract rows pin that rejection kept version=1 and the good commit
    landed as version=2."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = _scratch_dir("snap_wap", sf_dir)
    t = SnapshotTable.create(spark, path, cust, ["c_custkey"], n_buckets=8)
    # modulus cohort, not a key range: non-empty at EVERY fixture SF
    window = cust.filter(F.col("c_custkey") % 4 == 1)

    def no_poison(df: DataFrame) -> bool:
        # 1-row scalar probe of the staged snapshot — the DQ gate
        return df.filter(F.col("c_acctbal") < -5000).limit(1).count() == 0

    rejected = False
    try:
        t.merge(window.withColumn("c_acctbal", F.lit(-9999.0)), audit=no_poison)
    except AuditRejected:
        rejected = True
    left_v1 = rejected and t.latest_version() == 1
    v2 = t.merge(
        window.withColumn("c_acctbal", F.col("c_acctbal") * 2), audit=no_poison
    )
    agg = t.read().groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.sum("c_acctbal")).alias("sum_bal"),
    )
    return _metric_rows(
        agg,
        spark.range(1).select(
            F.lit("__rejected_left_v1__").alias("seg"),
            F.lit(1 if left_v1 else 0).cast("bigint").alias("n"),
            F.lit(0.0).alias("sum_bal"),
        ),
        spark.range(1).select(
            F.lit("__published_v2__").alias("seg"),
            F.lit(1 if v2 == 2 else 0).cast("bigint").alias("n"),
            F.lit(0.0).alias("sum_bal"),
        ),
    )


