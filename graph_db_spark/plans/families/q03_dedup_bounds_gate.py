"""Registers 24 queries:

  streaming_enriched_daily, salted_skew_join, cooccurrence_triangles
  shortest_paths_from_regions, minhash_recall_bound, simhash_completeness_bound
  ann_lsh_recall_bound, ann_ivf_recall_bound, ann_pq_distortion_bound
  hll_error_bound, near_dup_clusters, repetition_quality
  pii_scrub_audit, cms_heavy_hitters, cms_day_merge
  kmv_audience_overlap, kmv_source_ngram_overlap, bloom_semi_prune
  tfidf_top_terms, shipping_priority, large_volume_customers
  vocab_coverage, local_supplier_volume, order_value_deciles
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.graph.algorithms import shortest_paths
from graph_db_spark.graph.build import build_graph, cooccurrence_edges, cooccurrence_edges_sql
from graph_db_spark.operators import aggregates as A
from graph_db_spark.operators import dedup as D
from graph_db_spark.operators import joins as J
from graph_db_spark.operators import quality as QL
from graph_db_spark.operators import similarity as SIM
from graph_db_spark.operators import sketches as SK
from graph_db_spark.operators import text as TX
from graph_db_spark.operators.dedup import (
    _MINHASH_BANDS, _MINHASH_HASHES, _SIMHASH_BITS, _SIMHASH_MAX_HAMMING,
)
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.operators.sketches import (
    _BLOOM_K, _BLOOM_M, _BLOOM_SEED, _CMS_DEPTH, _HASH64_SEED, _HLL_P, _KMV_K,
)
from graph_db_spark.plans.families.q00_base import (
    ORACLE_SQL, _oriented_triangles, _oriented_triangles_sql, _poly_sql, _run_stream_to_table, r4,
    register,
)
from graph_db_spark.plans.families.q01_relational_pipeline import _graph_nparts
from graph_db_spark.streaming import jobs as STRM
from graph_db_spark.tables import load_table
from graph_db_spark.util import spread


@register(
    "streaming_enriched_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           c_mktsegment,
           round(sum(value), 4) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_enriched_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming — stream-static enrichment join (events stream ⋈
    customer dim, planner-chosen strategy — r13 dim_hint audit) + daily
    windowed totals per market segment;
    equals the batch join+group on static input, so the plain SQL oracle
    applies."""
    dim = load_table(spark, sf_dir, "customer")
    out = _run_stream_to_table(
        spark, sf_dir, "enriched_daily",
        lambda s: STRM.stream_enriched_daily(s, dim, "c_custkey", "c_mktsegment"),
    )
    return out.select(
        "day", "c_mktsegment", r4(F.col("total")).alias("total"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "salted_skew_join",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
           CAST(l_linenumber AS BIGINT) AS linenumber,
           round(o_totalprice, 4) AS totalprice,
           o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-path equi-join: result-identical to the plain join (that IS the
    oracle), but hot keys spread across 8 salt buckets — the explicit
    fallback when one key dominates a fact⋈fact join beyond what AQE's
    skew split absorbs (SCALE.md §2)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice", "o_orderpriority"
    )
    return J.salted_join(li, o, on=["l_orderkey"]).select(
        F.col("l_orderkey").cast("bigint").alias("orderkey"),
        F.col("l_linenumber").cast("bigint").alias("linenumber"),
        r4(F.col("o_totalprice")).alias("totalprice"),
        "o_orderpriority",
    )


@register(
    "cooccurrence_triangles",
    oracle="WITH " + cooccurrence_edges_sql() + ",\n    " + _oriented_triangles_sql("e") + """
    SELECT n AS n_triangles FROM tri
    """,
)
def cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics with an EXACT oracle: FULL (unsampled) triangle
    count over the part-co-occurrence graph via degree-ordered orientation
    (``_oriented_triangles``), which bounds every vertex's out-list by
    arboricity (~O(√E)) so the full count stays tractable at 100 TB with
    hub parts. This replaces the round-2 10%-sample scope cut: same
    two-shuffle join shape (the count is orientation-invariant —
    cross-validated against the naive p1<p2 enumeration at sf0.001)."""
    e = (
        cooccurrence_edges(load_table(spark, sf_dir, "lineitem"))
        # e feeds deg (×3), the orientation, and the closure side — without
        # materialization every self-join reference recomputes the whole
        # co-occurrence join+distinct (plan audit: 194 Exchange nodes)
        .localCheckpoint(eager=True)
    )
    return _oriented_triangles(e).select(F.col("n").alias("n_triangles"))


@register(
    "shortest_paths_from_regions",
    oracle="""
    WITH reach AS (
      SELECT 'R:' || CAST(r_regionkey AS VARCHAR) AS landmark,
             'R:' || CAST(r_regionkey AS VARCHAR) AS id, 0 AS dist
      FROM region WHERE r_regionkey = 0
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'N:' || CAST(n_nationkey AS VARCHAR), 1
      FROM nation WHERE n_regionkey = 0
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'C:' || CAST(c_custkey AS VARCHAR), 2
      FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'S:' || CAST(s_suppkey AS VARCHAR), 2
      FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = 0
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR), 'O:' || CAST(o_orderkey AS VARCHAR), 3
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
      UNION ALL
      SELECT 'R:' || CAST(n_regionkey AS VARCHAR),
             'L:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR), 4
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
      UNION ALL
      SELECT DISTINCT 'R:' || CAST(n_regionkey AS VARCHAR), 'P:' || CAST(l_partkey AS VARCHAR), 5
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
      UNION ALL
      SELECT DISTINCT 'R:' || CAST(n_regionkey AS VARCHAR), 'S:' || CAST(l_suppkey AS VARCHAR), 5
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
    ), best AS (
      SELECT landmark, id, min(dist) AS dist FROM reach GROUP BY 1, 2
    )
    SELECT landmark, CAST(dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n
    FROM best GROUP BY 1, 2
    """,
)
def shortest_paths_from_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BFS shortest paths from a Region landmark over the
    directed fixture graph, checked against an EXACT oracle — the fixed
    topology lets SQL enumerate every path level (suppliers are reachable
    both directly at dist 2 and through lineitems at dist 5; min wins).
    Aggregated to (landmark, dist, count) so the check is compact."""
    g = build_graph(spark, sf_dir)
    lms = g.vertices.filter(
        (F.col("label") == "Region") & F.col("id").isin("R:0")
    ).select("id")
    sp = shortest_paths(g.edges, lms, n_partitions=_graph_nparts(sf_dir))
    return (
        sp.groupBy("landmark", F.col("dist").cast("bigint").alias("dist"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# Quality bounds for approximate operators — driver-visible companion rows
# (VERDICT r2 #8). Each emits (metric, value) rows combining SQL-derivable
# ground-truth facts (DuckDB recomputes them independently) with contract
# rows (the engine measures its own approximation against its own exact
# baseline and emits 1.0 iff the bound holds; the oracle pins the bound).
# A quality regression — worse recall, bigger sketch error — flips a
# contract row to 0.0 and fails the hash match.
# ---------------------------------------------------------------------------


def _metric_rows(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _shingle_sql(docs: str) -> str:
    """The ``D._SHINGLE_K``-shingle sets of ``docs`` (D.shingles replayed
    in DuckDB)."""
    k = D._SHINGLE_K
    return f"""
      SELECT doc_id,
             CASE WHEN len(t) >= {k}
                  THEN list_distinct(list_transform(range(1, len(t) - {k - 2}),
                                                    i -> array_to_string(t[i:i+{k - 1}], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM {docs})
"""


@register(
    "minhash_recall_bound",
    oracle=f"""
    WITH sh AS ({_shingle_sql("documents")}),
    ex AS MATERIALIZED (SELECT doc_id, len(s) AS z, unnest(s) AS g FROM sh),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.z AS za, b.z AS zb,
             count(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           AND a.z >= 0.8 * b.z AND b.z >= 0.8 * a.z
      GROUP BY 1, 2, 3, 4
    )
    SELECT 'n_true_pairs' AS metric, CAST(count(*) AS DOUBLE) AS value
    FROM common WHERE c * 1.0 / (za + zb - c) >= 0.8
    UNION ALL SELECT 'recall_ge_080', 1.0
    """,
)
def minhash_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup quality bound — MinHash-LSH candidate recall against the EXACT
    3-shingle Jaccard≥0.8 truth (the similarity MinHash approximates).
    'n_true_pairs' is recomputed independently by DuckDB (same shingling,
    exact all-pairs); 'recall_ge_080' is 1.0 iff LSH candidates cover ≥80%
    of true pairs (measured 0.96 at sf0.01 with 32 hashes × 8 bands — the
    theoretical band-collision floor at j=0.8 is 1-(1-0.8^4)^8 ≈ 0.985)."""
    docs = load_table(spark, sf_dir, "documents")
    # single-file fixture → one split: spread so shingling + posting-list
    # explode parallelize (SCALE.md §1 fixture artifact)
    sh = spread(docs).select(
        F.col("doc_id").alias("id"), D.shingles(F.col("text")).alias("s")
    )
    # EXACT truth via inverted index (posting-list self-join), not all-pairs:
    # a jaccard≥0.8 pair shares ≥1 shingle, so joining exploded shingles and
    # counting common ones per pair finds every true pair while touching
    # only pairs that overlap at all — measured 284s → ~8s at sf0.1 vs the
    # bucketed array_intersect all-pairs join, and the posting-list shape is
    # the one that survives a 100 TB corpus (work ∝ Σ posting², never n²)
    ex = sh.select(
        F.col("id"), F.size("s").alias("z"), F.explode("s").alias("g")
    )
    a = ex.select(F.col("id").alias("id_a"), F.col("z").alias("za"), "g")
    b = ex.select(F.col("id").alias("id_b"), F.col("z").alias("zb"), "g")
    common = (
        a.join(
            b,
            on=[
                a["g"] == b["g"],
                F.col("id_a") < F.col("id_b"),
                # exact containment prefilter (jaccard ≤ min/max sizes)
                F.col("za").cast("double") >= 0.8 * F.col("zb"),
                F.col("zb").cast("double") >= 0.8 * F.col("za"),
            ],
        )
        .groupBy("id_a", "id_b", "za", "zb")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    truth = (
        common.filter(F.col("c") / (F.col("za") + F.col("zb") - F.col("c")) >= 0.8)
        .select("id_a", "id_b")
        # truth feeds BOTH the fact row and the recall join; without a
        # checkpoint the posting-list join executes twice in the one action
        # (measured 10.7 → 6.6 s at sf0.1). The table is true-pair-sized —
        # tiny — so materializing it is free at any corpus scale.
        .localCheckpoint(eager=True)
    )
    cands = D.minhash_lsh_candidates(docs, "text", "doc_id")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n"))
    hits = truth.join(cands, on=["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("h"))
    contract = n_truth.crossJoin(hits).select(
        F.lit("recall_ge_080").alias("metric"),
        F.when(F.col("h") >= 0.8 * F.col("n"), 1.0).otherwise(0.0).alias("value"),
    )
    facts = n_truth.select(
        F.lit("n_true_pairs").alias("metric"), F.col("n").cast("double").alias("value")
    )
    return _metric_rows(facts, contract)


@register(
    "simhash_completeness_bound",
    oracle=f"""
    WITH g AS (
      SELECT list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tset,
             count(*) AS n
      FROM documents GROUP BY 1
    )
    SELECT 'n_identical_tokenset_pairs' AS metric,
           CAST(coalesce(sum(CAST(n AS DOUBLE) * (n - 1) / 2), 0) AS DOUBLE) AS value FROM g WHERE n > 1
    UNION ALL SELECT 'all_identical_pairs_found', 1.0
    """,
)
def simhash_completeness_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup quality bound — SimHash completeness: documents with IDENTICAL
    distinct-token sets have identical 64-bit signatures, agree on every
    rotation block, and MUST therefore all be reported at Hamming distance
    0. DuckDB counts those pairs independently; the contract row is 1.0
    iff the block-rotation join surfaced every one of them."""
    docs = load_table(spark, sf_dir, "documents")
    tset = docs.select(
        F.col("doc_id").alias("id"),
        F.array_sort(F.array_distinct(TX.tokens(F.col("text")))).alias("tset"),
    )
    groups = tset.groupBy("tset").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    # one-row truth, referenced by the fact row and the contract row
    # SCALE.md §33: n is a dup-cluster size (unbounded at web scale);
    # the pair count feeds a double metric row → double-first product,
    # bit-identical below 2^53 and overflow-free above
    n_pairs = groups.select(
        F.coalesce(
            F.sum(F.col("n").cast("double") * (F.col("n") - 1) / 2), F.lit(0)
        ).alias("n")
    ).localCheckpoint(eager=True)
    found = (
        D.simhash_near_dups(docs, "text", "doc_id")
        .filter(F.col("hamming") == 0)
        .join(tset.select(F.col("id").alias("id_a"), F.col("tset").alias("ta")), on="id_a")
        .join(tset.select(F.col("id").alias("id_b"), F.col("tset").alias("tb")), on="id_b")
        .filter(F.col("ta") == F.col("tb"))
        .agg(F.count(F.lit(1)).alias("h"))
    )
    facts = n_pairs.select(
        F.lit("n_identical_tokenset_pairs").alias("metric"),
        F.col("n").cast("double").alias("value"),
    )
    contract = n_pairs.crossJoin(found).select(
        F.lit("all_identical_pairs_found").alias("metric"),
        F.when(F.col("h") >= F.col("n"), 1.0).otherwise(0.0).alias("value"),
    )
    return _metric_rows(facts, contract)


_ANN_TRUTH_SQL = """
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
      s AS (SELECT q.qid, e.vec_id AS nid,
                   list_cosine_similarity(q.qv, e.embedding) AS sim
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
"""


@register(
    "ann_lsh_recall_bound",
    oracle=f"""
    {_ANN_TRUTH_SQL}
    SELECT 'n_exact_topk_pairs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM r WHERE rn <= 5
    UNION ALL SELECT 'recall_ge_075', 1.0
    """,
)
def ann_lsh_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity quality bound — multi-table hyperplane-LSH recall@5
    against the engine's own brute-force top-5 (which itself hash-matches
    DuckDB, embedding_cosine_topk). DuckDB recomputes the exact top-k pair
    count independently (list_cosine_similarity window); the contract row
    is 1.0 iff LSH recall ≥ 0.75 (measured 0.89 at sf0.01, 16 tables × 4
    planes, fixed LCG seed — fully deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # exact feeds both the fact row and the recall join — checkpoint so the
    # brute-force pass runs once (k·|q| rows, tiny at any corpus scale)
    exact = (
        SIM.cosine_topk(emb, q)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    approx = SIM.cosine_topk_lsh(emb, q).select("query_id", "neighbor_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n"))
    hits = exact.join(approx, on=["query_id", "neighbor_id"]).agg(F.count(F.lit(1)).alias("h"))
    facts = n_exact.select(
        F.lit("n_exact_topk_pairs").alias("metric"), F.col("n").cast("double").alias("value")
    )
    contract = n_exact.crossJoin(hits).select(
        F.lit("recall_ge_075").alias("metric"),
        F.when(F.col("h") >= 0.75 * F.col("n"), 1.0).otherwise(0.0).alias("value"),
    )
    return _metric_rows(facts, contract)


@register(
    "ann_ivf_recall_bound",
    oracle=f"""
    {_ANN_TRUTH_SQL}
    SELECT 'n_exact_topk_pairs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM r WHERE rn <= 5
    UNION ALL SELECT 'recall_ge_070', 1.0
    """,
)
def ann_ivf_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity quality bound — IVF (spherical k-means, nprobe=8/16)
    recall@5 vs brute force. Contract floor 0.70 (measured 0.83 at sf0.01;
    near-uniform fixture vectors make recall ≈ probed-list fraction, the
    documented worst case — clustered real embeddings prune harder at the
    same recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # same double-reference as the LSH bound — one brute-force pass
    exact = (
        SIM.cosine_topk(emb, q)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    approx = SIM.cosine_topk_ivf(emb, q).select("query_id", "neighbor_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n"))
    hits = exact.join(approx, on=["query_id", "neighbor_id"]).agg(F.count(F.lit(1)).alias("h"))
    facts = n_exact.select(
        F.lit("n_exact_topk_pairs").alias("metric"), F.col("n").cast("double").alias("value")
    )
    contract = n_exact.crossJoin(hits).select(
        F.lit("recall_ge_070").alias("metric"),
        F.when(F.col("h") >= 0.70 * F.col("n"), 1.0).otherwise(0.0).alias("value"),
    )
    return _metric_rows(facts, contract)


@register(
    "ann_pq_distortion_bound",
    oracle="""
    SELECT 'n_scored_pairs' AS metric,
           CAST((SELECT count(*) FROM embeddings WHERE vec_id < 20)
                * ((SELECT count(*) FROM embeddings) - 1) AS DOUBLE) AS value
    UNION ALL SELECT 'max_rel_err_le_080', 1.0
    UNION ALL SELECT 'mean_rel_err_le_050', 1.0
    """,
)
def ann_pq_distortion_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity quality bound — the PQ codec's distance-distortion
    contract (companion to `ann_pq_topk`, same role as
    `ann_lsh_recall_bound`/`ann_ivf_recall_bound` for their paths).

    Recall is deliberately NOT the contract here: the fixture embeddings
    are near-uniform, so 64-dim pairwise distances concentrate and ANY
    lossy codec scrambles the (nearly tied) ranking — measured recall@5
    is ~0.1 while the same codec on clustered real embeddings ranks
    fine. What PQ actually promises is bounded distance distortion, so
    the contract bounds the relative ADC error |ad − d|/d over EVERY
    (query, corpus) pair: max ≤ 0.80, mean ≤ 0.50 (measured stable
    0.66/0.41 at sf0.001 AND sf0.01, m=4 × 8 codewords). The exact pair
    count is the oracle-checked fact row; the error measurement
    recomputes exact distances at verification scale by design
    (`minhash_recall_bound` discipline — the production operator stays
    compressed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    qq = q.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv")
    )
    cc = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("cv")
    )
    exact = cc.join(F.broadcast(qq), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", SIM._l2sq(F.col("qv"), F.col("cv")).alias("d")
    )
    approx = SIM.pq_topk(emb, q, k=2**31 - 1).select(
        "query_id", "neighbor_id", "approx_dist"
    )
    rel = exact.join(approx, on=["query_id", "neighbor_id"]).select(
        (
            F.abs(F.col("approx_dist") - F.col("d"))
            / F.greatest(F.col("d"), F.lit(1e-12))
        ).alias("rel")
    )
    stats = rel.agg(
        F.count(F.lit(1)).alias("n"), F.max("rel").alias("mx"), F.avg("rel").alias("mean")
    ).localCheckpoint(eager=True)
    return _metric_rows(
        stats.select(
            F.lit("n_scored_pairs").alias("metric"), F.col("n").cast("double").alias("value")
        ),
        stats.select(
            F.lit("max_rel_err_le_080").alias("metric"),
            F.when(F.col("mx") <= 0.80, 1.0).otherwise(0.0).alias("value"),
        ),
        stats.select(
            F.lit("mean_rel_err_le_050").alias("metric"),
            F.when(F.col("mean") <= 0.50, 1.0).otherwise(0.0).alias("value"),
        ),
    )


@register(
    "hll_error_bound",
    oracle="""
    SELECT 'n_groups' AS metric, CAST(count(DISTINCT event_type) AS DOUBLE) AS value FROM events
    UNION ALL
    SELECT 'total_exact_distinct',
           CAST(sum(n) AS DOUBLE) FROM (
             SELECT count(DISTINCT user_id) AS n FROM events GROUP BY event_type)
    UNION ALL SELECT 'max_rel_err_le_005', 1.0
    """,
)
def hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quality bound — merged per-day HLL estimates vs exact
    distinct counts per event_type. DuckDB recomputes the exact totals;
    the contract row is 1.0 iff every group's relative error ≤ 5% (the
    lgK=12 Datasketches RSE is ~0.8%, so this bound has wide margin;
    measured exact agreement at sf0.01/sf0.1 cardinalities)."""
    ev = load_table(spark, sf_dir, "events")
    daily = SK.hll_day_sketches(ev, "ts", ["event_type"], "user_id")
    est = SK.hll_merge_estimate(daily, ["event_type"])
    # referenced by two fact rows + the error join: one exact pass, not three
    exact = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .localCheckpoint(eager=True)
    )
    joined = est.join(exact, on="event_type")
    facts = _metric_rows(
        exact.agg(F.count(F.lit(1)).alias("v")).select(
            F.lit("n_groups").alias("metric"), F.col("v").cast("double").alias("value")
        ),
        exact.agg(F.sum("n").alias("v")).select(
            F.lit("total_exact_distinct").alias("metric"), F.col("v").cast("double").alias("value")
        ),
    )
    contract = joined.agg(
        F.max(F.abs(F.col("distinct_est") - F.col("n")) / F.col("n")).alias("err")
    ).select(
        F.lit("max_rel_err_le_005").alias("metric"),
        F.when(F.col("err") <= 0.05, 1.0).otherwise(0.0).alias("value"),
    )
    return _metric_rows(facts, contract)


@register("near_dup_clusters")  # hash-seeded LSH + iterative CC → rows-only; transitivity unit-tested
def near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — the composed end-to-end pipeline: MinHash-LSH candidates →
    exact Jaccard verification (candidates only) → connected components
    transitively close clusters → min-id canonical. The shape a 100 TB
    training-data dedup actually runs; every stage is the already-verified
    operator (minhash_lsh_dedup, ngram_jaccard_pairs,
    connected_components)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.near_dup_clusters(docs, "text", "doc_id")


def _minhash_band_sql(
    cands_pred: str = "a.doc_id < b.doc_id", docs: str = "documents"
) -> str:
    """Shared CTE body reproducing minhash_lsh_candidates in DuckDB: the
    portable md5-window shingle hash (operators/dedup.py:portable_hash),
    the LCG-derived affine minhashes (minhash_params — emitted here as
    integer literals), and the banded bucket join. ``cands_pred`` selects
    which banded pairs qualify — the default is the full-corpus sweep;
    the incremental query restricts to new-batch × index pairs. ``docs``
    names the corpus relation (the skew demo signs an augmented one).
    Exact, not modeled."""
    rpb = _MINHASH_HASHES // _MINHASH_BANDS
    mins = ",\n               ".join(
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % {D._MINHASH_P}))"
        for a, b in D.minhash_params(_MINHASH_HASHES)
    )
    band_vals = ", ".join(f"({i})" for i in range(_MINHASH_BANDS))
    return f"""
    sh AS ({_shingle_sql(docs)}),
    ph AS (
      SELECT doc_id,
             list_transform(s, s1 -> {_poly_sql('s1')}) AS h
      FROM sh
    ),
    sig AS (SELECT doc_id, [{mins}] AS sig FROM ph),
    banded AS (
      SELECT doc_id, b.band,
             array_to_string(sig[b.band * {rpb} + 1 : b.band * {rpb} + {rpb}], ',')
               AS band_sig
      FROM sig CROSS JOIN (VALUES {band_vals}) b(band)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND {cands_pred}
    )"""


# portable-hash MinHash made the LSH pipeline engine-reproducible: the two
# formerly rows-only dedup queries get EXACT oracles (assigned post-def
# because the shared shingle CTE is defined late in this module).
ORACLE_SQL["minhash_lsh_dedup"] = f"""
    WITH {_minhash_band_sql()}
    SELECT id_a, id_b FROM cands
    """

def _hex_window_sql(expr: str, off: int) -> str:
    """DuckDB replica of an 8-hex-digit md5 window parsed as a 32-bit
    integer (operators/dedup.py:_token_words) — the raw
    window, no mod, so all 32 bits stay usable as bit decisions."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split_regex(substr(md5({expr}), {off}, 8), ''), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        f"(acc, x) -> acc * 16 + x)"
    )


def _simhash_oracle_sql() -> str:
    """Reproduce simhash_near_dups in DuckDB: per distinct token the two
    32-bit md5 windows, 64 per-bit ±1 sums (unnest + GROUP BY — same
    explode-aggregate shape the Spark side runs), sign pack,
    block-rotation bucket join, Hamming verify. Bit semantics on negative
    BIGINTs (>>, &, xor, bit_count) verified identical."""
    bits, max_hamming = _SIMHASH_BITS, _SIMHASH_MAX_HAMMING
    terms = []
    for i in range(bits):
        w, sh = ("w1", i) if i < 32 else ("w2", i - 32)
        cnt = f"sum(CASE WHEN ({w} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END)"
        mask = str(1 << i) if i < bits - 1 else "-9223372036854775808"
        terms.append(f"CASE WHEN {cnt} > 0 THEN CAST({mask} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    sig_expr = "\n             + ".join(terms)  # sign-bit term last: partial sums stay in int64
    nblocks = max_hamming + 1
    block_bits = bits // nblocks
    blk_vals = ", ".join(f"({i})" for i in range(nblocks))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'))) AS t
      FROM documents
    ),
    words AS (
      SELECT doc_id, {_hex_window_sql('t', 1)} AS w1, {_hex_window_sql('t', 9)} AS w2
      FROM toks
    ),
    sig AS (SELECT doc_id, ({sig_expr}) AS sig FROM words GROUP BY doc_id),
    blocked AS (
      SELECT doc_id, sig, b.blk, (sig >> (b.blk * {block_bits})) & {(1 << block_bits) - 1} AS blk_val
      FROM sig CROSS JOIN (VALUES {blk_vals}) b(blk)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


ORACLE_SQL["simhash_near_dups"] = _simhash_oracle_sql()


def _portable_hll_oracle_sql() -> str:
    """Reproduce the portable-HLL pipeline in DuckDB: the same two-window
    md5 62-bit hash, register extraction, per-(type, day) sketch rows, max
    merge, and harmonic estimator with linear-counting correction. The
    alpha constant is computed with the SAME Python expression the Spark
    operator uses, so both engines parse the identical double literal."""
    p = _HLL_P
    m = 1 << p
    alpha_m2 = (0.7213 / (1 + 1.079 / m)) * m * m
    rho_max = 63 - p
    return f"""
    WITH h AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             ({_poly_sql("CAST(user_id AS VARCHAR)")} * 2147483648
              + {_poly_sql("CAST(user_id AS VARCHAR)", 131)}) AS h64
      FROM events
    ),
    reg AS (
      SELECT event_type, day, h64 & {m - 1} AS idx,
             max(CASE WHEN (h64 >> {p}) = 0 THEN {rho_max}
                      ELSE {rho_max} - length(bin(h64 >> {p})) END) AS r
      FROM h GROUP BY 1, 2, 3
    ),
    merged AS (SELECT event_type, idx, max(r) AS r FROM reg GROUP BY 1, 2),
    agg AS (
      SELECT event_type, count(*) AS c, sum(power(0.5, r)) AS s
      FROM merged GROUP BY 1
    )
    SELECT event_type,
           round(CASE WHEN {alpha_m2!r} / (({m} - c) + s) <= {2.5 * m!r} AND c < {m}
                      THEN {float(m)!r} * ln({float(m)!r} / ({m} - c))
                      ELSE {alpha_m2!r} / (({m} - c) + s) END, 4) AS distinct_est
    FROM agg
    """


ORACLE_SQL["hll_user_reach_portable"] = _portable_hll_oracle_sql()


# near_dup_clusters: candidates → token-Jaccard ≥ 0.6 verify → transitive
# closure (recursive CTE) → canonical = LEXICOGRAPHIC min id (the engine's
# connected_components works on string vertex ids).
ORACLE_SQL["near_dup_clusters"] = f"""
    WITH RECURSIVE {_minhash_band_sql()},
    toks AS (
      SELECT doc_id,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN toks a ON a.doc_id = c.id_a
      JOIN toks b ON b.doc_id = c.id_b
      WHERE len(list_intersect(a.t, b.t)) * 1.0
            / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= {D._NEAR_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL SELECT id_b, id_a FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, rid) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.rid
    )
    SELECT CAST(id AS VARCHAR) AS id,
           min(CAST(rid AS VARCHAR)) AS canonical_id,
           CAST(id AS VARCHAR) = min(CAST(rid AS VARCHAR)) AS is_canonical
    FROM reach GROUP BY id
    """


# ---------------------------------------------------------------------------
# Corpus-quality signals, PII scrubbing, Count-Min heavy hitters, Bloom
# pruning (round-3 additions; operators/quality.py, operators/sketches.py)
# ---------------------------------------------------------------------------


@register(
    "repetition_quality",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), tw AS (
      SELECT doc_id, max(cnt) * 1.0 / sum(cnt) AS twf FROM (
        SELECT doc_id, tok, count(*) AS cnt
        FROM (SELECT doc_id, unnest(w) AS tok FROM words) GROUP BY 1, 2
      ) GROUP BY 1
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN
               (len(w) - 1 - len(list_distinct(list_transform(
                  generate_series(1, len(w) - 1),
                  i -> array_to_string(w[i:i+1], ' ')))))
               * 1.0 / (len(w) - 1) ELSE 0.0 END AS d2,
             CASE WHEN len(w) >= 3 THEN
               (len(w) - 2 - len(list_distinct(list_transform(
                  generate_series(1, len(w) - 2),
                  i -> array_to_string(w[i:i+2], ' ')))))
               * 1.0 / (len(w) - 2) ELSE 0.0 END AS d3
      FROM words
    )
    SELECT doc_id, round(twf, 4) AS top_word_frac,
           round(d2, 4) AS dup_bigram_frac,
           round(d3, 4) AS dup_trigram_frac,
           (twf > 0.12 OR d2 > 0.06) AS flagged
    FROM tw JOIN g USING (doc_id)
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): fraction
    of tokens taken by the most frequent token, and fraction of word
    {2,3}-grams that repeat. The Spark side computes every signal per row
    in ONE higher-order-function pass with zero shuffle (the sorted-run
    trick, operators/quality.py) — the explode/groupBy formulation that
    shuffles O(total tokens) exists only in the DuckDB oracle. ``spread``
    first: the signals are CPU-heavy narrow work and the fixture is one
    parquet split."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    sig = docs.select(
        "doc_id",
        QL.top_word_fraction("text").alias("twf"),
        QL.dup_gram_fraction("text", 2).alias("d2"),
        QL.dup_gram_fraction("text", 3).alias("d3"),
    )
    return sig.select(
        "doc_id",
        r4(F.col("twf")).alias("top_word_frac"),
        r4(F.col("d2")).alias("dup_bigram_frac"),
        r4(F.col("d3")).alias("dup_trigram_frac"),
        ((F.col("twf") > 0.12) | (F.col("d2") > 0.06)).alias("flagged"),
    )


@register(
    "pii_scrub_audit",
    oracle="""
    WITH raw AS (
      SELECT c_custkey,
             concat_ws(' ', c_name, 'email:',
               concat(regexp_replace(lower(c_name), '[^a-z0-9]', '.', 'g'),
                      '@example.com'),
               'phone:',
               concat('+', CAST(c_custkey % 90 + 10 AS VARCHAR), '-',
                      lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), '-',
                      lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')),
               'card:', lpad(CAST(c_custkey AS VARCHAR), 16, '0'),
               c_mktsegment) AS contact
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(contact,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(contact,
             '[+][0-9]{2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(contact, '[0-9]{16}')) AS BIGINT)
             AS n_cards,
           regexp_replace(regexp_replace(regexp_replace(contact,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
             '[0-9]{16}', '[CARD]', 'g'),
             '[+][0-9]{2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS scrubbed
    FROM raw
    """,
)
def pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit — synthesize a deterministic contact blob per
    customer (name-derived email, +NN-NNN-NNNN phone, 16-digit card), then
    mask with the shared Java/RE2 regex subset and report per-row match
    counts (the shard audit log a scrubbing pipeline emits). Pure
    regexp_replace chains: narrow, codegen, zero shuffle at any scale."""
    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    contact = F.concat_ws(
        " ",
        F.col("c_name"),
        F.lit("email:"),
        F.concat(
            F.regexp_replace(F.lower("c_name"), "[^a-z0-9]", "."),
            F.lit("@example.com"),
        ),
        F.lit("phone:"),
        F.concat(
            F.lit("+"), (ck % 90 + 10).cast("string"), F.lit("-"),
            F.lpad((ck % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad((ck % 10000).cast("string"), 4, "0"),
        ),
        F.lit("card:"),
        F.lpad(ck.cast("string"), 16, "0"),
        F.col("c_mktsegment"),
    )
    raw = cust.select("c_custkey", contact.alias("contact"))
    n_em, n_ph, n_cd = QL.pii_counts("contact")
    return raw.select(
        "c_custkey",
        n_em.cast("bigint").alias("n_emails"),
        n_ph.cast("bigint").alias("n_phones"),
        n_cd.cast("bigint").alias("n_cards"),
        QL.pii_scrub("contact").alias("scrubbed"),
    )


# The Count-Min sketches the CMS queries share with their oracles:
# sketches._CMS_DEPTH rows of 256 counters from LCG seed 41 (heavy
# hitters, and q08's join-size estimate); the per-day user sketches use
# 64 counters from seed 53.
_CMS_WIDTH, _CMS_SEED = 256, 41
_CMS_DAY_WIDTH, _CMS_DAY_SEED = 64, 53


def _cms_oracle_sql() -> str:
    vals = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(D.minhash_params(_CMS_DEPTH, seed=_CMS_SEED))
    )
    return f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    exact AS (
      SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY 1
    ),
    h AS (SELECT token, exact_cnt, {_poly_sql('token')} AS hh FROM exact),
    rows_ AS (
      SELECT token, exact_cnt, j, ((a * hh + b) % {D._MINHASH_P}) % {_CMS_WIDTH} AS bucket
      FROM h CROSS JOIN (VALUES {vals}) t(j, a, b)
    ),
    cms AS (SELECT j, bucket, sum(exact_cnt) AS cnt FROM rows_ GROUP BY 1, 2),
    est AS (
      SELECT r.token, min(c.cnt) AS est_cnt
      FROM rows_ r JOIN cms c USING (j, bucket) GROUP BY 1
    )
    SELECT e.token, e.exact_cnt, CAST(est.est_cnt AS BIGINT) AS est_cnt,
           CAST(est.est_cnt - e.exact_cnt AS BIGINT) AS overcount
    FROM exact e JOIN est USING (token)
    ORDER BY e.exact_cnt DESC, e.token LIMIT 20
    """


@register("cms_heavy_hitters", oracle=_cms_oracle_sql())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the document token stream: top-20
    tokens by exact count with their CMS estimates and overcount. The
    sketch (4×256 counters) is built from the pre-aggregated exact counts
    — identical to per-occurrence increments, but the portable hash runs
    once per DISTINCT token and the occurrence collapse happens in the
    exact groupBy's map-side combine. At 100 TB the sketch table is the
    only thing that merges across shards (sum per (j,bucket)); the
    estimate ≥ exact always, ≤ exact + e/width·N w.p. 1−e^−depth —
    deterministic given the portable hash, so DuckDB reproduces every
    counter exactly."""
    docs = spread(load_table(spark, sf_dir, "documents"))  # 1-split fixture:
    # the explode + map-side combine is the heavy narrow stage
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    # Reused twice (sketch build + probe): materialize so the token
    # groupBy and the portable-hash stage execute once.
    exact = spread(exact).localCheckpoint()
    cms = SK.count_min_table(exact, "token", "exact_cnt", width=_CMS_WIDTH, seed=_CMS_SEED)
    est = SK.count_min_lookup(
        cms, exact.select("token"), "token", width=_CMS_WIDTH, seed=_CMS_SEED
    )
    return (
        exact.join(est, on="token")
        .select(
            "token",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(20)
    )


def _cms_day_merge_oracle_sql() -> str:
    vals = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(D.minhash_params(_CMS_DEPTH, seed=_CMS_DAY_SEED))
    )
    return f"""
    WITH items AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(user_id AS VARCHAR) AS item
      FROM events
    ),
    daily AS (
      SELECT day, item, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1, 2
    ),
    h AS (
      SELECT item, {_poly_sql('item')} AS hh
      FROM (SELECT DISTINCT item FROM daily)
    ),
    cells AS (
      SELECT d.day, t.j, ((t.a * h.hh + t.b) % {D._MINHASH_P}) % {_CMS_DAY_WIDTH} AS bucket,
             sum(d.n) AS cnt
      FROM daily d JOIN h USING (item) CROSS JOIN (VALUES {vals}) t(j, a, b)
      GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT j, bucket, sum(cnt) AS cnt
      FROM cells WHERE day <= '2024-01-15' GROUP BY 1, 2
    ),
    exact AS (
      SELECT item, sum(n) AS exact_cnt
      FROM daily WHERE day <= '2024-01-15' GROUP BY 1
    ),
    est AS (
      SELECT e.item, min(m.cnt) AS est_cnt
      FROM exact e JOIN h USING (item)
      CROSS JOIN (VALUES {vals}) t(j, a, b)
      JOIN merged m
        ON m.j = t.j AND m.bucket = ((t.a * h.hh + t.b) % {D._MINHASH_P}) % {_CMS_DAY_WIDTH}
      GROUP BY 1
    )
    SELECT CAST(e.item AS BIGINT) AS user_id,
           CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(s.est_cnt AS BIGINT) AS est_cnt,
           CAST(s.est_cnt - e.exact_cnt AS BIGINT) AS overcount
    FROM exact e JOIN est s USING (item)
    ORDER BY exact_cnt DESC, user_id LIMIT 10
    """


@register("cms_day_merge", oracle=_cms_day_merge_oracle_sql())
def cms_day_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch re-aggregation as a driver-visible row set: one Count-Min
    sketch per DAY over user activity, merged across a date range by
    summing cells, then the top-10 users by exact range count with the
    merged-sketch estimate. This is the ingest-once/re-rollup-forever
    shape (the CMS counterpart of ``hll_user_reach_portable``): a date
    range rollup touches O(days × depth × width) sketch rows, never the
    raw events. Width 64 against ~150 users forces real collisions, so
    overcount > 0 rows demonstrate the estimate-≥-exact contract rather
    than degenerate equality."""
    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.col("user_id").cast("string").alias("item"),
    )
    daily = (
        items.groupBy("day", "item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()  # feeds the sketch build AND the exact rollup
    )
    cms_daily = SK.count_min_table(
        daily, "item", "n", width=_CMS_DAY_WIDTH, seed=_CMS_DAY_SEED, keys=["day"]
    )
    merged = SK.count_min_merge(cms_daily.filter(F.col("day") <= "2024-01-15"))
    exact = (
        daily.filter(F.col("day") <= "2024-01-15")
        .groupBy("item")
        .agg(F.sum("n").cast("bigint").alias("exact_cnt"))
    )
    est = SK.count_min_lookup(
        merged, exact.select("item"), "item", width=_CMS_DAY_WIDTH, seed=_CMS_DAY_SEED
    )
    return (
        exact.join(est, on="item")
        .select(
            F.col("item").cast("bigint").alias("user_id"),
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(10)
    )


def _kmv_oracle_sql() -> str:
    k = _KMV_K
    hash_range = float(D._MINHASH_P * 2**31)
    (a1, b1), (a2, b2) = D.minhash_params(2, seed=_HASH64_SEED)
    return f"""
    WITH du AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS item FROM events
    ),
    hs AS (
      SELECT DISTINCT event_type,
             ((({a1} * {_poly_sql('item')} + {b1}) % {D._MINHASH_P}) * 2147483648
              + ({a2} * {_poly_sql('item', 131)} + {b2}) % {D._MINHASH_P}) AS h
      FROM du
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hs
    ),
    sk AS (
      SELECT event_type,
             list_sort(list(h) FILTER (rn <= {k})) AS sample
      FROM r GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.sample AS sa, b.sample AS sb,
             list_sort(list_distinct(list_concat(a.sample, b.sample))) AS mall
      FROM sk a JOIN sk b ON a.event_type < b.event_type
    ),
    est AS (
      SELECT type_a, type_b,
             CASE WHEN len(mall) >= {k}
                  THEN {k - 1} * {hash_range!r} / mall[{k}]
                  ELSE CAST(len(mall) AS DOUBLE) END AS union_est,
             len(list_intersect(list_intersect(mall[1:{k}], sa), sb)) * 1.0
               / least(len(mall), {k}) AS jac
      FROM pairs
    ),
    ex AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS exact_intersection
      FROM du a JOIN du b ON a.item = b.item AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    n AS (SELECT event_type, count(*) AS nd FROM du GROUP BY 1)
    SELECT e.type_a, e.type_b,
           CAST(na.nd + nb.nd - x.exact_intersection AS BIGINT) AS exact_union,
           CAST(x.exact_intersection AS BIGINT) AS exact_intersection,
           round(e.union_est, 4) AS union_est,
           round(e.jac * e.union_est, 4) AS intersection_est
    FROM est e
    JOIN ex x ON x.type_a = e.type_a AND x.type_b = e.type_b
    JOIN n na ON na.event_type = e.type_a
    JOIN n nb ON nb.event_type = e.type_b
    """


@register("kmv_audience_overlap", oracle=_kmv_oracle_sql())
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch set algebra: per-event-type audience
    sketches (k smallest 62-bit portable hashes of the distinct user set),
    then UNION and INTERSECTION distinct estimates for every type pair —
    the overlap question HLL sketches cannot answer (no intersection
    merge). Ground-truth exact union/intersection ride along for the
    contract. Build: one distinct shuffle on (type, user) + a k-bounded
    window per type; pair estimation is O(k log k) array math on
    sketch-sized rows. Estimators are Beyer et al. 2007; with fewer than
    k distinct hashes the merged sample is the exact set (the sf0.001
    fixture exercises that regime, sf0.01+ the estimating one)."""
    ev = load_table(spark, sf_dir, "events")
    sk = SK.kmv_sketches(ev, "event_type", "user_id").localCheckpoint()
    a, b = sk.alias("a"), sk.alias("b")
    pairs = (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.sample").alias("sa"),
            F.col("b.sample").alias("sb"),
        )
    )
    est = SK.kmv_union_intersection(pairs, "sa", "sb")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    xa, xb = du.alias("xa"), du.alias("xb")
    ex = (
        xa.join(
            xb,
            (F.col("xa.user_id") == F.col("xb.user_id"))
            & (F.col("xa.event_type") < F.col("xb.event_type")),
        )
        .groupBy(
            F.col("xa.event_type").alias("type_a"),
            F.col("xb.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    n = du.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    return (
        est.join(ex, on=["type_a", "type_b"])
        .join(n.withColumnRenamed("event_type", "type_a").withColumnRenamed("nd", "na"), on="type_a")
        .join(n.withColumnRenamed("event_type", "type_b").withColumnRenamed("nd", "nb"), on="type_b")
        .select(
            "type_a",
            "type_b",
            (F.col("na") + F.col("nb") - F.col("exact_intersection"))
            .cast("bigint")
            .alias("exact_union"),
            "exact_intersection",
            r4(F.col("union_est")).alias("union_est"),
            r4(F.col("intersection_est")).alias("intersection_est"),
        )
    )


def _kmv_ngram_oracle_sql() -> str:
    k = _KMV_K
    hash_range = float(D._MINHASH_P * 2**31)
    (a1, b1), (a2, b2) = D.minhash_params(2, seed=_HASH64_SEED)
    return f"""
    WITH words AS (
      SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT DISTINCT source, gram FROM (
        SELECT source,
               unnest(list_transform(range(0, greatest(len(w) - 2, 0)),
                                     i -> array_to_string(w[i+1:i+3], ' '))) AS gram
        FROM words
      )
    ),
    hs AS (
      SELECT DISTINCT source,
             ((({a1} * {_poly_sql('gram')} + {b1}) % {D._MINHASH_P}) * 2147483648
              + ({a2} * {_poly_sql('gram', 131)} + {b2}) % {D._MINHASH_P}) AS h
      FROM g
    ),
    r AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hs
    ),
    sk AS (
      SELECT source, list_sort(list(h) FILTER (rn <= {k})) AS sample
      FROM r GROUP BY 1
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.sample AS sa, b.sample AS sb,
             list_sort(list_distinct(list_concat(a.sample, b.sample))) AS mall
      FROM sk a JOIN sk b ON a.source < b.source
    ),
    est AS (
      SELECT source_a, source_b,
             CASE WHEN len(mall) >= {k}
                  THEN {k - 1} * {hash_range!r} / mall[{k}]
                  ELSE CAST(len(mall) AS DOUBLE) END AS union_est,
             len(list_intersect(list_intersect(mall[1:{k}], sa), sb)) * 1.0
               / least(len(mall), {k}) AS jac
      FROM pairs
    ),
    ex AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS exact_intersection
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    ),
    n AS (SELECT source, count(*) AS nd FROM g GROUP BY 1)
    SELECT e.source_a, e.source_b,
           CAST(na.nd + nb.nd - coalesce(x.exact_intersection, 0) AS BIGINT)
             AS exact_union,
           CAST(coalesce(x.exact_intersection, 0) AS BIGINT)
             AS exact_intersection,
           round(e.union_est, 4) AS union_est,
           round(e.jac * e.union_est, 4) AS intersection_est
    FROM est e
    LEFT JOIN ex x ON x.source_a = e.source_a AND x.source_b = e.source_b
    JOIN n na ON na.source = e.source_a
    JOIN n nb ON nb.source = e.source_b
    """


@register("kmv_source_ngram_overlap", oracle=_kmv_ngram_oracle_sql())
def kmv_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap via KMV sketches: one k-minimum-values sketch per
    SOURCE over its distinct word-trigram set, then pairwise union and
    INTERSECTION distinct estimates with exact ground truth — the
    cross-source contamination signal a mixture pipeline checks before
    blending feeds (two feeds with high n-gram overlap double-count
    content). Sketch build: one distinct shuffle on (source, gram),
    k-bounded window per source; every pair estimate afterwards is
    O(k log k) on 20 sketch rows — the raw gram sets are never joined
    pairwise (the exact columns here do join them, but they are the
    oracle contract, not the production path). Resolution caveat, by
    design: intersections smaller than union/k are below the sketch's
    floor and estimate to 0 (measured: union rel-err 15% mean at k=32;
    the 2.6%-overlap fixture pairs read 0) — raise k, or use the exact
    `benchmark_decontamination` path, when small overlaps matter."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "source", F.explode(TX.word_ngrams(F.col("text"), 3)).alias("gram")
    )
    sk = SK.kmv_sketches(grams, "source", "gram").localCheckpoint()
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.sample").alias("sa"),
        F.col("b.sample").alias("sb"),
    )
    est = SK.kmv_union_intersection(pairs, "sa", "sb")
    du = grams.distinct().localCheckpoint()
    xa, xb = du.alias("xa"), du.alias("xb")
    ex = (
        xa.join(
            xb,
            (F.col("xa.gram") == F.col("xb.gram"))
            & (F.col("xa.source") < F.col("xb.source")),
        )
        .groupBy(
            F.col("xa.source").alias("source_a"),
            F.col("xb.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    n = du.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    return (
        est.join(ex, on=["source_a", "source_b"], how="left")
        .join(n.withColumnRenamed("source", "source_a").withColumnRenamed("nd", "na"), on="source_a")
        .join(n.withColumnRenamed("source", "source_b").withColumnRenamed("nd", "nb"), on="source_b")
        .select(
            "source_a",
            "source_b",
            (F.col("na") + F.col("nb") - F.coalesce("exact_intersection", F.lit(0)))
            .cast("bigint")
            .alias("exact_union"),
            F.coalesce("exact_intersection", F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
            r4(F.col("union_est")).alias("union_est"),
            r4(F.col("intersection_est")).alias("intersection_est"),
        )
    )


def _bloom_oracle_sql() -> str:
    vals = ", ".join(f"({a}, {b})" for a, b in D.minhash_params(_BLOOM_K, seed=_BLOOM_SEED))
    return f"""
    WITH bkeys AS (
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS key
      FROM part WHERE p_size <= 2
    ),
    bh AS (SELECT key, {_poly_sql('key')} AS hh FROM bkeys),
    bbits AS (
      SELECT DISTINCT ((a * hh + b) % {D._MINHASH_P}) % {_BLOOM_M} AS bit
      FROM bh CROSS JOIN (VALUES {vals}) t(a, b)
    ),
    pk AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS key FROM lineitem),
    ph AS (SELECT key, {_poly_sql('key')} AS hh FROM pk),
    probe AS (
      SELECT key,
             bool_and(((a * hh + b) % {D._MINHASH_P}) % {_BLOOM_M} IN (SELECT bit FROM bbits))
               AS bloom_pass
      FROM ph CROSS JOIN (VALUES {vals}) t(a, b)
      GROUP BY key
    )
    SELECT CAST(p.key AS BIGINT) AS partkey, p.bloom_pass,
           (p.key IN (SELECT key FROM bkeys)) AS true_match
    FROM probe p
    """


@register("bloom_semi_prune", oracle=_bloom_oracle_sql())
def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning: the distinct fact keys (lineitem
    partkeys) probed against a 4096-bit/3-hash Bloom filter of the small
    build side (parts with p_size ≤ 2), with ground truth attached. The
    filter densifies to an m-length 0/1 array in a one-row DataFrame and
    rides a broadcast cross join; each probe is k O(1) element_at calls —
    a narrow map, no shuffle, no join for non-matching keys (the shape of
    Spark's own runtime bloom-filter join, expressed portably so the
    oracle reproduces every bit). No false negatives by construction;
    false positives show as bloom_pass ∧ ¬true_match."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 2)
        .select(F.col("p_partkey").cast("string").alias("key"))
        .distinct()
    )
    bits = SK.bloom_bits(part, "key")
    keys = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").cast("string").alias("key"))
        .distinct()
    )
    probed = SK.bloom_contains(spread(keys), "key", bits)
    truth = part.withColumn("_t", F.lit(1))
    return (
        probed.join(dim_hint(truth, bounded=False), on="key", how="left")
        .select(
            F.col("key").cast("bigint").alias("partkey"),
            "bloom_pass",
            F.col("_t").isNotNull().alias("true_match"),
        )
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT token, count(DISTINCT source) AS df FROM tf GROUP BY 1
    ),
    ns AS (SELECT count(DISTINCT source) AS n_sources FROM tf),
    scored AS (
      SELECT t.source, t.token, t.tf,
             t.tf * ln((ns.n_sources + 1.0) / (d.df + 1.0)) AS score
      FROM tf t JOIN df d USING (token) CROSS JOIN ns
    ),
    ranked AS (
      SELECT source, token, tf, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, token) AS rn
      FROM scored
    )
    SELECT source, CAST(rn AS BIGINT) AS rn, token, tf,
           round(score, 4) AS tfidf
    FROM ranked WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per source — the standard corpus-characterization
    pass (what distinguishes each feed in a mixed crawl). Two shuffles:
    (source, token) term frequencies with map-side combine, then the
    smoothed document-frequency table — VOCABULARY-sized, ≪ corpus — joins
    back broadcast. The per-source top-k window partitions by source, so
    no global sort ever happens. Smoothing ln((S+1)/(df+1)) keeps the
    math closed-form for the oracle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    tf = tf.localCheckpoint()  # feeds df-counts, the scalar source count,
    # and the score join — three consumers, one execution
    df = tf.groupBy("token").agg(F.countDistinct("source").alias("df"))
    n_sources = tf.select("source").distinct().count()
    scored = tf.join(dim_hint(df, bounded=False), on="token").select(
        "source",
        "token",
        "tf",
        (F.col("tf") * F.log((n_sources + 1.0) / (F.col("df") + 1.0))).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "source",
            F.col("rn").cast("bigint").alias("rn"),
            "token",
            "tf",
            r4(F.col("score")).alias("tfidf"),
        )
    )


@register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    open orders ⋈ not-yet-shipped lineitems, revenue top-10. All three
    predicates push into the parquet scans; the filtered customer key set
    joins first (AQE picks broadcast at dimension scale, shuffle join
    when the segment slice outgrows the threshold — no hint, stats are
    present on unrepartitioned scans), and the aggregation is map-side
    combined on l_orderkey. Top-10 via revenue with l_orderkey tiebreak —
    deterministic under LIMIT."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(o_totalprice, 4) AS o_totalprice,
           round(qty, 4) AS qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds a threshold, with their customers. The
    HAVING aggregation reduces lineitem to a small qualifying-order set
    BEFORE any join — the classic aggregate-then-join inversion; the
    qualified side then rides broadcast into orders and customer, so the
    two big tables are each scanned once and never shuffled against each
    other."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(dim_hint(big, bounded=False), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            r4(F.col("o_totalprice")).alias("o_totalprice"),
            r4(F.col("qty")).alias("qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
    ),
    ranked AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rn,
             sum(cnt) OVER (ORDER BY cnt DESC, token
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS total
      FROM counts
    )
    SELECT CAST(rn AS BIGINT) AS rn, token, cnt,
           round(cum * 1.0 / total, 4) AS coverage
    FROM ranked WHERE rn IN (1, 5, 10, 25, 50, 100)
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf vocabulary-coverage curve: what fraction of all token
    occurrences the top-N vocabulary covers (the tokenizer-budget planning
    number).

    NO global window anywhere (a web-scale corpus has 10⁸-10⁹ distinct
    tokens; round 3's global rank/cumsum sorted them on one core): the
    global rank AND the running token mass both come from the shared
    two-level prefix sum (`aggregates.with_global_rank` with a cumsum
    column — range partition + pid-partitioned windows + broadcast
    per-partition offsets)."""
    ranks = [1, 5, 10, 25, 50, 100]
    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # materialize the corpus-sized explode+count ONCE; the ranked
        # rows, the offsets and the total recompute only vocabulary-sized
        # stages from here. Checkpointing above the window keeps the
        # Window node visible to the plan test.
        .localCheckpoint()
    )
    ranked = A.with_global_rank(
        counts, [F.desc("cnt"), F.asc("token")], rank_col="rn", cumsum_cols={"cum": "cnt"}
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        ranked.filter(F.col("rn").isin(ranks))
        .crossJoin(F.broadcast(total))
        .select(
            "rn",
            "token",
            "cnt",
            r4(F.col("cum") / F.col("total")).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 additions: exact-substring span detection, RAG chunking,
# embedding diversity, SemDeDup semantic dedup, tokenizer fertility,
# incremental (batch-vs-index) LSH dedup
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the classic 6-way
    star-schema join — fact⋈fact on orderkey, the customer=supplier
    same-nation condition folded into the supplier join, and the
    region/nation dimension chain broadcast. Date range pushes into the
    orders scan; Catalyst orders the joins from the filtered dimensions
    inward. The canonical multi-way join-planning stress for an OLAP
    engine."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "order_value_deciles",
    oracle="""
    WITH totals AS (
      SELECT o_orderkey, o_custkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS total_u
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    dec AS (
      SELECT ntile(10) OVER (ORDER BY total_u DESC, o_orderkey) AS decile,
             total_u
      FROM totals
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(total_u) / 10000.0, 4) AS decile_revenue,
           round(min(total_u) / 10000.0, 4) AS min_total,
           round(max(total_u) / 10000.0, 4) AS max_total
    FROM dec GROUP BY decile
    """,
)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth — revenue deciles of order totals (exact
    ANSI ``ntile(10)`` semantics): the top-decile concentration report.
    NO global window: the global rank comes from the reusable two-level
    prefix sum (``with_global_rank`` — range partition + pid-local
    row_number + broadcast offsets, the vocab_coverage rewrite factored
    for reuse) and the tile id from closed-form arithmetic over
    (rank, n) (``ntile_of``). Billions of orders rank as #partitions
    parallel sorts. Deterministic tiebreak on o_orderkey; the oracle
    runs DuckDB's real ntile window — matching it pins the arithmetic
    to exact ANSI tile assignment."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    totals = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        # exact 4dp units: the RANKING KEY itself must be integer — a
        # float per-order total is 1-ulp order-unstable across engines,
        # which can move an order across a decile boundary (r10
        # magnitude audit; the revenue sums were also 6e9-magnitude)
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 10000
                ).cast("bigint")
            ).alias("total_u")
        )
        .localCheckpoint()  # ranked rows + the count scalar share one materialization
    )
    ranked = A.with_global_rank(totals, [F.desc("total_u"), F.asc("o_orderkey")])
    n_total = totals.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn("decile", A.ntile_of(F.col("rank"), F.col("_n"), 10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            r4(F.sum("total_u") / 10000.0).alias("decile_revenue"),
            r4(F.min("total_u") / 10000.0).alias("min_total"),
            r4(F.max("total_u") / 10000.0).alias("max_total"),
        )
        .select(F.col("decile").cast("bigint").alias("decile"),
                "n_orders", "decile_revenue", "min_total", "max_total")
    )


