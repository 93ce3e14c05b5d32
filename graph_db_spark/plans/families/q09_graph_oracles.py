"""Registers 25 queries:

  hyperanf_neighborhood, landmark_distance_oracle, betweenness_landmarks
  random_walk_sampling, hierarchy_subtree_rollup, kcenter_coreset
  geo_grid_distance_join, gini_concentration, benford_first_digit
  cramers_v_association, anova_f_oneway, kruskal_wallis_test
  ams_f2_moment, stl_seasonal_decompose, mase_forecast_accuracy
  cross_correlation_lead_lag, ols_normal_equations, naive_bayes_token_screen
  knn_loo_label_eval, mutual_nearest_pairs, embedding_centroid_drift
  dp_noisy_source_counts, source_js_divergence, curriculum_phase_assign
  quantile_normalize_lengths
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.graph.algorithms import (
    _BRANDES_DEPTH, brandes_betweenness, deterministic_walks, prepartition_for_rounds,
    shortest_paths,
)
from graph_db_spark.graph.build import trade_edges, trade_edges_sql
from graph_db_spark.operators import similarity as SIM
from graph_db_spark.operators.similarity import _KCENTER_K
from graph_db_spark.operators.aggregates import with_global_rank
from graph_db_spark.operators.dedup import _MINHASH_P, minhash_params, portable_hash
from graph_db_spark.operators.hierarchy import subtree_rollup
from graph_db_spark.operators.joins import grid_distance_join
from graph_db_spark.plans.families.q00_base import _poly_sql, r4, register
from graph_db_spark.plans.families.q01_relational_pipeline import _pq_d2
from graph_db_spark.tables import load_table


# HyperANF's per-node HLL precision (2^4 = 16 registers) and propagation
# rounds, shared by the Spark run and the oracle, with the register count,
# estimator constant and rank bound both sides derive from them.
_ANF_P, _ANF_ROUNDS = 4, 3
_ANF_M = 1 << _ANF_P
_ANF_ALPHA_M2 = (0.7213 / (1 + 1.079 / _ANF_M)) * _ANF_M * _ANF_M
_ANF_RHO_MAX = 63 - _ANF_P


def _hyperanf_sql() -> str:
    """DuckDB replay of the HyperANF register propagation: same 62-bit
    portable hash → (idx, rho) initial registers, same per-round
    (edge-join + max-merge), same per-node HLL estimator (identical
    alpha literal via repr), rounded per node BEFORE the global sum so
    fold-order ulps can't reach the emitted value."""
    p, m, alpha_m2, rho_max = _ANF_P, _ANF_M, _ANF_ALPHA_M2, _ANF_RHO_MAX
    parts = [
        "WITH " + trade_edges_sql(),
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e)",
        f"h AS MATERIALIZED (SELECT id,"
        f" ({_poly_sql('id')} * 2147483648 + {_poly_sql('id', 131)}) AS h64"
        f" FROM nodes)",
        f"reg0 AS MATERIALIZED (SELECT id, h64 & {m - 1} AS idx,"
        f" CASE WHEN (h64 >> {p}) = 0 THEN {rho_max}"
        f" ELSE {rho_max} - length(bin(h64 >> {p})) END AS r FROM h)",
    ]
    for t in range(1, _ANF_ROUNDS + 1):
        parts.append(
            f"reg{t} AS MATERIALIZED (SELECT id, idx, max(r) AS r FROM ("
            f"SELECT id, idx, r FROM reg{t - 1}"
            f" UNION ALL"
            f" SELECT e.dst AS id, g.idx, g.r FROM reg{t - 1} g"
            f" JOIN e ON e.src = g.id) GROUP BY 1, 2)"
        )
    est = (
        f"CASE WHEN {alpha_m2!r} / (({m} - c) + s) <= {2.5 * m!r} AND c < {m}"
        f" THEN {float(m)!r} * ln({float(m)!r} / ({m} - c))"
        f" ELSE {alpha_m2!r} / (({m} - c) + s) END"
    )
    sels = []
    for t in range(_ANF_ROUNDS + 1):
        sels.append(
            f"SELECT CAST({t} AS BIGINT) AS t,"
            f" round(sum(round({est}, 4)), 4) + 0.0 AS neighborhood_fn FROM ("
            f"SELECT id, count(*) AS c, sum(power(0.5, r)) AS s"
            f" FROM reg{t} GROUP BY 1)"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sels)


@register("hyperanf_neighborhood", oracle=_hyperanf_sql())
def hyperanf_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF (Boldi-Rosa-Vigna, WWW'11): the graph's neighborhood
    function N(t) = Σ_v |ball(v, t)| estimated by propagating per-node
    HLL registers along edges — each round is ONE edge join + ONE
    (node, idx) max-merge, so the whole distance distribution (and the
    effective diameter read off it) costs rounds × O(E·m) narrow rows
    instead of all-pairs BFS: THE way ball sizes are measured on
    100 TB graphs. Registers here are sketch ROWS (the portable-HLL
    form, sketches.py:portable_hll_registers) so DuckDB replays them
    exactly; m=16 keeps the fixture fan-out small (rsd ~26% — accuracy
    is the paper's concern, the oracle checks the COMPUTATION)."""
    p, m, alpha_m2, rho_max = _ANF_P, _ANF_M, _ANF_ALPHA_M2, _ANF_RHO_MAX
    e = prepartition_for_rounds(
        trade_edges(spark, sf_dir), spark.sparkContext.defaultParallelism, "src"
    )
    nodes = e.select(F.col("src").alias("id")).distinct()
    h64 = portable_hash(F.col("id"), 31) * F.lit(2**31).cast("long") + portable_hash(
        F.col("id"), 131
    )
    w = F.shiftright(h64, p)
    rho = F.when(w == 0, F.lit(rho_max)).otherwise(F.lit(rho_max) - F.length(F.bin(w)))
    regs = nodes.select(
        "id", h64.bitwiseAND(F.lit(m - 1)).alias("idx"), rho.alias("r")
    ).localCheckpoint(eager=True)
    per_round = [regs]
    for _ in range(_ANF_ROUNDS):
        prev = per_round[-1]
        grown = (
            prev.join(e, prev["id"] == e["src"])
            .select(F.col("dst").alias("id"), "idx", "r")
            .unionByName(prev.select("id", "idx", "r"))
            .groupBy("id", "idx")
            .agg(F.max("r").alias("r"))
            .localCheckpoint(eager=True)
        )
        per_round.append(grown)
    zeros_c = F.lit(m) - F.col("c")
    raw = F.lit(alpha_m2) / (zeros_c + F.col("s"))
    est = F.when(
        (raw <= 2.5 * m) & (F.col("c") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros_c),
    ).otherwise(raw)
    out = []
    for t, rg in enumerate(per_round):
        per_node = rg.groupBy("id").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.pow(F.lit(0.5), F.col("r"))).alias("s"),
        )
        out.append(
            per_node.agg(
                r4(F.sum(F.round(est, 4))).alias("neighborhood_fn")
            ).select(F.lit(t).cast("bigint").alias("t"), "neighborhood_fn")
        )
    res = out[0]
    for fr in out[1:]:
        res = res.unionByName(fr)
    return res


# BFS depth of the landmark distance oracle, shared with its replay.
_LANDMARK_DEPTH = 8


def _distoracle_sql() -> str:
    """DuckDB replay of the landmark distance oracle: multi-source BFS
    (both the 5 landmarks and the 8 sample endpoints as sources)
    unrolled ``_LANDMARK_DEPTH`` levels — the same settle-once frontier the Spark
    shortest_paths loop runs, truncated identically — then the
    triangle-inequality sandwich per sample pair."""
    parts = [
        "WITH " + trade_edges_sql(),
        "lmk AS MATERIALIZED (SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS id"
        " FROM customer WHERE c_custkey IN (20, 40)"
        " UNION ALL SELECT 'S:' || CAST(s_suppkey AS VARCHAR)"
        " FROM supplier WHERE s_suppkey IN (1, 5, 9))",
        "smp AS MATERIALIZED (SELECT DISTINCT 'C:' || CAST(o_custkey AS VARCHAR) AS id"
        " FROM orders WHERE o_custkey <= 8)",
        "d0 AS MATERIALIZED (SELECT id AS landmark, id, 0 AS dist FROM lmk"
        " UNION SELECT id, id, 0 FROM smp)",
    ]
    depth = _LANDMARK_DEPTH
    for t in range(1, depth + 1):
        parts.append(
            f"g{t} AS MATERIALIZED (SELECT c.landmark, c.id, {t} AS dist FROM ("
            f"SELECT DISTINCT d.landmark, e.dst AS id"
            f" FROM d{t - 1} d JOIN e ON e.src = d.id WHERE d.dist = {t - 1}) c"
            f" WHERE NOT EXISTS (SELECT 1 FROM d{t - 1} s"
            f" WHERE s.landmark = c.landmark AND s.id = c.id))"
        )
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT * FROM d{t - 1}"
            f" UNION ALL SELECT * FROM g{t})"
        )
    parts.append(
        f"""pairs AS (
      SELECT a.id AS u, b.id AS v FROM smp a JOIN smp b ON a.id < b.id
    ),
    bounds AS (
      SELECT p.u, p.v,
             min(du.dist + dv.dist) AS ub,
             max(abs(du.dist - dv.dist)) AS lb
      FROM pairs p
      JOIN d{depth} du ON du.id = p.u JOIN lmk ON du.landmark = lmk.id
      JOIN d{depth} dv ON dv.id = p.v AND dv.landmark = du.landmark
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT d.landmark AS u, d.id AS v, d.dist FROM d{depth} d
      JOIN smp s1 ON d.landmark = s1.id JOIN smp s2 ON d.id = s2.id
    )
    SELECT b.u, b.v, CAST(x.dist AS BIGINT) AS exact_dist,
           CAST(b.lb AS BIGINT) AS lower_bound, CAST(b.ub AS BIGINT) AS upper_bound,
           CAST(CASE WHEN b.lb <= x.dist AND x.dist <= b.ub THEN 1 ELSE 0 END
                AS BIGINT) AS sandwich_ok
    FROM bounds b JOIN exact x ON x.u = b.u AND x.v = b.v"""
    )
    return ",\n".join(parts)


@register("landmark_distance_oracle", oracle=_distoracle_sql())
def landmark_distance_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance oracle (Bourgain-style landmark embedding): precompute
    BFS distances from 5 landmarks, then answer ANY pairwise distance
    query with the triangle-inequality sandwich
    max_l |d(l,u)−d(l,v)| <= d(u,v) <= min_l d(l,u)+d(l,v) — O(k) per
    query instead of a BFS, THE practical point-to-point distance
    answerer on a 100 TB graph (the landmark table is the only state).
    The sample endpoints double as BFS sources so the exact distance is
    available for the sandwich check — emitted per pair as a flag.
    Shares graph/algorithms.py:shortest_paths (one multi-source frontier
    run, both landmark sets together)."""
    e = trade_edges(spark, sf_dir)
    lmk = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isin(20, 40)
    ).select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("id")
    ).unionByName(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey").isin(1, 5, 9))
        .select(F.concat(F.lit("S:"), F.col("s_suppkey").cast("string")).alias("id"))
    )
    smp = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 8)
        .select(F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("id"))
        .distinct()
    )
    dist = shortest_paths(
        e, lmk.unionByName(smp), max_iter=_LANDMARK_DEPTH
    ).localCheckpoint(eager=True)
    pairs = (
        smp.select(F.col("id").alias("u"))
        .join(smp.select(F.col("id").alias("v")), on=[F.col("u") < F.col("v")])
    )
    du = dist.join(lmk.select(F.col("id").alias("landmark")), on="landmark").select(
        F.col("landmark"), F.col("id").alias("u"), F.col("dist").alias("dl_u")
    )
    dv = dist.select(
        F.col("landmark"), F.col("id").alias("v"), F.col("dist").alias("dl_v")
    )
    bounds = (
        pairs.join(du, on="u")
        .join(dv, on=["landmark", "v"])
        .groupBy("u", "v")
        .agg(
            F.min(F.col("dl_u") + F.col("dl_v")).alias("ub"),
            F.max(F.abs(F.col("dl_u") - F.col("dl_v"))).alias("lb"),
        )
    )
    exact = dist.join(
        smp.select(F.col("id").alias("landmark")), on="landmark"
    ).select(
        F.col("landmark").alias("u"), F.col("id").alias("v"), F.col("dist").alias("x")
    )
    return (
        bounds.join(exact, on=["u", "v"])
        .select(
            "u", "v",
            F.col("x").cast("bigint").alias("exact_dist"),
            F.col("lb").cast("bigint").alias("lower_bound"),
            F.col("ub").cast("bigint").alias("upper_bound"),
            F.when((F.col("lb") <= F.col("x")) & (F.col("x") <= F.col("ub")), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("sandwich_ok"),
        )
    )


def _brandes_sql() -> str:
    """DuckDB replay of graph/algorithms.py:brandes_betweenness on the
    customer–supplier bipartite trade graph, sources C:{1,7,13}: forward
    sigma CTEs (settle-once anti via NOT EXISTS), backward dependency
    CTEs, identical join shapes. Floats: every sigma is an
    integer-valued double (exact); delta sums differ only in fold order
    — the final round(.,4) absorbs the ulps (the PageRank-oracle
    precedent)."""
    parts = [
        "WITH " + trade_edges_sql(),
        "lev0 AS MATERIALIZED (SELECT"
        " 'C:' || CAST(c_custkey AS VARCHAR) AS source,"
        " 'C:' || CAST(c_custkey AS VARCHAR) AS id, 1.0 AS sigma"
        " FROM customer WHERE c_custkey IN (1, 7, 13))",
        "set0 AS MATERIALIZED (SELECT source, id FROM lev0)",
    ]
    depth = _BRANDES_DEPTH
    for t in range(1, depth + 1):
        parts.append(
            f"lev{t} AS MATERIALIZED (SELECT c.source, c.id, c.sigma FROM ("
            f"SELECT l.source, e.dst AS id, sum(l.sigma) AS sigma"
            f" FROM lev{t - 1} l JOIN e ON e.src = l.id GROUP BY 1, 2) c"
            f" WHERE NOT EXISTS (SELECT 1 FROM set{t - 1} s"
            f" WHERE s.source = c.source AND s.id = c.id))"
        )
        parts.append(
            f"set{t} AS MATERIALIZED (SELECT * FROM set{t - 1}"
            f" UNION ALL SELECT source, id FROM lev{t})"
        )
    parts.append(
        f"d{depth} AS MATERIALIZED (SELECT source, id, sigma, 0.0 AS delta"
        f" FROM lev{depth})"
    )
    for t in range(depth - 1, 0, -1):
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT l.source, l.id, l.sigma,"
            f" coalesce(s.dsum, 0.0) AS delta FROM lev{t} l LEFT JOIN ("
            f"SELECT l2.source, l2.id,"
            f" sum(l2.sigma / n.sigma * (1 + n.delta)) AS dsum"
            f" FROM lev{t} l2 JOIN e ON e.src = l2.id"
            f" JOIN d{t + 1} n ON n.source = l2.source AND n.id = e.dst"
            f" GROUP BY 1, 2) s ON s.source = l.source AND s.id = l.id)"
        )
    unions = " UNION ALL ".join(
        f"SELECT source, id, delta FROM d{t}" for t in range(1, depth + 1)
    )
    return (
        ",\n".join(parts)
        + f""",
    alld AS ({unions}),
    bc AS (SELECT id, sum(delta) AS bc FROM alld GROUP BY 1)
    SELECT id, round(bc, 4) + 0.0 AS bc FROM bc
    ORDER BY round(bc, 4) + 0.0 DESC, id LIMIT 20"""
    )


@register("betweenness_landmarks", oracle=_brandes_sql())
def betweenness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate betweenness centrality: exact Brandes dependency
    accumulation from a 3-landmark source sample
    (graph/algorithms.py:brandes_betweenness) over the customer–supplier
    bipartite trade graph — the sampling estimator that makes
    betweenness feasible at 100 TB (per-source cost is two
    level-synchronous join passes; the sample size, not |V|, sets the
    multiplier). Top-20 brokers by sampled centrality; ordering on the
    ROUNDED score (ties → id) so cross-engine ulps cannot flip ranks."""
    e = trade_edges(spark, sf_dir)
    sources = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isin(1, 7, 13)
    ).select(F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("id"))
    bc = brandes_betweenness(e, sources)
    scored = bc.select("id", r4(F.col("bc")).alias("bc"))
    return scored.orderBy(F.desc("bc"), "id").limit(20)


# Steps per deterministic walk, shared with its replay.
_WALK_LENGTH = 4


def _walks_sql() -> str:
    """DuckDB replay of graph/algorithms.py:deterministic_walks on the
    customer–supplier bipartite trade graph: same dst-sorted edge ranks,
    same portable md5-window hash (_poly_sql) choosing
    rank = 1 + hash(start || '#t') % degree at every step."""
    parts = [
        "WITH " + trade_edges_sql(),
        "ranked AS MATERIALIZED (SELECT src, dst,"
        " CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rnk,"
        " CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg FROM e)",
        "w0 AS (SELECT DISTINCT 'C:' || CAST(o_custkey AS VARCHAR) AS start"
        " FROM orders WHERE o_custkey < 50)",
        "s0 AS (SELECT start, start AS cur, start AS path FROM w0)",
    ]
    for t in range(1, _WALK_LENGTH + 1):
        h = _poly_sql(f"w.start || '#{t}'")
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT w.start, r.dst AS cur,"
            f" w.path || '>' || r.dst AS path"
            f" FROM s{t - 1} w JOIN ranked r ON r.src = w.cur"
            f" AND r.rnk = 1 + ({h}) % r.deg)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT start, path, cur AS end_node FROM s{_WALK_LENGTH}"
    )


@register("random_walk_sampling", oracle=_walks_sql())
def random_walk_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-embedding preprocessing: deterministic node2vec-style walks
    (graph/algorithms.py:deterministic_walks) over the customer–supplier
    bipartite trade graph — 4 steps from every customer with custkey <
    50, neighbor choice = portable-hash pseudo-randomness so the walk
    corpus is reproducible across engines, retries, and shards (the
    reference's Cypher traversals are the same family of typed-edge
    hops; SURVEY §2 motif/Kleene notes). One equi-join per step,
    degree-resolved BEFORE the edge join so hubs never fan out."""
    e = trade_edges(spark, sf_dir)
    starts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 50)
        .select(F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("start"))
        .distinct()
    )
    return deterministic_walks(e, starts, length=_WALK_LENGTH)


@register(
    "hierarchy_subtree_rollup",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey // 10 AS anc, 1 AS steps
      FROM customer WHERE c_custkey >= 10
      UNION ALL
      SELECT node, anc // 10, steps + 1 FROM anc WHERE anc >= 10
    ),
    contrib AS (
      SELECT c_custkey AS anc, c_acctbal AS v FROM customer
      UNION ALL
      SELECT a.anc, c.c_acctbal FROM anc a JOIN customer c ON a.node = c.c_custkey
    ),
    depth AS (SELECT node, max(steps) AS d FROM anc GROUP BY 1),
    agg AS (SELECT anc AS node, CAST(count(*) AS BIGINT) AS subtree_n,
                   sum(v) AS s
            FROM contrib GROUP BY 1)
    SELECT agg.node, CAST(coalesce(depth.d, 0) AS BIGINT) AS depth,
           subtree_n, round(s, 4) + 0.0 AS subtree_sum
    FROM agg LEFT JOIN depth USING (node)
    WHERE agg.node < 1000
    """,
)
def hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE query family (the reference answers these as Cypher
    variable-length parent-chain MATCHes): per-node SUBTREE aggregates
    over a parent-pointer forest — here the decimal-digit hierarchy
    parent(k) = k div 10 over customers, the deterministic stand-in for
    an org chart / BOM. Spark has no WITH RECURSIVE; the closure comes
    from log2(depth) pointer-doubling self-joins
    (operators/hierarchy.py:ancestor_closure) and the rollup is ONE
    groupBy over the contribution pairs — no per-level rounds, no driver
    walk. The oracle is the textbook recursive CTE."""
    c = load_table(spark, sf_dir, "customer")
    nodes = c.select(F.col("c_custkey").alias("node"), F.col("c_acctbal").alias("v"))
    edges = c.filter(F.col("c_custkey") >= 10).select(
        F.col("c_custkey").alias("node"),
        F.floor(F.col("c_custkey") / 10).cast("bigint").alias("parent"),
    )
    out = subtree_rollup(nodes, edges, "v")
    return out.filter(F.col("node") < 1000).select(
        "node", "depth", "subtree_n", r4(F.col("subtree_sum")).alias("subtree_sum")
    )


def _kcenter_sql() -> str:
    """DuckDB replay of similarity.kcenter_select: seed = smallest id,
    then ``_KCENTER_K`` chained (argmax, fold-min) CTE pairs using the SAME
    expanded-form squared-L2 (_pq_d2 == similarity._l2sq) so every md is
    bit-identical; argmax orders (md DESC, id) with the md > 0
    chosen-duplicate guard mirrored. MATERIALIZED throughout (the
    PageRank-oracle inlining lesson)."""
    parts = [
        "WITH base AS (SELECT CAST(vec_id AS BIGINT) AS id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "seed AS MATERIALIZED (SELECT id, v FROM base ORDER BY id LIMIT 1)",
        f"m0 AS MATERIALIZED (SELECT b.id, b.v, {_pq_d2('b.v', 'seed.v')} AS md"
        f" FROM base b CROSS JOIN seed)",
    ]
    k = _KCENTER_K
    for t in range(1, k + 1):
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT id, v, md FROM m{t - 1}"
            f" WHERE md > 0 ORDER BY md DESC, id LIMIT 1)"
        )
        if t < k:
            parts.append(
                f"m{t} AS MATERIALIZED (SELECT m.id, m.v,"
                f" least(m.md, {_pq_d2('m.v', 'c.v')}) AS md"
                f" FROM m{t - 1} m CROSS JOIN c{t} c)"
            )
    selects = [
        "SELECT CAST(0 AS BIGINT) AS round, seed.id AS id,"
        " round(sqrt(0.0), 4) + 0.0 AS sep FROM seed"
    ]
    for t in range(1, k + 1):
        selects.append(
            f"SELECT CAST({t} AS BIGINT), c{t}.id, round(sqrt(c{t}.md), 4) + 0.0 FROM c{t}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("kcenter_coreset", oracle=_kcenter_sql())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-first data selection: greedy k-center (farthest-point)
    coreset over the embeddings table
    (operators/similarity.py:kcenter_select) — the coverage-maximizing
    complement of semantic_dedup's redundancy removal (both are
    embedding-space curation passes a training-data pipeline runs before
    mixing). Emits the selection order and each pick's separation — the
    monotone radii that certify the 2-approximation. k+1 narrow scans,
    no shuffle; the oracle replays every fold exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.kcenter_select(emb, "embedding", "vec_id")
    return out.select("round", "id", r4(F.col("sep")).alias("sep"))


@register(
    "geo_grid_distance_join",
    oracle="""
    WITH s AS (SELECT s_suppkey,
                      CAST((s_suppkey * 53) % 1000 AS DOUBLE) / 10.0 AS sx,
                      CAST((s_suppkey * 17) % 1000 AS DOUBLE) / 10.0 AS sy
               FROM supplier),
    c AS (SELECT c_custkey,
                 CAST((c_custkey * 37) % 1000 AS DOUBLE) / 10.0 AS cx,
                 CAST((c_custkey * 91) % 1000 AS DOUBLE) / 10.0 AS cy
          FROM customer)
    SELECT s_suppkey,
           CAST(count(*) AS BIGINT) AS n_within,
           round(min(sqrt((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy))), 4)
             + 0.0 AS nearest_dist
    FROM s JOIN c
      ON (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 6.25
    GROUP BY 1
    """,
)
def geo_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid-cell bucketing
    (operators/joins.py:grid_distance_join): per supplier site, how many
    customer sites fall within euclidean radius 2.5 and how near the
    closest one is. Coordinates synthesized deterministically from keys
    (the F21 point-parse convention, parity
    /root/reference/app/patches.py:17-27 point columns). The oracle is
    the naive all-pairs distance filter — exact at checker scale; the
    Spark side runs the grid path (one 3x3 neighbor explode + cell
    equi-join), whose candidate set provably contains every
    radius-qualifying pair, so results are identical while shuffle stays
    O(n) at 100 TB. sqrt/multiply are correctly-rounded IEEE ops —
    bit-identical across engines; round AFTER the min fold."""
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53 % 1000).cast("double") / 10.0).alias("sx"),
        ((F.col("s_suppkey") * 17 % 1000).cast("double") / 10.0).alias("sy"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 1000).cast("double") / 10.0).alias("cx"),
        ((F.col("c_custkey") * 91 % 1000).cast("double") / 10.0).alias("cy"),
    )
    pairs = grid_distance_join(sup, cust, ("sx", "sy"), ("cx", "cy"), radius=2.5)
    return pairs.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_within"),
        r4(F.min("dist")).alias("nearest_dist"),
    )


# ---------------------------------------------------------------------------
# r7 statistics battery — concentration / digit-law / association /
# variance-decomposition / rank tests / frequency-moment sketch
# ---------------------------------------------------------------------------


@register(
    "gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nation, c.c_custkey AS cust,
             sum(o.o_totalprice) AS x
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT nation, x,
             row_number() OVER (PARTITION BY nation ORDER BY x, cust) AS i
      FROM rev
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(2.0 * sum(i * x) / (count(*) * sum(x))
                 - (count(*) + 1.0) / count(*), 4) + 0.0 AS gini,
           round(sum(x * x) / (sum(x) * sum(x)), 4) + 0.0 AS hhi
    FROM rk GROUP BY 1
    """,
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — revenue-concentration audit per nation: the Gini
    coefficient in its sorted-rank closed form G = 2·Σi·x_i/(n·Σx) −
    (n+1)/n plus the Herfindahl-Hirschman index Σ share². The rank is a
    per-nation window over per-customer revenue (ties broken by custkey;
    permuting equal x leaves Σi·x_i unchanged, so the tiebreak is for
    determinism, not semantics). One narrow join + one window + one agg
    — at 100 TB the window partitions by nation so no global sort ever
    happens, and the fact scan reduces to two pushed columns."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.join(c.select("c_custkey", "c_nationkey"), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"), F.col("c_custkey").alias("cust")
        )
        .agg(F.sum("o_totalprice").alias("x"))
    )
    w = Window.partitionBy("nation").orderBy("x", "cust")
    rk = rev.select("nation", "x", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    return rk.groupBy("nation").agg(
        n.cast("bigint").alias("n_customers"),
        r4(
            2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + 1.0) / n
        ).alias("gini"),
        r4(F.sum(F.col("x") * F.col("x")) / (F.sum("x") * F.sum("x"))).alias("hhi"),
    ).select(F.col("nation").cast("bigint").alias("nation"), "n_customers", "gini", "hhi")


@register(
    "benford_first_digit",
    oracle="""
    WITH raw AS (
      SELECT CAST(floor(o_totalprice
                        / power(10, floor(log10(o_totalprice)))) AS BIGINT) AS rd
      FROM orders WHERE o_totalprice > 0
    ),
    d AS (
      SELECT CASE WHEN rd >= 10 THEN 1 ELSE greatest(rd, 1) END AS digit FROM raw
    ),
    tot AS (SELECT count(*) AS n FROM d)
    SELECT digit, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / tot.n, 4) + 0.0 AS obs_share,
           round(log10(1.0 + 1.0 / digit), 4) + 0.0 AS benford_share,
           round(tot.n * power(count(*) * 1.0 / tot.n
                               - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit), 4) + 0.0 AS chi2_term
    FROM d, tot GROUP BY digit, tot.n
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Benford's-law conformance screen on order totals:
    first significant digit d = ⌊p/10^⌊log10 p⌋⌋ vs the log10(1+1/d)
    expectation, one χ² term per digit (fraud/data-entry anomaly
    screening over financial columns). Digit extraction stays numeric —
    never a double→string format, which is NOT engine-portable — and the
    1-ulp log10 boundary is pinned IDENTICALLY on both sides (r8 advice):
    on an exact power of 10, an engine's independently-rounded log10 can
    land 1 ulp under the integer and yield raw digit 10; the TRUE first
    digit there is 1, so raw>=10 maps to 1 (not a clamp to 9, which would
    encode the wrong boundary value). One pushed-projection scan + a
    9-group agg; the scalar total arrives via a broadcast cross join, so
    the plan is two stages at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    raw = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("bigint")
    d = o.select(
        F.when(raw >= 10, F.lit(1).cast("bigint"))
        .otherwise(F.greatest(raw, F.lit(1).cast("bigint")))
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_tot"))
    share = F.count(F.lit(1)) * 1.0 / F.first("n_tot")
    exp = F.log(10.0, 1.0 + 1.0 / F.col("digit"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r4(share).alias("obs_share"),
            r4(exp).alias("benford_share"),
            r4(F.first("n_tot") * F.pow(share - exp, 2) / exp).alias("chi2_term"),
        )
    )


@register(
    "cramers_v_association",
    oracle="""
    WITH ct AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             count(*) AS obs
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT seg, pri, obs,
             sum(obs) OVER (PARTITION BY seg) AS rt,
             sum(obs) OVER (PARTITION BY pri) AS col_t,
             sum(obs) OVER () AS n
      FROM ct
    ),
    chi AS (
      SELECT max(n) AS n,
             count(DISTINCT seg) AS r, count(DISTINCT pri) AS c,
             sum(power(obs - rt * col_t * 1.0 / n, 2) / (rt * col_t * 1.0 / n))
               AS chi2
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((r - 1) * (c - 1) AS BIGINT) AS df,
           round(chi2, 4) + 0.0 AS chi2,
           round(sqrt(chi2 / (n * (least(r, c) - 1))), 4) + 0.0 AS cramers_v
    FROM chi
    """,
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Cramér's V association between market segment and
    order priority: χ² over the full contingency table with windowed
    marginals (no second scan), then V = √(χ²/(n·(min(r,c)−1))). The
    contingency table is 5×5 — the windows and the final agg run on 25
    rows regardless of fact-table scale, so the whole test costs one
    groupBy shuffle of the join output."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ct = (
        o.join(c.select("c_custkey", "c_mktsegment"), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    m = ct.select(
        "seg",
        "pri",
        "obs",
        F.sum("obs").over(Window.partitionBy("seg")).alias("rt"),
        F.sum("obs").over(Window.partitionBy("pri")).alias("col_t"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt") * F.col("col_t") * 1.0 / F.col("n")
    chi = m.agg(
        F.max("n").alias("n"),
        F.countDistinct("seg").alias("r"),
        F.countDistinct("pri").alias("c"),
        F.sum(F.pow(F.col("obs") - e, 2) / e).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("df"),
        r4(F.col("chi2")).alias("chi2"),
        r4(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1)))
        ).alias("cramers_v"),
    )


@register(
    "anova_f_oneway",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment AS seg, count(*) AS ng,
             sum(c_acctbal) AS s, sum(c_acctbal * c_acctbal) AS ss
      FROM customer GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS k, sum(ng) AS n, sum(s) AS st, sum(ss) AS sst,
             sum(s * s / ng) AS sb
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           round(st / n, 4) + 0.0 AS grand_mean,
           round(((sb - st * st / n) / (k - 1))
                 / ((sst - sb) / (n - k)), 4) + 0.0 AS f_stat,
           round((sb - st * st / n) / (sst - st * st / n), 4) + 0.0 AS eta_sq
    FROM tot
    """,
)
def anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — one-way ANOVA of account balance across market
    segments: F = (SSB/(k−1))/(SSW/(n−k)) from the Σx/Σx² sufficient
    statistics (one map-side-combinable agg — no per-row mean join, no
    second pass), plus η² effect size. Emitted values are ratios/means,
    whose cross-engine float drift is relative (~1e−12), never the raw
    sums-of-squares whose ABSOLUTE drift would break 4-decimal hashing."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("c_acctbal").alias("s"),
        F.sum(F.col("c_acctbal") * F.col("c_acctbal")).alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(F.col("s") * F.col("s") / F.col("ng")).alias("sb"),
    )
    ssb = F.col("sb") - F.col("st") * F.col("st") / F.col("n")
    sst_c = F.col("sst") - F.col("st") * F.col("st") / F.col("n")
    ssw = F.col("sst") - F.col("sb")
    return tot.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        r4(F.col("st") / F.col("n")).alias("grand_mean"),
        r4((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))).alias(
            "f_stat"
        ),
        r4(ssb / sst_c).alias("eta_sq"),
    )


@register(
    "kruskal_wallis_test",
    oracle="""
    WITH li AS (SELECT l_returnflag AS flag, l_quantity AS q FROM lineitem),
    rq AS (
      SELECT q, count(*) AS t,
             sum(count(*)) OVER (ORDER BY q) - count(*)
               + (count(*) + 1) / 2.0 AS r
      FROM li GROUP BY q
    ),
    ranked AS (SELECT li.flag, rq.r, rq.t FROM li JOIN rq ON li.q = rq.q),
    n_tot AS (SELECT count(*) AS n FROM li),
    grp AS (
      SELECT flag, count(*) AS ng, avg(r) AS mr FROM ranked GROUP BY 1
    ),
    ties AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tsum FROM rq),
    h AS (
      SELECT n_tot.n AS n, count(*) AS k,
             12.0 / (n_tot.n * (n_tot.n + 1.0))
               * sum(ng * power(mr - (n_tot.n + 1.0) / 2.0, 2)) AS h_raw,
             1.0 - ties.tsum / (power(n_tot.n, 3) - n_tot.n) AS c
      FROM grp, n_tot, ties GROUP BY n_tot.n, ties.tsum
    ),
    final AS (
      SELECT n, k, h_raw / c AS hc FROM h
    )
    SELECT g.flag, CAST(g.ng AS BIGINT) AS n,
           round(g.mr, 4) + 0.0 AS mean_rank,
           CAST(f.k - 1 AS BIGINT) AS df,
           round(f.hc, 4) + 0.0 AS h_corrected
    FROM grp g, final f
    """,
)
def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — Kruskal-Wallis H across return flags on quantity,
    the k-group rank ANOVA with full tie correction (quantity has ~50
    distinct values over the whole fact table — the 6Σd² textbook form
    is unusable). Midranks come from ONE cumsum window over the
    DISTINCT-value table (the spearman_rank_correlation trick at
    queries.py:spearman_rank_correlation): every midrank is an exact
    multiple of 0.5, and sums of half-integers are EXACT in double —
    the emitted H is bit-identical across engines, not merely close.
    CARDINALITY ASSUMPTION (r7 verdict): the global cumsum window runs
    over the distinct-VALUE grid, which is bounded (~50 rows) for the
    integer-valued quantity column this test targets but grows O(n)
    for a continuous measure — on such a column, swap the window for
    ``with_global_rank(cumsum_cols=...)`` (aggregates.py), the
    two-level prefix sum heaps_law_fit/sprt use; midranks stay exact
    .5 multiples under any partition split because integer cumsums
    are associative."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("q")
    )
    g = li.groupBy("q").agg(F.count(F.lit(1)).alias("t"))
    w = Window.orderBy("q")
    rq = g.select(
        "q",
        "t",
        (F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0).alias("r"),
    )
    ranked = li.join(F.broadcast(rq), on="q")
    grp = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).alias("ng"), F.avg("r").alias("mr")
    )
    n_tot = li.agg(F.count(F.lit(1)).alias("n"))
    # SCALE.md §33: exact-context tie cube → decimal vs HUGEINT (t is
    # a per-value corpus count; int64 dies at t≈2.1e6)
    _td = F.col("t").cast("decimal(38,0)")
    ties = rq.agg(F.sum(_td * _td * _td - _td).alias("tsum"))
    h = (
        grp.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(ties))
        .groupBy("n", "tsum")
        .agg(
            F.count(F.lit(1)).alias("k"),
            (
                12.0
                / (F.col("n") * (F.col("n") + 1.0))
                * F.sum(
                    F.col("ng")
                    * F.pow(F.col("mr") - (F.col("n") + 1.0) / 2.0, 2)
                )
            ).alias("h_raw"),
        )
        .select(
            "n",
            "k",
            (
                F.col("h_raw")
                / (1.0 - F.col("tsum") / (F.pow(F.col("n"), 3) - F.col("n")))
            ).alias("hc"),
        )
    )
    return grp.crossJoin(F.broadcast(h)).select(
        "flag",
        F.col("ng").cast("bigint").alias("n"),
        r4(F.col("mr")).alias("mean_rank"),
        (F.col("k") - 1).cast("bigint").alias("df"),
        r4(F.col("hc")).alias("h_corrected"),
    )


# AMS F2 sketch: 32 estimators in groups of 8 from LCG seed 17, shared by
# the Spark sketch and its replay.
_AMS_N_EST, _AMS_PER_GROUP, _AMS_SEED = 32, 8, 17


def _ams_f2_sql() -> str:
    """DuckDB replay of the AMS F2 (second frequency moment) sketch:
    ±1 four-wise-style signs from the portable hash + the LCG affine
    family (dedup.py:minhash_params, emitted as integer literals),
    median-of-means over ``_AMS_N_EST`` estimators in groups of
    ``_AMS_PER_GROUP``. Every intermediate is integer or an exact
    power-of-two division, so the estimate is bit-identical."""
    n_est, per_group, seed = _AMS_N_EST, _AMS_PER_GROUP, _AMS_SEED
    vals = ", ".join(
        f"({i}, {i // per_group}, {a}, {b})"
        for i, (a, b) in enumerate(minhash_params(n_est, seed=seed))
    )
    n_groups = n_est // per_group
    lo, hi = n_groups // 2, n_groups // 2 + 1
    return f"""
    WITH f AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
               FROM events GROUP BY 1),
    h AS (SELECT k, c, {_poly_sql('k')} AS hh FROM f),
    s AS (SELECT t.i, t.g,
                 sum(CASE WHEN ((t.a * hh + t.b) % {_MINHASH_P}) % 2 = 0
                          THEN c ELSE -c END) AS sk
          FROM h CROSS JOIN (VALUES {vals}) t(i, g, a, b) GROUP BY 1, 2),
    means AS (SELECT g, sum(CAST(sk AS HUGEINT) * sk) / {per_group}.0 AS m
              FROM s GROUP BY 1),
    med AS (SELECT m, row_number() OVER (ORDER BY m) AS rn FROM means),
    ams AS (SELECT avg(m) AS v FROM med WHERE rn IN ({lo}, {hi})),
    exact AS (SELECT sum(CAST(c AS HUGEINT) * c) AS v FROM f)
    SELECT CAST(exact.v AS BIGINT) AS exact_f2,
           round(ams.v, 4) + 0.0 AS ams_estimate,
           round((ams.v - exact.v) / exact.v, 4) + 0.0 AS rel_error
    FROM exact, ams
    """


@register("ams_f2_moment", oracle=_ams_f2_sql())
def ams_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches — AMS second frequency moment (Alon-Matias-Szegedy
    tug-of-war) of the events user_id stream: 32 ±1-signed counters,
    median of 4 means of 8 squared estimators, vs the exact
    F2 = Σf² self-join size. F2 IS the self-join/skew planning number
    — at 100 TB the 32 counters come from one map-side-combined agg
    over the (already tiny) per-key frequency table, no shuffle wider
    than 32 rows; pair it with cms_join_cardinality for two-sided join
    sizing. Signs/means/median are integer or power-of-two exact —
    the estimate hashes bit-identically (see _ams_f2_sql)."""
    n_est, per_group, seed = _AMS_N_EST, _AMS_PER_GROUP, _AMS_SEED
    f = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("c", portable_hash(F.col("k")).alias("hh"))
    )
    params = spark.createDataFrame(
        [
            (i, i // per_group, a, b)
            for i, (a, b) in enumerate(minhash_params(n_est, seed=seed))
        ],
        "i int, g int, a long, b long",
    )
    sk = (
        f.crossJoin(F.broadcast(params))
        .groupBy("i", "g")
        .agg(
            F.sum(
                F.when(
                    ((F.col("a") * F.col("hh") + F.col("b")) % _MINHASH_P) % 2 == 0,
                    F.col("c"),
                ).otherwise(-F.col("c"))
            ).alias("sk")
        )
    )
    # SCALE.md §33: sk is a ±count sum (worst case ±n) and c a per-key
    # corpus count — int64 squares die at 3e9; decimal vs HUGEINT keeps
    # both engines exact (the estimate is hash-checked bit-identical)
    _skd = F.col("sk").cast("decimal(38,0)")
    means = sk.groupBy("g").agg(
        (F.sum(_skd * _skd) / float(per_group)).alias("m")
    )
    n_groups = n_est // per_group
    lo, hi = n_groups // 2, n_groups // 2 + 1
    med = means.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("rn")
    ).filter(F.col("rn").isin(lo, hi))
    ams = med.agg(F.avg("m").alias("v"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
            ).alias("ex")
        )
    )
    return exact.crossJoin(ams).select(
        F.col("ex").cast("bigint").alias("exact_f2"),
        r4(F.col("v")).alias("ams_estimate"),
        r4((F.col("v") - F.col("ex")) / F.col("ex")).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# r7 time-series battery — classical decomposition / forecast-accuracy
# scaling / lead-lag cross-correlation
# ---------------------------------------------------------------------------


@register(
    "stl_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT day, y,
             CASE WHEN count(*) OVER w = 7 THEN avg(y) OVER w END AS trend
      FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING)
    ),
    d AS (SELECT day, y, trend, dayofweek(day) AS dow, y - trend AS detr
          FROM t),
    s AS (SELECT dow, avg(detr) AS sd FROM d GROUP BY 1),
    sc AS (SELECT dow, sd - (SELECT avg(sd) FROM s) AS seas FROM s)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           round(d.y, 4) + 0.0 AS revenue,
           round(d.trend, 4) + 0.0 AS trend,
           round(sc.seas, 4) + 0.0 AS seasonal,
           round(d.y - d.trend - sc.seas, 4) + 0.0 AS remainder
    FROM d JOIN sc ON d.dow = sc.dow
    """,
)
def stl_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — classical additive decomposition of daily revenue
    (the moving-average core of STL): trend = centered 7-day MA (NULL at
    the edges where the window is partial — no fabricated trend),
    seasonal = day-of-week mean of the detrended series re-centered to
    sum 0, remainder = the rest. The fact scan collapses to a daily
    aggregate before any window runs, so the windows order a
    calendar-sized table — at 100 TB the only full-data pass is the
    map-side-combined groupBy. DOW uses DuckDB's 0-6 Sunday-first
    convention (dow_seasonality precedent)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "y",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("y").over(w)).alias("trend"),
    )
    d = t.select(
        "day",
        "y",
        "trend",
        (F.dayofweek("day") - 1).alias("dow"),
        (F.col("y") - F.col("trend")).alias("detr"),
    )
    s = d.groupBy("dow").agg(F.avg("detr").alias("sd"))
    grand = s.agg(F.avg("sd").alias("g"))
    sc = s.crossJoin(F.broadcast(grand)).select(
        "dow", (F.col("sd") - F.col("g")).alias("seas")
    )
    return d.join(F.broadcast(sc), on="dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        r4(F.col("y")).alias("revenue"),
        r4(F.col("trend")).alias("trend"),
        r4(F.col("seas")).alias("seasonal"),
        r4(F.col("y") - F.col("trend") - F.col("seas")).alias("remainder"),
    )


@register(
    "mase_forecast_accuracy",
    oracle="""
    WITH daily AS (
      SELECT event_type AS et, CAST(ts AS DATE) AS day, sum(value) AS v
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT et, v,
             lag(v, 1) OVER (PARTITION BY et ORDER BY day) AS l1,
             lag(v, 7) OVER (PARTITION BY et ORDER BY day) AS l7
      FROM daily
    )
    SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(v - l1)), 4) + 0.0 AS mae_naive,
           round(avg(abs(v - l7)), 4) + 0.0 AS mae_seasonal,
           round(avg(abs(v - l7)) / avg(abs(v - l1)), 4) + 0.0 AS mase
    FROM lagged GROUP BY 1
    """,
)
def mase_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — MASE (mean absolute scaled error, Hyndman-Koehler)
    per event type: the seasonal-naive (t−7) forecast's MAE scaled by
    the one-step-naive MAE, the standard scale-free way to compare
    forecast baselines across series of different magnitude (< 1 means
    weekly seasonality carries real signal). avg() skips the NULL
    warm-up rows on both engines — that shared semantic IS the
    contract. Windows run per-type on the daily rollup, so state is
    calendar-bounded at any fact scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("et"), F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("et").orderBy("day")
    lagged = daily.select(
        "et",
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", 7).over(w).alias("l7"),
    )
    mae1 = F.avg(F.abs(F.col("v") - F.col("l1")))
    mae7 = F.avg(F.abs(F.col("v") - F.col("l7")))
    return lagged.groupBy(F.col("et").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        r4(mae1).alias("mae_naive"),
        r4(mae7).alias("mae_seasonal"),
        r4(mae7 / mae1).alias("mase"),
    )


@register(
    "cross_correlation_lead_lag",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             count(*) * 1.0 AS c, avg(o_totalprice) AS p
      FROM orders GROUP BY 1
    ),
    lags AS (SELECT range AS lag FROM range(-7, 8)),
    pairs AS (
      SELECT l.lag, a.c, b.p
      FROM lags l
      JOIN daily a ON true
      JOIN daily b ON b.day = a.day + CAST(l.lag || ' days' AS INTERVAL)
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_days,
           round(corr(c, p), 4) + 0.0 AS ccf
    FROM pairs GROUP BY 1
    """,
)
def cross_correlation_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — cross-correlation function between daily order
    count and daily mean ticket at lags −7..+7: does volume LEAD price
    or follow it? The join key is day+lag over the daily rollup, so the
    15-lag fan-out multiplies a calendar-sized table, never the fact
    stream; corr() is the one co-moment agg per lag. Scale: one groupBy
    shuffle over ≤ 15·|days| rows regardless of order volume."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.count(F.lit(1)) * 1.0).alias("c"), F.avg("o_totalprice").alias("p")
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    b = daily.select(F.col("day").alias("bday"), "p")
    pairs = (
        daily.select("day", "c")
        .crossJoin(F.broadcast(lags))
        .join(b, F.expr("bday = date_add(day, lag)"))
    )
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        r4(F.corr("c", "p")).alias("ccf"),
    ).select(F.col("lag").cast("bigint").alias("lag"), "n_days", "ccf")


# ---------------------------------------------------------------------------
# r7 ML battery — closed-form OLS / multinomial NB token screen /
# leave-one-out 1-NN eval / reciprocal-NN pairs / centroid drift
# ---------------------------------------------------------------------------


@register(
    "ols_normal_equations",
    oracle="""
    WITH s AS (
      SELECT count(*) * 1.0 AS n,
             sum(l_quantity) AS sx1, sum(l_discount) AS sx2,
             sum(l_quantity * l_quantity) AS s11,
             sum(l_quantity * l_discount) AS s12,
             sum(l_discount * l_discount) AS s22,
             sum(l_extendedprice) AS sy,
             sum(l_quantity * l_extendedprice) AS s1y,
             sum(l_discount * l_extendedprice) AS s2y,
             sum(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem
    ),
    d AS (
      SELECT *,
             n * (s11 * s22 - s12 * s12)
             - sx1 * (sx1 * s22 - s12 * sx2)
             + sx2 * (sx1 * s12 - s11 * sx2) AS det
      FROM s
    ),
    beta AS (
      SELECT n, sy, s1y, s2y, syy,
             (sy  * (s11 * s22 - s12 * s12)
              - sx1 * (s1y * s22 - s12 * s2y)
              + sx2 * (s1y * s12 - s11 * s2y)) / det AS b0,
             (n   * (s1y * s22 - s12 * s2y)
              - sy * (sx1 * s22 - s12 * sx2)
              + sx2 * (sx1 * s2y - s1y * sx2)) / det AS b1,
             (n   * (s11 * s2y - s1y * s12)
              - sx1 * (sx1 * s2y - s1y * sx2)
              + sy * (sx1 * s12 - s11 * sx2)) / det AS b2
      FROM d
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(b0, 4) + 0.0 AS intercept,
           round(b1, 4) + 0.0 AS beta_quantity,
           round(b2, 4) + 0.0 AS beta_discount,
           round(1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y))
                       / (syy - sy * sy / n), 4) + 0.0 AS r2
    FROM beta
    """,
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — closed-form multiple linear regression (extendedprice ~
    quantity + discount) via the 3×3 normal equations solved with
    Cramer's rule: ONE map-side-combinable aggregate collects the ten
    sufficient statistics, the solve is scalar arithmetic on a 1-row
    frame. SSE uses the normal-equation identity yᵀy − βᵀXᵀy, so R²
    needs no second pass. This is the 100 TB regression recipe: no
    gradient loop, no driver matrix library, shuffle width = 10
    doubles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    s = li.agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx1, sx2 = F.col("n"), F.col("sx1"), F.col("sx2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y, syy = F.col("sy"), F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - sx1 * (sx1 * s22 - s12 * sx2)
        + sx2 * (sx1 * s12 - s11 * sx2)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - sx1 * (s1y * s22 - s12 * s2y)
        + sx2 * (s1y * s12 - s11 * s2y)
    ) / det
    b1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (sx1 * s22 - s12 * sx2)
        + sx2 * (sx1 * s2y - s1y * sx2)
    ) / det
    b2 = (
        n * (s11 * s2y - s1y * s12)
        - sx1 * (sx1 * s2y - s1y * sx2)
        + sy * (sx1 * s12 - s11 * sx2)
    ) / det
    sse = syy - (b0 * sy + b1 * s1y + b2 * s2y)
    sst = syy - sy * sy / n
    return s.select(
        n.cast("bigint").alias("n"),
        r4(b0).alias("intercept"),
        r4(b1).alias("beta_quantity"),
        r4(b2).alias("beta_discount"),
        r4(1.0 - sse / sst).alias("r2"),
    )


@register(
    "naive_bayes_token_screen",
    oracle="""
    WITH lab AS (
      SELECT CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS y,
             lower(trim(text)) AS t
      FROM documents
    ),
    toks AS (SELECT y, unnest(string_split_regex(t, '\\s+')) AS tok FROM lab),
    cnt AS (
      SELECT tok,
             sum(CASE WHEN y = 'long' THEN 1 ELSE 0 END) AS cl,
             sum(CASE WHEN y = 'short' THEN 1 ELSE 0 END) AS cs
      FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT sum(cl) AS tl, sum(cs) AS ts, count(*) AS v FROM cnt
    ),
    llr AS (
      SELECT tok, CAST(cl AS BIGINT) AS count_long,
             CAST(cs AS BIGINT) AS count_short,
             ln((cl + 1.0) / (tot.tl + tot.v))
               - ln((cs + 1.0) / (tot.ts + tot.v)) AS w
      FROM cnt, tot WHERE cl + cs >= 5
    ),
    ranked AS (
      SELECT tok, count_long, count_short, w,
             row_number() OVER (ORDER BY w DESC, tok) AS rl,
             row_number() OVER (ORDER BY w ASC, tok) AS rs
      FROM llr
    )
    SELECT tok AS token, count_long, count_short,
           round(w, 4) + 0.0 AS log_likelihood_ratio,
           CASE WHEN rl <= 10 THEN 'long' ELSE 'short' END AS indicates
    FROM ranked WHERE rl <= 10 OR rs <= 10
    """,
)
def naive_bayes_token_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — multinomial naive-Bayes feature screen: Laplace-smoothed
    per-token log-likelihood ratios between long (≥300 chars) and short
    documents, top-10 indicators each way. Training IS one token-count
    aggregate (the classic MapReduce NB); the class totals + vocabulary
    size ride in on a broadcast scalar row. The ≥5-occurrence floor
    keeps the screen out of hapax noise. Counts are integers and the
    weights single ln() calls — no float-sum drift anywhere. NO global
    window (r7 verdict fix): the vocabulary grows ~O(corpus^β), so each
    top-10 is a TakeOrdered (``orderBy().limit``) — per-partition top-k
    + a k-row driver merge, the bm25_doc_ranking pattern — and the
    overlap case (vocab ≤ 20) resolves 'long'-wins via a 10-row
    anti-join, matching the oracle's OR semantics exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(F.col("n_chars") >= 300, "long").otherwise("short").alias("y"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("y") == "long", 1).otherwise(0)).alias("cl"),
        F.sum(F.when(F.col("y") == "short", 1).otherwise(0)).alias("cs"),
    )
    tot = cnt.agg(
        F.sum("cl").alias("tl"), F.sum("cs").alias("ts"), F.count(F.lit(1)).alias("v")
    )
    llr = (
        cnt.filter(F.col("cl") + F.col("cs") >= 5)
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.col("cl").cast("bigint").alias("count_long"),
            F.col("cs").cast("bigint").alias("count_short"),
            (
                F.log((F.col("cl") + 1.0) / (F.col("tl") + F.col("v")))
                - F.log((F.col("cs") + 1.0) / (F.col("ts") + F.col("v")))
            ).alias("w"),
        )
    )
    llr = llr.localCheckpoint()  # both top-k scans share one materialization
    long_top = llr.orderBy(F.desc("w"), F.asc("tok")).limit(10)
    short_top = llr.orderBy(F.asc("w"), F.asc("tok")).limit(10)

    def emit(df: DataFrame, indicates: str) -> DataFrame:
        return df.select(
            F.col("tok").alias("token"),
            "count_long",
            "count_short",
            r4(F.col("w")).alias("log_likelihood_ratio"),
            F.lit(indicates).alias("indicates"),
        )

    short_only = short_top.join(
        F.broadcast(long_top.select("tok")), on="tok", how="left_anti"
    )
    return emit(long_top, "long").unionByName(emit(short_only, "short"))


@register(
    "knn_loo_label_eval",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS nrm
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 5 = 0),
    nn AS (
      SELECT vec_id, label, nlabel FROM (
        SELECT a.vec_id, a.label, b.label AS nlabel,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                          b.vec_id
               ) AS rn
        FROM q a JOIN e b ON a.vec_id <> b.vec_id
      ) WHERE rn = 1
    )
    SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) + 0.0 AS accuracy
    FROM nn GROUP BY 1
    """,
)
def knn_loo_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — leave-one-out 1-NN label agreement per class on a
    deterministic 1-in-5 query sample (vec_id % 5 == 0; candidates stay
    the FULL corpus, so neighbors are exact): does each sampled
    vector's cosine-nearest OTHER vector carry the same label?
    The standard embedding-quality probe (high accuracy = labels are
    cosine-separable = the embedding is usable for retrieval branching).
    Brute-force sample×corpus — the exact baseline mirroring
    embedding_cosine_topk's fold discipline (left-fold dot products are
    bit-identical cross-engine); per-vector norms are computed ONCE,
    never per pair. The ANN-bucketed variants are the 100 TB path,
    this is their recall referee."""
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
    nn = pairs.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") == 1
    )
    agree = F.sum(F.when(F.col("nlabel") == F.col("label"), 1).otherwise(0))
    return nn.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        agree.cast("bigint").alias("n_correct"),
        r4(agree * 1.0 / F.count(F.lit(1))).alias("accuracy"),
    )


@register(
    "mutual_nearest_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS nrm
               FROM embeddings),
    nn AS (
      SELECT vec_id, label, nid, sim FROM (
        SELECT a.vec_id, a.label, b.vec_id AS nid,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                          b.vec_id
               ) AS rn
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id <> b.vec_id
      ) WHERE rn = 1
    )
    SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
           round(a.sim, 4) + 0.0 AS cosine_sim
    FROM nn a JOIN nn b
      ON a.nid = b.vec_id AND b.nid = a.vec_id AND a.vec_id < b.vec_id
    """,
)
def mutual_nearest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — reciprocal (mutual) nearest-neighbor pairs within each label
    class: (a,b) where each is the other's cosine-1-NN — the
    high-precision seed pairs entity resolution and contrastive-pair
    mining start from (RBM matching). Partitioning the all-pairs by
    label divides the quadratic work by the class count — the same
    blocking idea the dedup family uses; the reciprocal join then runs
    on the |V|-sized NN table. Tie-break and fold order mirror
    embedding_cosine_topk."""
    # r13: per-core fan-out of the single-split probe side, as in
    # knn_loo_label_eval above (fold dot kept — SIM.dot docstring).
    sqn = F.sqrt(SIM.dot(F.col("v"), F.col("v")))
    e_base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", SIM._as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "label", "v", sqn.alias("nrm"))
    e = e_base.repartition(spark.sparkContext.defaultParallelism)
    b = e_base.select(
        F.col("label").alias("nlabel2"),
        F.col("vec_id").alias("nid"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    dot = SIM.dot(F.col("v"), F.col("nv"))
    pairs = e.join(
        b,
        (F.col("label") == F.col("nlabel2")) & (F.col("vec_id") != F.col("nid")),
    ).select(
        "vec_id", "label", "nid",
        (dot / (F.col("nrm") * F.col("nnrm"))).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "nid")
    nn = pairs.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") == 1
    )
    nn2 = nn.select(
        F.col("vec_id").alias("b_vec"), F.col("nid").alias("b_nid")
    )
    return (
        nn.join(
            nn2,
            (F.col("nid") == F.col("b_vec"))
            & (F.col("b_nid") == F.col("vec_id"))
            & (F.col("vec_id") < F.col("b_vec")),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("vec_id").alias("id_a"),
            F.col("b_vec").alias("id_b"),
            r4(F.col("sim")).alias("cosine_sim"),
        )
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS MATERIALIZED (
      SELECT label, t.pos, v[t.pos] AS x
      FROM e CROSS JOIN range(1, 65) t(pos)
    ),
    lc AS (SELECT label, pos, avg(x) AS m FROM dims GROUP BY 1, 2),
    gc AS (SELECT pos, avg(x) AS g FROM dims GROUP BY 1),
    agg AS (
      SELECT lc.label, sum(lc.m * gc.g) AS dp,
             sum(lc.m * lc.m) AS l2, sum(gc.g * gc.g) AS g2
      FROM lc JOIN gc USING (pos) GROUP BY 1
    ),
    n AS (SELECT label, count(*) AS nv FROM e GROUP BY 1)
    SELECT CAST(agg.label AS BIGINT) AS label,
           CAST(n.nv AS BIGINT) AS n_vecs,
           round(dp / (sqrt(l2) * sqrt(g2)), 4) + 0.0 AS cos_to_global,
           round(sqrt(l2), 4) + 0.0 AS centroid_norm
    FROM agg JOIN n ON agg.label = n.label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — per-class centroid drift: cosine between each label's mean
    embedding and the corpus mean (low cosine = the class occupies its
    own region; near-1 = the class is not linearly separated from the
    bulk), plus the centroid norm (near-0 = the class averages itself
    away — an isotropy warning). Dimension explode → one
    map-side-combinable avg per (label, dim): the shuffle carries
    |labels|·64 rows however many vectors exist — the canonical
    distributed-centroid plan."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", SIM._as_double(F.col("embedding")).alias("v")
    )
    dims = e.select("label", F.posexplode("v").alias("pos0", "x")).select(
        "label", (F.col("pos0") + 1).alias("pos"), "x"
    )
    lc = dims.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    gc = dims.groupBy("pos").agg(F.avg("x").alias("g"))
    agg = lc.join(F.broadcast(gc), on="pos").groupBy("label").agg(
        F.sum(F.col("m") * F.col("g")).alias("dp"),
        F.sum(F.col("m") * F.col("m")).alias("l2"),
        F.sum(F.col("g") * F.col("g")).alias("g2"),
    )
    n = e.groupBy("label").agg(F.count(F.lit(1)).alias("nv"))
    return agg.join(n, on="label").select(
        F.col("label").cast("bigint").alias("label"),
        F.col("nv").cast("bigint").alias("n_vecs"),
        r4(F.col("dp") / (F.sqrt("l2") * F.sqrt("g2"))).alias("cos_to_global"),
        r4(F.sqrt("l2")).alias("centroid_norm"),
    )


# ---------------------------------------------------------------------------
# r7 pipeline battery — DP release / source-similarity matrix /
# curriculum phases / cross-source quantile normalization
# ---------------------------------------------------------------------------


# The DP release's privacy budget, shared with its replay.
_DP_EPS = 1.0


def _dp_noisy_counts_sql() -> str:
    """DuckDB replay of the deterministic-Laplace DP release: uniform
    u ∈ (0,1) from the portable hash of the group key, inverse-CDF
    Laplace noise at sensitivity 1. Same hash, same ln — the 'noise' is
    a pure function of the key, so both engines emit identical rows."""
    return f"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    u AS (SELECT source, n,
                 ({_poly_sql('source')} + 1.0) / {_MINHASH_P + 1}.0 AS u
          FROM c)
    SELECT source, CAST(n AS BIGINT) AS true_count,
           round(n - (1.0 / {_DP_EPS}) * sign(u - 0.5)
                     * ln(1.0 - 2.0 * abs(u - 0.5)), 4) + 0.0
             AS noisy_count,
           round(CAST({_DP_EPS} AS DOUBLE), 4) + 0.0 AS epsilon
    FROM u
    """


@register("dp_noisy_source_counts", oracle=_dp_noisy_counts_sql())
def dp_noisy_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy — ε-differentially-private count release per source:
    Laplace(1/ε) noise via the inverse CDF −(1/ε)·sgn(u−½)·ln(1−2|u−½|)
    over a uniform DERIVED FROM THE PORTABLE KEY HASH, not an RNG — the
    distributional shape of real DP noise with reproducible, oracle-
    checkable draws (the same seeded-noise trick the weighted sampler
    uses). Complements k_anonymity_audit: that one suppresses, this one
    perturbs. u ∈ (0,1) by construction ((h+1)/(P+1)), so the ln
    argument never hits 0. One aggregate + scalar math — shuffle is
    |groups| rows at any scale."""
    eps = _DP_EPS
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    u = (portable_hash(F.col("source")) + 1.0) / float(_MINHASH_P + 1)
    noise = (1.0 / eps) * F.signum(u - 0.5) * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    return c.select(
        "source",
        F.col("n").cast("bigint").alias("true_count"),
        r4(F.col("n") - noise).alias("noisy_count"),
        r4(F.lit(eps)).alias("epsilon"),
    )


@register(
    "source_js_divergence",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    c AS (SELECT source, token, count(*) * 1.0 AS cnt
          FROM toks GROUP BY 1, 2),
    t AS (SELECT source, sum(cnt) AS tot FROM c GROUP BY 1),
    p AS (SELECT c.source, c.token, c.cnt / t.tot AS p
          FROM c JOIN t USING (source)),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared_terms,
             sum(0.5 * a.p * ln(a.p / ((a.p + b.p) / 2.0))
                 + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2.0))) AS jsd_shared,
             sum(a.p) AS pa_shared, sum(b.p) AS pb_shared
      FROM p a JOIN p b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(shared_terms AS BIGINT) AS shared_terms,
           round(jsd_shared
                 + 0.5 * CAST(0.6931471805599453 AS DOUBLE) * (1.0 - pa_shared)
                 + 0.5 * CAST(0.6931471805599453 AS DOUBLE) * (1.0 - pb_shared),
                 4) + 0.0
             AS js_divergence
    FROM shared
    """,
)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — the source-similarity matrix mixture design reads:
    Jensen-Shannon divergence between source unigram distributions
    (symmetric, bounded [0, ln 2], defined even when supports differ —
    unlike raw KL). Near-zero JSD → redundant sources to merge or
    down-weight in mixture_weights; high JSD → genuine diversity.
    Complements psi_distribution_drift (PSI watches ONE source over
    time; this compares sources pairwise). Tokens present on only one
    side contribute exactly 0.5·p·ln2 each, and Σp = 1, so the
    one-sided mass folds into the closed form 0.5·ln2·(1 − Σp_shared)
    per side — the pairwise work stays an INNER join on the
    (source, token) aggregate: |sources|²·|vocab| however many
    documents exist."""
    toks = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    )
    c = toks.groupBy("source", "token").agg((F.count(F.lit(1)) * 1.0).alias("cnt"))
    t = c.groupBy("source").agg(F.sum("cnt").alias("tot"))
    p = c.join(t, on="source").select(
        "source", "token", (F.col("cnt") / F.col("tot")).alias("p")
    )
    b = p.select(
        F.col("source").alias("source_b"), "token", F.col("p").alias("pb")
    )
    m = (F.col("p") + F.col("pb")) / 2.0
    term = 0.5 * F.col("p") * F.log(F.col("p") / m) + 0.5 * F.col("pb") * F.log(
        F.col("pb") / m
    )
    shared = (
        p.join(b, on="token")
        .filter(F.col("source") < F.col("source_b"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_terms"),
            F.sum(term).alias("jsd_shared"),
            F.sum("p").alias("pa_shared"),
            F.sum("pb").alias("pb_shared"),
        )
    )
    ln2 = float(__import__("math").log(2.0))
    return shared.select(
        "source_a",
        "source_b",
        "shared_terms",
        r4(
            F.col("jsd_shared")
            + 0.5 * ln2 * (1.0 - F.col("pa_shared"))
            + 0.5 * ln2 * (1.0 - F.col("pb_shared"))
        ).alias("js_divergence"),
    )


@register(
    "curriculum_phase_assign",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
    t AS (SELECT count(*) AS n FROM toks),
    diff AS (
      SELECT doc_id, count(*) AS n_tokens,
             avg(-ln(cnt * 1.0 / n)) AS difficulty
      FROM toks JOIN c USING (token) CROSS JOIN t GROUP BY 1
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY difficulty, doc_id) AS rn,
             count(*) OVER () AS nd
      FROM diff
    ),
    ph AS (
      SELECT *, CAST(least(3, floor((rn - 1) * 4.0 / nd)) AS BIGINT) AS phase
      FROM rk
    )
    SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(min(difficulty), 4) + 0.0 AS min_difficulty,
           round(avg(difficulty), 4) + 0.0 AS avg_difficulty,
           round(max(difficulty), 4) + 0.0 AS max_difficulty
    FROM ph GROUP BY 1
    """,
)
def curriculum_phase_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — curriculum ordering: rank documents by unigram
    difficulty (mean −ln p under the corpus's own distribution — the
    unigram_logperplexity signal) and cut into 4 equal phases
    (easy→hard), emitting per-phase token budgets for scheduler
    consumption. The explicit ⌊(rn−1)·4/n⌋ bucket replaces ntile() —
    engines disagree on ntile's remainder placement, floor arithmetic
    they cannot. NO global window (r8 plan sweep): the |docs|-sized
    difficulty ranking rides the two-level prefix sum
    (``with_global_rank``) and the doc count arrives as a 1-row
    broadcast — a billion-doc curriculum ranks as #partitions parallel
    sorts."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    )
    c = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    t = toks.agg(F.count(F.lit(1)).alias("n"))
    diff = (
        toks.join(c, on="token")
        .crossJoin(F.broadcast(t))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(-F.log(F.col("cnt") * 1.0 / F.col("n"))).alias("difficulty"),
        )
    )
    diff = diff.localCheckpoint()  # ranking + the count scalar share one pass
    nd = diff.agg(F.count(F.lit(1)).alias("nd"))
    rk = with_global_rank(
        diff, [F.asc("difficulty"), F.asc("doc_id")], rank_col="rn"
    ).crossJoin(F.broadcast(nd))  # 1-row scalar attach
    ph = rk.select(
        "*",
        F.least(F.lit(3), F.floor((F.col("rn") - 1) * 4.0 / F.col("nd")))
        .cast("bigint")
        .alias("phase"),
    )
    return ph.groupBy("phase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        r4(F.min("difficulty")).alias("min_difficulty"),
        r4(F.avg("difficulty")).alias("avg_difficulty"),
        r4(F.max("difficulty")).alias("max_difficulty"),
    )


@register(
    "quantile_normalize_lengths",
    oracle="""
    WITH g AS (
      SELECT n_chars AS v,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gi,
             count(*) OVER () AS gn
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ),
    m AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN ns = 1 THEN 1
                  ELSE CAST(floor((rn - 1.0) / (ns - 1.0) * (
                         (SELECT max(gn) FROM g) - 1) + 0.5) + 1 AS BIGINT)
             END AS gidx
      FROM s
    )
    SELECT m.doc_id, m.source, CAST(m.n_chars AS BIGINT) AS n_chars,
           CAST(g.v AS BIGINT) AS n_chars_normalized
    FROM m JOIN g ON g.gi = m.gidx
    """,
)
def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline — cross-source quantile normalization (the batch-effect
    correction borrowed from bioinformatics): each document's length is
    replaced by the GLOBAL length at its within-source percentile, so
    every source's length distribution becomes the corpus distribution
    — the pre-mixing step that stops a long-doc source from dominating
    a token budget. Index math is ⌊x+0.5⌋ (explicit half-up: engines
    disagree on round-half semantics, never on floor). NO global window
    (r8 plan sweep): the corpus-wide length ranking is the two-level
    prefix sum (``with_global_rank``) and the corpus count a 1-row
    broadcast; only the per-SOURCE rank windows remain, and those are
    key-partitioned. One prefix-sum ranking + one index equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    g = with_global_rank(
        docs.select(F.col("n_chars").alias("v"), "doc_id"),
        [F.asc("v"), F.asc("doc_id")],
        rank_col="gi",
    ).select("v", "gi")
    s = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ns"),
    )
    gn = docs.agg(F.count(F.lit(1)).alias("gn"))
    m = s.crossJoin(F.broadcast(gn)).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("ns") == 1, F.lit(1))
        .otherwise(
            (
                F.floor(
                    (F.col("rn") - 1.0)
                    / (F.col("ns") - 1.0)
                    * (F.col("gn") - 1)
                    + 0.5
                )
                + 1
            ).cast("bigint")
        )
        .alias("gidx"),
    )
    return m.join(g.select("gi", "v"), m.gidx == F.col("gi")).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("v").cast("bigint").alias("n_chars_normalized"),
    )


# ---------------------------------------------------------------------------
# r7 batch 5 — Welch t / Brown-Forsythe / SPRT / Katz walks /
# nominal assortativity
# ---------------------------------------------------------------------------


