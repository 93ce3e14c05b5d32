"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the correctness baseline; random-hyperplane
LSH bucketing and an IVF coarse quantizer as the scale paths (candidate
generation + exact re-rank).

Scale design: brute force is O(n_queries × n_corpus) — fine when the query
set is small and the corpus is partitioned (each partition scores its
slice; top-k per partition then global top-k merge, which is exactly what
``row_number`` over the scored join compiles to with AQE). For large query
sets, LSH buckets cut candidates to same-bucket pairs, and the plane
projections are a fixed small matrix broadcast as literals.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graph_db_spark.util import spread

# The ANN settings the retrieval queries share with their DuckDB oracles
# (q01's `_ivf_training_sql`, LSH plane table and PQ replays): 64-dim
# ``embedding`` vectors keyed by ``vec_id``, top-5 neighbours; LSH with 16
# tables of 4 planes; IVF with 16 centroids, 3 Lloyd rounds and 8 probes;
# PQ with 4 subspaces of 8 codewords, 2 Lloyd rounds.
_EMB_DIM, _ANN_K = 64, 5
_LSH_PLANES, _LSH_TABLES, _LSH_SEED = 4, 16, 42
_IVF_CENTROIDS, _IVF_ITERS, _IVF_NPROBE = 16, 3, 8
_PQ_M, _PQ_K_SUB, _PQ_ITERS = 4, 8, 2
# semantic_dedup drops a vector at cosine >= this to a lower-id member of
# its cluster, and refuses a cluster with more candidate pairs than the bound
_SEMDEDUP_THRESHOLD, _MAX_CLUSTER_PAIRS = 0.3, 25_000_000
# kcenter_select picks this many centers after the seed
_KCENTER_K = 8


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — zip_with + aggregate,
    JVM-side.

    The fold form is deliberate (r13 A/B): an unrolled fixed-dim
    multiply-add chain (``0.0 + a[0]*b[0] + ...``) measured ~5× MORE
    CPU on the brute-force pair streams — those run in a
    BroadcastNestedLoopJoin projection, which is NOT whole-stage-
    codegen'd, so the 64-term chain is walked as ~192 interpreted
    expression nodes with per-node array accessors, while
    ``ZipWith``/``ArrayAggregate`` loop tightly over the primitive
    array inside two nodes (identical-stream A/B at sf0.1: fold
    0.4–0.6 s vs unrolled 2.5 s over 32 tasks). What actually fixes
    the retrieval metrics is PARALLELISM — repartition the single-split
    probe side before streaming the broadcast (see mrr_hit_at_k)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the ``_ANN_K``
    nearest corpus vectors (excluding itself when ids collide). Returns
    ``(query_id, neighbor_id, cosine_sim, rank)``.

    The corpus side stays partitioned; the query side is broadcast — the
    join is a broadcast nested loop producing per-partition scored rows,
    then a single shuffle on query_id for the global top-k.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("q_vec")
    )
    c = spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANN_K)
    )


def hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-Python LCG so the
    planes are reproducible without numpy state)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        vec = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            vec.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        n = math.sqrt(sum(v * v for v in vec)) or 1.0
        planes.append([v / n for v in vec])
    return planes


def with_matrix(df: DataFrame, mat: list[list[float]], name: str) -> DataFrame:
    """Attach a small constant matrix as an ``array<array<double>>`` column
    via a broadcast single-row cross join.

    Embedding the matrix as expression literals instead puts every constant
    into the generated whole-stage code, and janino compile time of that
    code dominates wall clock (measured: ann_lsh_topk 11.4s with codegen vs
    6.7s interpreted at sf0.1 — data-size-independent). As a broadcast *row*
    the matrix is runtime data: the generated code only carries a column
    reference, and compile time is back to normal."""
    spark = df.sparkSession
    mat_df = spark.createDataFrame(
        [([list(map(float, row)) for row in mat],)], f"{name}: array<array<double>>"
    )
    return df.crossJoin(F.broadcast(mat_df))


def lsh_buckets_all(vec: Column, planes_col: Column, n_tables: int, n_planes: int) -> Column:
    """``array<struct<tbl,bucket>>`` — every table's bucket id from ONE
    projection pass over the stacked plane matrix (a ``with_matrix`` column
    of all tables' planes concatenated; one traversal of the vector total).
    Binding the projection array to a lambda variable via a 1-element
    ``transform`` makes it a genuine common subexpression — the per-table
    bucket folds reference the bound variable instead of re-projecting."""
    projs = F.transform(planes_col, lambda p: dot(vec, p))

    def bucket(ps: Column) -> Column:
        bits = F.zip_with(
            ps,
            F.sequence(F.lit(0), F.lit(n_planes - 1)).cast("array<bigint>"),
            lambda proj, i: F.when(
                proj >= 0, F.pow(F.lit(2.0), i).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint")),
        )
        return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc + b)

    return F.transform(
        F.array(projs),
        lambda ps: F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.struct(
                t.cast("int").alias("tbl"),
                bucket(F.slice(ps, t * n_planes + 1, F.lit(n_planes))).alias("bucket"),
            ),
        ),
    )[0]


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """ANN top-``_ANN_K``: multi-table random-hyperplane LSH.

    Each of ``_LSH_TABLES`` hash tables buckets vectors by ``_LSH_PLANES``
    sign bits (independent plane sets); candidates = corpus vectors sharing
    a bucket with the query in ANY table; exact cosine re-rank on the
    candidate union. Recall rises with the table count (union of probes),
    selectivity with the plane count (smaller buckets).

    Scale shape: each table contributes one bucket-id column; the explode
    to (table, bucket) rows keeps shuffle volume O(n·tables) and the
    per-bucket joins never approach O(n²). Candidate dedup happens before
    the exact re-rank, so each candidate is scored once.
    """
    n_planes, n_tables = _LSH_PLANES, _LSH_TABLES
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("q_vec")
    )
    c = spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("c_vec")
    )
    stacked = [
        plane
        for t in range(n_tables)
        for plane in hyperplanes(_EMB_DIM, n_planes, _LSH_SEED + 1000 * t)
    ]
    buckets = lambda v: lsh_buckets_all(v, F.col("_planes"), n_tables, n_planes)  # noqa: E731
    qb = with_matrix(q, stacked, "_planes").select(
        "query_id", "q_vec", F.explode(buckets(F.col("q_vec"))).alias("tb")
    ).select("query_id", "q_vec", "tb.tbl", "tb.bucket")
    cb = with_matrix(c, stacked, "_planes").select(
        "neighbor_id", "c_vec", F.explode(buckets(F.col("c_vec"))).alias("tb")
    ).select("neighbor_id", "c_vec", "tb.tbl", "tb.bucket")
    candidates = (
        cb.join(F.broadcast(qb), on=["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _ANN_K)


def _centroid_sims(vec: Column, centroids_col: Column) -> Column:
    """array<double> of cosine-proxy scores (dot products against unit
    centroids in a ``with_matrix`` column) — one ``transform``, a single
    traversal of the vector per row, no literals in codegen."""
    return F.transform(centroids_col, lambda c: dot(vec, c))


def _top_clusters(sims: Column, nprobe: int) -> Column:
    """Indices of the ``nprobe`` highest-scoring centroids. Struct sort
    compares field-by-field, so (sim, idx) descending gives a deterministic
    probe order — all JVM-side array ops."""
    idx = F.sequence(F.lit(0), F.size(sims) - 1)
    ranked = F.reverse(
        F.array_sort(F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("s"), i.alias("i"))))
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda st: st["i"])


def ivf_centroids(corpus: DataFrame) -> list[list[float]]:
    """Deterministic spherical-k-means centroids (unit-normalized) of the
    ``embedding`` column, ``_IVF_ITERS`` Lloyd rounds.

    Seeds = the ``_IVF_CENTROIDS`` corpus vectors with the smallest LCG mix
    ``(id·1103515245 + 12345) mod 2³¹`` — a deterministic pseudo-random
    sample that needs no driver-side randomness and no full sort
    (TakeOrdered top-k). The mix is plain bounded integer arithmetic (no
    64-bit overflow) so an external SQL oracle can reproduce the seed
    choice exactly — unlike xxhash64, which exists only in Spark. Each Lloyd
    round is: broadcast-literal argmax assignment (narrow) + posexplode →
    ``groupBy(cluster, pos).avg`` (one shuffle whose map-side combine
    reduces O(n·dim) values to O(centroids·dim) per task). Only the
    centroid matrix itself — centroids × dim doubles — ever reaches the
    driver, so the procedure holds at 100 TB corpus scale.
    """
    v = _as_double(F.col("embedding"))
    # bind norm(v) once via the 1-element-array lambda trick — the naive
    # transform(v, x -> x/norm(v)) re-evaluates the norm fold per ELEMENT
    # (O(d²) interpreted ops per row)
    unitvec = F.transform(F.array(norm(v)), lambda nv: F.transform(v, lambda x: x / nv))[0]
    lcg = (F.col("vec_id").cast("bigint") * 1103515245 + 12345) % 2147483648
    unit = corpus.select(
        unitvec.alias("v"), lcg.alias("h"), F.col("vec_id").alias("_sid")
    # materialize the normalized vectors once — every Lloyd round reuses
    # them instead of re-scanning + re-normalizing the corpus (at cluster
    # scale this is one persisted copy amortized over the Lloyd passes)
    ).localCheckpoint(eager=True)
    # deterministic tiebreak on id so an LCG collision can't reorder seeds
    seeds = unit.orderBy("h", "_sid").limit(_IVF_CENTROIDS).select("v").collect()
    centroids = [list(r["v"]) for r in seeds]
    for _ in range(_IVF_ITERS):
        assigned = with_matrix(unit, centroids, "_cents").select(
            "v",
            _top_clusters(_centroid_sims(F.col("v"), F.col("_cents")), 1)[0].alias("cluster"),
        )
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        new = []
        for ci, old in enumerate(centroids):
            comp = by_cluster.get(ci)
            if not comp:  # empty cluster keeps its previous centroid
                new.append(old)
                continue
            vec = [comp[p] for p in range(len(old))]
            n = math.sqrt(sum(x * x for x in vec)) or 1.0
            new.append([x / n for x in vec])
        centroids = new
    return centroids


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = _ANN_K) -> DataFrame:
    """ANN top-k via an IVF coarse quantizer: spherical k-means partitions
    the corpus into ``_IVF_CENTROIDS`` inverted lists; each query probes
    its ``_IVF_NPROBE`` nearest centroids and exact-cosine re-ranks only
    those lists' members. Returns ``(query_id, neighbor_id, cosine_sim,
    rank)``.

    Scale shape vs LSH: one equi-join on ``cluster`` (candidates ≈
    n·nprobe/centroids per query, tunable directly). Cluster sizes follow
    the data distribution, so a skewed corpus concentrates lists: raise
    ``_IVF_CENTROIDS`` (finer lists) rather than salting, which would
    defeat the pruning.
    """
    centroids = ivf_centroids(corpus)
    c = with_matrix(
        spread(corpus).select(
            F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("c_vec")
        ),
        centroids,
        "_cents",
    ).select(
        "neighbor_id",
        "c_vec",
        _top_clusters(_centroid_sims(F.col("c_vec"), F.col("_cents")), 1)[0].alias("cluster"),
    )
    q = with_matrix(
        queries.select(
            F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("q_vec")
        ),
        centroids,
        "_cents",
    ).select(
        "query_id",
        "q_vec",
        F.explode(
            _top_clusters(_centroid_sims(F.col("q_vec"), F.col("_cents")), _IVF_NPROBE)
        ).alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(q), on="cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Cluster assignment ``(id, v, cluster)`` — argmax cosine against the
    broadcast centroid matrix over raw vectors (scale-invariant; same
    larger-index tiebreak as ``cosine_topk_ivf``'s corpus side). One
    narrow pass; nothing but the centroid matrix is broadcast."""
    return with_matrix(
        spread(corpus).select(
            F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
        ),
        centroids,
        "_cents",
    ).select(
        "id",
        "v",
        _top_clusters(_centroid_sims(F.col("v"), F.col("_cents")), 1)[0].alias("cluster"),
    )


def semantic_dedup(corpus: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings with the IVF coarse quantizer, then inside each cluster
    drop every vector whose cosine to a LOWER-id member is ≥
    ``_SEMDEDUP_THRESHOLD`` (keep-first, deterministic). Returns
    ``(vec_id, cluster, is_kept)``.

    Scale shape: the pairwise comparison never crosses clusters — the
    pair space is Σ per-cluster n², bounded by the quantizer, and
    :func:`graph_db_spark.operators.dedup.guard_block_pairs` raises if a
    degenerate corpus concentrates one cluster past ``_MAX_CLUSTER_PAIRS``
    (remedy: raise ``_IVF_CENTROIDS`` — finer lists shrink every cluster,
    which is the SemDeDup paper's own scaling knob). Centroid training
    touches the driver only with the k×dim matrix."""
    from graph_db_spark.operators.dedup import guard_block_pairs

    centroids = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, centroids).localCheckpoint()
    guard_block_pairs(assigned, "cluster", _MAX_CLUSTER_PAIRS)
    a = assigned.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "cluster")
    b = assigned.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "cluster")
    dups = (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= _SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dups, on="id", how="left").select(
        F.col("id").alias("vec_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("_dup").isNull().alias("is_kept"),
    )


def embedding_diversity(corpus: DataFrame) -> DataFrame:
    """Per-``label`` embedding diversity: mean pairwise cosine similarity,
    computed WITHOUT the O(n²) pair join via the sum-vector identity —
    for unit vectors uᵢ, Σᵢ≠ⱼ uᵢ·uⱼ = ‖Σu‖² − n, so

        mean_cos = (‖Σu‖² − n) / (n·(n−1)).

    One explode + two key-partitioned aggregations: O(n·dim) work, one
    shuffle of (key, pos) partial sums — the curation metric that tells a
    mixture planner how redundant a source is, at any corpus size.
    Returns ``(label, n_vectors, mean_pairwise_cosine)``; groups with a
    single vector have no pairs and return NULL."""
    keys = ["label"]
    v = _as_double(F.col("embedding"))
    # bind norm once (1-element-array trick); zero vectors contribute zeros
    unit = F.transform(
        F.array(norm(v)),
        lambda nv: F.transform(v, lambda x: F.when(nv > 0, x / nv).otherwise(F.lit(0.0))),
    )[0]
    rows = spread(corpus).select(*keys, F.posexplode(unit).alias("pos", "x"))
    sums = rows.groupBy(*keys, "pos").agg(F.sum("x").alias("s"))
    ss = sums.groupBy(*keys).agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
    cnt = corpus.groupBy(*keys).agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    n = F.col("n_vectors").cast("double")
    mean_cos = F.when(n > 1, (F.col("ss") - n) / (n * (n - 1)))
    # + 0.0 pins IEEE -0.0 (a slightly-negative mean rounds to -0.0 and
    # the driver's value hash distinguishes it — sf0.1 sweep find)
    return ss.join(cnt, on=keys).select(
        *keys, "n_vectors",
        (F.round(mean_cos, 4) + F.lit(0.0)).alias("mean_pairwise_cosine"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid: "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the compressed-domain ANN path.
# ---------------------------------------------------------------------------


def _sub(vec: Column, s: int, subdim: int) -> Column:
    """Subspace ``s``'s slice of a vector (1-based F.slice)."""
    return F.slice(vec, s * subdim + 1, subdim)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via the expanded form dp(a,a) − 2·dp(a,b) +
    dp(b,b). The THREE left-to-right dot-product folds are the exact
    summation order the DuckDB oracle replays (list_dot_product is also a
    left fold) — the same cross-engine float-parity discipline as the IVF
    argmax (plans/queries.py:_ivf_training_sql)."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def _argmin_code(sub: Column, book: Column) -> Column:
    """Index of the nearest codeword (squared L2; ties → SMALLER index via
    ascending struct sort on (dist, idx) — the oracle's
    ``ORDER BY d ASC, code ASC``)."""
    dists = F.transform(book, lambda c: _l2sq(sub, c))
    idx = F.sequence(F.lit(0), F.size(book) - 1)
    ranked = F.array_sort(
        F.zip_with(dists, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    return ranked[0]["i"]


def pq_codebooks(corpus: DataFrame) -> list[list[list[float]]]:
    """Train ``m = _PQ_M`` per-subspace codebooks of ``k_sub = _PQ_K_SUB``
    codewords each over the ``embedding`` column — plain (non-spherical)
    L2 k-means over each subvector block, ``_PQ_ITERS`` Lloyd rounds.

    Same engine-portable determinism contract as :func:`ivf_centroids`:
    seeds are the ``k_sub`` corpus rows with the smallest LCG mix
    ``(id·1103515245 + 12345) mod 2³¹`` (one seed ROW set shared by all
    subspaces — each subspace takes its slice), assignment is argmin
    squared-L2 with smaller-index tiebreak, means are plain per-dimension
    averages (no normalization — PQ codewords live in the data's affine
    space), and an empty cluster keeps its previous codeword. Per Lloyd
    round: one narrow argmin pass + one posexplode/groupBy-avg shuffle
    covering ALL subspaces at once; only m·k_sub·(dim/m) = dim·k_sub
    doubles ever reach the driver, so training holds at corpus scale."""
    m, k_sub = _PQ_M, _PQ_K_SUB
    subdim = _EMB_DIM // m
    v = _as_double(F.col("embedding"))
    lcg = (F.col("vec_id").cast("bigint") * 1103515245 + 12345) % 2147483648
    base = corpus.select(
        v.alias("v"), lcg.alias("h"), F.col("vec_id").alias("_sid")
    ).localCheckpoint(eager=True)
    seed_rows = base.orderBy("h", "_sid").limit(k_sub).select("v").collect()
    books = [
        [list(r["v"])[s * subdim : (s + 1) * subdim] for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(_PQ_ITERS):
        with_books = with_matrix(
            base, [c for book in books for c in book], "_flat"
        )  # m·k_sub codewords stacked; subspace s owns rows [s·k_sub, (s+1)·k_sub)
        coded = with_books.select(
            "v",
            *[
                _argmin_code(
                    _sub(F.col("v"), s, subdim),
                    F.slice(F.col("_flat"), s * k_sub + 1, k_sub),
                ).alias(f"c{s}")
                for s in range(m)
            ],
        )
        # one exploded agg over every (subspace, code, dim) cell
        cells = coded.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"c{s}").alias("code"),
                            _sub(F.col("v"), s, subdim).alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        ).select(
            F.col("e.s").alias("s"),
            F.col("e.code").alias("code"),
            F.posexplode(F.col("e.sub")).alias("pos", "x"),
        )
        means = (
            cells.groupBy("s", "code", "pos").agg(F.avg("x").alias("mn")).collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["s"], r["code"]), {})[r["pos"]] = r["mn"]
        books = [
            [
                [got[(s, j)][p] for p in range(subdim)] if (s, j) in got else old
                for j, old in enumerate(book)
            ]
            for s, book in enumerate(books)
        ]
    return books


def pq_encode(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Encode each vector as ``codes: array<int>`` (length m) — its
    nearest codeword per subspace. The compressed corpus this produces is
    the PQ scale story: m small ints per vector instead of ``dim``
    floats (16× at m=4/dim=64 before bit-packing), and the ADC scan
    reads ONLY the codes."""
    m, k_sub = len(books), len(books[0])
    subdim = len(books[0][0])
    flat = [c for book in books for c in book]
    return with_matrix(
        spread(df).select(
            F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
        ),
        flat,
        "_flat",
    ).select(
        "id",
        F.array(
            *[
                _argmin_code(
                    _sub(F.col("v"), s, subdim),
                    F.slice(F.col("_flat"), s * k_sub + 1, k_sub),
                )
                for s in range(m)
            ]
        ).alias("codes"),
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = _ANN_K) -> DataFrame:
    """ANN top-k by asymmetric distance computation over PQ codes: each
    query precomputes its m×k_sub distance table against the broadcast
    codebooks, then every corpus vector's approximate distance is m table
    LOOKUPS summed — never a ``dim``-wide dot product, and the corpus
    side of the scan is the codes column alone. Returns
    ``(query_id, neighbor_id, approx_dist, rank)``, ascending distance.

    Scale shape: the compressed scan is O(n·m) lookups vs brute force's
    O(n·dim) multiplies, over a 16×-smaller corpus projection; codebooks
    (dim·k_sub doubles) ride a broadcast row. Composes with the IVF
    coarse quantizer (restrict the scan to ``ivf_assign`` probe lists)
    exactly as IVF-PQ does; the full ADC scan here is the Jégou et al.
    baseline and the honest recall ceiling."""
    m, k_sub = _PQ_M, _PQ_K_SUB
    books = pq_codebooks(corpus)
    subdim = _EMB_DIM // m
    flat = [c for book in books for c in book]
    codes = pq_encode(corpus, books).withColumnRenamed("id", "neighbor_id")
    def _dtab_row(s: int) -> Column:
        # NOTE: the codeword lambda must stay unary — a second Python arg
        # (even a defaulted one) makes pyspark pass the ELEMENT INDEX as
        # the extra transform argument; close over ``s`` instead.
        return F.transform(
            F.slice(F.col("_flat"), s * k_sub + 1, k_sub),
            lambda c: _l2sq(_sub(F.col("qv"), s, subdim), c),
        )

    q = with_matrix(
        queries.select(
            F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
        ),
        flat,
        "_flat",
    ).select(
        "query_id",
        # per-query distance table: dtab[s][j] = ‖q_s − books[s][j]‖²
        F.array(*[_dtab_row(s) for s in range(m)]).alias("dtab"),
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("dtab"), lambda c, trow: F.element_at(trow, c + 1)
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = codes.join(
        F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", adc.alias("approx_dist"))
    w = Window.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_ivf_pq(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-PQ: the IVF coarse quantizer prunes candidates to
    ``_IVF_NPROBE`` inverted lists, then the re-rank inside those lists is COMPRESSED —
    approximate cosine from PQ codes alone:

        cos(q, v) ≈ (Σ_s 〈q_s, cw_s〉) / (‖q‖ · √(Σ_s ‖cw_s‖²))

    where cw_s is subspace s's codeword for v. Both the numerator terms
    and the reconstruction norm are m table lookups per pair — the
    candidate scan never touches a raw corpus vector, which is the point
    at 100 TB: candidates are corpus·nprobe/n_centroids (IVF's pruning)
    AND each costs O(m) lookups over a 16×-smaller projection (PQ's
    compression). Codebooks are GLOBAL, not per-list residual codebooks
    (FAISS ``by_residual=False`` flavor) — the residual variant needs a
    cosine-consistent residual space and is the documented upgrade.
    Returns ``(query_id, neighbor_id, approx_cos, rank)`` for the top
    ``_ANN_K``."""
    m, k_sub = _PQ_M, _PQ_K_SUB
    centroids = ivf_centroids(corpus)
    books = pq_codebooks(corpus)
    subdim = _EMB_DIM // m
    flat = [c for book in books for c in book]
    assigned = ivf_assign(corpus, centroids)
    codes = pq_encode(corpus, books)
    cand = (
        assigned.select(F.col("id").alias("neighbor_id"), "cluster")
        .join(codes.withColumnRenamed("id", "neighbor_id"), on="neighbor_id")
    )
    q = with_matrix(
        with_matrix(
            queries.select(
                F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
            ),
            centroids,
            "_cents",
        ),
        flat,
        "_flat",
    ).select(
        "query_id",
        F.explode(
            _top_clusters(_centroid_sims(F.col("qv"), F.col("_cents")), _IVF_NPROBE)
        ).alias("cluster"),
        # dot table dt[s][j] = 〈q_s, books[s][j]〉 — unary lambda (see
        # pq_topk note on transform's index argument)
        F.array(
            *[
                F.transform(
                    F.slice(F.col("_flat"), s * k_sub + 1, k_sub),
                    (lambda _s: lambda c: dot(_sub(F.col("qv"), _s, subdim), c))(s),
                )
                for s in range(m)
            ]
        ).alias("dt"),
        norm(F.col("qv")).alias("qn"),
    )
    # reconstruction-norm table is query-independent: nt[s][j] = ‖books[s][j]‖²
    nt = [[sum(x * x for x in c) for c in book] for book in books]
    recon_sq = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.array(*[F.array(*[F.lit(v) for v in row]) for row in nt]),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    approx_dot = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("dt"), lambda c, row: F.element_at(row, c + 1)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    denom = F.col("qn") * F.sqrt(recon_sq)
    scored = (
        cand.join(F.broadcast(q), on="cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(denom > 0, approx_dot / denom).otherwise(F.lit(0.0)).alias("approx_cos"),
        )
        # a corpus vector can appear via several probed clusters only if
        # ids collide across lists — assignment is unique, so no dedup
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _ANN_K)


def kcenter_select(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) coreset selection: start
    from the smallest-id vector, then k = ``_KCENTER_K`` times pick the
    point farthest
    from every center chosen so far. Returns (round, id, sep) — ``sep``
    is the selected point's distance to its nearest prior center, a
    monotone non-increasing sequence that IS the 2-approximation bound on
    the k-center radius (Gonzalez 1985).

    Scale: each round is ONE O(n*dim) narrow scan — the candidate set
    never pairs with itself; the chosen set lives on the driver (k
    vectors, broadcast into the comparison expression as literals), and
    ``localCheckpoint`` keeps the lineage flat across rounds, so total
    cost is O(k * n * dim) with no shuffle at all (argmax is a
    TakeOrdered). The per-round 1-row collect is the sanctioned k-sized
    driver probe. Distances use the expanded-form squared L2 (_l2sq) so
    the DuckDB oracle replays bit-identical float folds."""
    k = _KCENTER_K
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    emb = df.select(
        F.col(id_col).cast("bigint").alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    seed_rows = emb.orderBy("id").limit(1).collect()
    if not seed_rows:
        raise ValueError("kcenter_select: empty input")
    seed = seed_rows[0]

    def lit_vec(vals: list[float]) -> Column:
        return F.array(*[F.lit(float(x)) for x in vals])

    rows = [(0, seed["id"], 0.0)]
    cur = emb.withColumn("md", _l2sq(F.col("v"), lit_vec(seed["v"]))).localCheckpoint(
        eager=True
    )
    for t in range(1, k + 1):
        # md > 0 drops exact duplicates of chosen centers from the argmax
        # (mirrors the oracle's WHERE md > 0); ties break to smaller id
        top_rows = (
            cur.filter(F.col("md") > 0).orderBy(F.desc("md"), F.asc("id")).limit(1).collect()
        )
        if not top_rows:
            # fewer than k+1 distinct vectors: every remaining point is an
            # exact duplicate of a chosen center — the selection is complete
            break
        top = top_rows[0]
        rows.append((t, top["id"], top["md"]))
        cur = cur.withColumn(
            "md", F.least(F.col("md"), _l2sq(F.col("v"), lit_vec(top["v"])))
        ).localCheckpoint(eager=True)
    out = df.sparkSession.createDataFrame(rows, "round bigint, id bigint, md double")
    return out.select("round", "id", F.sqrt(F.col("md")).alias("sep"))
