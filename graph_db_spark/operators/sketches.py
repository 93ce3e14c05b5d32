"""Mergeable sketch aggregates — the re-aggregation story at 100 TB.

The reference's telemetry counters (SURVEY.md §2.4 A9) are exact and
single-pass; at cluster scale the useful generalization is a *mergeable*
summary: compute one small sketch per (key, day) partition ONCE at ingest,
then answer any date-range distinct-count rollup by merging sketches —
O(days × keys) sketch rows instead of re-scanning the raw 100 TB. All
JVM-side Datasketches builtins (``hll_sketch_agg`` / ``hll_union_agg``),
no Python crossing.

Exact quantiles ride along: ``percentile`` (continuous interpolation) is
exact and matches DuckDB ``quantile_cont``, so it oracle-checks; use
``approx_percentile`` at scales where an exact sort-based percentile is
too heavy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Sketch sizes and seeds the sketch queries share with their DuckDB
# oracles: Datasketches HLL lgK; portable HLL with 2^12 registers; a
# 4-row Count-Min (width and seed vary per query); a 4096-bit Bloom
# filter probed by 3 hashes; 32-value KMV samples over portable_hash64
_HLL_LG_K, _HLL_P = 12, 12
_CMS_DEPTH = 4
_BLOOM_M, _BLOOM_K, _BLOOM_SEED = 4096, 3, 101
_KMV_K = 32
_HASH64_SEED = 83


def hll_day_sketches(df: DataFrame, ts_col: str, keys: list[str], value_col: str) -> DataFrame:
    """One HLL sketch per (keys..., day): ``(keys..., day, sketch)``.

    This is the ingest-time pre-aggregation: a day of raw rows collapses to
    one ~2^_HLL_LG_K-byte binary per group. Map-side partial aggregation does
    most of the collapse before the single key shuffle.
    """
    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    return df.groupBy(*keys, day).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(_HLL_LG_K)).alias("sketch")
    )


def hll_merge_estimate(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge per-day sketches up to ``keys`` and estimate the distinct
    count: ``(keys..., distinct_est)``. The input is sketch rows (tiny),
    so arbitrary re-rollups never touch the raw data again.
    """
    return sketches.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("bigint").alias("distinct_est")
    )


def exact_percentiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    percentiles: list[float],
) -> DataFrame:
    """Exact continuous-interpolation percentiles per group:
    ``(keys..., p_<pct>...)``. Matches ANSI ``percentile_cont`` /
    DuckDB ``quantile_cont`` bit-for-bit on the fixtures, so it is
    oracle-checkable; swap in ``approx_percentile`` (KLL-style, bounded
    error, single pass) when the per-group sort is the bottleneck."""
    aggs: list[Column] = [
        F.round(F.percentile(F.col(value_col), F.lit(p)), 4).alias(
            f"p_{str(p).replace('.', '_')}"
        )
        for p in percentiles
    ]
    return df.groupBy(*keys).agg(*aggs)


def _portable_buckets(col: Column, depth: int, width: int, seed: int) -> Column:
    """``array<long>`` of ``depth`` bucket indices for one item: one
    portable char hash, then ``depth`` LCG-derived affine maps mod
    ``width``. The char hash is bound once via the 1-element-array
    ``transform`` trick (SCALE.md §2.1): higher-order functions run
    interpreted with no common-subexpression elimination, so referencing
    the hash ``depth`` times would re-traverse the string per copy."""
    from graph_db_spark.operators.dedup import _MINHASH_P, minhash_params, portable_hash

    params = minhash_params(depth, seed=seed)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    idx = F.sequence(F.lit(0), F.lit(depth - 1))
    return F.element_at(
        F.transform(
            F.array(portable_hash(col)),
            lambda h: F.transform(
                idx,
                lambda j: (
                    (F.element_at(a_arr, j + 1) * h + F.element_at(b_arr, j + 1))
                    % _MINHASH_P
                )
                % width,
            ),
        ),
        1,
    )


def count_min_table(
    counts: DataFrame,
    item_col: str,
    count_col: str,
    width: int = 256,
    seed: int = 41,
    keys: list[str] | None = None,
) -> DataFrame:
    """Count-Min sketch as ``_CMS_DEPTH × width`` rows ``(j, bucket, cnt)``.

    Built from PRE-AGGREGATED ``(item, count)`` rows — identical to
    incrementing per occurrence (bucket cnt = Σ counts of items mapping
    there) but the expensive portable hash runs once per DISTINCT item,
    and the heavy per-occurrence collapse happens in the upstream exact
    groupBy's map-side combine. Sketch tables merge by summing ``cnt``
    per (j, bucket) — the same re-aggregation story as the HLL day
    sketches above. Size is depth·width rows regardless of data scale.

    ``keys`` (e.g. ``["day"]``) yields one sketch per key group — the
    ingest-time pre-aggregation; :func:`count_min_merge` rolls key groups
    up afterwards without touching raw data again.
    """
    keys = keys or []
    buckets = _portable_buckets(F.col(item_col), _CMS_DEPTH, width, seed)
    return (
        counts.select(
            *keys, F.col(count_col).alias("_c"), F.posexplode(buckets).alias("j", "bucket")
        )
        .groupBy(*keys, "j", "bucket")
        .agg(F.sum("_c").cast("bigint").alias("cnt"))
    )


def count_min_merge(cms: DataFrame) -> DataFrame:
    """Merge per-key sketches into one: sum cells per (j, bucket). The
    input is sketch rows (depth·width per key group) — date-range rollups
    never rescan the corpus, mirroring ``hll_merge_estimate``."""
    return cms.groupBy("j", "bucket").agg(F.sum("cnt").cast("bigint").alias("cnt"))


def count_min_lookup(
    cms: DataFrame,
    items: DataFrame,
    item_col: str,
    width: int = 256,
    seed: int = 41,
) -> DataFrame:
    """Point-query the sketch for every row of ``items``: adds
    ``est_cnt`` = min over the ``depth = _CMS_DEPTH`` counters. The sketch side is
    depth·width rows → broadcast; one narrow groupBy on the item restores
    the row shape. CMS guarantee: estimate ≥ true count always (merge of
    non-negative counters), ≤ true + ε·N with prob 1−δ for ε=e/width,
    δ=e^−depth — deterministic here, so the oracle reproduces it exactly.
    """
    buckets = _portable_buckets(F.col(item_col), _CMS_DEPTH, width, seed)
    exploded = items.select(
        F.col(item_col).alias("_item"), F.posexplode(buckets).alias("j", "bucket")
    )
    return (
        exploded.join(F.broadcast(cms), on=["j", "bucket"], how="left")
        .groupBy("_item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est_cnt"))
        .withColumnRenamed("_item", item_col)
    )


def bloom_bits(df: DataFrame, col: str) -> DataFrame:
    """Bloom filter of a key set as its DISTINCT set bit positions:
    one row per set bit (≤ m = ``_BLOOM_M`` rows; ≤ k·|keys| before
    dedup, k = ``_BLOOM_K``). The build side of a pruning semi-join is
    dimension-sized by assumption, so the bit table broadcasts."""
    buckets = _portable_buckets(F.col(col), _BLOOM_K, _BLOOM_M, _BLOOM_SEED)
    return df.select(F.explode(buckets).alias("bit")).distinct()


def bloom_contains(df: DataFrame, col: str, bits: DataFrame) -> DataFrame:
    """Adds ``bloom_pass``: true iff all k = ``_BLOOM_K`` bit positions of
    ``col`` are set — the classic pre-shuffle semi-join pruning (Spark's own runtime
    bloom-filter join is the JVM-native version of this). No false
    negatives ever; false-positive rate ≈ (1−e^{−k·n/m})^k.

    The probe is a NARROW map: the bit set is densified to an m-length
    0/1 array (m = ``_BLOOM_M``) in a one-row DataFrame (executor-side aggregation — the
    driver never holds it) and attached via broadcast cross join (the
    ``with_matrix`` pattern, similarity.py:92); each row then does k
    O(1) ``element_at`` probes. The 100 TB fact side neither shuffles
    nor joins to discover it doesn't match."""
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_BLOOM_M - 1)),
        lambda i: F.array_contains(F.col("_set"), i).cast("int"),
    )
    one = bits.agg(F.collect_set(F.col("bit")).alias("_set")).select(
        dense.alias("_bloom_dense")
    )
    buckets = _portable_buckets(F.col(col), _BLOOM_K, _BLOOM_M, _BLOOM_SEED)
    probe = F.forall(
        buckets,
        lambda b: F.element_at(F.col("_bloom_dense"), (b + 1).cast("int")) == 1,
    )
    return (
        df.crossJoin(F.broadcast(one))
        .withColumn("bloom_pass", probe)
        .drop("_bloom_dense")
    )


def kmv_sketches(df: DataFrame, set_col: str, item_col: str) -> DataFrame:
    """KMV (k-minimum-values) sketch per set: the k = ``_KMV_K`` smallest portable
    hashes of the set's distinct items, as a sorted ``array<long>``
    (``sample``) plus the true distinct count of hashes (``n_hashes``).

    KMV is the sketch for distinct-count SET ALGEBRA: unlike HLL it
    supports intersection estimates (merge samples, take the k smallest,
    measure sample overlap), which is what audience-overlap / corpus-
    overlap questions need. Build cost: one distinct shuffle on
    (set, item), one k-bounded window per set. Sketches are mergeable —
    union two samples, keep the k smallest. With fewer than k distinct
    items the sample IS the set (exact regime; estimators must branch —
    see :func:`kmv_union_intersection`)."""
    h = df.select(
        F.col(set_col).alias("s"),
        portable_hash64(F.col(item_col).cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("s").orderBy("h")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .groupBy("s")
        .agg(
            F.sort_array(F.collect_list(F.when(F.col("rn") <= _KMV_K, F.col("h")))).alias(
                "sample"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
        )
        .withColumnRenamed("s", set_col)
    )


def portable_hash64(col: Column) -> Column:
    """62-bit engine-portable UNIFORM hash: two independent polynomial
    char hashes, each passed through an LCG-derived affine map mod
    2^31−1, combined as hi·2^31 + lo. The affine maps are what make it
    uniform: a raw polynomial of a short string ("42") is a small
    integer, so k-minimum ordering and range-scaled estimators would see
    a grossly non-uniform distribution without them (measured: KMV union
    estimate off by 5 orders of magnitude on 1-3 char ids). Value range
    [0, (2^31−1)·2^31 + 2^31−1) — KMV_HASH_RANGE. The affine maps are
    drawn from ``minhash_params(2, seed=_HASH64_SEED)``."""
    from graph_db_spark.operators.dedup import _MINHASH_P, minhash_params, portable_hash

    (a1, b1), (a2, b2) = minhash_params(2, seed=_HASH64_SEED)
    hi = (F.lit(a1) * portable_hash(col, 31) + F.lit(b1)) % _MINHASH_P
    lo = (F.lit(a2) * portable_hash(col, 131) + F.lit(b2)) % _MINHASH_P
    return hi * F.lit(2**31).cast("long") + lo


def kmv_union_intersection(pairs: DataFrame, a_sample: str, b_sample: str) -> DataFrame:
    """Adds KMV union/intersection distinct estimates for two sketches.

    Merged sketch = k = ``_KMV_K`` smallest of the union of samples. Estimators
    (Beyer et al. 2007): union_est = (k−1)·H / kth-min for the hash range
    H when the merged sample is full, else the exact merged-sample size;
    jaccard_est = |merged ∩ A ∩ B| / |merged|; intersection_est =
    jaccard_est · union_est. Pure array Column exprs — the sketch rows
    are tiny, the work is O(k log k) per pair."""
    k = _KMV_K
    hash_range = float(2147483647 * 2**31)  # portable_hash64 value bound
    merged_all = F.array_sort(
        F.array_distinct(F.array_union(F.col(a_sample), F.col(b_sample)))
    )
    merged = F.slice(merged_all, 1, k)
    m_size = F.size(merged)
    full = (F.size(merged_all) >= k) & (m_size == k)
    kth = F.element_at(merged, k).cast("double")
    union_est = F.when(full, (k - 1) * F.lit(hash_range) / kth).otherwise(
        F.size(merged_all).cast("double")
    )
    overlap = F.size(
        F.array_intersect(F.array_intersect(merged, F.col(a_sample)), F.col(b_sample))
    )
    jac = overlap.cast("double") / m_size
    return pairs.withColumn("union_est", union_est).withColumn(
        "intersection_est", jac * F.col("union_est")
    )


def portable_hll_registers(
    df: DataFrame, ts_col: str, keys: list[str], value_col: str
) -> DataFrame:
    """Engine-portable HLL: per (keys..., day) the sketch is ``2^p``
    (p = ``_HLL_P``) register ROWS ``(idx, r)`` — idx = low p bits of a 62-bit portable
    hash, r = leading-zero rank of the remaining bits. Mergeable by
    ``max(r)`` per (key, idx), exactly like binary sketches but with
    every step (two polynomial char hashes, shift, bin-length rank)
    reproducible in plain SQL — which upgrades the HLL estimate from
    rows-only to an exact hash-matched oracle. The Datasketches builtins
    above stay as the compact-binary production variant."""
    from graph_db_spark.operators.dedup import portable_hash

    p = _HLL_P
    m = 1 << p
    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    v = F.col(value_col).cast("string")
    h64 = portable_hash(v, 31) * F.lit(2**31).cast("long") + portable_hash(v, 131)
    w = F.shiftright(h64, p)  # integer shift — h64/m float division would
    # lose low bits past the 53-bit mantissa and corrupt ranks
    rho = F.when(w == 0, F.lit(63 - p)).otherwise(F.lit(63 - p) - F.length(F.bin(w)))
    return (
        df.select(*keys, day, h64.bitwiseAND(F.lit(m - 1)).alias("idx"), rho.alias("rho"))
        .groupBy(*keys, "day", "idx")
        .agg(F.max("rho").alias("r"))
    )


def portable_hll_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Merge portable register rows up to ``keys`` and apply the standard
    HLL estimator (harmonic mean + linear-counting small-range
    correction) as ``distinct_est``. Closed-form floating math —
    identical in DuckDB."""
    m = 1 << _HLL_P
    alpha_m2 = (0.7213 / (1 + 1.079 / m)) * m * m
    merged = regs.groupBy(*keys, "idx").agg(F.max("r").alias("r"))
    agg = merged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.pow(F.lit(0.5), F.col("r"))).alias("s"),
    )
    zeros = (F.lit(m) - F.col("c")).cast("double")
    raw = F.lit(alpha_m2) / (zeros + F.col("s"))
    est = F.when(
        (raw <= 2.5 * m) & (F.col("c") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*keys, F.round(est, 4).alias("distinct_est"))


def count_min_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-cardinality estimate from two Count-Min sketches built with
    the SAME (depth, width, seed): |A ⋈_k B| = Σ_k cA(k)·cB(k) is
    estimated by min_j Σ_bucket cntA_j·cntB_j — the classic CM inner
    product (Cormode-Muthukrishnan §4.2). Estimate ≥ true always (each
    row's product over-counts by colliding cross terms, never under),
    ≤ true + ε·N_A·N_B w.p. 1−δ. The input sketches are depth×width
    rows each — the estimate costs a sketch-sized join, NEVER touches
    the base tables: the 100 TB join-planning probe (pick strategies /
    pre-size shuffles from ingest-time sketches alone). Returns one row
    ``(est)``."""
    bb = b.select("j", "bucket", F.col("cnt").alias("_cnt_b"))
    prod = (
        a.join(bb, on=["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("_cnt_b")).alias("_p"))
    )
    # a depth row whose buckets share no mass with b contributes a TRUE
    # row product of 0 — it must participate in the min (otherwise the
    # estimate is over-stated, and fully disjoint sketches would return
    # an empty result instead of est=0): left-join the full j spine and
    # coalesce the missing sums
    spine = a.select("j").union(b.select("j")).distinct()
    full = spine.join(prod, on="j", how="left").select(
        F.coalesce(F.col("_p"), F.lit(0)).alias("_p")
    )
    return full.agg(F.coalesce(F.min("_p"), F.lit(0)).cast("bigint").alias("est"))
