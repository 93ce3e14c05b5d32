"""Join operators — SURVEY.md §2.3 (J1-J7).

The reference does all joins as row-at-a-time dict probes or Neo4j MATCH
pairs; here each is a declarative Spark join so Catalyst picks broadcast vs
sort-merge (we hint ``broadcast()`` on dimension sides) and AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dim_hint(df: DataFrame, *, bounded: bool) -> DataFrame:
    """Size-aware broadcast hint for a join's dimension-shaped side.

    ``bounded=True``: the side's row count is fixed by an enumeration
    (nation, region, event types, a k-sized sketch/centroid table, a
    1-row scalar aggregate) — independent of scale factor. Force
    ``F.broadcast`` so a 25-row table never degrades to a shuffle.

    ``bounded=False``: the side scales linearly with the data (TPC-H
    customer/supplier/part or anything derived from them). Return the
    frame UNCHANGED and let AQE choose the strategy from observed sizes
    at runtime: at bench scale AQE still broadcasts these, but at the
    ~100 TB design point (~sf100k: customer ~15B rows, supplier ~1.5B)
    a forced hint would hit Spark's 8 GB / 512M-row broadcast hard
    limits and abort the job instead of falling back to a shuffle join.
    A pure plan choice — join outputs are identical either way.
    """
    return F.broadcast(df) if bounded else df


def edge_join(
    src: DataFrame,
    dst: DataFrame,
    on: list[str] | Column,
    rel_type: str,
    src_key: str,
    dst_key: str,
    broadcast_dst: bool = False,
    broadcast_src: bool = False,
) -> DataFrame:
    """J1 — build a typed edge table from two node tables.

    Parity: the ``MATCH (a {key}) MATCH (b {key}) MERGE (a)-[:R]->(b)``
    pattern (e.g. /root/reference/app/graph_stations.py:33-39 and the 26
    other relationship writers, SURVEY §1.3). An inner equi-join replaces the
    per-row double MATCH; whichever side is the dimension gets broadcast so
    the fact side never shuffles.
    """
    left = F.broadcast(src) if broadcast_src else src
    right = F.broadcast(dst) if broadcast_dst else dst
    return (
        left.join(right, on=on, how="inner")
        .select(
            src[src_key].alias("src"),
            dst[dst_key].alias("dst"),
            F.lit(rel_type).alias("rel_type"),
        )
    )


def broadcast_lookup(fact: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """J2 — dimension lookup (parity: ``stations_by_field`` /
    ``timezone_by_field`` dicts, /root/reference/main_graph_topraq.py:108-111).
    Explicit ``broadcast()`` so the fact side never shuffles."""
    return fact.join(F.broadcast(dim), on=on, how="inner")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    tolerance_seconds: float | None = None,
    tiebreak_cols: list[str] | None = None,
    direction: str = "nearest",
) -> DataFrame:
    """J3 — as-of / nearest-timestamp join.

    For each left row, pick the single right row (sharing ``on`` keys) whose
    ``right_ts`` minimizes ``abs(left_ts - right_ts)``; ties broken by
    ``tiebreak_cols`` ascending. ``direction="backward"`` only considers
    right rows at or before the left timestamp.

    Parity: the Neo4j read-back + argmin pick
    /root/reference/app/graph_product_application.py:156-214 (argmin
    :202-214, ``ORDER BY start_at, idx`` tiebreak :166).

    Scale note (SURVEY §7.4.2): this is join-on-keys → rank. The join fans
    out |left|×|right-per-key|; when a key is hot, pre-bucket both sides by
    (key, coarse time bucket) and join on the bucket too, or pass
    ``tolerance_seconds`` so the range predicate bounds the fan-out and lets
    AQE's skew-join split oversized partitions.
    """
    lt = F.col("__l_ts")
    rt = F.col("__r_ts")
    # unique per-left-row id: two left rows with identical (keys, ts) must
    # each keep their match (a shared window partition would collapse them)
    left2 = left.withColumn("__l_ts", F.col(left_ts).cast("timestamp")).withColumn(
        "__lid", F.monotonically_increasing_id()
    )
    right2 = right.withColumn("__r_ts", F.col(right_ts).cast("timestamp"))
    cond = [left2[c] == right2[c] for c in on]
    diff = F.abs(lt.cast("double") - rt.cast("double"))
    if direction == "backward":
        range_cond = rt <= lt
    elif direction == "nearest":
        range_cond = F.lit(True)
    else:
        raise ValueError(f"unknown direction={direction!r}; 'nearest' or 'backward'")
    if tolerance_seconds is not None:
        range_cond = range_cond & (diff <= F.lit(float(tolerance_seconds)))
    joined = left2.join(right2, on=[*cond, range_cond], how="left")
    order = [diff.asc_nulls_last()]
    for c in tiebreak_cols or []:
        order.append(right2[c].asc_nulls_last())
    w = Window.partitionBy(F.col("__lid")).orderBy(*order)
    ranked = joined.withColumn("__rn", F.row_number().over(w))
    picked = ranked.filter(F.col("__rn") == 1)
    # emit left columns + right non-key columns (disambiguated refs)
    out_cols = [left2[c].alias(c) for c in left.columns]
    out_cols += [right2[c].alias(c) for c in right.columns if c not in set(on) | set(left.columns)]
    return picked.select(*out_cols)


def enrich_join(
    base: DataFrame,
    lookup: DataFrame,
    on: list[str],
    fill: dict[str, str],
) -> DataFrame:
    """J4 — enrichment left join: ``fill[target] = source`` columns from the
    lookup patch nulls in the base (``coalesce(base, lookup)``). The lookup
    side is broadcast.

    Parity: inventories lacking inline nutrients pull them from
    FertilizerProduct by (name, brand) —
    /root/reference/app/graph_app_nutrient_content.py:306-354.
    """
    out = base.join(F.broadcast(lookup), on=on, how="left")
    for target, source in fill.items():
        out = out.withColumn(target, F.coalesce(base[target], lookup[source]))
    return out.select([out[c] for c in base.columns])


def interval_agg_join(
    points: DataFrame,
    intervals: DataFrame,
    point_keys: list[str],
    interval_keys: list[str],
    ts_col: str,
    start_col: str,
    end_col: str,
    aggs: list[Column],
    interval_id_cols: list[str],
) -> DataFrame:
    """J5 — interval-scoped aggregation join: for each interval, aggregate
    the points whose timestamp falls inside [start, end].

    Parity: per-irrigation-event flow averaging
    /root/reference/app/graph_irrigation_event.py:119-152,280-291.

    Scale note: the equi-key part of the condition keeps this a partitioned
    sort-merge join (never a cartesian range join as long as ``point_keys``
    is non-empty); the range predicate is applied post-match. Skewed
    stations → AQE skew split.

    Contract: ``intervals`` column names must be disjoint from ``points``
    (intervals are usually derived FROM the points — e.g. sessionization
    output — and Spark cannot attribute shared names across a self-join).
    """
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(f"interval columns must be disjoint from points; overlap: {sorted(overlap)}")
    cond = [F.col(a) == F.col(b) for a, b in zip(point_keys, interval_keys)]
    cond.append(F.col(ts_col) >= F.col(start_col))
    cond.append(F.col(ts_col) <= F.col(end_col))
    joined = points.join(intervals, on=cond, how="inner")
    return joined.groupBy(*interval_id_cols).agg(*aggs)


def semi_keep(df: DataFrame, parent: DataFrame, on: list[str]) -> DataFrame:
    """J6 — keep only rows whose parent exists (parity: products skipped when
    no matching ApplicationEvent,
    /root/reference/app/graph_product_application.py:173-176)."""
    return df.join(parent, on=on, how="left_semi")


def anti_missing(df: DataFrame, parent: DataFrame, on: list[str]) -> DataFrame:
    """J6' — report rows with a missing parent (dangling-edge candidates;
    the assertion the reference lacks, SURVEY §2.10.3-4)."""
    return df.join(parent, on=on, how="left_anti")


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    tolerance_seconds: float,
    tiebreak_cols: list[str],
) -> DataFrame:
    """J3 at scale — tolerance-bounded nearest as-of via coarse time
    bucketing (SURVEY §7.4.2: "naive join-then-rank explodes on skewed
    keys; bucket by (key, coarse time) first").

    Bucket width = tolerance: a right row within tolerance of a left row
    lives in the left row's bucket ±1, so replicating the right side to its
    three adjacent buckets makes (keys..., bucket) a pure equi-join key.
    Candidate fan-out per left row is bounded by right-rows-per-3·tolerance
    — independent of total history length per key, which is what kills the
    naive form on hot keys. Output contract identical to
    :func:`asof_join` (direction="nearest", same tolerance, same
    tiebreaks); equivalence is property-tested.
    """
    tol = float(tolerance_seconds)
    lt = F.col("__l_ts")
    rt = F.col("__r_ts")
    left2 = (
        left.withColumn("__l_ts", F.col(left_ts).cast("timestamp"))
        .withColumn("__lid", F.monotonically_increasing_id())
        .withColumn("__bkt", F.floor(F.col(left_ts).cast("timestamp").cast("double") / tol))
    )
    right2 = (
        right.withColumn("__r_ts", F.col(right_ts).cast("timestamp"))
        .withColumn(
            "__bkt",
            F.explode(
                F.array(
                    *[
                        F.floor(F.col(right_ts).cast("timestamp").cast("double") / tol) + d
                        for d in (-1, 0, 1)
                    ]
                )
            ),
        )
    )
    diff = F.abs(lt.cast("double") - rt.cast("double"))
    cond = [left2[c] == right2[c] for c in on] + [
        left2["__bkt"] == right2["__bkt"],
        diff <= F.lit(tol),
    ]
    # left join: unmatched left rows survive with null right columns (the
    # asof_join contract) — same single-tree shape as the naive form, so no
    # cross-branch row-id consistency concerns.
    candidates = left2.join(right2, on=cond, how="left")
    order = [diff.asc_nulls_last()]
    for c in tiebreak_cols:
        order.append(right2[c].asc_nulls_last())
    w = Window.partitionBy(F.col("__lid")).orderBy(*order)
    right_payload = [c for c in right.columns if c not in set(on) | set(left.columns)]
    picked = candidates.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return picked.select(
        *[left2[c].alias(c) for c in left.columns],
        *[right2[c].alias(c) for c in right_payload],
    )


# salted_join spreads each key over this many reduce tasks
_N_SALTS = 8


def salted_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """Skew-buster inner equi-join: identical results to
    ``left.join(right, on)``, but a hot key's rows spread over
    ``_N_SALTS`` reduce tasks.

    Left rows get a deterministic salt from a hash of their whole row
    (uniform, reproducible — no rand()); the right side is replicated
    ``_N_SALTS``× so every (key, salt) bucket finds its match. Use when ONE
    side is skewed and the other is too big to broadcast yet small enough
    to replicate; AQE's skew-split handles the milder cases without any of
    this.
    """
    n_salts = _N_SALTS
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    lsalted = left.withColumn("_salt", salt)
    rsalted = right.crossJoin(
        right.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
    )
    out = lsalted.join(rsalted, on=[*on, "_salt"], how="inner")
    return out.drop("_salt")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
) -> DataFrame:
    """Range join: pairs of rows (sharing ``on`` keys) whose
    [start, end] intervals OVERLAP (closed intervals: touching endpoints
    count). Returns left columns + right columns (right's renamed with a
    ``r_`` prefix on collision).

    An equi-join on the keys plus the two range predicates: the fan-out
    is the true overlap count plus the pruned range pairs, fine while
    per-key row counts are modest."""
    l2 = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_start).cast("timestamp").alias("__ls"),
        F.col(left_end).cast("timestamp").alias("__le"),
    )
    rcols = {
        c: (c if c in on or c not in left.columns else f"r_{c}") for c in right.columns
    }
    r2 = right.select(
        *[F.col(c).alias(rcols[c]) for c in right.columns],
        F.col(right_start).cast("timestamp").alias("__rs"),
        F.col(right_end).cast("timestamp").alias("__re"),
    )
    overlap = (F.col("__ls") <= F.col("__re")) & (F.col("__rs") <= F.col("__le"))
    out_cols = [c for c in left.columns] + [rcols[c] for c in right.columns if rcols[c] not in on]
    return l2.join(r2, on=on).filter(overlap).select(*out_cols)


def grid_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    radius: float,
) -> DataFrame:
    """Spatial distance join: all (left, right) pairs whose points lie
    within euclidean ``radius``, plus a ``dist`` column.

    Scale path — the planar analogue of the LSH band join: each point
    maps to ONE square grid cell of side ``radius``; the right side
    explodes to its cell's 3x3 neighborhood (a fixed 9x fan-out,
    independent of data size) so every qualifying pair shares an exact
    (cell_x, cell_y) equi-join key; the exact distance predicate then
    filters the candidates. The all-pairs product never materializes —
    shuffle volume is O(|left| + 9|right|) and each pair is produced at
    most once (the left point's cell is unique). Skewed cells (urban
    hot spots) are ordinary hot equi-join keys: AQE skew-join splits
    them like any other join. Right columns colliding with left names
    come back with an ``r_`` prefix.
    """
    if not radius > 0:
        raise ValueError(f"radius must be positive, got {radius}")
    lx, ly = left_xy
    rcols = {c: (c if c not in left.columns else f"r_{c}") for c in right.columns}
    rx, ry = (rcols[right_xy[0]], rcols[right_xy[1]])
    r = float(radius)

    def cell(col: Column) -> Column:
        return F.floor(col / F.lit(r)).cast("long")

    l2 = left.select("*", cell(F.col(lx)).alias("__cx"), cell(F.col(ly)).alias("__cy"))
    nine = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    r2 = (
        right.select(*[F.col(c).alias(rcols[c]) for c in right.columns])
        .withColumn("__o", F.explode(nine))
        .select(
            "*",
            (cell(F.col(rx)) + F.col("__o.dx")).alias("__cx"),
            (cell(F.col(ry)) + F.col("__o.dy")).alias("__cy"),
        )
        .drop("__o")
    )
    # explicit x*x (not pow): IEEE multiply is exact-op deterministic in
    # both engines; Math.pow is only 1-ulp-accurate
    ddx, ddy = F.col(lx) - F.col(rx), F.col(ly) - F.col(ry)
    d2 = ddx * ddx + ddy * ddy
    out = [*left.columns, *[rcols[c] for c in right.columns]]
    return (
        l2.join(r2, on=["__cx", "__cy"])
        .filter(d2 <= F.lit(r * r))
        .select(*out, F.sqrt(d2).alias("dist"))
    )
