"""Aggregation operators — SURVEY.md §2.4 (A1-A11).

The reference hand-rolls these as dict-bucket folds over row objects; here
each is one ``groupBy().agg()`` (map-side partial aggregation + final merge,
shuffle only on the group keys — scales linearly with executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def daily_stats(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    zero_sum_to_null: bool = False,
) -> DataFrame:
    """Hourly/raw → daily grouped statistics.

    A1 "weather flavor" (parity: ``_aggregate_hourly_to_daily``
    /root/reference/app/graph_weather_day.py:69-117): group by
    (day, *key_cols); ``data→mean``, ``min→min``, ``max→max``,
    ``avg→mean-of-avgs`` (deliberately NOT time-weighted — SURVEY §2.10.2),
    ``sum→sum``. Spark aggregates skip nulls by default, matching
    ``_mean_safe`` (:69-72).

    A2 "flow flavor" (parity: /root/reference/app/graph_irrigation_day.py:77-135)
    sets ``zero_sum_to_null=True`` to replicate the ``sum==0.0 → None`` quirk
    (:116; SURVEY §2.10.1 — replicated behind this flag, default off=fixed).

    Every statistic derives from ``value_col``.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    mn = F.min(value_col)
    mx = F.max(value_col)
    av = F.avg(value_col)
    sm = F.sum(value_col)
    if zero_sum_to_null:
        sm = F.when(sm == 0.0, F.lit(None).cast("double")).otherwise(sm)
    return (
        df.groupBy(day, *key_cols)
        .agg(
            F.avg(value_col).alias("data"),
            mn.alias("min"),
            mx.alias("max"),
            av.alias("avg"),
            sm.alias("sum"),
            F.count(value_col).alias("n"),
        )
        .orderBy("day", *key_cols)  # W2 chronological sort (graph_weather_day.py:116)
    )


def earliest_per_group(df: DataFrame, group_cols: list[str], ts_col: str) -> DataFrame:
    """A4 — min timestamp per group (parity: reached_at per depth,
    /root/reference/app/graph_irrigation_event.py:167-178)."""
    return df.groupBy(*group_cols).agg(F.min(ts_col).alias("earliest"))


def distinct_sorted_set(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """A5 — sorted unique values per group (parity: ``root_zone_list``,
    /root/reference/app/graph_irrigation_event.py:193-196)."""
    return df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_set(value_col)).alias("distinct_values")
    )


def running_index(
    df: DataFrame, group_cols: list[str], order_cols: list[Column | str]
) -> DataFrame:
    """A7 — per-group sequential counter ``idx`` in deterministic order.

    Parity: the in-memory ``counters[(field,date,crop,app_type)] += 1``
    /root/reference/app/graph_application_event.py:99,146-150 — arrival order
    becomes an explicit ``order_cols`` contract (distributed systems have no
    arrival order).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("idx", F.row_number().over(w))


def dedup_first(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column | str],
    keep: Column | None = None,
) -> DataFrame:
    """A8 — keep one row per key, "first" defined by ``order_cols``.

    Parity: the ``seen: Set`` skip-if-seen pattern
    /root/reference/app/graph_optimum_sap_range.py:29-62 — again with an
    explicit deterministic order instead of arrival order.

    ``keep``: optional row predicate; the winner is the first row
    *satisfying it* and keys whose rows all fail it vanish. Equivalent to
    ``df.filter(keep)`` before the dedup, but expressed as (keep DESC,
    order...) inside the window + a post-window filter, so Catalyst cannot
    push a predicate over expensive derived columns (regex parses) below
    an upstream repartition and serialize them into a single-split scan
    stage (SCALE.md: the fixture parquets are one row group). Post-window
    filters stay above the Window; the derived columns evaluate once,
    post-exchange, on all cores — the same plan shape a 1000-split cluster
    scan would get anyway.
    """
    if keep is not None:
        w = Window.partitionBy(*key_cols).orderBy(
            F.when(keep, 0).otherwise(1), *order_cols
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & keep)
            .drop("__rn")
        )
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


# capped_sample's cap (the reference caps label samples at 20); the
# capped_label_sample oracle slices the same count
_SAMPLE_CAP = 3


def capped_sample(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """A9/W3 — per-group distinct sample capped at ``_SAMPLE_CAP`` (parity:
    label samples capped at 20, /root/reference/app/graph_soil_layer.py:64-68)."""
    return df.groupBy(*group_cols).agg(
        F.slice(F.sort_array(F.collect_set(value_col)), 1, _SAMPLE_CAP).alias("sample")
    )


def with_global_rank(
    df: DataFrame,
    order_exprs: list[Column],
    rank_col: str = "rank",
    cumsum_cols: dict[str, str] | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Add a global ``row_number`` by ``order_exprs`` — and optionally
    global RUNNING SUMS (``cumsum_cols``: out_name → value column) —
    WITHOUT a single-partition window. The two-level prefix-sum shape:
    range-partition on the order (partition ids follow the global
    order), rank/cumsum within each partition (parallel, pid-partitioned
    window), then lift local values with per-partition offsets computed
    from a #partitions-sized totals table via a pid<pid self-join. A
    10⁹-row global ranking becomes #partitions parallel sorts plus a
    tiny broadcast — used by the Zipf vocabulary curve (rank + running
    token mass) and the revenue deciles (rank + closed-form ntile).

    ``order_exprs`` must be a TOTAL order (add a unique tiebreak column)
    or ranks across equal keys depend on partition placement.

    The range-partitioned frame is EAGERLY materialized before anything
    consumes it. This is correctness, not caching: ``repartitionByRange``
    samples its range boundaries with a seed derived from the RDD
    instantiation, and this helper's output is consumed through at least
    two plan subtrees (the ranked rows and the per-partition totals) —
    plus any caller-side self-joins — each of which would otherwise
    re-execute the exchange and can sample DIFFERENT boundaries. Offsets
    computed under one layout applied to ranks from another yield
    duplicate/missing global ranks (observed at sf0.1: ntile emitting an
    11th decile on ~2 of 4 runs). Freezing ``_pid`` in a checkpoint makes
    every consumer read the same layout, and as a side effect collapses
    the documented 2^k lineage re-expansion to one materialization.

    Cluster caveats of the eager ``localCheckpoint``: (1) every caller
    pays a full materialization at DataFrame-construction time, even a
    single-consumer one — acceptable because the frame is re-read at
    least twice by construction (ranked rows + totals); (2) checkpointed
    partitions are stored on executor block managers with NO lineage
    fallback, so an executor loss mid-job fails the job instead of
    recomputing. On a cluster with a configured checkpoint dir, swap in
    reliable ``df.checkpoint()`` (HDFS-backed, fault-tolerant, same
    determinism guarantee) — ``localCheckpoint`` is the single-node /
    short-job fast path, which is exactly this repo's test envelope.
    """
    cumsum_cols = cumsum_cols or {}
    nparts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(nparts, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = Window.partitionBy("_pid").orderBy(*order_exprs)
    wrun = wloc.rowsBetween(Window.unboundedPreceding, 0)
    local = parted.withColumn("_lrn", F.row_number().over(wloc))
    for out, src in cumsum_cols.items():
        local = local.withColumn(f"_lc_{out}", F.sum(src).over(wrun))
    ptots = local.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_nrows"),
        *[F.sum(src).alias(f"_ps_{out}") for out, src in cumsum_cols.items()],
    )
    a, b = ptots.alias("a"), ptots.alias("b")
    offs = (
        a.join(b, F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(
            F.coalesce(F.sum("b._nrows"), F.lit(0)).alias("_off"),
            *[
                F.coalesce(F.sum(f"b._ps_{out}"), F.lit(0)).alias(f"_offs_{out}")
                for out in cumsum_cols
            ],
        )
    )
    out_df = local.join(F.broadcast(offs), on="_pid").withColumn(
        rank_col, (F.col("_lrn") + F.col("_off")).cast("bigint")
    )
    drops = ["_pid", "_lrn", "_off"]
    for out in cumsum_cols:
        out_df = out_df.withColumn(out, F.col(f"_lc_{out}") + F.col(f"_offs_{out}"))
        drops += [f"_lc_{out}", f"_offs_{out}"]
    return out_df.drop(*drops)


def ntile_of(rank: Column, n: Column, tiles: int) -> Column:
    """Exact ANSI ``ntile(tiles)`` tile id from a global rank and total
    count ``n`` — the first ``n % tiles`` tiles get ``ceil(n/tiles)``
    rows, the rest ``floor(n/tiles)`` (same assignment as the window
    function, without the window)."""
    q = F.floor(n / tiles)
    rem = n % tiles
    big = rem * (q + 1)
    return F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((rank - 1 - big) / q) + 1
    )
