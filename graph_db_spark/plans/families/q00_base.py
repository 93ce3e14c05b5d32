"""Shared query-registry core: the QUERIES/ORACLE_SQL dicts, the
@register decorator, the cross-family helper expressions (r4 rounding,
timestamp formatting, the portable-hash SQL replica), the scratch
directory rule (``_scratch_dir``), the stream runner (every streaming
query drains an availableNow run through ``_drain_to_memory``, or bounds
its own sink with ``_await_stream``, under reduced state partitions) and
two query inputs shared across families, each in Spark and as DuckDB CTE
text: the degree-ordered triangle count (``_oriented_triangles``) and
the time-to-conversion observations with their per-cohort risk set
(``_conversion_obs``, ``_cohort_risk``)."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.operators.dedup import _MD5_WINDOW, _MINHASH_P
from graph_db_spark.operators.joins import dim_hint
from graph_db_spark.streaming import jobs as STRM
from graph_db_spark.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _sf_tag(sf_dir: str) -> str:
    """Stable per-SF tag for scratch dirs / stream names. A digest, not
    ``hash()``: Python str hash is salted per process (PYTHONHASHSEED is
    not pinned), so hash-derived tags were random per run — stale
    /tmp/graft_* trees never matched the cleanup path and paths were not
    reproducible across processes (r5 ADVICE #1)."""
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]


def _scratch_dir(name: str, sf_dir: str) -> str:
    """The one scratch-path rule: ``<tmp>/graft_<name>_<sf tag>``, emptied
    so a rerun never reads the previous run's files. Returns the path;
    the caller's writer creates it."""
    d = os.path.join(tempfile.gettempdir(), f"graft_{name}_{_sf_tag(sf_dir)}")
    shutil.rmtree(d, ignore_errors=True)
    return d


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _poly_sql(expr: str, mult: int = 31) -> str:
    """DuckDB replica of operators/dedup.py:portable_hash over ``expr``:
    parse the same 8-hex-digit md5 window (mult 31 → chars 1-8, 131 →
    chars 9-16) as an integer mod 2^31-1. md5 hex output is identical in
    both engines (UTF-8 bytes, lowercase hex — verified incl. multibyte);
    the 8-step digit fold is the engine-neutral hex→int parse."""
    off = _MD5_WINDOW[mult]
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split_regex(substr(md5({expr}), {off}, 8), ''), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        f"(acc, x) -> acc * 16 + x) % {_MINHASH_P}"
    )


def r4(c: Column) -> Column:
    # + 0.0 normalizes IEEE negative zero (-0.0 + 0.0 = +0.0): the
    # driver's serialized value-hash distinguishes -0.0 from 0.0, so any
    # rounded emission that can be a tiny negative must pin the sign.
    # Oracle SQL must apply the same `+ 0.0` after round() (r5 verdict:
    # weighted_sample_docs hash-FAIL — DuckDB round keeps -0.0).
    return F.round(c, 4) + F.lit(0.0)


def _fmt_ts(c: Column) -> Column:
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")


_STREAM_PARTS_LOCK = threading.Lock()


@contextmanager
def _stream_state_partitions(spark):
    """Run a streaming job with a reduced shuffle-partition count — the
    stateful operators (stream-stream joins, windowed aggs, dedup) open
    one state store PER shuffle partition, and at fixture scale the
    per-store open/commit overhead dominates (measured: the full-outer
    interval join 8.8s at 32 partitions -> 4.5s at 8, min-of-2 sf0.1).
    On a real cluster the right number tracks executor count x state
    volume; here it is fixed at 8. Serialized behind a lock
    and restored in finally, same discipline as the AQE toggle
    (graph/algorithms.py:_aqe_off); partition count never changes
    RESULTS, only state-store fan-out."""
    with _STREAM_PARTS_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


_STREAM_TIMEOUT_S = 300


def _await_stream(q) -> None:
    """The one bound on a stream run: wait for the availableNow query to
    finish; past the bound, stop it and fail loudly — its sink is
    partial, and an oracle mismatch on it would hide the cause."""
    if not q.awaitTermination(_STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query did not finish within {_STREAM_TIMEOUT_S}s — "
            "its sink is partial; failing loudly instead of surfacing a "
            "confusing oracle mismatch"
        )


def _drain_to_memory(spark, stream: DataFrame, qname: str, mode: str) -> DataFrame:
    """Run ``stream`` over everything available (trigger availableNow)
    into the memory sink ``qname`` under reduced state partitions, bounded
    by ``_await_stream``; return the sink's table."""
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return spark.table(qname)


def _run_stream_to_table(spark, sf_dir, name, transform, table="events", mode="complete"):
    """Run a streaming job over a (static) fixture table into the memory
    sink ``mem_<name>``; return the result table. The fixture is
    re-written to a scratch dir because the file streaming source wants
    a directory of (already ns→µs-converted) files."""
    batch = load_table(spark, sf_dir, table)
    d = _scratch_dir(f"stream_{name}", sf_dir)
    batch.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(batch.schema).parquet(d)
    return _drain_to_memory(spark, transform(stream), f"mem_{name}", mode)


def _touch_pairs_table(spark, sf_dir, name, qname, how):
    """Purchases ⋈ view/click touches by user within 24h
    (streaming/jobs.py:stream_touch_pairs, join type ``how``), each side
    its own stream over one scratch copy of ``events``, drained into the
    memory sink ``qname``."""
    ev = load_table(spark, sf_dir, "events")
    d = _scratch_dir(f"stream_{name}", sf_dir)
    ev.write.mode("overwrite").parquet(d)

    def side(keep: Column) -> DataFrame:
        return spark.readStream.schema(ev.schema).parquet(d).filter(keep)

    pairs = STRM.stream_touch_pairs(
        side(F.col("event_type") == "purchase"),
        side(F.col("event_type").isin("view", "click")),
        how=how,
    )
    return _drain_to_memory(spark, pairs, qname, "append")


def _run_batched_stream(spark, sf_dir, name, batches, transform):
    """Run a streaming job over a deterministic SEQUENCE of micro-batches
    in append mode: each batch is one parquet file (mtimes 10s apart so
    the file source's oldest-first ordering is unambiguous) and
    ``maxFilesPerTrigger=1`` makes admission control take one file per
    trigger. This is what makes watermark semantics oracle-checkable:
    which rows are late is a pure function of the data split, not of
    scheduling.

    Measured watermark mechanics (Spark 4.1, pinned by the
    streaming_late_data oracle): during batch N, EVICTION (append-mode
    emission of closed windows) uses ``max(event time over batches
    0..N−1) − delay``, while the LATE-ROW FILTER uses the watermark from
    one batch earlier — ``max(batches 0..N−2) − delay`` (SPARK-24588's
    two-watermark design) — and compares the row's WINDOW END, not its
    event time, so a late row whose window is still open always lands."""
    d = _scratch_dir(f"stream2_{name}", sf_dir)
    src = os.path.join(d, "src")
    os.makedirs(src)
    now = time.time()
    for i, b in enumerate(batches):
        tmp = os.path.join(d, f"w{i}")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.copyfile(part, dest)
        os.utime(dest, (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return _drain_to_memory(spark, transform(stream), f"mem_{name}", "append")


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """Triangle count of the undirected graph ``e`` (``p1`` < ``p2``, each
    edge once) by degree-ordered orientation: every edge points toward
    its higher-(degree, id) endpoint, so each out-list is bounded by the
    arboricity and the wedge join Σ out_deg² stays polynomial even with
    hub vertices; each triangle is counted once, at its lowest-rank
    vertex. Returns one row, ``n`` (bigint). ``e`` should be
    materialized: the degree table, the orientation and the closure all
    read it."""
    # degree table is |vertices|-sized — which SCALES with SF (r13
    # dim_hint audit): no forced hint; AQE broadcasts it at bench scale
    # and falls back to a shuffle once it outgrows the broadcast limit
    deg = (
        e.select(F.col("p1").alias("p"))
        .unionAll(e.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = dim_hint(deg.select(F.col("p").alias("p1"), F.col("d").alias("d1")), bounded=False)
    db = dim_hint(deg.select(F.col("p").alias("p2"), F.col("d").alias("d2")), bounded=False)
    lower = F.struct("d1", "p1") < F.struct("d2", "p2")
    ore = (
        e.join(da, on="p1")
        .join(db, on="p2")
        .select(
            F.when(lower, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(lower, F.col("p2")).otherwise(F.col("p1")).alias("v"),
        )
        .localCheckpoint(eager=True)  # referenced by both wedge sides + closure
    )
    dv = dim_hint(deg.select(F.col("p").alias("v"), F.col("d").alias("dv")), bounded=False)
    rk = ore.join(dv, on="v").select("u", "v", "dv")
    e1, e2 = rk.alias("e1"), rk.alias("e2")
    wedges = e1.join(
        e2,
        on=[
            F.col("e1.u") == F.col("e2.u"),
            F.struct(F.col("e1.dv"), F.col("e1.v")) < F.struct(F.col("e2.dv"), F.col("e2.v")),
        ],
    ).select(F.col("e1.v").alias("wu"), F.col("e2.v").alias("wv"))
    e3 = ore.select(F.col("u").alias("wu"), F.col("v").alias("wv"))
    return wedges.join(e3, on=["wu", "wv"]).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


def _oriented_triangles_sql(edges: str) -> str:
    """DuckDB twin of ``_oriented_triangles`` over the edge CTE ``edges``
    (``p1``, ``p2``): the CTEs ``deg``, ``ore``, ``rk`` and ``tri`` (one
    row, ``n``), to follow a ``WITH`` list."""
    return f"""deg AS MATERIALIZED (SELECT p, count(*) AS d FROM
                         (SELECT p1 AS p FROM {edges} UNION ALL SELECT p2 FROM {edges}) GROUP BY p),
    ore AS MATERIALIZED (
      SELECT CASE WHEN (da.d, e.p1) < (db.d, e.p2) THEN e.p1 ELSE e.p2 END AS u,
             CASE WHEN (da.d, e.p1) < (db.d, e.p2) THEN e.p2 ELSE e.p1 END AS v
      FROM {edges} e JOIN deg da ON e.p1 = da.p JOIN deg db ON e.p2 = db.p
    ),
    rk AS MATERIALIZED (SELECT ore.u, ore.v, dv.d AS dv_ FROM ore JOIN deg dv ON ore.v = dv.p),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM rk e1
      JOIN rk e2 ON e1.u = e2.u AND (e1.dv_, e1.v) < (e2.dv_, e2.v)
      JOIN ore e3 ON e3.u = e1.v AND e3.v = e2.v
    )"""


def _conversion_obs(spark: SparkSession, sf_dir: str, min_value: int | None = None) -> DataFrame:
    """Time-to-conversion observations, one row per user: ``cohort`` (the
    user's FIRST event type, ties broken on event_id), ``t`` = days from
    first activity to the first purchase worth at least ``min_value``
    (any purchase when None), and ``death`` = 1 if that purchase exists;
    users who never convert are CENSORED at the observation horizon
    (``t`` runs to the last event of the table, ``death`` = 0)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    span = (
        ev.withColumn("cohort", F.first("event_type").over(w))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.first("cohort").alias("cohort"))
    )
    buy = F.col("event_type") == "purchase"
    if min_value is not None:
        buy = buy & (F.col("value") >= min_value)
    conv = ev.filter(buy).groupBy("user_id").agg(F.min("ts").alias("conv_ts"))
    h = ev.agg(F.max("ts").alias("h"))
    return (
        span.join(conv, on="user_id", how="left")
        .crossJoin(F.broadcast(h))
        .select(
            "cohort",
            F.when(
                F.col("conv_ts").isNotNull(),
                F.datediff(F.col("conv_ts"), F.col("first_ts")),
            )
            .otherwise(F.datediff(F.col("h"), F.col("first_ts")))
            .cast("bigint")
            .alias("t"),
            F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("death"),
        )
    )


def _conversion_obs_sql(min_value: int | None = None) -> str:
    """DuckDB twin of ``_conversion_obs``: the CTEs ``span``, ``conv``,
    ``horizon`` and ``obs`` (``cohort``, ``t``, ``death``), to follow a
    ``WITH``."""
    worth = "" if min_value is None else f" AND value >= {min_value}"
    return f"""span AS (
      SELECT user_id,
             min(ts) AS first_ts,
             arg_min(event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                     || '#' || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS cohort
      FROM events GROUP BY 1
    ),
    conv AS (
      SELECT user_id, min(ts) AS conv_ts FROM events
      WHERE event_type = 'purchase'{worth} GROUP BY 1
    ),
    horizon AS (SELECT max(ts) AS h FROM events),
    obs AS (
      SELECT s.cohort,
             CASE WHEN c.user_id IS NOT NULL
                  THEN CAST(date_diff('day', s.first_ts, c.conv_ts) AS BIGINT)
                  ELSE CAST(date_diff('day', s.first_ts, h) AS BIGINT) END AS t,
             CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS death
      FROM span s LEFT JOIN conv c USING (user_id) CROSS JOIN horizon
    )"""


def _cohort_risk(obs: DataFrame) -> DataFrame:
    """Per-(cohort, day) event counts ``d`` and at-risk counts ``n_risk``
    over the observations ``obs``: the cohort's size minus everyone whose
    observation ended on an earlier day (a right-aligned cumulative)."""
    tot = obs.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    dt = obs.groupBy("cohort", "t").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("ended"),
    )
    wprev = (
        Window.partitionBy("cohort").orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    return dt.join(tot, on="cohort").select(
        "cohort", "t", "d",
        (F.col("n") - F.coalesce(F.sum("ended").over(wprev), F.lit(0))).alias("n_risk"),
    )


def _cohort_risk_sql() -> str:
    """DuckDB twin of ``_cohort_risk`` over the CTE ``obs``: the CTEs
    ``tot``, ``dt`` and ``risk`` (``cohort``, ``t``, ``d``, ``n_risk``), to
    follow a ``WITH`` list."""
    return """tot AS (SELECT cohort, count(*) AS n FROM obs GROUP BY 1),
    dt AS (
      SELECT cohort, t,
             CAST(sum(death) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS ended
      FROM obs GROUP BY 1, 2
    ),
    risk AS (
      SELECT cohort, t, d,
             tot.n - coalesce(sum(ended) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM dt JOIN tot USING (cohort)
    )"""
