"""Structured Streaming analogues of the batch operators — SURVEY.md §2.8.

The reference is batch-only but re-runs overlapping windows incrementally
(``--start/--end``, /root/reference/main_graph_topraq.py:78-80) with
idempotent MERGE writes; these jobs are the honest streaming versions:

| reference behavior                                | here |
|---------------------------------------------------|------|
| daily tumbling aggregation of sensor stats        | ``stream_daily_stats`` (window + watermark) |
| irrigation events = gap-separated intervals       | ``stream_sessions`` (session_window) |
| idempotent MERGE on re-run                        | ``writers.snapshots.snapshot_sink`` (foreachBatch + exactly-once snapshot MERGE) |
| late/duplicate rows on overlapping windows        | watermark + ``dedupe_within_watermark`` |

Scale: state size is bounded by the watermark horizon × key cardinality;
output mode "update"/"append" chosen per sink. All transformations are the
same Catalyst plans as the batch versions — one definition, two runners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Event-time horizon of the replay jobs: longer than the fixtures' whole
# event span, so on a static replay no row is late and the stream result
# equals the batch aggregation.
_REPLAY_WATERMARK = "3650 days"
# Silence that closes a session (the batch sessionizer's gap).
_SESSION_GAP_MIN = 30
# Horizon inside which a replayed event_id is a duplicate.
_DEDUP_WATERMARK = "2 days"
# Word n-gram length of the decontamination overlap test.
_DECONTAM_N = 3
# A touch pairs with the purchases of the next 24 hours; each side's
# watermark bounds how long its rows wait in state for the other side.
_TOUCH_WINDOW_HOURS = 24
_PURCHASE_WATERMARK = "1 day"
_TOUCH_WATERMARK = "2 days"


def stream_daily_stats(events: DataFrame, watermark: str) -> DataFrame:
    """Streaming A1: tumbling 1-day window per key with min/max/avg/sum/count
    — the daily sensor aggregation (graph_weather_day.py:74-117) as an
    incremental job. Late rows beyond the watermark are dropped (the batch
    re-run-with-widened-window pattern, graph_irrigation_event.py:52-53,
    becomes the watermark horizon)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"), "user_id", "event_type")
        .agg(
            F.avg("value").alias("data"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("avg"),
            F.sum("value").alias("sum"),
            F.count("value").alias("n"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "user_id", "event_type",
            "data", "min", "max", "avg", "sum", "n",
        )
    )


def stream_sessions(events: DataFrame) -> DataFrame:
    """Streaming sessionization: ``session_window`` with the same gap
    semantics as the batch lag+cumsum program (operators/sessionize.py) —
    the GET_IRRIGATIONS interval stream."""
    return (
        events.withWatermark("ts", _REPLAY_WATERMARK)
        .groupBy(F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("win"), "user_id")
        .agg(
            F.min("ts").alias("start_at"),
            F.max("ts").alias("end_at"),
            # exact integer-µs difference over a double divisor — double
            # epoch-seconds arithmetic is 1-ulp engine-dependent and the
            # sf0.1 sweep caught a duration rounding 4.5198 vs the
            # oracle's 4.5199 (same fix as operators/sessionize.py)
            (
                (
                    F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                    - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
                )
                / F.lit(60000000.0)
            ).alias("duration_min"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("win")
    )


def stream_sliding_counts(events: DataFrame) -> DataFrame:
    """Streaming SLIDING-window aggregation — ``window(ts, w, s)`` with
    s < w, the overlapping-horizon variant the tumbling jobs above can't
    express (a 6h window every 2h: each event lands in w/s = 3 windows).
    State grows w/s× over tumbling for the same key set, bounded as ever
    by watermark horizon × key cardinality; Spark assigns the epoch-
    aligned window starts floor(t/s)·s − k·s inside codegen, so the
    fan-out is an in-task explode, not a join."""
    return (
        events.withWatermark("ts", _REPLAY_WATERMARK)
        .groupBy(F.window("ts", "6 hours", "2 hours").alias("win"), "event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dedupe_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """Keyed dedupe inside the watermark horizon — the streaming form of the
    idempotent-MERGE contract for replayed rows
    (``dropDuplicatesWithinWatermark``)."""
    return events.withWatermark("ts", _DEDUP_WATERMARK).dropDuplicatesWithinWatermark(keys)


def stream_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the in-flight form of
    ``operators.dedup.exact_dedup``: documents arriving on a stream are
    keyed by the md5 of their normalized text and only the first copy of
    each content hash passes through. This is the shape a training-data
    ingest pipeline runs BEFORE landing documents, so duplicates never
    reach storage.

    State = one entry per distinct hash. Unbounded here (the fixture is
    finite); a production stream bounds it with an event-time column +
    ``dropDuplicatesWithinWatermark`` on (content_hash) — exactly
    :func:`dedupe_within_watermark` — accepting re-admitted duplicates
    older than the horizon, which the downstream batch
    ``near_dup_clusters`` sweep then catches."""
    from graph_db_spark.operators.text import normalize_text

    return docs.withColumn(
        "content_hash", F.md5(normalize_text(F.col("text")))
    ).dropDuplicates(["content_hash"])


def stream_decontaminate(docs: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Ingest-time benchmark decontamination — the streaming half of the
    batch ``benchmark_decontamination`` query: each arriving document is
    flagged if any of its word n-grams appears in the held-out eval set.

    The eval grams ride as ONE static row carrying the whole gram array
    (eval suites are tiny against a 100 TB corpus), joined to the stream
    on a literal key and broadcast into every micro-batch; the overlap
    test is a per-row ``arrays_overlap`` Column expression. Stateless,
    append-mode — no watermark, no state store, a contaminated document
    is flagged the moment it arrives, and a refreshed eval set is picked
    up at the next micro-batch without a restart (same re-resolution
    property as :func:`stream_enriched_daily`)."""
    from graph_db_spark.operators.text import word_ngrams

    one = eval_grams.withColumn("_k", F.lit(1))
    joined = docs.withColumn("_k", F.lit(1)).join(F.broadcast(one), on="_k")
    return joined.select(
        F.col("doc_id"),
        F.arrays_overlap(
            word_ngrams(F.col("text"), _DECONTAM_N), F.col("eval_grams")
        ).alias("contaminated"),
    )


def stateful_sessions(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` — the
    escape hatch for operators ``session_window`` can't express (per-key
    custom state machines; SURVEY §2.8 "flatMapGroupsWithState-equivalent").

    Same gap semantics as the batch ``session_intervals`` (a strictly
    greater-than-``_SESSION_GAP_MIN`` silence starts a new session,
    operators/sessionize.py): state per key = (start, last, n) of the open
    session; each closed session is emitted as
    ``(key, start_at, end_at, duration_min, n_events)``. The open tail
    session stays in state until a later event (or a sentinel) closes it.

    Scale: state is three longs per key — bounded by key cardinality, not
    history; Arrow-batched per micro-batch, no per-row Python crossings.
    """
    import pandas as pd  # noqa: F401 — required by the worker closure
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _SESSION_GAP_MIN * 60_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        ts_all = pd.concat([pdf["ts"] for pdf in pdfs]).sort_values()
        closed: list[tuple] = []
        for t in ts_all:
            tus = pd.Timestamp(t).value // 1000  # ns → µs
            if last_us is None:
                start_us, last_us, n = tus, tus, 1
            elif tus - last_us > gap_us:
                closed.append((key[0], start_us, last_us, n))
                start_us, last_us, n = tus, tus, 1
            else:
                last_us, n = tus, n + 1
        if last_us is not None:
            state.update((int(start_us), int(last_us), int(n)))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "start_us", "end_us", "n_events"]
            )

    raw = events.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, start_us bigint, end_us bigint, n_events bigint",
        stateStructType="start_us bigint, last_us bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return raw.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).alias("start_at"),
        F.timestamp_micros(F.col("end_us")).alias("end_at"),
        ((F.col("end_us") - F.col("start_us")) / F.lit(60_000_000.0)).alias("duration_min"),
        "n_events",
    )


def stream_enriched_daily(
    events: DataFrame,
    dim: DataFrame,
    dim_key: str,
    seg_col: str,
) -> DataFrame:
    """§2.8 stream-static enrichment: the per-event enrichment the reference
    performs after an event closes (vwc before/after,
    graph_irrigation_event.py:260-291) as a streaming join — each
    micro-batch inner-joins the static dimension (re-resolved per batch,
    so a refreshed dim table is picked up without restarting), then
    windows into daily per-segment totals. Stream-static inner joins
    need no watermark on the static side; the window agg carries the
    stream's own watermark for state eviction.

    No forced broadcast on the dim (r13 dim_hint audit): streaming plans
    get no AQE, so the planner picks broadcast from the static side's
    file statistics (autoBroadcastJoinThreshold) — a customer-sized dim
    auto-broadcasts at bench scale and degrades to a per-batch
    shuffle-hash join once it outgrows the threshold, instead of a
    forced hint aborting the stream at cluster scale."""
    enriched = events.join(
        dim.select(F.col(dim_key).alias("user_id"), F.col(seg_col)),
        on="user_id",
    )
    return (
        enriched.withWatermark("ts", _REPLAY_WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("win"), seg_col)
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            F.col(seg_col),
            "total",
            "n",
        )
    )


def stream_incremental_dedup(
    stream_docs: DataFrame,
    index_banded: DataFrame,
    out_path: str,
    checkpoint: str,
):
    """Ingest-time APPROXIMATE dedup: each micro-batch of new documents
    is LSH-checked against the persisted banded index of the existing
    corpus (operators/dedup.py:minhash_banded) and the candidate pairs
    land in ``out_path``. The corpus is never re-signed and never
    self-joins — per batch the work is O(batch·bands) plus the touched
    index rows, which is what keeps continuous crawl ingest linear.
    Complements :func:`stream_exact_dedup` (the exact-hash half); the
    batch sweep (`minhash_lsh_candidates`) remains the at-rest half.
    ``foreachBatch`` is the right tool here: candidate generation is a
    multi-stage batch program (signature agg + banded join), not a
    single streaming-expressible aggregation. Returns the started
    StreamingQuery."""
    from graph_db_spark.operators.dedup import minhash_lsh_candidates_against

    def batch(bdf: DataFrame, batch_id: int) -> None:
        cands = minhash_lsh_candidates_against(bdf, index_banded, "text", "doc_id")
        # per-batch OVERWRITE subdir, not a blind append: a micro-batch
        # replayed after a crash-between-commit-and-checkpoint rewrites
        # its own partition instead of duplicating pairs (replay-safe,
        # as snapshot_sink is through its txn marker); readers see
        # hive-style batch_id partitions under out_path
        cands.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return (
        stream_docs.writeStream.foreachBatch(batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_touch_pairs(purchases: DataFrame, touches: DataFrame, how: str) -> DataFrame:
    """STREAM-STREAM inner join: each purchase pairs with every
    view/click by the same user in the preceding ``_TOUCH_WINDOW_HOURS`` — the
    ingest-time half of touch attribution (the batch `asof_join` picks
    the LAST touch; per-group ranking isn't append-expressible, so the
    stream emits the pair set and the last-touch pick stays batch/
    foreachBatch).

    This is the one stateful shape the other §2.8 jobs don't cover:
    BOTH sides buffer in the state store, and the watermarks + the
    time-interval join condition bound that state — a touch can only
    match purchases up to ``_TOUCH_WINDOW_HOURS`` ahead, so rows age out of
    state once the other side's watermark passes their match horizon.
    Without the interval condition the state would grow unboundedly;
    with it, state ≈ each side's watermark horizon of rows.

    ``how='left_outer'`` adds the null-emission contract: a purchase
    with NO touch in its window emits once with null touch columns —
    but only after the query's GLOBAL watermark (the min of both sides'
    watermarks) passes its ``pts``, because until then a matching touch
    could still arrive; purchases younger than that horizon at
    end-of-stream stay buffered and never emit. That timing is exactly
    what the ``streaming_left_outer_attribution`` oracle encodes.
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"), F.col("value").alias("pvalue"),
    ).withWatermark("pts", _PURCHASE_WATERMARK)
    t = touches.select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("tts"),
        F.col("event_type").alias("touch"),
    ).withWatermark("tts", _TOUCH_WATERMARK)
    return p.join(
        t,
        F.expr(
            f"p_user = t_user AND tts <= pts AND tts >= pts - INTERVAL {_TOUCH_WINDOW_HOURS} HOURS"
        ),
        how,
    )
