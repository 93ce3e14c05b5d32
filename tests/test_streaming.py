"""Structured Streaming jobs: stream results must match the batch operators
on the same data (one definition, two runners)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_db_spark.operators.sessionize import session_intervals
from graph_db_spark.plans.families.q00_base import _await_stream
from graph_db_spark.streaming import jobs
from graph_db_spark.streaming.jobs import (
    dedupe_within_watermark,
    stream_daily_stats,
    stream_sessions,
)
from graph_db_spark.tables import load_table


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Streaming file source needs a directory — rewrite the events fixture."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, "/root/testdata/sf0.001", "events").write.mode("overwrite").parquet(d)
    return d


def run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return df.sparkSession.sql(f"select * from {name}")


def test_stream_daily_stats_matches_batch(spark, events_stream_dir):
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    out = run_to_memory(
        stream_daily_stats(stream, watermark="10 days"), "daily_stream"
    )
    got = {
        (r["day"], r["user_id"], r["event_type"]): (round(r["sum"], 4), r["n"])
        for r in out.collect()
    }
    expected = {
        (r["day"], r["user_id"], r["event_type"]): (round(r["sum"], 4), r["n"])
        for r in batch.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
            "event_type",
        )
        .agg(F.sum("value").alias("sum"), F.count("value").alias("n"))
        .collect()
    }
    assert got == expected


def test_stream_sessions_matches_batch(spark, events_stream_dir, monkeypatch):
    monkeypatch.setattr(jobs, "_REPLAY_WATERMARK", "10 days")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    out = run_to_memory(stream_sessions(stream), "session_stream")
    got = {
        (r["user_id"], r["start_at"], r["end_at"]): r["n_events"] for r in out.collect()
    }
    expected = {
        (r["user_id"], r["start_at"], r["end_at"]): r["n_events"]
        for r in session_intervals(batch, ["user_id"], "ts", 1800).collect()
    }
    assert got == expected


def test_dedupe_within_watermark(spark, events_stream_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(jobs, "_DEDUP_WATERMARK", "10 days")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    # duplicate the stream: union of the same dir twice → exact replays
    dup_dir = str(tmp_path / "dup")
    batch.unionAll(batch).write.mode("overwrite").parquet(dup_dir)
    stream = spark.readStream.schema(batch.schema).parquet(dup_dir)
    deduped = dedupe_within_watermark(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(distinct event_id) c, count(*) n from dedup_stream").collect()[0]
    assert n["c"] == n["n"] == batch.count()


def test_stateful_sessions_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == batch session_intervals.

    A far-future sentinel event per user closes every real session (the
    stateful operator only emits a session once a later event proves the
    gap); sentinel sessions themselves stay open in state and are never
    emitted, so the output is exactly the batch intervals of the real data.
    """
    from graph_db_spark.streaming.jobs import stateful_sessions

    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    sentinel = (
        batch.groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .select("user_id", (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
    )
    aug_dir = str(tmp_path / "aug")
    batch.select("user_id", "ts").unionByName(sentinel).write.mode("overwrite").parquet(aug_dir)

    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(aug_dir)
    out = stateful_sessions(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["start_at"], r["end_at"]): (r["n_events"], round(r["duration_min"], 4))
        for r in spark.sql("select * from stateful_sessions").collect()
    }
    expected = {
        (r["user_id"], r["start_at"], r["end_at"]): (r["n_events"], round(r["duration_min"], 4))
        for r in session_intervals(batch, ["user_id"], "ts", 1800).collect()
    }
    assert got == expected


def test_stream_enriched_daily_matches_batch(spark, events_stream_dir, monkeypatch):
    from graph_db_spark.streaming.jobs import stream_enriched_daily

    monkeypatch.setattr(jobs, "_REPLAY_WATERMARK", "10 days")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    dim = load_table(spark, "/root/testdata/sf0.001", "customer")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    out = run_to_memory(
        stream_enriched_daily(stream, dim, "c_custkey", "c_mktsegment"),
        "enriched_stream",
    )
    got = {
        (r["day"], r["c_mktsegment"]): (round(r["total"], 4), r["n"])
        for r in out.collect()
    }
    expected = {
        (r["day"], r["c_mktsegment"]): (round(r["total"], 4), r["n"])
        for r in batch.join(
            dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            on="user_id",
        )
        .groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "c_mktsegment"
        )
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_stream_decontaminate_matches_batch(spark, tmp_path_factory):
    from graph_db_spark.operators.text import word_ngrams
    from graph_db_spark.streaming.jobs import stream_decontaminate

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path_factory.mktemp("docs_stream"))
    docs.write.mode("overwrite").parquet(d)
    eval_arr = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.explode(word_ngrams(F.col("text"), 3)).alias("g"))
        .agg(F.collect_set("g").alias("eval_grams"))
    )
    stream = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        stream_decontaminate(stream.filter(F.col("doc_id") % 17 != 0), eval_arr)
        .writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r.contaminated for r in spark.sql("select * from decontam_stream").collect()}
    expected = {
        r.doc_id: r.hit
        for r in docs.filter(F.col("doc_id") % 17 != 0)
        .crossJoin(F.broadcast(eval_arr))
        .select(
            "doc_id",
            F.arrays_overlap(word_ngrams(F.col("text"), 3), F.col("eval_grams")).alias("hit"),
        )
        .collect()
    }
    assert got == expected
    assert any(got.values()) and not all(got.values())  # both outcomes occur


def test_stream_incremental_dedup_replay_idempotent(spark, tmp_path):
    """Replaying every micro-batch (fresh checkpoint over the same input)
    must not duplicate candidate pairs: each batch overwrites its own
    batch_id partition, so TOTAL row counts — not just distinct pairs —
    are identical across runs."""
    import graph_db_spark.operators.dedup as D
    from graph_db_spark.streaming.jobs import stream_incremental_dedup

    filler = " ".join(f"w{j}" for j in range(12))
    rows = [(i, f"group {i % 3} text {filler} body") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id < 15")
    new = docs.filter("doc_id >= 15")
    index = D.minhash_banded(corpus, "text", "doc_id").localCheckpoint()
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    new.repartition(4).write.mode("overwrite").parquet(src)

    def run_once(ckpt: str) -> int:
        stream = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = stream_incremental_dedup(stream, index, out, ckpt)
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    n1 = run_once(str(tmp_path / "ckpt1"))
    n2 = run_once(str(tmp_path / "ckpt2"))  # full replay, same out dir
    assert n1 == n2 and n1 > 0  # overwrite-per-batch => no duplication
    pairs = spark.read.parquet(out).select("new_id", "corpus_id")
    assert pairs.count() == pairs.distinct().count()


class _StubQuery:
    """Stands in for a StreamingQuery: ``awaitTermination`` reports
    ``finished`` and every call is recorded."""

    def __init__(self, finished: bool):
        self.finished, self.waits, self.stops = finished, [], 0

    def awaitTermination(self, timeout):
        self.waits.append(timeout)
        return self.finished

    def stop(self):
        self.stops += 1


def test_await_stream_stops_once_and_raises_past_bound():
    """The one stream bound (no JVM): an unfinished run is stopped exactly
    once and raises TimeoutError with a message that names no sink type;
    a finished run is neither stopped nor raised on."""
    late = _StubQuery(finished=False)
    with pytest.raises(TimeoutError, match="did not finish within 300s") as exc:
        _await_stream(late)
    assert late.waits == [300] and late.stops == 1
    assert "memory" not in str(exc.value)

    done = _StubQuery(finished=True)
    _await_stream(done)
    assert done.waits == [300] and done.stops == 0
