"""Keyed-upsert writer: the three MERGE strategies + idempotence property
(SURVEY §4.1.1, §5.4 — re-running overlapping windows must be a no-op)."""

from __future__ import annotations

from graph_db_spark.writers.upsert import assert_unique_key, collapse_duplicates, upsert

import pytest


def df_of(spark, data):
    return spark.createDataFrame(data, "k int, a string, b string")


def as_set(df):
    return {tuple(r) for r in df.collect()}


def test_first_write(spark):
    new = df_of(spark, [(1, "x", "y")])
    assert as_set(upsert(None, new, ["k"])) == {(1, "x", "y")}


def test_overwrite(spark):
    old = df_of(spark, [(1, "x", "y"), (2, "m", "n")])
    new = df_of(spark, [(1, "X", None), (3, "p", "q")])
    out = upsert(old, new, ["k"], "overwrite")
    assert as_set(out) == {(1, "X", None), (2, "m", "n"), (3, "p", "q")}


def test_coalesce_keeps_existing_unless_new_non_null(spark):
    # parity: FertilizerProduct CASE WHEN $v IS NULL THEN old ELSE new
    # (/root/reference/app/graph_fertilizer_product.py:211-219)
    old = df_of(spark, [(1, "x", "y")])
    new = df_of(spark, [(1, None, "Y2"), (2, "p", None)])
    out = upsert(old, new, ["k"], "coalesce")
    assert as_set(out) == {(1, "x", "Y2"), (2, "p", None)}


def test_if_absent_only_fills_nulls(spark):
    # parity: coalesce(sl.depth_label, $depth_label)
    # (/root/reference/app/graph_soil_layer.py:226)
    old = df_of(spark, [(1, "x", None)])
    new = df_of(spark, [(1, "IGNORED", "filled")])
    out = upsert(old, new, ["k"], "if_absent")
    assert as_set(out) == {(1, "x", "filled")}


def test_batch_duplicate_collapse(spark):
    new = df_of(spark, [(1, "a", "1"), (1, "b", "2")])
    out = collapse_duplicates(new, ["k"], order=["b"])
    assert as_set(out) == {(1, "b", "2")}  # last by order col wins


def test_idempotent_rerun(spark):
    old = df_of(spark, [(1, "x", "y"), (2, "m", "n")])
    batch = df_of(spark, [(2, "M", "N"), (3, "p", "q")])
    once = upsert(old, batch, ["k"], "overwrite")
    twice = upsert(once, batch, ["k"], "overwrite")
    assert as_set(once) == as_set(twice)


def test_collapse_nested_unorderable_types(spark):
    """ADVICE r2: nested unorderable types (array<map>, struct with map)
    must not enter orderBy — and when ALL value columns are map-bearing,
    the canonical-JSON-hash tiebreak makes the winner a pure function of
    the data, not of partition layout."""
    from pyspark.sql import functions as F

    rows = [
        (1, [{"a": 1}], {"m": {"x": 1}}),
        (1, [{"a": 2}], {"m": {"x": 2}}),
        (2, [{"b": 9}], {"m": {"y": 9}}),
    ]
    df = spark.createDataFrame(
        rows, "k int, arr array<map<string,int>>, s struct<m: map<string,int>>"
    )
    out1 = collapse_duplicates(df, ["k"])
    assert out1.count() == 2  # analysis succeeds; one winner per key
    # determinism: same result under a different physical layout
    out2 = collapse_duplicates(df.repartition(7, "k").sortWithinPartitions(F.rand(42)), ["k"])
    a = {(r["k"], str(r["arr"])) for r in out1.collect()}
    b = {(r["k"], str(r["arr"])) for r in out2.collect()}
    assert a == b


def test_assert_unique_key(spark):
    ok = df_of(spark, [(1, "a", "b"), (2, "a", "b")])
    assert_unique_key(ok, ["k"])
    bad = df_of(spark, [(1, "a", "b"), (1, "c", "d")])
    with pytest.raises(AssertionError):
        assert_unique_key(bad, ["k"])


def test_concurrent_writers_lose_no_keys(spark, tmp_path):
    """Two writers interleaving MERGE batches on the same table must
    serialize through TableLock — the union of both writers' keys
    survives (without the lock, read-modify-write races drop whichever
    writer swaps first)."""
    import threading

    from graph_db_spark.writers.upsert import merge_into_parquet_table

    path = str(tmp_path / "tbl")
    errors = []

    def writer(base: int):
        try:
            for i in range(4):
                batch = df_of(spark, [(base + i, f"w{base}", str(i))])
                merge_into_parquet_table(batch, path, ["k"])
        except Exception as e:  # pragma: no cover - surfaced by assert below
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    final = {r["k"] for r in spark.read.parquet(path).collect()}
    assert final == {100, 101, 102, 103, 200, 201, 202, 203}


def test_table_lock_blocks_and_breaks_stale(spark, tmp_path):
    import os

    from graph_db_spark.writers.upsert import TableLock

    path = str(tmp_path / "locked_tbl")
    # held lock blocks a second acquirer until released
    with TableLock(spark, path):
        with pytest.raises(TimeoutError):
            TableLock(spark, path, timeout_ms=300).__enter__()
    # a stale lock (dead writer) is broken after ttl and acquisition succeeds
    lock = path + "__lock"
    open(lock, "x").close()
    lk = TableLock(spark, path, ttl_ms=200, timeout_ms=5000)
    import time

    time.sleep(0.4)
    lk.__enter__()
    lk.__exit__(None, None, None)
    assert not os.path.exists(lock)


def test_table_lock_heartbeat_protects_live_holder(spark, tmp_path):
    """A merge slower than the TTL must NOT lose its lock: the heartbeat
    keeps the lockfile fresh, so a waiting writer times out instead of
    breaking in (review finding); and release still works afterwards."""
    import os
    import time

    from graph_db_spark.writers.upsert import TableLock

    path = str(tmp_path / "hb_tbl")
    lock = path + "__lock"
    with TableLock(spark, path, ttl_ms=300):
        time.sleep(1.0)  # well past the TTL; heartbeat (ttl/3) keeps it live
        with pytest.raises(TimeoutError):
            TableLock(spark, path, ttl_ms=300, timeout_ms=700).__enter__()
        assert os.path.exists(lock)  # never broken while held
    assert not os.path.exists(lock)
    # token guard: a stranger's fresh lock is not deleted by our release
    other = TableLock(spark, path, ttl_ms=60_000)
    other.__enter__()
    stale_handle = TableLock(spark, path)
    stale_handle._delete(expect_token=stale_handle._token)  # token mismatch → no-op
    assert os.path.exists(lock)
    other.__exit__(None, None, None)
    assert not os.path.exists(lock)


def test_table_lock_under_regular_file_raises_at_once(spark, tmp_path):
    """A table path below a regular file can never be locked: the lock
    must say so at once instead of reading the failed parent mkdir as
    "lock held" and spinning until its timeout."""
    import time

    from graph_db_spark.writers.upsert import TableLock

    regular_file = tmp_path / "plain"
    regular_file.write_text("not a directory")
    t0 = time.monotonic()
    with pytest.raises(NotADirectoryError):
        TableLock(spark, str(regular_file / "t"), timeout_ms=300).__enter__()
    assert time.monotonic() - t0 < 0.3


def test_merge_keeps_sibling_table_with_next_suffix(spark, tmp_path):
    """``<path>_next`` is an ordinary name for another table: merging
    into ``t`` must not touch ``t_next``."""
    from graph_db_spark.writers.upsert import merge_into_parquet_table

    sibling = str(tmp_path / "t_next")
    df_of(spark, [(7, "s", "t")]).write.parquet(sibling)
    merge_into_parquet_table(df_of(spark, [(1, "x", "y")]), str(tmp_path / "t"), ["k"])
    assert as_set(spark.read.parquet(sibling)) == {(7, "s", "t")}
    assert as_set(spark.read.parquet(str(tmp_path / "t"))) == {(1, "x", "y")}
