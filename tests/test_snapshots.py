"""Snapshot table format: atomic commit, bucket-level copy-on-write,
optimistic concurrency (the round-3 verdict's concurrent-writer
contract), time travel, exactly-once txn markers, vacuum."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from graph_db_spark.writers.snapshots import (
    CommitConflict,
    SnapshotTable,
    snapshot_sink,
)


def _rows(df):
    return sorted((r["k"], r["val"]) for r in df.collect())


def _mk(spark, pairs):
    return spark.createDataFrame([(k, v) for k, v in pairs], "k int, val string")


def test_create_read_roundtrip_collapses_dups(spark, tmp_path):
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), _mk(spark, [(1, "a"), (2, "b"), (2, "z")]), ["k"]
    )
    got = _rows(t.read())
    assert [k for k, _ in got] == [1, 2]  # dup key collapsed deterministically
    assert t.latest_version() == 1


def test_merge_updates_inserts_and_time_travel(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    v2 = t.merge(_mk(spark, [(2, "B"), (3, "c")]))
    assert v2 == 2
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c")]
    # time travel: version 1 still serves the pre-merge snapshot
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b")]
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[1]["operation"] == "merge:overwrite"


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    base = _mk(spark, [(i, f"v{i}") for i in range(200)])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), base, ["k"], n_buckets=16)
    m1 = t._read_manifest(1)
    t.merge(_mk(spark, [(7, "NEW")]))
    m2 = t._read_manifest(2)
    f1 = {e["path"] for e in m1["files"]}
    f2 = {e["path"] for e in m2["files"]}
    carried = f1 & f2
    # one update key touches exactly one bucket: all other buckets' files
    # carry forward by reference, untouched
    touched_buckets = {e["bucket"] for e in m2["files"] if e["path"] not in f1}
    assert touched_buckets and len(touched_buckets) == 1
    assert len(carried) >= len(f1) - len([e for e in m1["files"] if e["bucket"] in touched_buckets])
    assert _rows(t.read())[7] == (7, "NEW")


def test_conflict_retry_preserves_both_writers(spark, tmp_path):
    """The lost-update scenario from VERDICT r3: writer B computes against
    version N, writer A commits N+1 first; B must re-merge against A's
    snapshot so BOTH batches survive."""
    path = str(tmp_path / "t")
    t = SnapshotTable.create(spark, path, _mk(spark, [(1, "a")]), ["k"])
    orig = t._publish
    interposed = []

    def racing_publish(manifest):
        if not interposed:
            interposed.append(1)
            SnapshotTable(spark, path).merge(_mk(spark, [(2, "from_A")]))
        orig(manifest)

    t._publish = racing_publish
    t.merge(_mk(spark, [(3, "from_B")]))
    assert _rows(t.read()) == [(1, "a"), (2, "from_A"), (3, "from_B")]
    assert t.latest_version() == 3  # A's commit + B's retried commit


def test_concurrent_threads_lose_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    t = SnapshotTable.create(spark, path, _mk(spark, [(0, "seed")]), ["k"])
    errs = []

    def writer(offset):
        try:
            mine = SnapshotTable(spark, path)
            for i in range(3):
                mine.merge(_mk(spark, [(offset + i, f"w{offset}")]), max_retries=10)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(off,)) for off in (100, 200)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    keys = {k for k, _ in _rows(t.read())}
    assert keys == {0, 100, 101, 102, 200, 201, 202}


def test_txn_marker_makes_replay_a_noop(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"])
    sink = snapshot_sink(t, app_id="job1")
    sink(_mk(spark, [(2, "b")]), 7)
    v = t.latest_version()
    sink(_mk(spark, [(2, "b")]), 7)  # foreachBatch redelivery of batch 7
    assert t.latest_version() == v  # nothing committed
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # a LATER batch from the same app still commits
    sink(_mk(spark, [(3, "c")]), 8)
    assert t.latest_version() == v + 1


def test_vacuum_drops_only_unreferenced_files(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"], n_buckets=4)
    t.merge(_mk(spark, [(1, "b")]))
    t.merge(_mk(spark, [(1, "c")]))
    removed = t.vacuum(keep_last=1, min_age_seconds=0)
    assert removed  # versions 1-2's rewritten bucket files are gone
    assert _rows(t.read()) == [(1, "c")]  # latest fully readable
    with pytest.raises(FileNotFoundError):
        t._read_manifest(1)
    # history/txn walks survive the dropped manifests (stop at the floor)
    assert [h["version"] for h in t.history()] == [3]
    assert t._txn_seen(t.latest_version(), ("nope", 1)) is False


def test_tag_pins_version_and_survives_vacuum(spark, tmp_path):
    """Iceberg-style named refs: a tag pins a version immutably, read(tag=)
    serves it, and vacuum keeps the tagged manifest AND its data files
    even when keep_last would drop them."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"], n_buckets=4)
    assert t.create_tag("baseline") == 1
    t.merge(_mk(spark, [(1, "b")]))
    t.merge(_mk(spark, [(1, "c")]))
    assert t.tags() == {"baseline": 1}
    t.vacuum(keep_last=1, min_age_seconds=0)
    # v2 is gone, v1 (tagged) and v3 (latest) both fully readable
    with pytest.raises(FileNotFoundError):
        t._read_manifest(2)
    assert _rows(t.read(tag="baseline")) == [(1, "a")]
    assert _rows(t.read()) == [(1, "c")]
    # history tolerates the gap the pinned version creates
    assert [h["version"] for h in t.history()] == [1, 3]
    # tags are immutable; dropping re-exposes the version to vacuum
    with pytest.raises(ValueError):
        t.create_tag("baseline")
    t.drop_tag("baseline")
    assert t.tags() == {}
    t.vacuum(keep_last=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        t._read_manifest(1)


def test_bloom_point_skip_and_rewrite_preserves_filters(spark, tmp_path):
    """Manifest-level Bloom filters on a non-key column: a point lookup
    skips buckets whose filter proves the value absent, never returns
    wrong rows, and every rewrite (merge) rebuilds the touched bucket's
    filter while carried buckets keep theirs."""
    df = spark.createDataFrame(
        [(i, f"name_{i}", i * 1.5) for i in range(400)], "k int, name string, val double"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, ["k"], n_buckets=8, bloom_on=["name"]
    )
    # an existing value lives in exactly one bucket's rows → most buckets skip
    r, total = t.pruned_files({"name": ("name_7", "name_7")})
    assert total == 8 and r < 8
    got = t.scan({"name": ("name_7", "name_7")}).collect()
    assert [(x["k"], x["val"]) for x in got] == [(7, 10.5)]
    # an absent value should skip (near) everything — fpr makes ==0 almost
    # sure on 8 buckets; assert the conservative bound
    r2, _ = t.pruned_files({"name": ("no_such_name", "no_such_name")})
    assert r2 <= 1
    # merge rewrites one bucket: its bloom must cover the NEW value
    v2 = t.merge(
        spark.createDataFrame([(7, "renamed_7", 99.0)], "k int, name string, val double")
    )
    assert v2 == 2
    got2 = t.scan({"name": ("renamed_7", "renamed_7")}).collect()
    assert [(x["k"], x["val"]) for x in got2] == [(7, 99.0)]
    # carried buckets keep pruning
    r3, total3 = t.pruned_files({"name": ("name_9", "name_9")})
    assert total3 == 8 and r3 < 8
    assert [x["k"] for x in t.scan({"name": ("name_9", "name_9")}).collect()] == [9]


def test_rebucket_evolves_count_and_keeps_time_travel(spark, tmp_path):
    """Bucket-count evolution: the rewrite changes routing atomically
    (point lookups prune 1/new_count), old versions keep their own
    count, and data is unchanged."""
    df = _mk(spark, [(i, f"v{i}") for i in range(200)])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, ["k"], n_buckets=4)
    before = _rows(t.read())
    v2 = t.rebucket(16)
    assert v2 == 2 and t._read_manifest(2)["n_buckets"] == 16
    assert _rows(t.read()) == before
    # point lookup routes through the NEW count...
    r, total = t.pruned_files({"k": (7, 7)})
    assert total == 16 and r == 1
    # ...while the old version still routes through the old count
    r1, total1 = t.pruned_files({"k": (7, 7)}, version=1)
    assert total1 == 4 and r1 == 1
    assert _rows(t.read(version=1)) == before
    # idempotent: same count is a no-op commit
    assert t.rebucket(16) == 2
    # merges after evolution use the new count
    t.merge(_mk(spark, [(7, "NEW")]))
    assert ("NEW" in dict(_rows(t.read()))[7])


def test_tag_validation(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"])
    with pytest.raises(FileNotFoundError):
        t.create_tag("missing", version=9)
    with pytest.raises(ValueError):
        t.create_tag("../escape")
    with pytest.raises(ValueError):
        t.read(version=1, tag="baseline")


def test_vacuum_retention_spares_inflight_commit_files(spark, tmp_path):
    """An unreferenced file younger than min_age_seconds is a possible
    in-flight commit (written, manifest not yet published) — vacuum must
    leave it so the racing writer's _publish stays consistent."""
    import os

    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"], n_buckets=4)
    t.merge(_mk(spark, [(1, "b")]))
    t.merge(_mk(spark, [(1, "c")]))
    # all orphaned files were written milliseconds ago → default window spares them
    assert t.vacuum(keep_last=1) == []
    # age the files past the window → now they go
    data_root = tmp_path / "t" / "data"
    for root, _, files in os.walk(data_root):
        for fn in files:
            os.utime(os.path.join(root, fn), (0, 0))
    assert t.vacuum(keep_last=1, min_age_seconds=60) != []
    assert _rows(t.read()) == [(1, "c")]


def test_txn_replay_noop_survives_vacuum(spark, tmp_path):
    """merge(txn=...) must not crash when vacuum removed old manifests:
    the marker walk stops at the retained floor (ADVICE r4 #2)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"])
    sink = snapshot_sink(t, app_id="job1")
    for b in range(3):
        sink(_mk(spark, [(10 + b, "x")]), b)
    t.vacuum(keep_last=2, min_age_seconds=0)
    v = t.latest_version()
    sink(_mk(spark, [(12, "x")]), 2)  # replay of the last retained batch → noop
    assert t.latest_version() == v
    sink(_mk(spark, [(13, "y")]), 3)  # a new batch still commits
    assert t.latest_version() == v + 1


def test_legacy_txn_walk_survives_concurrent_vacuum(spark, tmp_path):
    """Legacy tables (manifests predating the txns high-water map) fall
    back to the newest-first marker walk; a FileNotFoundError mid-walk
    (concurrent vacuum raised the floor) must RESUME past the vanished
    manifest, not conclude 'not seen' — that conclusion would re-commit
    an already-applied batch under a non-idempotent strategy (r5 ADVICE
    #3)."""
    import json
    import os

    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"])
    sink = snapshot_sink(t, app_id="job1")
    for b in range(3):
        sink(_mk(spark, [(10 + b, "x")]), b)  # marker for batch 2 lives at v4
    # strip the high-water maps → every probe takes the legacy walk
    mdir = tmp_path / "t" / "_manifests"
    for f in os.listdir(mdir):
        p = mdir / f
        m = json.loads(p.read_text())
        m.pop("txns", None)
        p.write_text(json.dumps(m))
    latest = t.latest_version()
    assert t._txn_seen(latest, ("job1", 2)) is True  # sanity: plain walk
    # now make the walk hit a vanished manifest BETWEEN the walk's start
    # and the marker: two job2 commits stack v5/v6 above job1's v4
    # marker; v5 "vanishes" mid-walk as if vacuum just deleted it
    sink_other = snapshot_sink(t, app_id="job2")
    sink_other(_mk(spark, [(99, "y")]), 0)
    sink_other(_mk(spark, [(98, "z")]), 1)
    top = t.latest_version()
    for f in os.listdir(mdir):  # strip job2's maps too
        p = mdir / f
        m = json.loads(p.read_text())
        m.pop("txns", None)
        p.write_text(json.dumps(m))
    orig = SnapshotTable._read_manifest
    blown = {top - 1}

    def racing(self, version):
        if version in blown:
            blown.discard(version)  # vanish exactly once, then re-appear
            raise FileNotFoundError(f"v{version} vacuumed")
        return orig(self, version)

    SnapshotTable._read_manifest = racing
    try:
        assert t._txn_seen(top, ("job1", 2)) is True
    finally:
        SnapshotTable._read_manifest = orig


def test_txn_highwater_map_is_o1_and_retention_independent(spark, tmp_path):
    """The exactly-once contract at streaming commit counts (r5 verdict
    #8): every manifest carries the cumulative {app: max txn_id} map, so
    (a) resolving a marker is ≤2 manifest reads no matter how many
    commits the table has seen — the old newest-first walk was O(versions)
    driver-side file opens per batch — and (b) a marker whose manifest
    was VACUUMED still reads as seen, so a delayed replay of an ancient
    batch cannot re-commit under a non-idempotent strategy."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a")]), ["k"])
    sink = snapshot_sink(t, app_id="job1")
    for b in range(6):
        sink(_mk(spark, [(10 + b, "x")]), b)
    # interleaved non-txn commits must CARRY the map, not drop it
    t.delete(_mk(spark, [(10, "x")]).select("k"))
    t.merge(_mk(spark, [(11, "x2")]), mode="mor")  # delta atop 11's existing file
    assert t.compact() is not None
    t.vacuum(keep_last=1, min_age_seconds=0)  # every txn-marked manifest is gone
    reads = 0
    orig = SnapshotTable._read_manifest

    def counting(self, version):
        nonlocal reads
        reads += 1
        return orig(self, version)

    SnapshotTable._read_manifest = counting
    try:
        assert t._txn_seen(t.latest_version(), ("job1", 0)) is True  # ancient marker
        assert t._txn_seen(t.latest_version(), ("job1", 5)) is True  # newest marker
        assert t._txn_seen(t.latest_version(), ("job1", 6)) is False
        assert t._txn_seen(t.latest_version(), ("other_app", 1)) is False
        assert reads <= 2 * 4, f"{reads} manifest reads for 4 probes"
    finally:
        SnapshotTable._read_manifest = orig
    # the replayed ancient batch is a noop even though its manifest is vacuumed
    v = t.latest_version()
    sink(_mk(spark, [(99, "replay")]), 0)
    assert t.latest_version() == v


def test_scan_on_date_key_prunes_without_type_error(spark, tmp_path):
    """Stats for non-JSON-native key types are stringified by _json_safe;
    the pruner must compare them canonically, not str-vs-date (ADVICE r4 #4).
    Python date str() is ISO-ordered, so date keys stay genuinely prunable."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.date(2024, 1, d), d, f"v{d}") for d in range(1, 29)],
        "d date, k int, val string",
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, ["d", "k"], n_buckets=4)
    got = t.scan({"d": (dt.date(2024, 1, 10), dt.date(2024, 1, 12))}).collect()
    assert sorted(r["k"] for r in got) == [10, 11, 12]
    # string bounds in ISO form work identically
    got2 = t.scan({"d": ("2024-01-10", "2024-01-12")}).collect()
    assert sorted(r["k"] for r in got2) == [10, 11, 12]


def test_scan_on_decimal_key_skips_pruning_but_stays_correct(spark, tmp_path):
    """Decimal str() orders lexicographically ('9.0' > '10.0') — the pruner
    must opt out for such keys instead of pruning wrongly; the residual row
    filter still yields the right answer."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [(Decimal(n), n) for n in (2, 9, 10, 30)], "amt decimal(10,1), k int"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, ["amt"], n_buckets=2)
    got = t.scan({"amt": (Decimal(9), Decimal(10))}).collect()
    assert sorted(r["k"] for r in got) == [9, 10]
    read, total = t.pruned_files({"amt": (Decimal(9), Decimal(10))})
    assert read == total  # conservatively unpruned, never wrong


def test_merge_strategies_pass_through(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", None)], "k int, x string, y string")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, ["k"])
    up = spark.createDataFrame([(1, None, "Y")], "k int, x string, y string")
    t.merge(up, strategy="coalesce")  # new non-null wins, old kept where new null
    row = t.read().collect()[0]
    assert (row["x"], row["y"]) == ("a", "Y")
    t.merge(
        spark.createDataFrame([(1, "zzz", "zzz")], "k int, x string, y string"),
        strategy="if_absent",
    )  # existing values stick
    row = t.read().collect()[0]
    assert (row["x"], row["y"]) == ("a", "Y")


def test_exhausted_retries_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    t = SnapshotTable.create(spark, path, _mk(spark, [(1, "a")]), ["k"])

    def always_racing(manifest):
        SnapshotTable(spark, path).merge(_mk(spark, [(99, "x")]))
        raise CommitConflict("simulated")

    t._publish = always_racing
    with pytest.raises(CommitConflict):
        t.merge(_mk(spark, [(2, "b")]), max_retries=2)


def test_streaming_merge_into_snapshot_table(spark, tmp_path):
    """End-to-end Structured Streaming → snapshot table: a parquet file
    stream MERGEd via foreachBatch(snapshot_sink). Restarting the stream
    over the same source (foreachBatch redelivery of already-seen batch
    ids) must commit nothing new — the txn marker makes replay a no-op."""
    src = str(tmp_path / "src")
    _mk(spark, [(1, "a"), (2, "b")]).coalesce(1).write.parquet(src)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "OLD")]), ["k"])

    def run():
        stream = spark.readStream.schema("k int, val string").parquet(src)
        q = (
            stream.writeStream.foreachBatch(snapshot_sink(t, app_id="stream1"))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )
        q.awaitTermination(120)

    run()
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    v = t.latest_version()
    run()  # same checkpoint: no new batches -> no commits
    assert t.latest_version() == v


def test_point_lookup_reads_one_bucket(spark, tmp_path):
    """A full-key point lookup hashes to exactly one bucket — the scan
    must open only that bucket's files, not the table."""
    base = _mk(spark, [(i, f"v{i}") for i in range(500)])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), base, ["k"], n_buckets=16)
    assert [(r["k"], r["val"]) for r in t.scan({"k": (107, 107)}).collect()] == [(107, "v107")]
    read, total = t.pruned_files({"k": (107, 107)})
    assert total >= 16 and read <= total // 8  # one bucket of sixteen
    with pytest.raises(ValueError):
        t.scan({"val": (0, 1)})


def test_range_scan_stats_prune_growing_domain(spark, tmp_path):
    """Hash bucketing scatters a static key domain, so range stats can't
    prune it — but on a GROWING domain (append-mostly), old commits'
    files have stats below the new range and drop out without a footer
    read."""
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), _mk(spark, [(i, "old") for i in range(100)]),
        ["k"], n_buckets=8,
    )
    t.merge(_mk(spark, [(i, "new") for i in range(1000, 1010)]))
    got = sorted(r["k"] for r in t.scan({"k": (1000, None)}).collect())
    assert got == list(range(1000, 1010))
    read, total = t.pruned_files({"k": (1000, None)})
    # every create-commit file whose bucket the merge didn't touch is
    # skipped by stats (max key 99 < 1000)
    assert read < total


def test_schema_evolution_appends_nullable_columns(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    up = spark.createDataFrame([(2, "B", 9)], "k int, val string, extra int")
    with pytest.raises(ValueError):
        t.merge(up)  # evolution must be explicit — typo protection
    t.merge(up, allow_schema_evolution=True)
    rows = {r["k"]: (r["val"], r["extra"]) for r in t.read().collect()}
    # old row null-fills the new column without its file being rewritten
    assert rows == {1: ("a", None), 2: ("B", 9)}
    # time travel still serves the pre-evolution schema
    assert t.read(version=1).columns == ["k", "val"]
    # a later merge WITHOUT the new column aligns with nulls (coalesce
    # keeps the stored value, per the documented partial-update contract)
    t.merge(_mk(spark, [(2, "B2")]), strategy="coalesce")
    rows = {r["k"]: (r["val"], r["extra"]) for r in t.read().collect()}
    assert rows[2] == ("B2", 9)


def test_mor_merge_appends_and_resolves(spark, tmp_path):
    """Fast-ingest merge-on-read: delta files append (old files stay in
    the manifest), readers resolve each key to the newest commit, and
    compact() rewrites the fragmented buckets back to one seq."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _mk(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=4)
    n_before = len(t._read_manifest(1)["files"])
    t.merge(_mk(spark, [(2, "B2"), (3, "c")]), mode="mor")
    m2 = t._read_manifest(2)
    assert len(m2["files"]) > n_before  # nothing was rewritten, only added
    assert any(e["seq"] == 2 for e in m2["files"]) and any(e["seq"] == 1 for e in m2["files"])
    assert _rows(t.read()) == [(1, "a"), (2, "B2"), (3, "c")]  # newest seq wins
    with pytest.raises(ValueError):
        t.merge(_mk(spark, [(9, "x")]), strategy="coalesce", mode="mor")
    v = t.compact()
    assert v == 3
    m3 = t._read_manifest(v)
    per_bucket = {}
    for e in m3["files"]:
        per_bucket.setdefault(e["bucket"], set()).add(e["seq"])
    assert all(len(s) == 1 for s in per_bucket.values())  # defragmented
    assert _rows(t.read()) == [(1, "a"), (2, "B2"), (3, "c")]
    assert t.compact() is None  # nothing left to do


def test_compact_retries_after_losing_publish_race(spark, tmp_path):
    """compact() commits through the same optimistic loop as every other
    writer: when a concurrent merge publishes first, compact re-derives
    the fragmented buckets from the winner's snapshot and commits the
    next version instead of raising CommitConflict."""
    path = str(tmp_path / "t")
    t = SnapshotTable.create(spark, path, _mk(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=4)
    t.merge(_mk(spark, [(2, "B2"), (3, "c")]), mode="mor")  # v2: two seqs per touched bucket
    orig = t._publish
    winner = []

    def racing_publish(manifest):
        if not winner:
            winner.append(
                SnapshotTable(spark, path).merge(_mk(spark, [(4, "from_A")]), mode="mor")
            )
        orig(manifest)

    t._publish = racing_publish
    v = t.compact()
    assert winner == [3] and v == 4
    assert _rows(t.read()) == [(1, "a"), (2, "B2"), (3, "c"), (4, "from_A")]
    per_bucket = {}
    for e in t._read_manifest(v)["files"]:
        per_bucket.setdefault(e["bucket"], set()).add(e["seq"])
    assert all(len(s) == 1 for s in per_bucket.values()), per_bucket


def test_delete_and_change_feed(spark, tmp_path):
    """CDC between snapshots: inserts/updates/deletes surface with row
    images; buckets whose file sets are identical in both manifests are
    never read."""
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), _mk(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"], n_buckets=4
    )
    t.merge(_mk(spark, [(2, "B2"), (4, "d")]))        # update + insert
    t.delete(spark.createDataFrame([(3,)], "k int"))  # delete
    feed = {
        r["k"]: (r["val"], r["_change"])
        for r in t.changes(from_version=1).collect()
    }
    assert feed == {2: ("B2", "update"), 4: ("d", "insert"), 3: ("c", "delete")}
    # version-bounded feed: only the delete between v2 and v3
    feed23 = {r["k"]: r["_change"] for r in t.changes(2, 3).collect()}
    assert feed23 == {3: "delete"}
    assert _rows(t.read()) == [(1, "a"), (2, "B2"), (4, "d")]


def test_incremental_view_maintenance_matches_recompute(spark, tmp_path):
    """IVM: folding each commit's CDC feed (with old images) into the
    maintained aggregate must equal a full groupBy recompute after every
    commit — including updates that MIGRATE rows between groups, the
    case a new-image-only fold corrupts."""
    from graph_db_spark.writers.snapshots import apply_changes_to_aggregate

    def mkg(rows):  # (k, grp, amount)
        return spark.createDataFrame(rows, "k int, grp string, amount double")

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"),
        mkg([(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0), (4, "b", 1.0)]),
        ["k"], n_buckets=4,
    )
    # materialize the initial view from a synthetic all-insert feed
    feed0 = t.read().withColumn("_change", F.lit("insert")) \
        .withColumn("_old_grp", F.lit(None).cast("string")) \
        .withColumn("_old_amount", F.lit(None).cast("double"))
    view = apply_changes_to_aggregate(None, feed0, ["grp"], ["amount"]).localCheckpoint()

    def check(view):
        got = {r["grp"]: (r["n"], round(r["sum_amount"], 6)) for r in view.collect()}
        want = {
            r["grp"]: (r["cnt"], round(r["s"], 6))
            for r in t.read().groupBy("grp").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("amount").alias("s")
            ).collect()
        }
        assert got == want, (got, want)

    commits = [
        lambda: t.merge(mkg([(2, "b", 50.0)])),          # group migration a->b
        lambda: t.merge(mkg([(5, "c", 2.0), (1, "a", 11.0)])),  # insert + in-place update
        lambda: t.delete(spark.createDataFrame([(3,)], "k int")),  # delete
        lambda: t.merge(mkg([(5, "a", 2.0)])),           # migration emptying group c
    ]
    for commit in commits:
        v_before = t.latest_version()
        commit()
        feed = t.changes(v_before, include_old=True)
        view = apply_changes_to_aggregate(view, feed, ["grp"], ["amount"]).localCheckpoint()
        check(view)
    assert not any(r["grp"] == "c" for r in view.collect())  # emptied group dropped


def test_cluster_by_prunes_files_within_buckets(spark, tmp_path):
    """cluster_by (Iceberg sort-order analog): rows sort within buckets,
    files roll every records_per_file rows, per-file footer stats join
    the manifest — a range scan on the cluster key prunes FILES, which a
    hash layout alone never can. Clustering must survive rewrites."""
    df = spark.range(2000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"), F.lit("x").alias("val")
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, ["k"], n_buckets=4,
        cluster_by=["v"], records_per_file=100,
    )
    read, total = t.pruned_files({"v": (100.0, 200.0)})
    assert total >= 16  # the sorted stream rolled into multiple files/bucket
    assert read < total / 2  # pruning bites inside buckets
    got = sorted(r["k"] for r in t.scan({"v": (100.0, 200.0)}).collect())
    assert got == list(range(100, 201))
    # a COW merge rewrite keeps the clustering (manifest table property)
    up = spark.range(50).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"), F.lit("y").alias("val")
    )
    t.merge(up)
    read2, total2 = t.pruned_files({"v": (100.0, 200.0)})
    assert read2 < total2 / 2
    got2 = sorted(r["k"] for r in t.scan({"v": (100.0, 200.0)}).collect())
    assert got2 == list(range(100, 201))
    # key-column pruning still intact alongside
    r3, t3 = t.pruned_files({"k": (5, 5)})
    assert r3 <= total2 / 4 + 1  # point lookup → one bucket's files


def test_ivm_minmax_fold_matches_recompute(spark, tmp_path):
    """MIN/MAX IVM: inserts fold monotonically; retractions of an attained
    bound trigger the targeted group-rescan; a same-batch insert at/past
    the old bound rescues the group without rescan. In every case the
    maintained view must equal a direct recompute of the current state."""
    from graph_db_spark.writers.snapshots import apply_changes_to_minmax

    def mkv(rows):
        return spark.createDataFrame(rows, "k int, g string, v double")

    t = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        mkv([(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
             (4, "b", 5.0), (5, "b", 7.0)]),
        ["k"],
        n_buckets=4,
    )
    feed0 = (
        t.read().withColumn("_change", F.lit("insert"))
        .withColumn("_old_g", F.lit(None).cast("string"))
        .withColumn("_old_v", F.lit(None).cast("double"))
    )
    view = apply_changes_to_minmax(None, feed0, t.read(), ["g"], "v").localCheckpoint()

    def check():
        got = {r["g"]: (r["n"], r["min_v"], r["max_v"]) for r in view.collect()}
        want = {
            r["g"]: (r["n"], r["mn"], r["mx"])
            for r in t.read().groupBy("g").agg(
                F.count(F.lit(1)).alias("n"), F.min("v").alias("mn"), F.max("v").alias("mx")
            ).collect()
        }
        assert got == want

    check()
    commits = [
        # retract group-a MIN (k=1 deleted, no rescue) → rescan path
        lambda: t.delete(mkv([(1, "a", 10.0)]).select("k")),
        # retract group-b MAX via update, same-batch rescued by higher value
        lambda: t.merge(mkv([(5, "b", 9.0)])),
        # group migration: k=2 moves a→b (retracts a's 20, adds to b)
        lambda: t.merge(mkv([(2, "b", 20.0)])),
        # plain insert tightening nothing
        lambda: t.merge(mkv([(9, "a", 25.0)])),
    ]
    for commit in commits:
        v_before = t.latest_version()
        commit()
        feed = t.changes(v_before, include_old=True)
        view = apply_changes_to_minmax(view, feed, t.read(), ["g"], "v").localCheckpoint()
        check()


def test_zorder_column_matches_python_morton(spark):
    """zorder_column's Column bit arithmetic equals a straight Python
    Morton encode over the same clamp/rank normalization — including
    out-of-domain values (which must clamp, keeping pruning conservative
    rather than wrong)."""
    from graph_db_spark.writers.snapshots import zorder_column

    bits = 8
    lo_x, hi_x, lo_y, hi_y = -1000.0, 10000.0, 0.0, 25.0
    vals = [
        (-1500.0, -3),  # clamps below on both dims
        (-1000.0, 0),
        (0.0, 1),
        (4321.5, 5),
        (9999.99, 24),
        (12000.0, 30),  # clamps above on both dims
    ]

    def rank(v, lo, hi):
        r = int((v - lo) / (hi - lo) * (1 << bits))
        return max(0, min((1 << bits) - 1, r))

    def morton(x, y):
        rx, ry = rank(x, lo_x, hi_x), rank(y, lo_y, hi_y)
        z = 0
        for i in range(bits):
            z |= ((rx >> i) & 1) << (2 * i)
            z |= ((ry >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(vals, "x double, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y",
            zorder_column([(F.col("x"), lo_x, hi_x), (F.col("y"), lo_y, hi_y)], bits=bits).alias("z"),
        ).collect()
    }
    for x, y in vals:
        assert got[(x, y)] == morton(x, y), (x, y)


def test_write_audit_publish_gates_the_manifest(spark, tmp_path):
    """WAP: the audit sees the exact would-be snapshot; False leaves the
    table byte-identical (manifest count included) and a later passing
    audit publishes normally."""
    from graph_db_spark.writers.snapshots import AuditRejected, SnapshotTable

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "wap"), base, ["k"], n_buckets=2)
    poison = spark.createDataFrame([(2, -999.0)], "k int, v double")

    seen = {}

    def audit(df):
        seen["rows"] = {(r["k"], r["v"]) for r in df.collect()}
        return all(v >= 0 for _, v in seen["rows"])

    with pytest.raises(AuditRejected):
        t.merge(poison, audit=audit)
    # the audit saw the STAGED state (poison applied)...
    assert (2, -999.0) in seen["rows"]
    # ...but the table never did
    assert t.latest_version() == 1
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)
    }
    # a passing audit publishes
    good = spark.createDataFrame([(2, 25.0)], "k int, v double")
    assert t.merge(good, audit=audit) == 2
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (1, 10.0), (2, 25.0), (3, 30.0)
    }


def test_vacuum_reclaims_audit_rejected_stage(spark, tmp_path):
    """The WAP docstring's cleanup claim: files staged by a rejected
    audit are unreferenced by any manifest and vacuum removes them (past
    the in-flight retention window)."""
    import os

    from graph_db_spark.writers.snapshots import AuditRejected, SnapshotTable

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "wapv"), base, ["k"], n_buckets=2)

    def count_parquet():
        n = 0
        for root, _, files in os.walk(str(tmp_path / "wapv" / "data")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before = count_parquet()
    with pytest.raises(AuditRejected):
        t.merge(
            spark.createDataFrame([(2, -1.0)], "k int, v double"),
            audit=lambda df: False,
        )
    staged = count_parquet()
    assert staged > before  # orphans exist on disk...
    removed = t.vacuum(keep_last=2, min_age_seconds=0.0)
    assert removed  # ...and vacuum reclaims exactly them
    assert count_parquet() == before
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, 10.0), (2, 20.0)}


def test_join_view_delta_folds_match_direct_join(spark, tmp_path):
    """Fact merge/delete + dim update folded through the join-view delta
    rules == the direct join of the final table states."""
    from graph_db_spark.writers.snapshots import (
        SnapshotTable,
        apply_dim_changes_to_join_view,
        apply_fact_changes_to_join_view,
    )

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 6.0), (3, 20, 7.0), (4, 30, 8.0)],
        "fk long, dk long, val double",
    )
    dim = spark.createDataFrame(
        [(10, "x"), (20, "y"), (30, "z")], "dk long, attr string"
    )
    tf = SnapshotTable.create(spark, str(tmp_path / "f"), fact, ["fk"], n_buckets=2)
    td = SnapshotTable.create(spark, str(tmp_path / "d"), dim, ["dk"], n_buckets=2)
    view = (
        tf.read().join(td.read(), on="dk")
        .select("fk", "dk", "val", "attr")
        .localCheckpoint()
    )
    # fact commit: insert fk=5 (dk=20), update fk=1 val and MIGRATE to dk=30
    v0 = tf.latest_version()
    tf.merge(
        spark.createDataFrame([(5, 20, 9.0), (1, 30, 50.0)], "fk long, dk long, val double")
    )
    view = apply_fact_changes_to_join_view(
        view, tf.changes(v0, include_old=True), "fk", td.read(), "dk"
    )
    # fact delete fk=2
    v1 = tf.latest_version()
    tf.delete(spark.createDataFrame([(2,)], "fk long"))
    view = apply_fact_changes_to_join_view(
        view, tf.changes(v1, include_old=True), "fk", td.read(), "dk"
    )
    # dim commit: update dk=20 attr, delete dk=30 (drops fk=1 and fk=4)
    v2 = td.latest_version()
    td.merge(spark.createDataFrame([(20, "Y2")], "dk long, attr string"))
    td.delete(spark.createDataFrame([(30,)], "dk long"))
    view = apply_dim_changes_to_join_view(
        view, td.changes(v2, include_old=True), "dk"
    )
    got = sorted(
        (r["fk"], r["dk"], r["val"], r["attr"]) for r in view.collect()
    )
    direct = sorted(
        (r["fk"], r["dk"], r["val"], r["attr"])
        for r in tf.read().join(td.read(), on="dk")
        .select("fk", "dk", "val", "attr").collect()
    )
    assert got == direct
    assert got == [(3, 20, 7.0, "Y2"), (5, 20, 9.0, "Y2")]


def test_hadoop_fs_route_full_lifecycle(spark, tmp_path, monkeypatch):
    """r11 verdict item 2: the non-local-scheme route. Runs the FULL
    table lifecycle (create → merge → conflict → time travel → tag →
    clustered footer stats → scan pruning → vacuum) through
    _HadoopTableFS — a REAL org.apache.hadoop.fs.FileSystem
    implementation (Hadoop's LocalFileSystem over a file:// URI, no
    minicluster needed; ``table_fs`` would route file:// to POSIX, so
    the test substitutes the Hadoop class for it), so every py4j FS
    primitive (listStatus, create(overwrite=false), open/positioned
    footer reads, delete, getFileStatus) is exercised as hdfs:// would
    hit it. The mkdir/create/list/read/delete call pattern is
    scheme-generic; create-exclusive atomicity is not: namenode-atomic
    on HDFS, an exists-then-create that two threads can both win on
    Hadoop's LocalFileSystem, non-atomic on plain S3. This test is
    single-writer, so it checks the conflict signal, not atomicity."""
    from graph_db_spark.writers import snapshots
    from graph_db_spark.writers.tablefs import _HadoopTableFS

    monkeypatch.setattr(snapshots, "table_fs", _HadoopTableFS)
    uri = f"file://{tmp_path}/ht"
    t = SnapshotTable.create(
        spark,
        uri,
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]),
        ["k"],
        n_buckets=4,
        cluster_by=["k"],
        records_per_file=2,
    )
    assert isinstance(t._fs, _HadoopTableFS)
    assert t.latest_version() == 1
    # merge + time travel through the hadoop manifest reads
    v2 = t.merge(_mk(spark, [(2, "B"), (4, "d")]))
    assert v2 == 2
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b"), (3, "c")]
    # atomic create-exclusive: publishing the same version again conflicts
    with pytest.raises(CommitConflict):
        t._publish({"version": 2, "files": []})
    # tags ride the same create-exclusive primitive
    assert t.create_tag("train", 1) == 1
    assert t.tags() == {"train": 1}
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("train", 2)
    # footer stats were read back through the positioned-read stream:
    # every clustered file entry carries k min/max, and a narrow range
    # scan prunes files
    m = t._read_manifest(2)
    assert all(e["stats"] and "k" in e["stats"] for e in m["files"])
    read_files, total_files = t.pruned_files({"k": (4, 4)})
    assert read_files < total_files
    assert sorted(r["k"] for r in t.scan({"k": (2, 3)}).collect()) == [2, 3]
    # a second handle on the same URI (fresh FileSystem object) sees
    # the committed state — manifests are the source of truth
    t2 = SnapshotTable(spark, uri)
    assert t2.latest_version() == 2
    assert _rows(t2.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # vacuum over the hadoop listdir/getmtime/delete path
    t.merge(_mk(spark, [(1, "A2")]))
    removed = t.vacuum(keep_last=1, min_age_seconds=0)
    assert t.tags() == {"train": 1}  # tagged v1 survives
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(FileNotFoundError):
        t._read_manifest(2)  # untagged old version vacuumed
    assert all(p.endswith(".parquet") for p in removed)


def test_hadoop_fs_default_routing_by_scheme(spark, tmp_path):
    """The path's URI scheme alone picks the filesystem: a bare path and
    a ``file:`` URI — ``file://`` and the single-slash ``file:/`` form
    Spark itself prints — all get POSIX primitives, whose
    ``O_CREAT|O_EXCL`` is the atomic publish (Hadoop's local create is
    not); the ``file:`` table reads its rows back through a second
    handle."""
    from graph_db_spark.writers.tablefs import _LocalTableFS

    t = SnapshotTable.create(spark, str(tmp_path / "p"), _mk(spark, [(1, "a")]), ["k"])
    assert isinstance(t._fs, _LocalTableFS)
    th = SnapshotTable(spark, f"file://{tmp_path}/p2")
    assert isinstance(th._fs, _LocalTableFS)
    ts = SnapshotTable.create(
        spark, f"file:{tmp_path}/p3", _mk(spark, [(1, "a"), (2, "b")]), ["k"]
    )
    assert isinstance(ts._fs, _LocalTableFS)
    assert _rows(ts.read()) == [(1, "a"), (2, "b")]
    assert _rows(SnapshotTable(spark, f"file:{tmp_path}/p3").read()) == [(1, "a"), (2, "b")]


def test_manifest_bucket_stats_match_exact_aggregate(spark, tmp_path):
    """r14: _write_buckets derives per-bucket key min/max from the written
    parquet FOOTERS (no Spark job) for footer-exact dtypes. The manifest
    values must equal the exact groupBy aggregate over the stored data —
    for LONG and STRING keys alike — or pruning counts (oracle-checked by
    the zorder/range queries) could drift."""
    df = spark.createDataFrame(
        [(i, f"name_{i:04d}_{'x' * (i % 7)}", float(i) / 3) for i in range(200)],
        "ik long, sk string, v double",
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, ["ik", "sk"], n_buckets=4)
    m = t._read_manifest(1)
    from graph_db_spark.writers.snapshots import _bucket_col

    exact = {
        r["_bucket"]: r
        for r in t.read()
        .withColumn("_bucket", _bucket_col(["ik", "sk"], 4))
        .groupBy("_bucket")
        .agg(
            F.min("ik").alias("ik_mn"), F.max("ik").alias("ik_mx"),
            F.min("sk").alias("sk_mn"), F.max("sk").alias("sk_mx"),
        )
        .collect()
    }
    assert m["files"], "no files written"
    seen = set()
    for e in m["files"]:
        b, st = e["bucket"], e["stats"]
        seen.add(b)
        assert st["ik"] == [exact[b]["ik_mn"], exact[b]["ik_mx"]], (b, st)
        assert st["sk"] == [exact[b]["sk_mn"], exact[b]["sk_mx"]], (b, st)
    assert seen == set(exact)


def test_range_scan_keeps_rows_of_files_without_footer_range(spark, tmp_path):
    """A bucket's manifest range may only fold keys every file in it
    states: a 5000-char string gets no footer min/max, and a NaN double
    (which Spark orders above every number) gets a NaN bound. Folding
    the other files' ranges would stamp a too-narrow range on the whole
    bucket and a range scan would prune those rows. Files roll every 2
    rows on ``v`` inside the one bucket."""
    long_key = "z" * 5000
    sdf = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4), (long_key, 5)], "sk string, v int"
    )
    st = SnapshotTable.create(
        spark, str(tmp_path / "s"), sdf, ["sk"], n_buckets=1,
        cluster_by=["v"], records_per_file=2,
    )
    assert len(st._read_manifest(1)["files"]) == 3
    assert [r["sk"] for r in st.scan({"sk": ("y", None)}).collect()] == [long_key]

    ddf = spark.createDataFrame(
        [(1.0, 1), (2.0, 2), (float("nan"), 3), (0.5, 4)], "dk double, v int"
    )
    dt = SnapshotTable.create(
        spark, str(tmp_path / "d"), ddf, ["dk"], n_buckets=1,
        cluster_by=["v"], records_per_file=2,
    )
    assert len(dt._read_manifest(1)["files"]) == 2
    assert [r["v"] for r in dt.scan({"dk": (2.5, None)}).collect()] == [3]
