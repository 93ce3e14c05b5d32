"""Keyed-upsert writer library — SURVEY.md §4.1.1.

Cypher ``MERGE`` in the reference is insert-or-update keyed by the 23
composite uniqueness constraints (/root/reference/app/graph_constraints.py),
with three SET variants:

- **overwrite** — plain ``MERGE ... SET`` (e.g. graph_fields.py:16-25):
  the new row's values win.
- **coalesce** — keep-existing-unless-new-non-null
  (``CASE WHEN $nutrients IS NULL THEN fp.nutrients ELSE $nutrients END``,
  graph_fertilizer_product.py:211-219): per-column ``coalesce(new, old)``.
- **if_absent** — set-only-if-currently-null
  (``coalesce(sl.depth_label, $depth_label)``, graph_soil_layer.py:226):
  per-column ``coalesce(old, new)``.

Implementation: pure DataFrame merge (union → window-dedupe or outer-join →
per-column coalesce), so it works on plain parquet tables; on a Delta/Iceberg
lake the same keys/strategies map 1:1 onto ``MERGE INTO``. Idempotent by
construction: re-running the same batch yields an identical table (the
reference's re-run-safe window-widening contract,
graph_irrigation_event.py:52-53).

Scale: one shuffle on the key columns; both inputs are key-partitioned by
the window/join, so repeated upserts into a bucketed table reuse the
partitioning.

Landing: :func:`merge_into_parquet_table` is the plain-parquet MERGE that
``run.run`` uses — a staged write and a rename swap under the
single-writer :class:`TableLock`, on the table filesystem of
:mod:`graph_db_spark.writers.tablefs`. The transactional alternative is
:class:`graph_db_spark.writers.snapshots.SnapshotTable`.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_db_spark.writers.tablefs import table_fs

STRATEGIES = ("overwrite", "coalesce", "if_absent")


def upsert(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    strategy: str = "overwrite",
) -> DataFrame:
    """Merge ``updates`` into ``existing`` on ``keys`` with the given
    strategy; returns the new table. ``existing=None`` means first write.

    ``updates`` may itself contain duplicate keys (the reference relies on
    MERGE idempotence for that); they are collapsed first — last wins by
    all non-key columns, so the collapse is a deterministic function of
    the data regardless of partition layout.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}; expected one of {STRATEGIES}")

    updates = collapse_duplicates(updates, keys)
    if existing is None:
        return updates

    if strategy == "overwrite":
        # union with precedence: new rows shadow old rows on the same key.
        tagged_old = existing.select(*updates.columns).withColumn("__pri", F.lit(0))
        tagged_new = updates.withColumn("__pri", F.lit(1))
        w = Window.partitionBy(*keys).orderBy(F.col("__pri").desc())
        return (
            tagged_old.unionByName(tagged_new)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__pri", "__rn")
        )

    # coalesce / if_absent need per-column merging → full outer join.
    value_cols = [c for c in updates.columns if c not in keys]
    old = existing.select(*updates.columns).alias("old")
    new = updates.alias("new")
    joined = old.join(new, on=keys, how="full_outer")
    merged_cols = [F.col(k).alias(k) for k in keys]
    for c in value_cols:
        if strategy == "coalesce":  # new non-null wins
            merged = F.coalesce(new[c], old[c])
        else:  # if_absent: existing value sticks
            merged = F.coalesce(old[c], new[c])
        merged_cols.append(merged.alias(c))
    return joined.select(*merged_cols)


def collapse_duplicates(
    df: DataFrame, keys: list[str], order: list[str] | None = None
) -> DataFrame:
    """Collapse duplicate keys inside one batch — last row wins by ``order``
    (A8 dedup with explicit determinism).

    Without an explicit ``order``, ties among duplicate-key rows are broken
    by ALL non-key columns (desc): the key columns are constant within a
    window partition, so ordering by them would leave the winner up to
    partition layout / task retries — breaking the idempotent-MERGE
    contract. Ordering by the full value tuple makes the collapse a pure
    function of the data.
    """
    if order:
        order_cols = [F.col(c).desc() for c in order]
    else:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def orderable(dt) -> bool:
            # maps aren't orderable at ANY nesting depth (array<map<...>>,
            # struct containing a map fail analysis just like a bare map)
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return orderable(dt.elementType)
            if isinstance(dt, StructType):
                return all(orderable(f.dataType) for f in dt.fields)
            return True

        value_cols = [
            f.name for f in df.schema.fields if f.name not in keys and orderable(f.dataType)
        ]
        unorderable = [
            f.name for f in df.schema.fields if f.name not in keys and not orderable(f.dataType)
        ]
        if value_cols:
            order_cols = [F.col(c).desc_nulls_last() for c in value_cols]
        elif unorderable:
            # every value column is map-bearing: order by a canonical JSON
            # serialization hash so the winner is a pure function of the
            # data, not of partition layout / task retries.
            order_cols = [F.xxhash64(F.to_json(F.struct(*unorderable))).desc()]
        else:
            # no value columns → rows are full duplicates; any winner is identical
            order_cols = [F.col(c).desc_nulls_last() for c in keys]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def assert_unique_key(df: DataFrame, keys: list[str]) -> None:
    """Uniqueness-constraint assertion (replaces the 23 Neo4j constraints,
    /root/reference/app/graph_constraints.py:4-133). Raises on violation."""
    dupes = df.groupBy(*keys).count().filter(F.col("count") > 1)
    bad = dupes.limit(1).collect()
    if bad:
        raise AssertionError(f"duplicate key {keys} example: {bad[0].asDict()}")


def write_table(df: DataFrame, path: str, keys: list[str] | None = None) -> None:
    """Materialize (overwrite) a node/edge table as parquet. With ``keys``,
    repartition by key so downstream key-joins read co-located data
    (bucketing analogue for plain parquet)."""
    out = df.repartition(*keys) if keys else df
    out.write.mode("overwrite").parquet(path)


# one in-process mutex per table path: serializes concurrent writers inside
# the same driver without busy-waiting on the filesystem lock
_PROCESS_LOCKS: dict[str, threading.Lock] = {}
_PROCESS_LOCKS_GUARD = threading.Lock()


class TableLock:
    """Single-writer lock for a staged-rename parquet table.

    The staged-rename merge is read-modify-write: two concurrent writers
    that both read the current table each merge only their OWN batch, and
    the last swap wins — silently dropping the other writer's keys. Plain
    parquet has no transaction log, so concurrent MERGE needs mutual
    exclusion. Two layers:

    - **in-process**: a per-path ``threading.Lock`` — two writers in the
      same driver serialize without touching the filesystem;
    - **cross-process**: an exclusive lockfile ``<path>__lock`` created
      with the table filesystem's atomic create
      (:mod:`graph_db_spark.writers.tablefs`): POSIX ``O_CREAT|O_EXCL``
      for local paths and ``file:`` URIs, Hadoop
      ``create(overwrite=false)`` — namenode-atomic on HDFS — for other
      schemes. On eventual-consistency object stores neither is a real
      lock — there, and in production generally, the answer is a
      transactional table format whose optimistic commit IS the
      concurrency story (SCALE.md §6.5,
      :class:`~graph_db_spark.writers.snapshots.SnapshotTable`); this is
      the sound plain-parquet fallback.

    Crash-robustness: a writer that dies holding the lock would block all
    successors, so locks older than ``ttl_ms`` are broken (the staged
    swap they guarded is itself crash-recoverable). A LIVE holder is
    protected from TTL breaking by a heartbeat: a daemon thread bumps the
    lockfile mtime every ``ttl_ms/3``, so only a dead writer's lock ever
    looks stale — a merge slower than the TTL never loses the lock
    mid-flight. Each lockfile carries its holder's random token, and
    release/breaking deletes the file only if the token still matches
    what the deleter expects — a holder that somehow lost the lock can't
    cascade-delete the NEXT holder's lock. Breaking re-checks freshness
    immediately before deleting; the residual two-breaker race is
    inherent to lockfiles without compare-and-swap.
    """

    def __init__(self, spark, path: str, ttl_ms: int = 600_000, timeout_ms: int = 120_000, poll_ms: int = 50):
        self.path = path + "__lock"
        self.ttl_ms, self.timeout_ms, self.poll_ms = ttl_ms, timeout_ms, poll_ms
        self._fs = table_fs(spark, self.path)
        with _PROCESS_LOCKS_GUARD:
            self._plock = _PROCESS_LOCKS.setdefault(path, threading.Lock())
        self._token = uuid.uuid4().hex
        self._hb_stop = None

    def _try_create(self) -> bool:
        try:
            self._fs.create_exclusive(self.path, self._token)
            return True
        except FileExistsError:
            return False

    def _read_token(self) -> str | None:
        try:
            return self._fs.read_text(self.path)
        except FileNotFoundError:
            return None

    def _start_heartbeat(self) -> None:
        stop = threading.Event()
        interval = max(self.ttl_ms / 3000.0, 0.05)

        def beat() -> None:
            while not stop.wait(interval):
                # the heartbeat must outlive any one failed touch, or a
                # live holder's lock would go stale and be broken
                with contextlib.suppress(Exception):
                    self._fs.touch(self.path)

        t = threading.Thread(target=beat, daemon=True, name=f"tablelock-hb-{self.path}")
        t.start()
        self._hb_stop = stop

    def _age_ms(self) -> float | None:
        try:
            return (time.time() - self._fs.getmtime(self.path)) * 1000
        except FileNotFoundError:
            return None  # vanished between probe and stat

    def _delete(self, expect_token: str | None) -> None:
        """Delete the lockfile, but only when its token matches
        ``expect_token`` (None = delete unconditionally — used when the
        breaker just read the token it is breaking)."""
        if expect_token is not None and self._read_token() != expect_token:
            return
        with contextlib.suppress(FileNotFoundError):
            self._fs.remove(self.path)

    def __enter__(self):
        if not self._plock.acquire(timeout=self.timeout_ms / 1000.0):
            raise TimeoutError(f"could not acquire in-process table lock {self.path}")
        try:
            deadline = time.time() + self.timeout_ms / 1000.0
            while True:
                if self._try_create():
                    self._start_heartbeat()
                    return self
                age = self._age_ms()
                if age is not None and age > self.ttl_ms:
                    stale_token = self._read_token()
                    # re-probe right before breaking: only delete if STILL
                    # stale AND still the same holder we judged stale
                    age2 = self._age_ms()
                    if age2 is not None and age2 > self.ttl_ms:
                        self._delete(expect_token=stale_token)
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"could not acquire table lock {self.path}")
                time.sleep(self.poll_ms / 1000.0)
        except BaseException:
            self._plock.release()
            raise

    def __exit__(self, *exc):
        try:
            if self._hb_stop is not None:
                self._hb_stop.set()
                self._hb_stop = None
            # release only OUR lock: if a breaker took it over, the token
            # differs and the new holder's lockfile survives
            self._delete(expect_token=self._token)
        finally:
            self._plock.release()
        return False


def merge_into_parquet_table(batch_df: DataFrame, path: str, keys: list[str]) -> None:
    """One serialized MERGE of ``batch_df`` into the parquet table at
    ``path``: acquire the :class:`TableLock`, read-merge-stage-swap,
    release. The merged table is repartitioned by ``keys`` before landing
    (the bucketing analogue for plain parquet — downstream key joins read
    co-located data).

    Crash-safety: the merged table is staged at ``path__next`` — so the
    merge never overwrites the directory it is lazily reading from — and
    swapped in by renames. The current table is never deleted before its
    replacement exists: a crash at any point leaves either the old table
    at ``path`` or a recoverable ``path__old``, so a re-run never
    mistakes a partial write for a first write."""
    spark = batch_df.sparkSession
    fs = table_fs(spark, path)
    nxt, old = path + "__next", path + "__old"
    with TableLock(spark, path):
        # recover from a crash between the two renames of a prior batch:
        # current missing but __old present → the old table is still intact.
        if not fs.exists(path) and fs.exists(old):
            fs.rename(old, path)
        for stale in (nxt, old):  # leftovers of an interrupted batch
            if fs.exists(stale):
                fs.remove_tree(stale)
        # explicit existence probe instead of parsing exception messages —
        # only a genuinely missing path is a first write; any other read
        # error (corruption, permissions) raises out of spark.read below.
        existing = spark.read.parquet(path) if fs.exists(path) else None
        merged = upsert(existing, batch_df, keys).repartition(*keys)
        merged.write.mode("overwrite").parquet(nxt)
        # swap: cur→old, next→cur, drop old. Each rename is atomic and
        # failure-checked; every intermediate state is recoverable (see
        # recovery block above).
        if fs.exists(path):
            fs.rename(path, old)
        fs.rename(nxt, path)
        if fs.exists(old):
            fs.remove_tree(old)
