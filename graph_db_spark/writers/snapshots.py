"""Snapshot-isolated table format for keyed MERGE — the transactional
variant of the staged-rename sink (SCALE.md §6.5).

The reference's whole write story is idempotent Cypher ``MERGE``
(/root/reference/app/graph_fields.py:16-25 and every writer); at 100 TB
that contract needs a table format, not a directory swap. This module is
a minimal Delta/Iceberg-shaped log over plain parquet:

- **Immutable data files, atomic manifest commit.** Every commit writes
  NEW parquet files under ``data/<commit-id>/`` and then publishes one
  manifest ``_manifests/v{N}.json`` with an atomic create-exclusive
  (POSIX ``O_CREAT|O_EXCL`` locally, namenode-atomic
  ``create(overwrite=False)`` on HDFS). The manifest IS the snapshot:
  readers list it and read exactly those files — never a half-written
  directory, never a reader blocked by a writer.
- **Optimistic concurrency, lost-update-free.** Two writers racing to
  version N+1: one manifest create wins; the loser RE-READS the winner's
  snapshot, re-merges its own batch against it, and retries at N+2 —
  both batches' keys survive (the lockfile sink serializes writers; this
  one lets them conflict and repair, which is what Delta/Iceberg do).
- **Bucket-level copy-on-write.** Rows hash into ``n_buckets`` by key;
  a merge rewrites ONLY the buckets its update keys touch, carrying
  every untouched bucket's files forward by reference. Incremental MERGE
  cost is ∝ touched data, not table size — the property that makes a
  100 TB upsert table maintainable. (Real formats add file-level stats
  pruning inside a partition; bucket granularity is the same idea one
  level up, and the bucket column doubles as a co-location key for
  downstream key-joins.)
- **Time travel + exactly-once.** ``read(version=...)`` serves any
  retained snapshot; commits may carry a ``(txn_app, txn_id)`` marker so
  a replayed streaming micro-batch (foreachBatch redelivery) is detected
  and skipped — the Delta ``txnAppId/txnVersion`` pattern.
- **Vacuum.** Data files referenced by no retained manifest are deleted
  explicitly; nothing is ever deleted as a side effect of a commit, so
  readers of retained versions are safe by construction.

Every writer (create, merge, delete, rebucket, compact) commits the
same way: :meth:`SnapshotTable._stage` writes the new data files and
builds the next manifest, and :meth:`SnapshotTable._commit` is the one
optimistic loop that publishes it and retries on a lost race.

The filesystem comes from :func:`graph_db_spark.writers.tablefs.table_fs`,
the one rule shared with the locked parquet MERGE: a ``file:`` URI, or a
bare path under a local ``fs.defaultFS``, uses plain ``os`` primitives
(``O_CREAT|O_EXCL`` is the atomic publish; Hadoop's local create
races), any other scheme goes through the Hadoop FileSystem API. Object stores without atomic create
need a DynamoDB-style commit arbiter, same as delta-rs on S3 —
documented limitation, not silently wrong.
"""

from __future__ import annotations

import json
import math
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graph_db_spark.writers.tablefs import table_fs
from graph_db_spark.writers.upsert import collapse_duplicates, upsert

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_REFS_DIR = "_refs"


class CommitConflict(Exception):
    """Another writer published this version first — re-read and retry."""


class AuditRejected(Exception):
    """A write-audit-publish ``audit`` callback returned False: the
    staged snapshot was never published. The table is unchanged; the
    staged data files are unreferenced and reclaimed by vacuum."""


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _bucket_col(keys: list[str], n_buckets: int):
    # xxhash64 over the key tuple; pmod keeps the result in [0, n_buckets)
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def zorder_column(dims, bits: int = 8):
    """Z-order (Morton) interleave of ``dims`` — a multi-dimensional
    cluster key for :meth:`SnapshotTable.create`'s ``cluster_by``.

    ``dims`` is a list of ``(Column, lo, hi)``: each dimension is
    normalized to a ``bits``-bit integer rank over its fixed [lo, hi)
    domain (out-of-domain values clamp — pruning stays conservative,
    never wrong), then the rank bits interleave dimension-major. Files
    rolled from a z-sorted stream cover a contiguous z-range, i.e. a
    small hyper-rectangle of ALL the dimensions at once, so their
    per-file footer min/max stay tight on every dim and a multi-dim
    range scan prunes files on each predicate independently — the
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout. A linear sort order
    gives tight stats only on its leading column; every other dim spans
    its whole domain per file and prunes nothing.

    Pure Column bit arithmetic (shift/and/add, ``bits × |dims|`` terms
    inside whole-stage codegen) — no UDF, no shuffle of its own."""
    d = len(dims)
    top = (1 << bits) - 1
    ranks = []
    for c, lo, hi in dims:
        r = F.floor(
            (c.cast("double") - F.lit(float(lo)))
            / F.lit(float(hi) - float(lo))
            * F.lit(float(1 << bits))
        ).cast("long")
        ranks.append(F.least(F.greatest(r, F.lit(0)), F.lit(top)))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, r in enumerate(ranks):
            z = z + F.shiftleft(F.shiftright(r, i).bitwiseAND(F.lit(1)), i * d + j)
    return z


class SnapshotTable:
    """A keyed, snapshot-isolated parquet table. See module docstring."""

    def __init__(self, spark: SparkSession, path: str):
        """``path``'s URI scheme picks the filesystem through
        :func:`~graph_db_spark.writers.tablefs.table_fs`: a ``file:``
        URI, or a bare path under a local ``fs.defaultFS``, uses POSIX
        primitives; any other scheme (``hdfs://``, ``s3a://``, …) goes
        through the Hadoop FileSystem API. Every writer commits through the one optimistic loop in
        :meth:`_commit`."""
        self.spark = spark
        self.path = path.rstrip("/")
        self._fs = table_fs(spark, self.path)

    # -- manifest primitives -------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return self._fs.join(self.path, _MANIFEST_DIR, f"v{version}.json")

    def _versions(self) -> list[int]:
        d = self._fs.join(self.path, _MANIFEST_DIR)
        if not self._fs.isdir(d):
            return []
        return [
            int(f[1:-5])
            for f in self._fs.listdir(d)
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        ]

    def latest_version(self) -> int:
        """Highest committed version, or 0 if the table doesn't exist."""
        return max(self._versions(), default=0)

    def oldest_version(self) -> int:
        """Lowest RETAINED version (vacuum drops old manifests), or 0 if
        the table doesn't exist. History/txn walks must stop here instead
        of at version 1."""
        return min(self._versions(), default=0)

    def _read_manifest(self, version: int) -> dict:
        return json.loads(self._fs.read_text(self._manifest_path(version)))

    def _publish(self, manifest: dict) -> None:
        """The atomic commit point: create-exclusive of v{N}.json
        (POSIX ``O_CREAT|O_EXCL`` locally; ``create(overwrite=false)``
        through the Hadoop API — namenode-atomic on HDFS). EEXIST means
        another writer won the race to this version."""
        p = self._manifest_path(manifest["version"])
        try:
            self._fs.create_exclusive(p, json.dumps(manifest))
        except FileExistsError as e:
            raise CommitConflict(f"version {manifest['version']} already committed") from e

    def _snapshot(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: latest)."""
        v = version if version is not None else self.latest_version()
        if v == 0:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        return self._read_manifest(v)

    def _stage(
        self, m: dict, rows: DataFrame, carried: list[dict], operation: str,
        txn: tuple[str, int] | None = None, **props,
    ) -> dict:
        """The manifest that follows ``m``: ``rows`` hash-bucketed and
        written under the table's layout (``props`` override ``m``'s),
        the ``carried`` entries kept by reference, and the txn high-water
        map carried forward. Writes data files only — nothing is visible
        until the returned manifest is published."""
        table = {
            k: props.get(k, m.get(k))
            for k in ("keys", "n_buckets", "schema", "cluster_by", "records_per_file", "bloom_on")
        }
        v = m["version"] + 1
        files = self._write_buckets(
            rows.withColumn("_bucket", _bucket_col(table["keys"], table["n_buckets"])),
            uuid.uuid4().hex, v, table,
        )
        return {
            "version": v,
            **table,
            "operation": operation,
            "committed_at": time.time(),  # after the data files are written
            "txn": {"app": txn[0], "id": txn[1]} if txn is not None else None,
            "txns": self._carry_txns(m, txn),
            "files": carried + files,
        }

    def _commit(self, op: str, attempt, max_retries: int = 5):
        """The one optimistic commit loop every writer after ``create``
        runs: read the latest manifest, ``attempt(m)`` stages the next
        one (:meth:`_stage`), publish it. A writer that loses the race
        re-reads the winner's snapshot and redoes its attempt against
        it, so neither writer's rows are lost. ``attempt`` may instead
        return a non-manifest result that commits nothing (a replayed
        txn, an unchanged layout, nothing to compact); it is returned
        as is. Returns the committed version."""
        for _ in range(max_retries):
            staged = attempt(self._snapshot())
            if not isinstance(staged, dict):
                return staged
            try:
                self._publish(staged)
                return staged["version"]
            except CommitConflict:
                continue
        raise CommitConflict(f"{op} gave up after {max_retries} conflicts at {self.path}")

    # -- data-file primitives ------------------------------------------

    @staticmethod
    def _json_safe(v):
        return v if isinstance(v, (int, float, str, bool)) or v is None else str(v)

    def _bucket_stats(self, df: DataFrame, keys: list[str]) -> dict[int, dict]:
        """Per-bucket min/max of each key column — Iceberg-style file
        skipping one level up: the manifest carries the stats, so a keyed
        scan prunes buckets without opening a single footer. One narrow
        aggregation over a read-back of the files just written — only for
        key dtypes whose footer stats are not exact (see
        :meth:`_write_buckets`), so it scans parquet, not the merge plan."""
        aggs = []
        for k in keys:
            aggs += [F.min(k).alias(f"_min_{k}"), F.max(k).alias(f"_max_{k}")]
        out = {}
        for r in df.groupBy("_bucket").agg(*aggs).collect():
            out[r["_bucket"]] = {
                k: [self._json_safe(r[f"_min_{k}"]), self._json_safe(r[f"_max_{k}"])]
                for k in keys
            }
        return out

    def _bucket_blooms(self, df: DataFrame, cols: list[str], k: int = 4) -> dict:
        """Per-bucket Bloom filters over ``cols`` (the Parquet/Iceberg
        bloom-filter-index analog, held at manifest level): m auto-sized
        to ~10 bits per distinct value (fpr ≈ 1% at k=4), bits set by k
        seeded xxhash64 probes — the SAME expression the scan-side
        membership test evaluates, so write and probe can never drift.
        Built as one narrow distributed aggregate over data being
        written anyway (explode k positions → bit_or per 64-bit word);
        the collect is O(n_buckets · m/64) words, driver-bounded by the
        bloom size itself, never by the data."""
        out = {}
        for c in cols:
            nn = df.filter(F.col(c).isNotNull())
            mx = (
                nn.groupBy("_bucket").agg(F.countDistinct(c).alias("nd"))
                .agg(F.max("nd")).collect()[0][0]
            ) or 1
            m = 1024
            while m < 10 * mx:
                m *= 2
            pos = nn.select(
                "_bucket",
                F.explode(
                    F.array(
                        *[
                            F.pmod(F.xxhash64(F.lit(i), F.col(c)), F.lit(m))
                            for i in range(k)
                        ]
                    )
                ).alias("p"),
            )
            agg = (
                pos.select(
                    "_bucket",
                    (F.col("p") / 64).cast("int").alias("w"),
                    # SQL shiftleft takes an EXPRESSION bit count; the
                    # DataFrame F.shiftleft only takes a literal int
                    F.expr(
                        "shiftleft(cast(1 as bigint), cast(p % 64 as int))"
                    ).alias("bit"),
                )
                .groupBy("_bucket", "w")
                .agg(F.bit_or("bit").alias("word"))
                .collect()
            )
            per_bucket: dict[int, dict[int, int]] = {}
            for r in agg:
                per_bucket.setdefault(r["_bucket"], {})[r["w"]] = r["word"]
            out[c] = {
                "m": m,
                "k": k,
                "buckets": {
                    b: [wd.get(i, 0) for i in range(m // 64)]
                    for b, wd in per_bucket.items()
                },
            }
        return out

    def _bloom_positions(self, dtype, value, m: int, k: int) -> list[int]:
        """The k bit positions a probe value sets — evaluated with the
        same typed-literal Spark expression as the write side (the
        :meth:`_point_bucket` discipline)."""
        row = self.spark.range(1).select(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(i), F.lit(value).cast(dtype)), F.lit(m))
                    for i in range(k)
                ]
            ).alias("p")
        )
        return list(row.collect()[0]["p"])

    def _bloom_surviving(
        self, manifest: dict, entries: list[dict], where: dict[str, tuple]
    ) -> list[dict]:
        """Drop entries whose Bloom filter proves the probe value absent.
        Only full-point predicates (lo == hi) on ``bloom_on`` columns
        prune; entries without bloom info (pre-bloom commits) are kept —
        pruning is an optimization, never a semantics change."""
        bloom_cols = set(manifest.get("bloom_on") or ())
        probes = {
            c: b[0]
            for c, b in where.items()
            if c in bloom_cols and b[0] is not None and b[0] == b[1]
        }
        if not probes:
            return entries
        schema = StructType.fromJson(manifest["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        pos_cache: dict[tuple, list[int]] = {}
        kept = []
        for e in entries:
            blooms = e.get("bloom") or {}
            alive = True
            for c, v in probes.items():
                bl = blooms.get(c)
                if not bl:
                    continue
                key = (c, bl["m"], bl["k"])
                if key not in pos_cache:
                    pos_cache[key] = self._bloom_positions(
                        types[c], v, bl["m"], bl["k"]
                    )
                words = bl["words"]
                for p in pos_cache[key]:
                    w, bit = p // 64, p % 64
                    if not (words[w] >> bit) & 1:
                        alive = False
                        break
                if not alive:
                    break
            if alive:
                kept.append(e)
        return kept

    def _write_buckets(
        self, df: DataFrame, commit_id: str, seq: int, table: dict
    ) -> list[dict]:
        """Write ``df`` (already carrying ``_bucket``) under ``table``'s
        layout (``keys``, ``n_buckets``, ``cluster_by``,
        ``records_per_file``, ``bloom_on``) as one immutable
        parquet tree under ``data/<commit_id>/``, hash-distributed so
        each bucket's rows land in its own files (one write task per
        bucket — n_buckets is the write-parallelism knob, sized with the
        table). Returns the new file
        entries, each carrying its bucket's key min/max stats and the
        commit ``seq`` (read-side resolution order for merge-on-read
        buckets). Files are never visible to readers until a manifest
        references them, so a crashed commit leaves only garbage for
        vacuum — never a corrupt table. The write runs the input plan
        exactly once: bucket key stats fold from the written files'
        parquet footers, and the dtypes footers cannot state exactly
        (plus any bloom filters) aggregate over ONE read-back of those
        files, never over the merge plan.

        ``cluster_by`` (Iceberg sort-order analog): rows sort WITHIN each
        bucket on these columns and ``records_per_file`` rolls the sorted
        stream into multiple files — each file then covers a contiguous
        cluster-key range, its footer min/max (read back from the parquet
        metadata, one local footer read per file) joins the manifest
        stats, and a range scan on the cluster key prunes files inside a
        bucket — exactly what a hash layout alone can never give."""
        keys, cluster_by, bloom_on = table["keys"], table["cluster_by"], table["bloom_on"]
        records_per_file = table["records_per_file"]
        out_dir = self._fs.join(self.path, _DATA_DIR, commit_id)
        distributed = df.repartition(table["n_buckets"], F.col("_bucket"))
        if cluster_by:
            distributed = distributed.sortWithinPartitions("_bucket", *cluster_by)
        writer = distributed.write.partitionBy("_bucket").mode("error")
        if cluster_by and records_per_file:
            writer = writer.option("maxRecordsPerFile", int(records_per_file))
        writer.parquet(out_dir)
        # r14 (guide §5/§1): the commit path used to localCheckpoint the
        # input and run a groupBy("_bucket") stats job over the blocks —
        # two extra Spark jobs per commit on commit-bound queries (the
        # ivm_* family runs 5-6 commits per query with ~1 s of executor
        # time total). The write above executes the plan exactly once;
        # the per-BUCKET key min/max now folds from the written files'
        # parquet FOOTER statistics (driver-local metadata reads, no
        # job). Footer stats are exact for the gated dtypes (verified:
        # Spark's parquet writer does not truncate string min/max), and
        # files partition a bucket's rows, so min-of-mins/max-of-maxes
        # equals the old aggregate — manifests are value-identical.
        # Ungated dtypes (timestamps: str() rendering could drift from a
        # collect()'d value; decimals; nested) keep the aggregate job,
        # computed on a read-back of the written files.
        footer_safe = {
            "tinyint", "smallint", "int", "bigint",
            "float", "double", "string", "date",
        }
        key_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        use_footers = all(key_types.get(k) in footer_safe for k in keys)
        file_stats: dict[str, dict] = {}
        per_bucket_files: dict[int, list[tuple[str, str]]] = {}
        for bdir in self._fs.listdir(out_dir):
            if not bdir.startswith("_bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            for fn in self._fs.listdir(self._fs.join(out_dir, bdir)):
                if fn.endswith(".parquet"):
                    per_bucket_files.setdefault(b, []).append((bdir, fn))
        stat_cols = (list(keys) if use_footers else []) + list(cluster_by or [])
        if stat_cols:
            for b, files in per_bucket_files.items():
                for bdir, fn in files:
                    full = self._fs.join(out_dir, bdir, fn)
                    file_stats[full] = self._footer_stats(
                        self._fs.open_parquet(full), stat_cols
                    )
        # one read-back serves both the aggregate stats and the blooms
        back = (
            self.spark.read.parquet(out_dir)
            if per_bucket_files and (bloom_on or not use_footers)
            else None
        )
        if use_footers:
            # A key enters a bucket's range only when EVERY file in the
            # bucket has a footer range for it: a range folded from some
            # of the files would be stamped on all of them and prune the
            # others' rows. _footer_stats omits a column whose footer has
            # no min/max (e.g. a string value past the writer's stats size
            # limit) or a NaN bound (Spark orders NaN above every number,
            # so no finite max covers it).
            stats = {}
            for b, files in per_bucket_files.items():
                fsts = [file_stats[self._fs.join(out_dir, bdir, fn)] for bdir, fn in files]
                stats[b] = {
                    k: [min(f[k][0] for f in fsts), max(f[k][1] for f in fsts)]
                    for k in keys
                    if all(k in f for f in fsts)
                }
        elif back is not None:
            stats = self._bucket_stats(back, keys)
        else:
            stats = {}  # empty commit: nothing written, nothing to stat
        blooms = self._bucket_blooms(back, bloom_on) if bloom_on and back is not None else {}
        entries = []
        for b in sorted(per_bucket_files):
            for bdir, fn in per_bucket_files[b]:
                full = self._fs.join(out_dir, bdir, fn)
                st = dict(stats.get(b) or {})
                if cluster_by:
                    fst = file_stats.get(full) or self._footer_stats(
                        self._fs.open_parquet(full), cluster_by
                    )
                    st.update({c: fst[c] for c in cluster_by if c in fst})
                bl = {
                    c: {"m": d["m"], "k": d["k"], "words": d["buckets"][b]}
                    for c, d in blooms.items()
                    if b in d["buckets"]
                }
                entries.append(
                    {
                        "bucket": b,
                        "path": f"{_DATA_DIR}/{commit_id}/{bdir}/{fn}",
                        "stats": st or None,
                        "seq": seq,
                        **({"bloom": bl} if bl else {}),
                    }
                )
        return entries

    @staticmethod
    def _footer_stats(source, cols: list[str]) -> dict:
        """Per-FILE min/max for ``cols`` from the parquet footer (row-group
        statistics folded) — no data read. ``source`` is whatever the
        table's FS hands pyarrow: a local path, or a positioned-read
        stream over the Hadoop API. Columns whose stats are absent
        or have a NaN bound in any row group are omitted (conservative:
        the pruner keeps files with missing stats)."""
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(source).metadata
        finally:
            # ADVICE r12: a _HadoopBinaryFile holds an open
            # FSDataInputStream (a socket on hdfs://) — close it as soon
            # as the footer is parsed instead of waiting for JVM GC.
            # Local paths hand pyarrow a str, which has no close.
            close = getattr(source, "close", None)
            if close is not None:
                close()
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        out = {}
        for c in cols:
            if c not in names:
                continue
            j = names.index(c)
            mn = mx = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(j).statistics
                if st is None or not st.has_min_max or _is_nan(st.min) or _is_nan(st.max):
                    ok = False
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if ok and mn is not None:
                out[c] = [SnapshotTable._json_safe(mn), SnapshotTable._json_safe(mx)]
        return out

    def _read_files(self, manifest: dict, buckets: set[int] | None = None) -> DataFrame:
        """Read a snapshot (optionally only some buckets) by explicit file
        list — file pruning comes from the manifest, not from a directory
        scan, so a reader touches exactly the bytes its buckets own.

        Merge-on-read resolution: when a bucket holds files from more
        than one commit seq (fast-ingest ``merge(mode='mor')`` appends
        delta files instead of rewriting the bucket), the same key may
        appear in several files and the HIGHEST seq wins — one window on
        the key. Copy-on-write-only snapshots have a single seq per
        bucket and skip the window entirely, so the read-amplification
        cost exists only where the write-amplification saving was
        taken."""
        schema = StructType.fromJson(manifest["schema"])
        entries = manifest["files"]
        if buckets is not None:
            entries = [e for e in entries if e["bucket"] in buckets]
        if not entries:
            empty = self.spark.createDataFrame([], schema)
            return empty.withColumn("_bucket", F.lit(0).cast("int")).limit(0)
        groups: dict[tuple[int, int], list[str]] = {}
        seqs_per_bucket: dict[int, set[int]] = {}
        for e in entries:
            seq = e.get("seq", 0)
            groups.setdefault((e["bucket"], seq), []).append(
                self._fs.join(self.path, e["path"])
            )
            seqs_per_bucket.setdefault(e["bucket"], set()).add(seq)
        needs_resolve = any(len(s) > 1 for s in seqs_per_bucket.values())
        parts = []
        for (b, seq), files in sorted(groups.items()):
            # partitionBy strips _bucket from the file schema; reattach it
            # (and the commit seq) as literals per file group
            parts.append(
                self.spark.read.schema(schema).parquet(*files)
                .withColumn("_bucket", F.lit(b).cast("int"))
                .withColumn("_seq", F.lit(seq).cast("int"))
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if needs_resolve:
            from pyspark.sql import Window

            w = Window.partitionBy(*manifest["keys"]).orderBy(F.col("_seq").desc())
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return df.drop("_seq")

    # -- public surface ------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        keys: list[str],
        n_buckets: int = 16,
        cluster_by: list[str] | None = None,
        records_per_file: int | None = None,
        bloom_on: list[str] | None = None,
    ) -> "SnapshotTable":
        """Create version 1 from ``df`` (duplicate keys collapse
        deterministically, same contract as :func:`upsert`).

        ``cluster_by``: sort rows within each bucket on these columns
        and roll files every ``records_per_file`` rows, so range scans
        on them prune FILES (per-file footer stats), not just buckets —
        the table-format half of predicate pushdown. The clustering is a
        table property: every later merge/delete/compact rewrite
        preserves it.

        ``bloom_on``: maintain per-bucket Bloom filters over these
        columns (the Parquet bloom-filter-index analog at manifest
        level) so POINT lookups on non-key, non-clustered columns skip
        buckets — the pruning dimension hash bucketing (key equality)
        and range stats (clustered order) both miss. Also a table
        property preserved by every rewrite."""
        t = cls(spark, path)
        if t.latest_version() != 0:
            raise ValueError(f"table already exists at {path}")
        base = collapse_duplicates(df, keys)
        t._publish(
            t._stage(
                {"version": 0}, base, [], "create", keys=keys, n_buckets=n_buckets,
                schema=json.loads(base.schema.json()), cluster_by=cluster_by,
                records_per_file=records_per_file, bloom_on=bloom_on,
            )
        )
        return t

    def read(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        """Snapshot read (latest by default; any retained ``version`` for
        time travel, or a named ``tag``). The ``_bucket`` column is
        internal and dropped."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self.resolve_tag(tag)
        return self._read_files(self._snapshot(version)).drop("_bucket")

    # -- named refs (Iceberg tag analog) -------------------------------

    def _ref_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        return self._fs.join(self.path, _REFS_DIR, f"{name}.json")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a named immutable ref to ``version`` (default: latest) —
        the Iceberg tag analog. The ref file is create-exclusive like a
        manifest publish, so tags never silently move; a tagged version
        (manifest AND data files) survives :meth:`vacuum` regardless of
        ``keep_last``, which is what makes tags usable as audit /
        reproducibility anchors ("the corpus revision the run trained
        on"). Returns the pinned version."""
        v = version if version is not None else self.latest_version()
        if v == 0:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if not self._fs.exists(self._manifest_path(v)):
            raise FileNotFoundError(f"version {v} is not retained")
        try:
            self._fs.create_exclusive(
                self._ref_path(name), json.dumps({"name": name, "version": v})
            )
        except FileExistsError as e:
            raise ValueError(f"tag {name!r} already exists") from e
        return v

    def resolve_tag(self, name: str) -> int:
        return int(json.loads(self._fs.read_text(self._ref_path(name)))["version"])

    def tags(self) -> dict[str, int]:
        """All named refs as {name: version}."""
        d = self._fs.join(self.path, _REFS_DIR)
        if not self._fs.isdir(d):
            return {}
        out = {}
        for fn in self._fs.listdir(d):
            if fn.endswith(".json"):
                r = json.loads(self._fs.read_text(self._fs.join(d, fn)))
                out[r["name"]] = int(r["version"])
        return out

    def drop_tag(self, name: str) -> None:
        """Delete a ref. The version it pinned becomes vacuum-eligible
        again (if outside ``keep_last``)."""
        self._fs.remove(self._ref_path(name))

    def scan(self, where: dict[str, tuple], version: int | None = None) -> DataFrame:
        """Keyed scan with manifest-level file skipping, then the
        residual row filter — pruning is an optimization, never a
        semantics change. Two pruning mechanisms, honest about what a
        hash layout can and cannot do:

        - **point lookups** (``lo == hi`` for every key): the key tuple
          hashes to exactly ONE bucket, so the scan opens only that
          bucket's files — O(1/n_buckets) of the table regardless of
          stats.
        - **range scans**: files are skipped when their recorded key
          min/max is disjoint from the range. Hash bucketing scatters a
          uniform key domain across every bucket, so this prunes nothing
          on a static table — where it pays is a GROWING key domain
          (append-mostly tables): files from old commits have stats
          below the new-key range and drop out without a footer read.
          Range-clustered file layout (Iceberg sort orders) is the
          format-level fix, noted in SCALE.md.

        Entries from pre-stats commits (no recorded stats) are
        conservatively kept."""
        m = self._snapshot(version)
        df = self._read_files({**m, "files": self._kept_files(m, where)}).drop("_bucket")
        for k, (lo, hi) in where.items():
            if lo is not None:
                df = df.filter(F.col(k) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(k) <= F.lit(hi))
        return df

    def _point_bucket(self, manifest: dict, where: dict[str, tuple]) -> int | None:
        """The single bucket a full-key point lookup hashes to, or None
        when ``where`` isn't a point on every key. Evaluated with the
        same Spark expression that assigned buckets at write time (typed
        literals — evaluating xxhash64 anywhere else would risk a
        mismatched hash)."""
        keys = manifest["keys"]
        if set(where) != set(keys) or any(
            lo is None or lo != hi for lo, hi in where.values()
        ):
            return None
        schema = StructType.fromJson(manifest["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        row = self.spark.range(1).select(
            F.pmod(
                F.xxhash64(*[F.lit(where[k][0]).cast(types[k]) for k in keys]),
                F.lit(manifest["n_buckets"]),
            )
            .cast("int")
            .alias("b")
        )
        return row.collect()[0]["b"]

    @staticmethod
    def _comparable(dtype: str, v):
        """Canonical comparable form of a bound/stat value for a key of
        Spark ``dtype`` (simpleString), or None when this dtype can't be
        pruned safely. Manifest stats pass through :meth:`_json_safe`, so
        dates/timestamps arrive as their ``str()`` (ISO-ordered — Python's
        fixed-width rendering makes lexicographic == value order), numerics
        arrive native; anything else (decimals — str() orders
        lexicographically, i.e. wrongly; binary; structs) opts out of
        pruning rather than pruning incorrectly (ADVICE r4 #4)."""
        if v is None:
            return None
        if dtype in ("tinyint", "smallint", "int", "bigint", "float", "double"):
            try:
                return float(v)
            except (TypeError, ValueError):
                return None
        if dtype == "string":
            return v if isinstance(v, str) else None
        if dtype in ("date", "timestamp", "timestamp_ntz"):
            return str(v)
        return None

    @classmethod
    def _surviving_files(cls, manifest: dict, where: dict[str, tuple]) -> list[dict]:
        prunable = (
            set(manifest["keys"])
            | set(manifest.get("cluster_by") or ())
            | set(manifest.get("bloom_on") or ())
        )
        bad = set(where) - prunable
        if bad:
            raise ValueError(
                f"scan ranges must be on key or cluster_by columns; got {sorted(bad)}"
            )
        schema = StructType.fromJson(manifest["schema"])
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}

        def survives(e: dict) -> bool:
            st = e.get("stats")
            if not st:
                return True
            for k, (lo, hi) in where.items():
                if k not in st or st[k][0] is None:
                    continue
                mn = cls._comparable(dtypes[k], st[k][0])
                mx = cls._comparable(dtypes[k], st[k][1])
                clo = cls._comparable(dtypes[k], lo)
                chi = cls._comparable(dtypes[k], hi)
                if mn is None or mx is None:
                    continue  # unprunable dtype/value → keep the file
                if (chi is not None and mn > chi) or (clo is not None and mx < clo):
                    return False
            return True

        return [e for e in manifest["files"] if survives(e)]

    def pruned_files(self, where: dict[str, tuple], version: int | None = None) -> tuple[int, int]:
        """(files read, files total) a :meth:`scan` with this range would
        touch — the observable file-skipping contract, testable without
        instrumenting the reader."""
        m = self._snapshot(version)
        return len(self._kept_files(m, where)), len(m["files"])

    def _kept_files(self, m: dict, where: dict[str, tuple]) -> list[dict]:
        """The entries of ``m`` a scan over ``where`` reads: key/cluster
        stats first, then the point-lookup bucket, then the blooms."""
        kept = self._surviving_files(m, where)
        pb = self._point_bucket(m, where)
        if pb is not None:
            kept = [e for e in kept if e["bucket"] == pb]
        return self._bloom_surviving(m, kept, where)

    def history(self) -> list[dict]:
        """Commit log, oldest first: version, operation, file/bucket
        counts, txn marker. Retained versions need not be contiguous — a
        tagged old version survives vacuum while its neighbors don't —
        so missing manifests inside the range are skipped."""
        out = []
        for v in range(max(1, self.oldest_version()), self.latest_version() + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                continue
            out.append(
                {
                    "version": m["version"],
                    "operation": m["operation"],
                    "committed_at": m["committed_at"],
                    "n_files": len(m["files"]),
                    "n_buckets_touched": len({e["bucket"] for e in m["files"]}),
                    "txn": m.get("txn"),
                }
            )
        return out

    def merge(
        self,
        updates: DataFrame,
        strategy: str = "overwrite",
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
        allow_schema_evolution: bool = False,
        mode: str = "cow",
        audit=None,
    ) -> int:
        """MERGE ``updates`` into the table on its creation keys; returns
        the committed version.

        ``audit``: optional write-audit-publish hook (the Iceberg WAP
        pattern). Called with a DataFrame of the EXACT would-be snapshot
        — staged data files plus carried references, resolved exactly as
        a reader would see them — after the files are written but BEFORE
        the manifest publish. Return True to publish; False raises
        :class:`AuditRejected` with the table untouched (readers never
        see the staged state; the orphaned files are vacuum garbage).
        This is how a 100 TB pipeline gates a commit on DQ checks
        without a window where bad data is live.

        ``mode='cow'`` (default) — bucket-level copy-on-write: only
        buckets containing an update key are re-merged and rewritten;
        every other bucket's files carry forward by reference. Reads stay
        window-free; writes pay the touched buckets' rewrite.

        ``mode='mor'`` — merge-on-read fast ingest: the batch's rows
        append as DELTA files next to the touched buckets' existing
        files, which also carry forward — write cost is ∝ the batch
        alone, zero read-back. Readers resolve each key to its highest
        commit seq (see :meth:`_read_files`); repeated MOR merges
        fragment hot buckets, and :meth:`compact` is the explicit
        repair. Only the ``overwrite`` strategy is expressible without a
        read-back (coalesce/if_absent must SEE the stored row), so other
        strategies are refused — the write/read amplification trade is
        taken explicitly, never silently.

        ``txn=(app_id, txn_id)``: exactly-once marker. If the latest
        snapshot already carries this app's txn_id ≥ the given one, the
        call is a detected replay and returns without writing (the Delta
        ``txnAppId/txnVersion`` idempotent-sink pattern — a redelivered
        foreachBatch micro-batch commits nothing).

        On a concurrency conflict :meth:`_commit` re-reads the winning
        snapshot and the merge is recomputed against it — neither
        writer's keys are lost, and the retry re-reads only its own
        touched buckets.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}; one of ('cow', 'mor')")
        if mode == "mor" and strategy != "overwrite":
            raise ValueError(
                "merge-on-read supports only the 'overwrite' strategy: "
                "coalesce/if_absent need the stored row at write time, which "
                "is exactly the read-back MOR exists to avoid — use mode='cow'"
            )

        def attempt(m: dict):
            if txn is not None and self._txn_seen(m["version"], txn, manifest=m):
                return m["version"]
            keys = m["keys"]
            schema, aligned = self._evolve(m, updates, allow_schema_evolution, strategy)
            batch, touched = self._pin_touched(collapse_duplicates(aligned, keys), m)
            if mode == "mor":
                merged = batch
                carried = list(m["files"])  # delta files stack on top
            else:
                old_touched = self._align(
                    self._read_files(m, touched).drop("_bucket"), schema
                )
                merged = upsert(old_touched, batch.drop("_bucket"), keys, strategy)
                carried = [e for e in m["files"] if e["bucket"] not in touched]
            staged = self._stage(
                m, merged, carried, f"merge:{strategy}" + (":mor" if mode == "mor" else ""),
                txn, schema=json.loads(schema.json()),
            )
            if audit is not None and not audit(
                self._read_files(staged).drop("_bucket")
            ):
                raise AuditRejected(
                    f"audit rejected staged v{staged['version']} at {self.path}; "
                    "table unchanged, staged files await vacuum"
                )
            return staged

        return self._commit("merge", attempt, max_retries)

    def _pin_touched(self, df: DataFrame, m: dict) -> tuple[DataFrame, set[int]]:
        """``df`` hash-bucketed under ``m``'s layout and pinned (one
        job; it stays fixed across commit retries), plus the set of
        buckets it touches."""
        pinned = df.withColumn(
            "_bucket", _bucket_col(m["keys"], m["n_buckets"])
        ).localCheckpoint()
        return pinned, {
            r["_bucket"] for r in pinned.select("_bucket").distinct().collect()
        }

    @staticmethod
    def _align(df: DataFrame, schema: StructType) -> DataFrame:
        """Project ``df`` onto ``schema``'s column set and order; columns
        the frame lacks come back as typed nulls. Old data files never
        rewrite on evolution — the explicit read schema null-fills them."""
        return df.select(
            *[
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def _evolve(
        self, manifest: dict, updates: DataFrame, allow: bool, strategy: str
    ) -> tuple[StructType, DataFrame]:
        """Schema-evolution gate. NEW update columns require explicit
        ``allow`` (typo protection — a misspelled column silently
        becoming a new one is the classic evolution footgun) and append
        to the schema as nullable fields; untouched buckets' files stay
        as-is and null-fill at read time. Updates MISSING existing value
        columns align with nulls only under a non-lossy strategy
        (``coalesce``/``if_absent`` keep the stored value where the
        update is null); under ``overwrite`` the aligned null would
        silently erase stored data, so partial-column overwrites are
        refused instead."""
        old = StructType.fromJson(manifest["schema"])
        old_names = {f.name for f in old.fields}
        extra = [f for f in updates.schema.fields if f.name not in old_names]
        missing = old_names - set(updates.columns)
        if extra and not allow:
            raise ValueError(
                f"updates carry columns the table lacks ({[f.name for f in extra]}); "
                "pass allow_schema_evolution=True to append them as nullable fields"
            )
        if missing and strategy == "overwrite":
            raise ValueError(
                f"updates are missing table columns {sorted(missing)} under the "
                "'overwrite' strategy — the aligned nulls would erase stored "
                "values; use 'coalesce'/'if_absent' for partial-column updates"
            )
        evolved = StructType(
            list(old.fields) + [type(f)(f.name, f.dataType, True) for f in extra]
        )
        return evolved, self._align(updates, evolved)

    @staticmethod
    def _carry_txns(prev: dict, txn: tuple[str, int] | None) -> dict:
        """The txn high-water map carried forward in every manifest:
        ``{app_id: max committed txn_id}``. Makes :meth:`_txn_seen` an
        O(1) single-manifest lookup instead of an O(versions) newest-first
        walk — after thousands of streaming commits the walk was a
        per-batch driver-side file-open loop (r5 verdict #8) — and
        decouples the exactly-once replay horizon from vacuum retention:
        markers survive in the map even when their manifests are
        vacuumed."""
        txns = dict(prev.get("txns") or {})
        if txn is not None:
            app, tid = txn
            txns[app] = max(int(tid), int(txns.get(app, tid)))
        return txns

    def _txn_seen(
        self, upto_version: int, txn: tuple[str, int], manifest: dict | None = None
    ) -> bool:
        """Has this app already committed ``txn_id`` ≥ the given one?

        Fast path: the manifest's carried ``txns`` high-water map — one
        lookup, no walk, retention-independent. Legacy fallback (manifest
        predates the map): walk retained manifests newest-first for the
        app's last ``txn`` marker, stopping at :meth:`oldest_version`; in
        that mode ``keep_last`` must exceed the app's replay horizon
        (Delta's txn-retention contract) and a marker that fell off the
        window reads as 'not seen'. A FileNotFoundError mid-walk means a
        concurrent vacuum raised the floor — re-read the floor and resume
        (treating the marker as absent could re-commit an applied batch
        under non-idempotent strategies)."""
        app, tid = txn
        m = manifest if manifest is not None else self._read_manifest(upto_version)
        if "txns" in m:
            hw = m["txns"].get(app)
            return hw is not None and int(hw) >= tid
        v = upto_version
        while True:
            floor = max(1, self.oldest_version())
            if v < floor:
                return False
            try:
                t = self._read_manifest(v).get("txn")
            except FileNotFoundError:
                # concurrent vacuum raised the floor mid-walk: refresh the
                # floor and resume from the next version down — never
                # conclude 'not seen' from a vanished manifest.
                v -= 1
                continue
            if t and t["app"] == app:
                return t["id"] >= tid
            v -= 1

    def delete(self, keys_df: DataFrame, max_retries: int = 5) -> int:
        """Delete rows whose key tuple appears in ``keys_df`` — COW: the
        touched buckets rewrite without the deleted keys (an anti-join),
        everything else carries forward by reference. A lost publish
        race recomputes against the winner's snapshot (:meth:`_commit`,
        the loop every writer shares). Returns the committed version. CDC
        (:meth:`changes`) surfaces these rows as ``_change='delete'``
        with their last stored image."""

        def attempt(m: dict) -> dict:
            keys = m["keys"]
            gone, touched = self._pin_touched(keys_df.select(*keys).distinct(), m)
            kept = self._read_files(m, touched).drop("_bucket").join(
                F.broadcast(gone.drop("_bucket")), on=keys, how="left_anti"
            )
            carried = [e for e in m["files"] if e["bucket"] not in touched]
            return self._stage(m, kept, carried, "delete")

        return self._commit("delete", attempt, max_retries)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_old: bool = False,
    ) -> DataFrame:
        """Change feed between two snapshots (Delta CDF analog), computed
        read-side from the manifests: returns the current/new row image
        per changed key with ``_change in ('insert','update','delete')``
        (deletes carry the OLD image — there is no new one).
        ``include_old=True`` adds ``_old_<col>`` columns (the
        pre-change image; null for inserts) — what incremental view
        maintenance needs to retract an update's old contribution.

        Scale shape: copy-on-write means a bucket whose FILE SET is
        identical in both manifests cannot contain a change, so only
        differing buckets are read and full-outer-joined on the key —
        CDC cost is ∝ churned data, not table size, with zero write-path
        overhead. Equal-key value comparison uses a canonical struct
        equality over non-key columns (null-safe)."""
        v_to = to_version if to_version is not None else self.latest_version()
        m_from, m_to = self._read_manifest(from_version), self._read_manifest(v_to)
        keys = m_to["keys"]
        by_bucket = lambda m: {  # noqa: E731
            b: sorted(e["path"] for e in m["files"] if e["bucket"] == b)
            for b in {e["bucket"] for e in m["files"]}
        }
        bf, bt = by_bucket(m_from), by_bucket(m_to)
        churned = {
            b for b in set(bf) | set(bt) if bf.get(b) != bt.get(b)
        }
        schema_to = StructType.fromJson(m_to["schema"])
        old = self._align(self._read_files(m_from, churned).drop("_bucket"), schema_to)
        new = self._read_files(m_to, churned).drop("_bucket")
        vals = [c for c in new.columns if c not in keys]
        o = old.select(
            *[F.col(k).alias(f"_ok_{k}") for k in keys],
            F.struct(*vals).alias("_oldv") if vals else F.lit(None).alias("_oldv"),
            *[F.col(c).alias(f"_old_{c}") for c in vals],
        )
        n = new.select(
            *keys,
            F.struct(*vals).alias("_newv") if vals else F.lit(None).alias("_newv"),
            *vals,
        )
        cond = [F.col(k) == F.col(f"_ok_{k}") for k in keys]
        j = n.join(o, on=cond, how="full_outer")
        present_new = F.col(keys[0]).isNotNull()
        present_old = F.col(f"_ok_{keys[0]}").isNotNull()
        change = (
            F.when(present_new & ~present_old, F.lit("insert"))
            .when(~present_new & present_old, F.lit("delete"))
            .when(~F.col("_newv").eqNullSafe(F.col("_oldv")), F.lit("update"))
        )
        out_cols = [
            F.coalesce(F.col(k), F.col(f"_ok_{k}")).alias(k) for k in keys
        ] + [
            F.when(present_new, F.col(c)).otherwise(F.col(f"_old_{c}")).alias(c)
            for c in vals
        ]
        if include_old:
            out_cols += [
                F.when(present_old, F.col(f"_old_{c}")).alias(f"_old_{c}")
                for c in vals
            ]
        return (
            j.withColumn("_change", change)
            .filter(F.col("_change").isNotNull())
            .select(*out_cols, "_change")
        )

    def rebucket(self, n_buckets: int, max_retries: int = 5) -> int:
        """Bucket-count EVOLUTION (the Iceberg partition-spec-evolution
        analog for a hash layout): rewrite the whole table under a new
        ``n_buckets`` and record it in the manifest. Sizing n_buckets is
        a day-one guess that data growth invalidates — too few buckets
        caps write parallelism and bloats per-bucket rewrite cost; this
        makes it a reversible, snapshot-isolated operation instead of a
        table migration. Readers are manifest-driven, so point-lookup
        routing, bloom filters, and bucket stats all switch atomically
        with the commit, while time travel to pre-rebucket versions
        keeps the OLD count (each manifest carries its own). Cost: one
        full rewrite — the honest price of rehashing every key; do it at
        the cadence of capacity planning, not per batch."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")

        def attempt(m: dict):
            if m["n_buckets"] == n_buckets:
                return m["version"]
            rows = self._read_files(m)  # MOR deltas resolve here
            return self._stage(m, rows, [], f"rebucket:{n_buckets}", n_buckets=n_buckets)

        return self._commit("rebucket", attempt, max_retries)

    def compact(self, max_files_per_bucket: int = 1) -> int | None:
        """Bin-pack fragmented buckets: every bucket whose file count
        exceeds ``max_files_per_bucket`` is read and rewritten as fresh
        files; all other buckets carry forward by reference. On a
        ``cluster_by`` table the rewrite re-sorts and re-rolls at
        ``records_per_file`` — size ``max_files_per_bucket`` to the
        expected roll count there (≈ bucket rows / records_per_file), or
        the default of 1 re-compacts such buckets on every call. Returns the
        committed version, or None when nothing is fragmented. A lost
        publish race re-derives the fragmented buckets from the winner's
        snapshot and retries, like every writer (:meth:`_commit`). The
        operational half of copy-on-write: repeated small merges fragment
        hot buckets into many small files, and scan cost follows file
        count — compaction is the explicit, snapshot-isolated repair
        (readers of prior versions are untouched; vacuum reclaims the
        replaced files once their snapshots expire)."""

        def attempt(m: dict) -> dict | None:
            counts: dict[int, int] = {}
            seqs: dict[int, set[int]] = {}
            for e in m["files"]:
                counts[e["bucket"]] = counts.get(e["bucket"], 0) + 1
                seqs.setdefault(e["bucket"], set()).add(e.get("seq", 0))
            frag = {
                b
                for b, c in counts.items()
                if c > max_files_per_bucket or len(seqs[b]) > 1
            }
            if not frag:
                return None
            rows = self._read_files(m, frag)  # MOR deltas resolve here
            carried = [e for e in m["files"] if e["bucket"] not in frag]
            return self._stage(m, rows, carried, "compact")

        return self._commit("compact", attempt)

    def vacuum(self, keep_last: int = 2, min_age_seconds: float = 3600.0) -> list[str]:
        """Drop manifests older than the last ``keep_last`` versions and
        delete data files no retained manifest references. Returns the
        deleted file paths. Explicit and separate from commit — a commit
        never deletes anything, so concurrent readers of retained
        snapshots can't lose files mid-scan.

        ``min_age_seconds`` is the uncommitted-write retention guard
        (Delta's ``deletedFileRetentionDuration`` analog): a concurrent
        writer mid-merge has parquet files on disk under
        ``data/<commit-id>/`` that no manifest references YET — deleting
        them would let its subsequent ``_publish`` commit a manifest
        pointing at missing files. Files younger than the window are
        skipped (mtime-based), so vacuum is safe to run alongside writers
        whose write→publish gap is under the window. The txn replay
        horizon is NOT bounded by ``keep_last``: every manifest carries
        the cumulative ``txns`` high-water map (see :meth:`_txn_seen`),
        which survives vacuum; only legacy tables without the map fall
        back to the retention-bounded walk."""
        latest = self.latest_version()
        cutoff = max(1, latest - keep_last + 1)
        # tagged versions are pinned: their manifests and data files
        # survive vacuum regardless of keep_last (Iceberg ref retention)
        tagged = {v for v in self.tags().values() if v < cutoff}
        keep_versions = sorted(tagged) + list(range(cutoff, latest + 1))
        retained: set[str] = set()
        for v in keep_versions:
            retained.update(e["path"] for e in self._read_manifest(v)["files"])
        removed = []
        now = self._fs.now()
        data_root = self._fs.join(self.path, _DATA_DIR)
        for commit_dir in (
            self._fs.listdir(data_root) if self._fs.isdir(data_root) else []
        ):
            cdir = self._fs.join(data_root, commit_dir)
            for bdir in self._fs.listdir(cdir):
                full_bdir = self._fs.join(cdir, bdir)
                if not self._fs.isdir(full_bdir):
                    continue
                for fn in self._fs.listdir(full_bdir):
                    rel = f"{_DATA_DIR}/{commit_dir}/{bdir}/{fn}"
                    if fn.endswith(".parquet") and rel not in retained:
                        full = self._fs.join(full_bdir, fn)
                        try:
                            if now - self._fs.getmtime(full) < min_age_seconds:
                                continue  # possibly an in-flight commit's file
                        except FileNotFoundError:  # stat race: skip, next vacuum
                            continue
                        self._fs.remove(full)
                        removed.append(rel)
        for v in range(1, cutoff):
            if v in tagged:
                continue
            p = self._manifest_path(v)
            if self._fs.exists(p):
                self._fs.remove(p)
        return removed


def snapshot_sink(table: SnapshotTable, app_id: str, strategy: str = "overwrite"):
    """``foreachBatch`` adapter: exactly-once streaming MERGE into a
    snapshot table. The micro-batch id is the txn marker, so Structured
    Streaming's redelivery-after-crash replays commit nothing."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df, strategy=strategy, txn=(app_id, int(batch_id)))

    return write


def apply_changes_to_aggregate(
    agg: DataFrame | None,
    feed: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental view maintenance for a grouped COUNT/SUM aggregate
    over a snapshot table: fold a CDC feed (``changes(...,
    include_old=True)``) into the previously-maintained aggregate
    instead of recomputing from the full table — maintenance cost is
    ∝ churn, the defining property of a materialized view at 100 TB.

    Each change row contributes signed deltas: an insert adds its new
    image to its (new) group; a delete retracts its old image from its
    old group; an update retracts from the OLD group and adds to the NEW
    group — so rows migrating between groups (the case a naive
    new-image-only fold silently corrupts) stay exact. Groups whose
    maintained count reaches zero are dropped, keeping the view
    identical to a fresh ``groupBy`` (which never emits empty groups).

    Returns the maintained aggregate: ``group_cols + n + sum_<c>``.
    ``agg=None`` starts from an empty view (a feed from version 0 —
    i.e. every row as an insert — then materializes the full view).
    """
    vals = {c.replace("_old_", "", 1) for c in feed.columns if c.startswith("_old_")}

    def old_image(c: str):
        # key columns never change per key and carry no _old_ twin
        return F.col(f"_old_{c}") if c in vals else F.col(c)

    one = F.lit(1).cast("bigint")
    neg = feed.filter(F.col("_change") != "insert").select(
        *[old_image(g).alias(g) for g in group_cols],
        (-one).alias("_dn"),
        *[(-F.coalesce(old_image(s).cast("double"), F.lit(0.0))).alias(f"_ds_{s}") for s in sum_cols],
    )
    pos = feed.filter(F.col("_change") != "delete").select(
        *[F.col(g).alias(g) for g in group_cols],
        one.alias("_dn"),
        *[F.coalesce(F.col(s).cast("double"), F.lit(0.0)).alias(f"_ds_{s}") for s in sum_cols],
    )
    deltas = (
        neg.unionByName(pos)
        .groupBy(*group_cols)
        .agg(
            F.sum("_dn").alias("_dn"),
            *[F.sum(f"_ds_{s}").alias(f"_ds_{s}") for s in sum_cols],
        )
    )
    if agg is None:
        merged = deltas.select(
            *group_cols,
            F.col("_dn").alias("n"),
            *[F.col(f"_ds_{s}").alias(f"sum_{s}") for s in sum_cols],
        )
    else:
        a = agg.select(
            *group_cols,
            F.col("n").alias("_an"),
            *[F.col(f"sum_{s}").alias(f"_as_{s}") for s in sum_cols],
        )
        merged = a.join(deltas, on=group_cols, how="full_outer").select(
            *group_cols,
            (F.coalesce(F.col("_an"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))).alias("n"),
            *[
                (
                    F.coalesce(F.col(f"_as_{s}"), F.lit(0.0))
                    + F.coalesce(F.col(f"_ds_{s}"), F.lit(0.0))
                ).alias(f"sum_{s}")
                for s in sum_cols
            ],
        )
    return merged.filter(F.col("n") > 0)


def apply_changes_to_minmax(
    agg: DataFrame | None,
    feed: DataFrame,
    current: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Incremental view maintenance for a grouped MIN/MAX (+count) view.

    MIN/MAX are the textbook NOT-self-maintainable aggregates under
    deletes: an insert can only tighten a bound (fold with
    least/greatest — free), but a retraction that REMOVES the attained
    bound invalidates it, and no amount of delta algebra recovers the
    runner-up. The sound minimal move is a targeted rescan: exactly the
    groups whose bound was retracted AND not rescued by a same-batch
    insert at-or-below(above) the old bound re-aggregate from
    ``current`` (the post-change snapshot), restricted by a semi-join —
    cost ∝ rows of bound-affected groups, never table size. Every other
    group's new bound is exact from the fold.

    ``feed`` is ``changes(..., include_old=True)``; ``agg`` is the
    previously maintained view (``group_cols + n + min_v + max_v``) or
    None to bootstrap from an all-insert feed. Count maintenance (and
    the empty-group drop) matches :func:`apply_changes_to_aggregate`.
    """
    vals = {c.replace("_old_", "", 1) for c in feed.columns if c.startswith("_old_")}

    def old_image(c: str):
        return F.col(f"_old_{c}") if c in vals else F.col(c)

    one = F.lit(1).cast("bigint")
    v = F.col(value_col).cast("double")
    ov = old_image(value_col).cast("double")
    neg = feed.filter(F.col("_change") != "insert").select(
        *[old_image(g).alias(g) for g in group_cols],
        (-one).alias("_dn"),
        ov.alias("_rv"),
    )
    pos = feed.filter(F.col("_change") != "delete").select(
        *[F.col(g).alias(g) for g in group_cols],
        one.alias("_dn"),
        v.alias("_pv"),
    )
    negagg = neg.groupBy(*group_cols).agg(
        F.sum("_dn").alias("_dnn"),
        F.min("_rv").alias("_retr_min"),
        F.max("_rv").alias("_retr_max"),
    )
    posagg = pos.groupBy(*group_cols).agg(
        F.sum("_dn").alias("_dnp"),
        F.min("_pv").alias("_new_min"),
        F.max("_pv").alias("_new_max"),
    )
    deltas = posagg.join(negagg, on=group_cols, how="full_outer")
    if agg is None:
        merged = deltas.select(
            *group_cols,
            (F.coalesce(F.col("_dnp"), F.lit(0)) + F.coalesce(F.col("_dnn"), F.lit(0))).alias("n"),
            F.lit(None).cast("double").alias("_amin"),
            F.lit(None).cast("double").alias("_amax"),
            "_new_min", "_new_max", "_retr_min", "_retr_max",
        )
    else:
        a = agg.select(
            *group_cols,
            F.col("n").alias("_an"),
            F.col("min_v").alias("_amin"),
            F.col("max_v").alias("_amax"),
        )
        merged = a.join(deltas, on=group_cols, how="full_outer").select(
            *group_cols,
            (
                F.coalesce(F.col("_an"), F.lit(0))
                + F.coalesce(F.col("_dnp"), F.lit(0))
                + F.coalesce(F.col("_dnn"), F.lit(0))
            ).alias("n"),
            "_amin", "_amax", "_new_min", "_new_max", "_retr_min", "_retr_max",
        )
    merged = merged.filter(F.col("n") > 0).localCheckpoint()
    # bound invalidated iff a retraction touched it and no same-batch
    # insert rescued it (an insert ≤ the old min IS the new exact min —
    # every surviving old row is ≥ the old min)
    # NULL-care: with no same-batch insert the rescue comparison is NULL,
    # and `touched AND NOT NULL` would be NULL → coalesce each term
    # separately, else a bound-retracting delete with no inserts would
    # silently skip its rescan (three-valued-logic trap).
    susp_min = F.coalesce(
        F.col("_retr_min") <= F.col("_amin"), F.lit(False)
    ) & ~F.coalesce(F.col("_new_min") <= F.col("_amin"), F.lit(False))
    susp_max = F.coalesce(
        F.col("_retr_max") >= F.col("_amax"), F.lit(False)
    ) & ~F.coalesce(F.col("_new_max") >= F.col("_amax"), F.lit(False))
    suspect = susp_min | susp_max
    good = merged.filter(~suspect).select(
        *group_cols,
        "n",
        F.least("_amin", "_new_min").alias("min_v"),
        F.greatest("_amax", "_new_max").alias("max_v"),
    )
    bad = merged.filter(suspect).select(*group_cols, "n")
    rescanned = (
        current.select(*group_cols, v.alias("_v"))
        .join(bad.select(*group_cols), on=group_cols, how="left_semi")
        .groupBy(*group_cols)
        .agg(F.min("_v").alias("min_v"), F.max("_v").alias("max_v"))
        .join(bad, on=group_cols)
        .select(*group_cols, "n", "min_v", "max_v")
    )
    return good.unionByName(rescanned)


def apply_fact_changes_to_join_view(
    view: DataFrame,
    feed: DataFrame,
    fact_key: str,
    dim_current: DataFrame,
    dim_key: str,
    fact_fk: str | None = None,
) -> DataFrame:
    """Incremental maintenance of a FACT ⋈ DIM (inner, FK equi-join)
    materialized view, fact-side delta: drop the view rows at every
    changed fact key, then re-derive exactly those keys from the feed's
    new images joined against the CURRENT dim — the delta rule
    V' = (V − V⋉ΔF) ∪ (ΔF_new ⋈ D). Maintenance cost ∝ fact churn
    (the anti-join is key-only; the re-join touches |ΔF| rows), never
    fact-table size. Requires FK integrity at each commit (a fact whose
    dim row is missing is dropped, as the inner join defines).
    ``fact_fk`` names the fact's FK column when it differs from
    ``dim_key`` (e.g. o_custkey vs c_custkey)."""
    fk = fact_fk or dim_key
    changed = feed.select(fact_key).distinct()
    kept = view.join(changed, on=fact_key, how="left_anti")
    dim_cols = [c for c in dim_current.columns if c != dim_key]
    fact_cols = [c for c in view.columns if c not in dim_cols]
    new_facts = feed.filter(F.col("_change") != "delete").select(*fact_cols).alias("_f")
    dim_a = dim_current.alias("_d")
    added = new_facts.join(
        dim_a, on=[F.col(f"_f.{fk}") == F.col(f"_d.{dim_key}")], how="inner"
    ).select(
        *[F.col(f"_f.{c}") for c in fact_cols],
        *[F.col(f"_d.{c}") for c in dim_cols],
    )
    return kept.unionByName(added.select(*view.columns))


def apply_dim_changes_to_join_view(
    view: DataFrame,
    feed: DataFrame,
    dim_key: str,
    fact_fk: str | None = None,
) -> DataFrame:
    """Dim-side delta for the same view: rows referencing a deleted dim
    key leave the view (inner-join semantics); rows referencing an
    updated key get the new dim image patched in via a join restricted
    to the churned keys — V' = (V − V⋉ΔD_del) with ΔD_upd's new
    attributes overwriting the affected rows. Dim INSERTS cannot create
    view rows under FK integrity (no fact can reference a
    not-yet-existing dim row through the fact-side fold's inner join).
    Cost ∝ dim churn × their fan-out — the rows that must change."""
    fk = fact_fk or dim_key
    dim_cols = [
        c.replace("_old_", "", 1) for c in feed.columns if c.startswith("_old_")
    ]
    fact_cols = [c for c in view.columns if c not in dim_cols]
    deleted = feed.filter(F.col("_change") == "delete").select(
        F.col(dim_key).alias("_delk")
    )
    kept = view.join(deleted, on=[F.col(fk) == F.col("_delk")], how="left_anti")
    upd = feed.filter(F.col("_change") != "delete").select(
        F.col(dim_key).alias("_updk"), *dim_cols
    )
    unaffected = kept.join(
        upd.select("_updk"), on=[F.col(fk) == F.col("_updk")], how="left_anti"
    )
    base = kept.select(*fact_cols).alias("_v")
    upd_a = upd.alias("_u")
    patched = base.join(
        upd_a, on=[F.col(f"_v.{fk}") == F.col("_u._updk")], how="inner"
    ).select(
        *[F.col(f"_v.{c}") for c in fact_cols],
        *[F.col(f"_u.{c}") for c in dim_cols],
    )
    return unaffected.unionByName(patched.select(*view.columns))
