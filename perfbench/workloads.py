"""The three closed-loop workloads: ``query_mix``, ``graph_rounds`` and
``graph_etl``.

Each workload has the same shape:

- ``prepare`` (untimed): reference results the output checks need, and
  every seeded draw (windows, landmarks, lookup keys), so that every pass
  of a run does the same work;
- ``warmup`` (untimed, part of set-up): one operation of the workload;
- ``run_pass``: one measured pass — a fixed sequence of operations, each
  timed by :class:`Recorder` and each followed by its output check. Check
  and bookkeeping time is excluded from the pass time and traced no
  spans; a failed check or a raised error counts as a failed operation
  and the pass goes on;
- ``entry_points``: the engine attributes the traced run wraps;
- ``summary``: operation latencies and the workload's own figures.

Operations always run one after another from one client thread.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
import warnings
from contextlib import contextmanager, nullcontext
from datetime import date, timedelta

import proc
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive);
    0 for no values."""
    v = sorted(values)
    if len(v) <= 1:
        return v[0] if v else 0.0
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Recorder:
    """Times the operations of one pass and counts their failures."""

    def __init__(self, tracer=None, tamper: bool = False):
        self.tracer = tracer
        self.tamper = tamper  # corrupt the first checked result (negative test)
        self.pids = proc.tree()  # the driver JVM is up for the whole pass
        self.ops: list[tuple[str, float, float]] = []  # (kind, wall s, CPU s)
        self.attempted = 0
        self.failed = 0
        self.untimed_s = 0.0
        self.untimed_cpu_s = 0.0
        self.last_ok = False
        self.extra: dict[str, float] = {}

    @contextmanager
    def op(self, kind: str, name: str):
        """Time one operation; an exception fails it without ending the pass."""
        self.attempted += 1
        self.last_ok = False
        c0, t0 = proc.cpu_s(self.pids), time.perf_counter()
        try:
            if self.tracer is None:
                yield
            else:
                with self.tracer.span("bench", f"{kind}:{name}"):
                    yield
            self.last_ok = True
        except Exception:  # noqa: BLE001 — one failed operation must not abort the pass
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        finally:
            t1 = time.perf_counter()
            self.ops.append((kind, t1 - t0, proc.cpu_s(self.pids) - c0))

    @contextmanager
    def untimed(self):
        """Benchmark bookkeeping: its time is taken out of the pass time and
        the engine calls it makes are not traced."""
        c0, t0 = proc.cpu_s(), time.perf_counter()
        try:
            with self.tracer.paused() if self.tracer else nullcontext():
                yield
        finally:
            self.untimed_s += time.perf_counter() - t0
            self.untimed_cpu_s += proc.cpu_s() - c0

    def check(self, name: str, fn) -> None:
        """Check the operation that just ran, untimed: ``fn(corrupt)``
        returning False or raising fails it. Skipped when the operation
        itself failed (already counted). ``corrupt`` is True exactly once
        when tampering."""
        if not self.last_ok:
            return
        self.last_ok = False  # one failure per operation at most
        corrupt, self.tamper = self.tamper, False
        with self.untimed():
            try:
                ok = bool(fn(corrupt))
            except Exception:  # noqa: BLE001 — a crashing check is a failed check
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)

    def times(self, kind: str) -> list[float]:
        return [s for k, s, _ in self.ops if k == kind]

    def costs(self, *kinds: str) -> list[tuple[float, float]]:
        """(wall, CPU) seconds of every operation of ``kinds``."""
        return [(s, c) for k, s, c in self.ops if k in kinds]


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# A fixed cut through the query inventory, run in this order: one query
# from every other family module (plans/families/q01..q14), each with a
# DuckDB oracle and a small result, none of which starts an iterative graph
# algorithm, a snapshot commit or a streaming query. Left out because they
# disagree with their oracle on some generated seeds: kaplan_meier_churn
# (a survival product lands exactly on a rounding half, which Spark and
# DuckDB round differently) and bm25_doc_ranking (score ties at the top-k
# cut, which the two engines break differently).
QUERY_MIX = [
    "pricing_summary",        # q01 relational pipeline
    "grouping_sets_revenue",  # q02 datetime rollups
    "shipping_priority",      # q03
    "cohort_retention",       # q04 sessions/events
    "anova_f_oneway",         # q09
    "welch_t_test",           # q10 hypothesis tests
    "kendall_tau_b",          # q11 rank statistics
    "concentration_hhi",      # q14
]


def _norm_rows():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from check_correctness import norm_rows
    finally:
        sys.path.pop(0)
    return norm_rows


class QueryMix:
    name = "query_mix"
    sf, copies = 0.01, 0  # no copies: the queries read the base fixture

    def prepare(self, ctx) -> None:
        import duckdb

        from graph_db_spark.plans.queries import ORACLE_SQL
        from graph_db_spark.tables import TABLE_NAMES

        self.norm = _norm_rows()
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(ctx.fixture_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.expected = {}
            for q in QUERY_MIX:
                res = con.execute(ORACLE_SQL[q])
                cols = [d[0] for d in res.description]
                self.expected[q] = (sorted(cols), self.norm(cols, res.fetchall()))
        finally:
            con.close()

    def warmup(self, ctx) -> None:
        from graph_db_spark.plans import queries

        queries.QUERIES[QUERY_MIX[0]](ctx.spark, ctx.fixture_dir).count()

    def entry_points(self, tracer) -> None:
        from graph_db_spark.plans import queries

        for q in QUERY_MIX:
            tracer.wrap(queries.QUERIES, q, "plans", q)

    def run_pass(self, ctx, rec: Recorder) -> None:
        from graph_db_spark.plans import queries

        for q in QUERY_MIX:
            with rec.op("query", q):
                df = queries.QUERIES[q](ctx.spark, ctx.fixture_dir)
                if rec.tracer is not None:
                    with rec.tracer.span("catalyst", q):
                        df._jdf.queryExecution().executedPlan()
                    with rec.tracer.span("exec", q):
                        rows = df.collect()
                else:
                    rows = df.collect()
            rec.check(q, lambda corrupt, q=q: self._matches(q, df.columns, rows, corrupt))

    def _matches(self, q: str, cols: list[str], rows: list, corrupt: bool) -> bool:
        rows = [tuple(r) for r in rows]
        if corrupt:
            rows = rows[:-1] if rows else [tuple(None for _ in cols)]
        exp_cols, exp_rows = self.expected[q]
        return sorted(cols) == exp_cols and self.norm(cols, rows) == exp_rows

    def summary(self, recs: list[Recorder]) -> dict:
        t = [s for r in recs for s in r.times("query")]
        return {"op": [oc for r in recs for oc in r.costs("query")],
                "query_p50_s": _quantile(t, 0.5), "query_p90_s": _quantile(t, 0.9),
                "query_samples": len(t)}


# ---------------------------------------------------------------------------
# graph_rounds
# ---------------------------------------------------------------------------

ALGOS = ("cc", "pagerank", "kcore", "bfs")
PAGERANK_ROUNDS = 3
KCORE_K = 4


def _fixed_rounds(pagerank, *args, **kwargs):
    """PageRank for exactly ``max_iter`` rounds: its not-converged warning
    is expected here."""
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "pagerank still moving", RuntimeWarning)
        return pagerank(*args, **kwargs)


def _unshift(vid: str, width: int) -> tuple[int, str]:
    """Vertex id -> (copy, base id): strip the copy digits the replicator
    put in front of every key (``L:<orderkey>:<line>`` shifts the order key)."""
    label, key, *rest = vid.split(":")
    base = ":".join([label, str(int(key[-width:])), *rest])
    return int(key[:-width]), base


class GraphRounds:
    name = "graph_rounds"
    sf, copies = 0.001, 2

    def prepare(self, ctx) -> None:
        import reference
        from fixture import key_width

        self.width = key_width(ctx.base_dir)
        self.edges = reference.edges(ctx.base_dir)
        self.expected = {
            "cc": reference.connected_components(self.edges),
            "pagerank": reference.pagerank(self.edges, PAGERANK_ROUNDS),
            "kcore": reference.k_core(self.edges, KCORE_K),
        }
        # two seeded nations as BFS landmarks, the same two in every copy
        nations = sorted(ctx.rng.sample(range(25), 2))
        self.marks = [f"N:{(i + 1) * 10**self.width + n}"
                      for i in range(ctx.copies) for n in nations]

    def warmup(self, ctx) -> None:
        from graph_db_spark.graph import build

        build.build_graph(ctx.spark, ctx.fixture_dir).edges.count()

    def entry_points(self, tracer) -> None:
        from graph_db_spark.graph import algorithms, build

        tracer.wrap(build, "build_graph", "graph.build")
        for attr in ("connected_components", "pagerank", "k_core", "shortest_paths"):
            tracer.wrap(algorithms, attr, "graph.algorithms")

    def run_pass(self, ctx, rec: Recorder) -> None:
        from graph_db_spark.graph import algorithms, build

        spark = ctx.spark
        edges = None
        with rec.op("build", "build_graph"):
            g = build.build_graph(spark, ctx.fixture_dir)
            edges = g.edges.select("src", "dst").localCheckpoint(eager=True)
        if edges is None:
            return
        marks = self.marks
        calls = {
            "cc": lambda: algorithms.connected_components(edges),
            "pagerank": lambda: _fixed_rounds(algorithms.pagerank, edges, max_iter=PAGERANK_ROUNDS),
            "kcore": lambda: algorithms.k_core(edges, KCORE_K),
            "bfs": lambda: algorithms.shortest_paths(
                edges, spark.createDataFrame([(m,) for m in marks], "id string")),
        }
        for algo in ALGOS:
            out = None
            with rec.op(algo, algo):
                out = calls[algo]()
                out.count()
            rec.check(algo, lambda corrupt, a=algo, o=out: self._matches_reference(
                a, o, marks, corrupt, ctx))

    def _matches_reference(self, algo: str, out, marks: list[str], corrupt: bool, ctx) -> bool:
        """Every copy's result, keys unshifted, equals the reference result
        on the base fixture; PageRank ranks are ``copies`` times smaller
        and agree to 1e-9 relative."""
        import reference

        rows = out.collect()
        if corrupt:
            rows = rows[1:]
        per_copy: dict[int, dict] = {}
        for r in rows:
            copy, vid = _unshift(r["id"], self.width)
            if algo == "cc":
                v = _unshift(r["component"], self.width)[1]
            elif algo == "pagerank":
                v = r["rank"] * ctx.copies
            elif algo == "kcore":
                v = r["degree"]
            else:  # one row per (vertex, landmark) reached
                vid = (vid, _unshift(r["landmark"], self.width)[1])
                v = r["dist"]
            per_copy.setdefault(copy, {})[vid] = v
        if sorted(per_copy) != list(range(1, ctx.copies + 1)):
            return False
        if algo == "bfs":
            want = reference.shortest_paths(
                self.edges, sorted({_unshift(m, self.width)[1] for m in marks}))
        else:
            want = self.expected[algo]
        if algo == "pagerank":
            return all(
                got.keys() == want.keys()
                and all(abs(got[v] - want[v]) <= 1e-9 * want[v] for v in want)
                for got in per_copy.values()
            )
        return all(got == want for got in per_copy.values())

    def summary(self, recs: list[Recorder]) -> dict:
        return {"op": [oc for r in recs for oc in r.costs("build", *ALGOS)], **{
            f"{a}_s": statistics.median(t) if (t := [s for r in recs for s in r.times(a)]) else 0.0
            for a in ALGOS}}


# ---------------------------------------------------------------------------
# graph_etl
# ---------------------------------------------------------------------------

SENSOR_TASKS = ["weather_days", "has_weather_day"]
DAY_NODE = "weather_days"
DAY_KEYS = ["serial_number", "date"]
STREAM_START = date(2024, 1, 1)
STREAM_DAYS = 30
WINDOW_DAYS = 7


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _as_plain(v):
    if hasattr(v, "asDict"):
        return tuple(_as_plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _as_plain(x)) for k, x in v.items()))
    if isinstance(v, float):
        return round(v, 6)
    return v


class GraphEtl:
    name = "graph_etl"
    sf, copies = 0.001, 1
    windows, lookups = 2, 2

    def prepare(self, ctx) -> None:
        """Draw the windows and, per window, the point-lookup picks (a serial
        index and a day offset) that every pass of this run replays."""
        self.pass_no = 0
        self.drawn = []
        for _ in range(self.windows):
            lo = STREAM_START + timedelta(ctx.rng.randrange(0, STREAM_DAYS - WINDOW_DAYS + 1))
            picks = [(ctx.rng.randrange(1 << 30), ctx.rng.randrange(WINDOW_DAYS))
                     for _ in range(0, self.lookups, 2)]
            self.drawn.append((lo.isoformat(), (lo + timedelta(WINDOW_DAYS)).isoformat(), picks))

    def warmup(self, ctx) -> None:
        from graph_db_spark.plans import pipeline

        pipeline.build(ctx.spark, ctx.fixture_dir, only=[DAY_NODE])[DAY_NODE].count()

    def entry_points(self, tracer) -> None:
        from graph_db_spark import run
        from graph_db_spark.writers.snapshots import SnapshotTable

        def table_bytes(span, args, _):
            span.extra["bytes"] = _tree_bytes(args[1])

        def commit_files(span, args, version):
            t = args[0]
            prev = set(_files(t, version - 1)) if version > 1 else set()
            new = set(_files(t, version)) - prev
            span.extra["files"] = len(new)
            span.extra["bytes"] = sum(_file_bytes(t, f) for f in new)
            span.extra["manifest_bytes"] = os.path.getsize(t._manifest_path(version))

        tracer.wrap(run, "run", "run")
        tracer.wrap(run, "build", "pipeline", "build")
        tracer.wrap(run, "merge_into_parquet_table", "upsert", after=table_bytes)
        tracer.wrap(run, "write_table", "upsert", after=table_bytes)
        tracer.wrap(run, "assert_unique_key", "upsert")
        tracer.wrap(SnapshotTable, "merge", "snapshots", "merge", after=commit_files)
        for m in ("scan", "read", "compact", "vacuum"):
            tracer.wrap(SnapshotTable, m, "snapshots", m)

    def run_pass(self, ctx, rec: Recorder) -> None:
        """Materialize the sensor-stream tasks over the whole stream (the
        ``etl`` operation), build a snapshot table from the day-node table,
        then run the seeded windows against both."""
        from graph_db_spark import run
        from graph_db_spark.writers.snapshots import SnapshotTable

        spark = ctx.spark
        self.pass_no += 1
        graph_dir = os.path.join(ctx.work, f"graph{self.pass_no}")
        table_dir = os.path.join(ctx.work, f"snap{self.pass_no}")
        quiet = open(os.devnull, "w")  # run.run prints a [TIMER] line per task
        stats = {"written_rows": 0, "batch_rows": 0}
        try:
            with rec.op("etl", "sensor_dag"), _stdout_to(quiet):
                run.run(spark, ctx.fixture_dir, graph_dir, only=SENSOR_TASKS, mode="upsert")
            rec.check("etl_keys", lambda corrupt: _node_keys_unique(spark, graph_dir, corrupt))
            day = os.path.join(graph_dir, DAY_NODE)
            table = None
            with rec.op("create", "create"):
                table = SnapshotTable.create(
                    spark, table_dir, spark.read.parquet(day), DAY_KEYS,
                    n_buckets=4, cluster_by=["date"], records_per_file=50)
            if table is None:
                return
            with rec.untimed():
                state = {_key(r): _as_plain(r) for r in spark.read.parquet(day).collect()}
            serials = sorted({k[0] for k in state})
            for lo, hi, picks in self.drawn:
                with rec.op("window", f"{lo}..{hi}"), _stdout_to(quiet):
                    run.run(spark, ctx.fixture_dir, graph_dir, only=SENSOR_TASKS,
                            start=lo, end=hi, mode="upsert")
                delta = spark.read.parquet(day).filter(
                    (F.col("date") >= lo) & (F.col("date") < hi))
                with rec.untimed():
                    before = set(_files(table))
                committed = False
                with rec.op("commit", f"{lo}..{hi}"):
                    table.merge(delta)
                    committed = True
                if committed:
                    with rec.untimed():
                        batch = delta.collect()
                        stats["batch_rows"] += len(batch)
                        stats["written_rows"] += _rows_in(table, set(_files(table)) - before)
                        for r in batch:
                            state[_key(r)] = _as_plain(r)
                    rec.check(f"read {lo}..{hi}", lambda corrupt: _same(table.read(), state, corrupt))
                for i in range(self.lookups):
                    if i % 2 == 0:  # point lookup on the full key
                        k, day_off = picks[i // 2]
                        d = (date.fromisoformat(lo) + timedelta(day_off)).isoformat()
                        s = serials[k % len(serials)]
                        where = {"serial_number": (s, s), "date": (d, d)}
                    else:  # date range scan
                        where = {"date": (lo, hi)}
                    self._scan(rec, table, state, where)
            with rec.op("compact", "compact"):
                table.compact()
            rec.check("compacted", lambda corrupt: _same(table.read(), state, corrupt))
            with rec.op("vacuum", "vacuum"):
                stats["reclaimed"] = len(table.vacuum(keep_last=2, min_age_seconds=0.0))
            rec.check("vacuumed", lambda corrupt: _same(table.read(), state, corrupt))
            with rec.untimed():
                live = sum(_file_bytes(table, f) for f in _files(table))
                stats["space_amp"] = _tree_bytes(table_dir) / live if live else 0.0
            stats["write_amp"] = stats["written_rows"] / max(stats["batch_rows"], 1)
        finally:
            quiet.close()
            rec.extra.update(stats)
            shutil.rmtree(graph_dir, ignore_errors=True)
            shutil.rmtree(table_dir, ignore_errors=True)

    def _scan(self, rec, table, state, where) -> None:
        rows = None
        with rec.op("scan", str(where)):
            rows = table.scan(where).collect()
        if rows is not None:
            with rec.untimed():
                kept, total = table.pruned_files(where)
            rec.extra["files_kept"] = rec.extra.get("files_kept", 0) + kept
            rec.extra["files_total"] = rec.extra.get("files_total", 0) + total

            def matches(corrupt, rows=rows, where=where):
                want = {k: v for k, v in state.items()
                        if all(lo_ <= k[DAY_KEYS.index(c)] <= hi_
                               for c, (lo_, hi_) in where.items())}
                got = {_key(r): _as_plain(r) for r in rows}
                if corrupt:
                    got = {k: v for k, v in list(got.items())[1:]} if got else {("x", "x"): ()}
                return got == want and len(rows) == len(got)

            rec.check(f"scan {where}", matches)

    def summary(self, recs: list[Recorder]) -> dict:
        def med(kind):
            t = [s for r in recs for s in r.times(kind)]
            return statistics.median(t) if t else 0.0

        def med_extra(k):
            v = [r.extra[k] for r in recs if k in r.extra]
            return statistics.median(v) if v else 0.0

        return {
            "op": [w for r in recs for w in _window_steps(r.ops)],
            "etl_s": med("etl"), "commit_p50_s": med("commit"), "scan_p50_s": med("scan"),
            "write_amp": med_extra("write_amp"), "space_amp": med_extra("space_amp"),
        }


def _node_keys_unique(spark, graph_dir: str, corrupt: bool) -> bool:
    """Every node table under ``graph_dir`` has unique natural keys
    (``corrupt`` duplicates one row of the first node table)."""
    from graph_db_spark.plans.pipeline import REGISTRY

    for name in sorted(os.listdir(graph_dir)):
        td = REGISTRY[name]
        if td.kind == "node" and td.keys:
            df = spark.read.parquet(os.path.join(graph_dir, name))
            if corrupt:
                df, corrupt = df.unionByName(df.limit(1)), False
            if df.groupBy(*td.keys).count().filter("count > 1").limit(1).count():
                return False
    return True


def _window_steps(ops: list[tuple[str, float, float]]) -> list[tuple[float, float]]:
    """(wall, CPU) seconds per window step: the re-run plus the commit and
    scans that follow it."""
    steps: list[tuple[float, float]] = []
    open_step = False
    for kind, sec, cpu in ops:
        if kind == "window":
            steps.append((sec, cpu))
            open_step = True
        elif kind in ("commit", "scan") and open_step:
            steps[-1] = (steps[-1][0] + sec, steps[-1][1] + cpu)
        else:
            open_step = False
    return steps


def _key(r) -> tuple:
    return tuple(r[k] for k in DAY_KEYS)


def _files(table, version: int | None = None) -> list[str]:
    m = table._read_manifest(version or table.latest_version())
    return [e["path"] for e in m["files"]]


def _file_bytes(table, rel: str) -> int:
    return os.path.getsize(os.path.join(table.path, rel))


def _rows_in(table, rel_paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(table.path, p)).num_rows for p in rel_paths)


def _same(df, state: dict, corrupt: bool) -> bool:
    rows = df.collect()
    got = {_key(r): _as_plain(r) for r in rows}
    if corrupt and got:
        got.pop(next(iter(got)))
    return len(rows) == len(got) and got == state


@contextmanager
def _stdout_to(stream):
    old = sys.stdout
    sys.stdout = stream
    try:
        yield
    finally:
        sys.stdout = old


WORKLOADS = {w.name: w for w in (QueryMix, GraphRounds, GraphEtl)}
