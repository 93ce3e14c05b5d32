"""Oracle hygiene — fast checks that need no SparkSession.

The correctness gate runs every oracle against DuckDB; these tests catch
oracle bitrot (SQL syntax errors, renamed tables, bad registry entries) in
seconds instead of a multi-minute Spark sweep.
"""

from __future__ import annotations

import duckdb
import pytest

from __spark_entry__ import oracle_sql, queries
from graph_db_spark.plans.queries import _EXPENSIVE_LAST
from graph_db_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLE_NAMES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_every_oracle_parses_and_binds(con):
    """EXPLAIN every oracle: parse + bind against the real fixture schemas
    (catches column renames and SQL typos without executing)."""
    bad = []
    for name, sql in oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001 — collecting all failures
            bad.append(f"{name}: {e}")
    assert not bad, "\n".join(bad)


def test_oracle_keys_subset_of_queries():
    q, o = queries(), oracle_sql()
    assert set(o) <= set(q), set(o) - set(q)
    # r10: the rows-only pool is EMPTY. hll_user_reach — the last
    # no-oracle entry — now emits the percentile_sketch_bound-style
    # contract shape (exact facts + a 5%-error flag the oracle pins to
    # 1.0), so every registered query has a driver-checkable oracle.
    rows_only = set(q) - set(o)
    assert rows_only == set(), rows_only


def test_gate_window_and_expensive_tail_ordering():
    """Registration order = the driver's contract: the first 50 names are
    exactly _GATE_WINDOW (the round-6 rotation closing the never-driver-
    checked backlog), and the expensive iterative queries not promoted
    into the window close the tail in their cost order."""
    from graph_db_spark.plans.queries import _GATE_WINDOW

    q = list(queries())
    assert len(_GATE_WINDOW) == 50
    assert q[:50] == _GATE_WINDOW
    assert set(_EXPENSIVE_LAST) <= set(q), set(_EXPENSIVE_LAST) - set(q)
    tail = [n for n in _EXPENSIVE_LAST if n not in set(_GATE_WINDOW)]
    assert q[-len(tail):] == tail


def test_r13_gate_window_mixes_requeues_and_stalest():
    """r13 rotation contract — oldest-first drain, now WITH re-queues.
    Three machine-enforced jobs (evidence glob advanced to r01-r12):

    1. r13 registers ZERO new queries, so every registered name must
       have prior driver evidence (the never-green set is empty).
    2. The 12 re-queue slots are exactly this round's CODE-CHANGED
       queries (11 ``dim_hint`` forced-broadcast removals + the
       pca_power_iteration covariance rewrite) — changed code outranks
       stale re-checks per the gate contract.
    3. The other 38 slots must be EXACTLY the head of the staleness
       queue (all names ordered by last-green round, then by their
       position in that round's CORRECTNESS file) after the re-queued
       names are set aside: the 38 oldest r5-stale names. While any
       r5-stale name exists outside the window, it can only be one the
       queue ranks BELOW every name inside.

    Documented equivalence exceptions (changed without a slot, per the
    r11/r12 precedent): the r13 SECOND dim_hint pass switched 11 more
    li ⋈ F.broadcast(part) sites to unhinted (part scales like
    customer/supplier), and the THIRD pass did the same for
    aggregate-derived sides whose key space scales (per-user/part/
    token/orderkey aggregates + the remaining supplier/part dims) —
    the full lists and proof protocol live in the _GATE_WINDOW
    comment; each is a pure plan change proven by the exact DuckDB
    oracle gate ALL GREEN at sf0.001+sf0.01 right after the edit and
    by the round-close 3-SF sweeps, with the no-hint property
    plan-asserted in test_no_forced_broadcast_on_sf_scaling_sides.
    Eight of the third-pass names already hold window slots, so they
    get fresh driver rows regardless.
    """
    import glob
    import json
    import os

    from graph_db_spark.plans.queries import _GATE_WINDOW

    requeued = [
        "nation_volume_shipping", "nation_market_share",
        "product_type_profit", "important_parts_share",
        "heavy_part_suppliers", "scc_trade_partners",
        "trade_graph_transitivity", "region_trade_assortativity",
        "trade_reciprocity", "theil_index_decomposition",
        "diff_in_diff_uplift", "pca_power_iteration",
    ]
    # pin to the evidence available at r13 window-construction time:
    # once the driver writes CORRECTNESS_r13.json the staleness map
    # shifts, and this contract must keep describing the window that
    # was built BEFORE that run
    root = os.path.join(os.path.dirname(__file__), "..")
    files = sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r0[1-9].json"))
    ) + sorted(glob.glob(os.path.join(root, "CORRECTNESS_r1[0-2].json")))
    if len(files) < 12:
        pytest.skip("driver correctness files absent")
    last_green: dict[str, int] = {}
    file_pos: dict[str, int] = {}
    for f in files:
        rnd = int(os.path.basename(f)[len("CORRECTNESS_r"):-len(".json")])
        with open(f) as fh:
            for pos, (name, row) in enumerate(json.load(fh).items()):
                if row.get("err") is None and row.get("rows_match"):
                    last_green[name] = rnd
                    file_pos[name] = pos
    # job 1: zero registrations this round
    never = {n for n in queries() if n not in last_green}
    assert never == set(), never
    # job 2: every changed query holds a window slot
    assert set(requeued) <= set(_GATE_WINDOW), set(requeued) - set(_GATE_WINDOW)
    # job 3: the non-requeue slots drain the staleness queue head
    queue = sorted(
        (n for n in queries() if n in last_green and n not in set(requeued)),
        key=lambda n: (last_green[n], file_pos[n]),
    )
    stale_slots = [n for n in _GATE_WINDOW if n not in set(requeued)]
    assert len(stale_slots) == 38
    assert stale_slots == queue[:38], (
        "window slots must drain the staleness queue head: first "
        f"divergence at "
        f"{next((a, b) for a, b in zip(stale_slots, queue) if a != b)}"
    )


def test_bh_z_thresholds_match_textbook_quantiles():
    """The Benjamini-Hochberg threshold table is Python-side bisection on
    Phi (math.erf); pin it against the textbook normal quantile at the
    step-up endpoint — i = m gives alpha/2 = q/2 = 0.05, whose z is the
    universally tabulated 1.6448536269514722 — plus strict monotone
    decrease in i (larger rank -> larger allowed p -> smaller |z|).
    Catches any edit to the bisection or the (m, q) constants that would
    silently shift every rejection decision."""
    from graph_db_spark.plans.families.q12_uplift_attribution import _bh_z_thresholds

    th = _bh_z_thresholds()
    assert len(th) == 25
    assert [i for i, _ in th] == list(range(1, 26))
    assert abs(th[24][1] - 1.6448536269514722) < 1e-9
    zs = [z for _, z in th]
    assert all(a > b for a, b in zip(zs, zs[1:]))


def test_rounded_emissions_cannot_produce_negative_zero(spark, sf_dir):
    """Driver-hash trap regression (r5 verdict #2): Spark `r4` and the
    paired oracle `round(...,4) + 0.0` must both normalize IEEE -0.0 —
    the driver's serialized value-hash distinguishes -0.0 from 0.0 even
    though == does not. Exercise the query that actually failed r5
    (weighted_sample_docs: 7 of 100 ES keys round to zero at sf0.01,
    several at sf0.001 too) plus r4 on a literal -0.0-producing column."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    from graph_db_spark.plans.families.q00_base import r4

    # unit level: r4 pins the sign of a rounded tiny negative
    row = spark.range(1).select(r4(F.lit(-1e-9)).alias("v")).first()
    assert row.v == 0.0 and math.copysign(1.0, row.v) > 0

    # query level, both engines, at fixture scale
    from __spark_entry__ import oracle_sql as _osql
    from __spark_entry__ import queries as _qs
    from graph_db_spark.tables import TABLE_NAMES

    sdf = _qs()["weighted_sample_docs"](spark, sf_dir)
    svals = [v for r in sdf.collect() for v in r if isinstance(v, float)]
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ovals = [
        v
        for r in con.execute(_osql()["weighted_sample_docs"]).fetchall()
        for v in r
        if isinstance(v, float)
    ]
    assert any(v == 0.0 for v in svals + ovals), "fixture no longer hits the round-to-zero path"
    bad = [v for v in svals + ovals if v == 0.0 and math.copysign(1.0, v) < 0]
    assert not bad, f"{len(bad)} -0.0 cells emitted"


def test_family_imports_name_their_defining_module():
    """No re-export shims: every name a family module imports from another
    family module is defined there (def, class or assignment), not merely
    imported into it — pyspark and library names come from their own
    modules. Library names are imported once, at the module top: no
    function-local ``graph_db_spark`` import."""
    import ast
    import pathlib

    from graph_db_spark.plans import families

    def defined(tree):
        names = set()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names |= {
                    t.id
                    for tg in targets
                    for t in (tg.elts if isinstance(tg, ast.Tuple) else [tg])
                    if isinstance(t, ast.Name)
                }
        return names

    trees = {
        p.stem: ast.parse(p.read_text())
        for p in pathlib.Path(families.__file__).parent.glob("q*.py")
    }
    defs = {name: defined(tree) for name, tree in trees.items()}
    prefix = "graph_db_spark.plans.families."
    bad = [
        f"{name} imports {a.name} from {node.module}"
        for name, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(prefix)
        for a in node.names
        if a.name not in defs[node.module[len(prefix):]]
    ]
    bad += [
        f"{name}:{node.lineno} imports {node.module} inside a function"
        for name, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node not in tree.body
        and (node.module or "").startswith("graph_db_spark")
    ]
    assert len(trees) == 15 and not bad, bad


def _defaults_in_use(packages: list[str]) -> dict[str, set[str]]:
    """``"mod.f(param)"`` -> the argument texts the defaulted ``param`` of
    every function (or method) defined under ``graph_db_spark/<package>``
    receives across its non-test callers: every module under
    graph_db_spark/ plus perfbench's. A call that omits the argument
    passes the default. Calls resolve through same-module names,
    ``from … import f as g``, module aliases (``from pkg import mod as
    X`` then ``X.f(...)``) and, for methods, ``obj.method(...)`` by the
    method's name."""
    import ast
    import pathlib

    import graph_db_spark

    root = pathlib.Path(graph_db_spark.__file__).parent

    def modname(path):
        return ".".join(path.relative_to(root.parent).with_suffix("").parts)

    targets = {
        modname(p): ast.parse(p.read_text())
        for pkg in packages
        for p in sorted((root / pkg).glob("*.py"))
    }
    funcs, methods = {}, {}  # (module, name) -> (positional names, {param: default})
    for mod, tree in targets.items():
        in_class = {
            fn: "staticmethod" not in {ast.unparse(d) for d in fn.decorator_list}
            for cls in ast.walk(tree) if isinstance(cls, ast.ClassDef)
            for fn in cls.body if isinstance(fn, ast.FunctionDef)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            pos = [a.arg for a in fn.args.posonlyargs + fn.args.args][in_class.get(fn, False):]
            defaults = list(map(ast.unparse, fn.args.defaults))
            d = dict(zip(pos[len(pos) - len(defaults):], defaults))
            d.update(
                (a.arg, ast.unparse(v))
                for a, v in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if v is not None
            )
            (methods if fn in in_class else funcs)[mod, fn.name] = (pos, d)
    by_method = {name: (mod, name) for mod, name in methods}
    values = {
        f"{mod.split('.', 1)[1]}.{fn}({p})": set()
        for (mod, fn), (_, d) in {**funcs, **methods}.items()
        for p in d
    }
    callers = [p for p in root.rglob("*.py")]
    callers += [
        p for p in (root.parent / "perfbench").glob("*.py") if not p.name.startswith("test_")
    ]
    for path in callers:
        tree = ast.parse(path.read_text())
        here = modname(path)
        names = {fn: (here, fn) for (mod, fn) in funcs if mod == here}
        aliases = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    if (node.module, a.name) in funcs:
                        names[a.asname or a.name] = (node.module, a.name)
                    if f"{node.module}.{a.name}" in targets:
                        aliases[a.asname or a.name] = f"{node.module}.{a.name}"
            elif isinstance(node, ast.Import):
                aliases.update(
                    (a.asname, a.name) for a in node.names if a.asname and a.name in targets
                )
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            key = None
            if isinstance(f, ast.Name):
                key = names.get(f.id)
            elif isinstance(f, ast.Attribute):
                base = f.value.id if isinstance(f.value, ast.Name) else None
                key = (aliases[base], f.attr) if base in aliases else by_method.get(f.attr)
            if key not in funcs and key not in methods:
                continue
            pos, d = funcs.get(key) or methods[key]
            kw = {k.arg: ast.unparse(k.value) for k in call.keywords if k.arg}
            for p, default in d.items():
                i = pos.index(p) if p in pos else len(call.args)
                v = kw.get(p, ast.unparse(call.args[i]) if i < len(call.args) else default)
                values[f"{key[0].split('.', 1)[1]}.{key[1]}({p})"].add(v)
    return values


def test_family_defaults_have_two_values_in_use():
    """Every defaulted parameter of a family function is an option some
    caller sets: across the call sites under graph_db_spark/ (a call that
    omits the argument passes the default) it takes at least two distinct
    values. A number only one value of which is in use is a module
    constant, read by the oracle builder and passed by the Spark side."""
    values = _defaults_in_use(["plans/families"])
    single = sorted(f"{k}: {sorted(v)}" for k, v in values.items() if len(v) < 2)
    assert not single, single


# Library options whose second value comes from a caller the walk cannot
# see, each with that caller.
_LIBRARY_DEFAULT_EXEMPTIONS = {
    "graph.algorithms.pagerank(max_iter)":
        "perfbench/workloads.py:_fixed_rounds passes PAGERANK_ROUNDS",
    "graph.algorithms.pagerank(n_partitions)":
        "perfbench/workloads.py:_fixed_rounds leaves it at None",
}


def test_library_defaults_have_two_values_in_use():
    """The same rule for the library the queries call — operators/,
    graph/, functions/ and streaming/: a setting no caller varies is a module
    constant of the module that uses it. Every exemption must still be
    single-valued to the walk, so a stale entry fails too."""
    values = _defaults_in_use(["operators", "graph", "functions", "streaming"])
    single = {k for k, v in values.items() if len(v) < 2}
    assert set(_LIBRARY_DEFAULT_EXEMPTIONS) <= single, set(_LIBRARY_DEFAULT_EXEMPTIONS) - single
    left = sorted(f"{k}: {sorted(values[k])}" for k in single - set(_LIBRARY_DEFAULT_EXEMPTIONS))
    assert not left, (len(left), left)
