"""Plan-shape ledger: the physical-plan node counts of every query.

Usage:
    python tools/dump_plans.py > plans/shape.json

Builds every ``QUERIES`` entry at sf0.001 and prints one JSON line per
query. Each line counts, over the query's final formatted plan plus the
plan of every frame the builder executes on its own (``BUILDTIME_ACTIONS``:
driver probes, eager checkpoints, iterative graph rounds), the exchanges,
joins by strategy, aggregates by kind, windows, single-partition windows
and build-time actions. Zero counts are left out.

The configuration is fixed here, not read from the caller's environment:
whether an iterative round reuses its edge partitioning depends on the
session's shuffle partition count, so counts are comparable only at one
core count. ``tests/test_plans.py`` runs this command and compares its
output with the committed ``plans/shape.json`` (``ledger_diff``); a
reviewed plan change regenerates the file with the same command. Run from
the repo root whose ``graph_db_spark`` package should be swept.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.getcwd())

from graph_db_spark.plans.queries import QUERIES  # noqa: E402
from graph_db_spark.session import get_spark  # noqa: E402

try:
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - pre-4.0 layout
    from pyspark.sql import DataFrame


SF_DIR = "/root/testdata/sf0.001"
CPUS = "4"

# Every eager DataFrame action a query builder may run at build time.
# take/head/first route through collect in the classic DataFrame, so this
# list covers them too.
BUILDTIME_ACTIONS = ("collect", "count", "localCheckpoint", "toPandas", "isEmpty")

# The physical operators the ledger counts, by their formatted-plan name.
COUNTED_NODES = (
    "Exchange", "BroadcastExchange",
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "Window",
)


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@contextlib.contextmanager
def _capture_buildtime(captured: list[str]):
    """Patch the build-time actions so every frame the builder executes
    on its own leaves its formatted plan in `captured` (then delegates
    to the real method — build behavior unchanged). Patches the concrete
    class: pyspark 4 routes DataFrame calls through the classic subclass,
    which overrides these methods."""

    def wrap(orig):
        def capturing(self, *args, **kwargs):
            captured.append(_explain_str(self))
            return orig(self, *args, **kwargs)

        return capturing

    origs = {m: getattr(DataFrame, m) for m in BUILDTIME_ACTIONS}
    for m, orig in origs.items():
        setattr(DataFrame, m, wrap(orig))
    try:
        yield
    finally:
        for m, orig in origs.items():
            setattr(DataFrame, m, orig)


def _top_level_bracket_groups(s: str) -> list[str]:
    """Split a formatted-plan Arguments line into its top-level [...]
    groups. Regex bracket-matching miscounts here: the window-function
    spec group itself contains brackets/parens, so only a depth counter
    is reliable."""
    groups, depth, cur = [], 0, None
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                cur = None
                continue
        if cur is not None:
            cur.append(ch)
    return groups


def global_windows_in(plan: str) -> list[str]:
    """Window nodes whose spec is single-partition. Formatted-mode
    `Arguments:` carries [functions], [partition], [order] — but the
    partition group is OMITTED (not emitted empty) when absent, so:
    two groups whose last carries sort tokens = global ORDERED window
    (single-partition sort); any empty partition group = global
    unordered window (Window.partitionBy()); two groups without sort
    tokens = partition-only window (key-partitioned, scale-safe)."""
    bad = []
    for m in re.finditer(r"\(\d+\) Window\n(?:[^\n]*\n)*?Arguments: (.*)", plan):
        g = _top_level_bracket_groups(m.group(1))
        ordered_last = g and ("ASC NULLS" in g[-1] or "DESC NULLS" in g[-1])
        if (len(g) == 2 and ordered_last) or any(
            not grp.strip() for grp in g[1:]
        ):
            bad.append(m.group(1)[:160])
    return bad


def shape_of(plans: list[str]) -> dict[str, int]:
    """The ledger line of one query: ``plans`` is its final plan followed
    by its build-time plans. Formatted mode details each node once, under
    a ``(id) Name`` header."""
    nodes = Counter(m.group(1) for p in plans for m in re.finditer(r"^\(\d+\) (\w+)", p, re.M))
    row = {n: nodes[n] for n in COUNTED_NODES}
    row["single-partition Window"] = sum(len(global_windows_in(p)) for p in plans)
    row["build-time actions"] = len(plans) - 1
    return {k: v for k, v in row.items() if v}


def format_ledger(rows: dict[str, dict[str, int]]) -> str:
    """JSON with one line per query, sorted by name, so a plan change is
    a one-line diff."""
    body = ",\n".join(f"{json.dumps(n)}: {json.dumps(rows[n])}" for n in sorted(rows))
    return "{\n" + body + "\n}\n"


def ledger_diff(committed: dict, swept: dict) -> list[str]:
    """One line per difference, e.g. ``pagerank: SortAggregate 0 → 3``."""
    out = [f"{n}: in plans/shape.json but not swept" for n in sorted(committed.keys() - swept.keys())]
    out += [f"{n}: swept but not in plans/shape.json" for n in sorted(swept.keys() - committed.keys())]
    for n in sorted(committed.keys() & swept.keys()):
        old, new = committed[n], swept[n]
        for field in sorted(old.keys() | new.keys()):
            if old.get(field, 0) != new.get(field, 0):
                out.append(f"{n}: {field} {old.get(field, 0)} → {new.get(field, 0)}")
    return out


def main() -> int:
    if len(sys.argv) > 1:
        print("usage: python tools/dump_plans.py > plans/shape.json", file=sys.stderr)
        return 2
    # the ledger goes to the real stdout; anything else written there
    # (by a builder, or by the JVM started below) goes to stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    os.environ["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_SHUFFLE"] = CPUS
    spark = get_spark("plan-shape")
    rows, rc = {}, 0
    for name in sorted(QUERIES):
        plans: list[str] = []
        try:
            with _capture_buildtime(plans):
                df = QUERIES[name](spark, SF_DIR)
            rows[name] = shape_of([_explain_str(df)] + plans)
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"FAIL {name}: {exc}", file=sys.stderr)
            rc = 1
    out.write(format_ledger(rows))
    out.close()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
