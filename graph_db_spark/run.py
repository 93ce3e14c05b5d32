"""CLI orchestrator — the reference's entry point, Spark-first.

Parity with ``main_graph_topraq.py``:

- ``--only`` / ``--skip`` task selection (``_parse_args`` :65-81, gate loop
  :327-334) — here selection pulls transitive dependencies instead of
  relying on list position;
- ``--start`` / ``--end`` incremental processing window (:78-80) — a range
  predicate on the sensor stream; re-running overlapping windows is safe
  because every table lands through the idempotent keyed upsert (the MERGE
  contract, window widening included);
- per-task ``[TIMER]`` wall-clock prints (``measure_async`` :48-54) and a
  total;
- constraints: instead of DDL (:119), every node table's natural key is
  asserted unique after materialization.

Usage::

    python -m graph_db_spark.run --sf-dir /root/testdata/sf0.001 \
        --out /tmp/graph_out --only weather_days has_weather_day \
        --start 2024-01-01 --end 2024-02-01

Writes one parquet table per task under ``--out``; with ``--mode upsert``
existing tables are MERGEd on the task's natural key (re-run safe),
``--mode overwrite`` replaces them.
"""

from __future__ import annotations

import argparse
import os
import time

from graph_db_spark.plans.pipeline import REGISTRY, build
from graph_db_spark.session import get_spark
from graph_db_spark.writers.upsert import assert_unique_key, merge_into_parquet_table, write_table


def run(
    spark,
    sf_dir: str,
    out_dir: str,
    only: list[str] | None = None,
    skip: list[str] | None = None,
    start: str | None = None,
    end: str | None = None,
    mode: str = "upsert",
) -> dict[str, float]:
    """Materialize the selected DAG targets to ``out_dir``; returns
    {task → seconds}. Library entry so tests/drivers skip argparse."""
    dfs = build(spark, sf_dir, only=only, skip=skip, start=start, end=end)
    timings: dict[str, float] = {}
    total0 = time.monotonic()
    for name, df in dfs.items():
        t0 = time.monotonic()
        td = REGISTRY[name]
        path = os.path.join(out_dir, name)
        if mode == "upsert" and td.keys:
            # the locked staged-rename MERGE (writers/upsert.py): never
            # overwrites the directory it is lazily reading, serializes
            # concurrent writers, and is crash-recoverable mid-swap
            merge_into_parquet_table(df, path, td.keys)
        else:
            write_table(df, path, keys=td.keys or None)
        if td.kind == "node" and td.keys:
            assert_unique_key(spark.read.parquet(path), td.keys)
        timings[name] = round(time.monotonic() - t0, 3)
        print(f"[TIMER] {name}: {timings[name]}s")
    print(f"[TIMER] TOTAL: {round(time.monotonic() - total0, 3)}s")
    return timings


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--out", required=True, help="output directory for node/edge parquet tables")
    ap.add_argument("--only", nargs="*", default=None, help="task subset (deps pulled automatically)")
    ap.add_argument("--skip", nargs="*", default=None)
    ap.add_argument("--start", default=None, help="ISO start of the sensor window (inclusive)")
    ap.add_argument("--end", default=None, help="ISO end of the sensor window (exclusive)")
    ap.add_argument("--mode", choices=["upsert", "overwrite"], default="upsert")
    ap.add_argument("--list", action="store_true", help="list known tasks and exit")
    args = ap.parse_args(argv)
    if args.list:
        for name, td in REGISTRY.items():
            print(f"{td.kind:4s} {name}" + (f"  keys={td.keys}" if td.keys else ""))
        return 0
    spark = get_spark("graph-db-spark-run")
    run(
        spark, args.sf_dir, args.out,
        only=args.only, skip=args.skip, start=args.start, end=args.end,
        mode=args.mode,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
