"""Benchmark driver: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON
line {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is executed once warm-up-free but after a shared-session JVM
start; timing covers logical-plan build + execution + a count() action
(materializes every row without driver-side collect costs).

Noise protocol: the bench host is shared and single-run timings at sf0.1
swing up to 2× under external load (BASELINE.md §noise). Every query runs
SPARK_GRAFT_BENCH_REPS times (DEFAULT 2 as of r12 — the r11 verdict's
protocol fix: reps=1 driver benches were too noisy to detect real <=1.3x
per-query regressions) and the per-query MINIMUM is recorded — the min
over reps estimates the uncontended cost and is the number comparable
across rounds. The JSON carries "reps" plus, when reps>1, per-query
"rep_secs" (all rep wall times), "gc_ms" (JVM GC time during the
query's reps) and "stage_ms" ([executor run ms, executor cpu ms] from
the UI status REST API, r12 verdict item 7) in the FULL first line, so
co-tenant interference is separable from plan drift without a rerun:
wall >> stage-run+gc = hypervisor steal; stage-run up with flat GC =
plan drift; gc up = memory pressure — the r11 verdict item 7 ask.

Output protocol (r14, r13 verdict item 1): the driver records only a
~2000-char stdout TAIL, which truncates the full first line, so the
per-query minima are ALSO re-emitted as small chunk lines — each an
independently parseable {"queries": {...}} JSON object — ordered
ascending by time so the slowest (most informative) queries sit in the
surviving tail window. The compact totals summary stays the LAST line;
it also carries ``"slowest": {name: min_sec}`` — up to the 40 slowest
queries, slowest first, trimmed so the line stays within 1900 chars —
so a parser that reads only that line still gets the per-query numbers
that matter most.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graph_db_spark.plans.queries import QUERIES  # noqa: E402
from graph_db_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "event_day_stats",
    "broadcast_dim_join",
    "asof_nearest_line",
    "sessionization",
    "interval_scoped_avg",
    "running_idx",
    "dedup_first_wins",
    "topk_per_group",
    "enrich_missing_brand",
]


def _jvm_gc_ms(spark) -> int | None:
    """Cumulative JVM GC milliseconds (all collectors) via the management
    MXBeans — deltas around a query separate GC pressure from hypervisor
    steal when a rep's wall time swings."""
    try:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return int(sum(b.getCollectionTime() for b in beans))
    except Exception:  # noqa: BLE001 — connect-mode or JVM API absence
        return None


def _stage_snapshot(spark):
    """(max stage id seen, {stageId: (executorRunTime_ms,
    executorCpuTime_ms)}) over COMPLETE stages from the UI REST status
    API -- per-query metrics are summed over stage ids NEWER than the
    pre-query max (r12 verdict item 7: with gc_ms and rep spread this
    closes the attribution triangle -- wall >> run+gc = hypervisor
    steal; run up with flat GC = plan drift). Id-based deltas, NOT
    cumulative totals: the UI evicts old stages past
    spark.ui.retainedStages, so a cumulative sum goes DOWN mid-run and
    produced negative per-query deltas in the first implementation.
    Stage ids only grow, and a query's stages all complete before its
    count() returns, so the newer-than-watermark sum is eviction-proof.
    Requires spark.ui.enabled (bench sets SPARK_GRAFT_UI); returns None
    wherever the UI is off (test-suite sessions)."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10,
        ) as resp:
            stages = json.load(resp)
        per = {
            s["stageId"]: (
                s.get("executorRunTime", 0),
                s.get("executorCpuTime", 0) // 1_000_000,
            )
            for s in stages
            if "stageId" in s
        }
        return (max(per) if per else -1), per
    except Exception:  # noqa: BLE001 -- REST/UI absence must never fail bench
        return None


def _loadavg() -> list[float] | None:
    """1/5/15-minute load averages — recorded at start and end so
    cross-round comparisons can reject load-contaminated runs
    mechanically (the shared host swings same-code timings up to 2×)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _summary_line(summary: dict, timings: dict[str, float]) -> str:
    """``summary`` as one JSON line plus ``"slowest"``: the 40 slowest
    per-query minima, slowest first, with the fastest of them dropped
    one by one until the line fits in 1900 chars (inside the driver's
    ~2000-char stdout tail)."""
    slowest = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:40]
    while True:
        line = json.dumps({**summary, "slowest": dict(slowest)})
        if len(line) <= 1900 or not slowest:
            return line
        slowest.pop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_start = _loadavg()
    # opt into the UI status REST API for per-query stage-time capture;
    # only effective when THIS process creates the session (the driver
    # bench path) — an inherited UI-less session degrades to nulls
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("graph-db-spark-bench")
    # warm the JVM + parquet footers with a trivial action
    spark.range(1).count()

    import gc

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    timings: dict[str, float] = {}
    rep_secs: dict[str, list[float]] = {}
    gc_ms: dict[str, int] = {}
    stage_ms: dict[str, list[int]] = {}
    extra = [n for n in QUERIES if n not in HEADLINE]
    for name in HEADLINE + extra:
        fn = QUERIES[name]
        secs: list[float] = []
        g0 = _jvm_gc_ms(spark)
        s0 = _stage_snapshot(spark)
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            secs.append(time.perf_counter() - t0)
            # release cached blocks (iterative queries localCheckpoint; the
            # blocks only free when the Python-side handles are collected)
            # so later queries aren't squeezed by dead checkpoint storage.
            gc.collect()
            spark.catalog.clearCache()
        g1 = _jvm_gc_ms(spark)
        s1 = _stage_snapshot(spark)
        timings[name] = round(min(secs), 3)
        if reps > 1:
            rep_secs[name] = [round(s, 3) for s in secs]
            # gc_ms gated with rep_secs (ADVICE r12: the docstring
            # promises both only "when reps>1" — a reps=1 run has no
            # spread to attribute, so the GC column is noise there)
            if g0 is not None and g1 is not None:
                gc_ms[name] = g1 - g0
            if s0 is not None and s1 is not None:
                # [executor run ms, executor cpu ms] across the reps:
                # sum of stages newer than the pre-query watermark
                mark = s0[0]
                new_stages = [v for k, v in s1[1].items() if k > mark]
                stage_ms[name] = [
                    sum(v[0] for v in new_stages),
                    sum(v[1] for v in new_stages),
                ]

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(
        json.dumps(
            {
                "metric": "queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "rep_secs": rep_secs,
                "gc_ms": gc_ms,
                "stage_ms": stage_ms,
                "reps": reps,
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "sf": sf_val,
            }
        )
    )
    # The driver keeps only a ~2000-char TAIL of stdout, so the full
    # per-query line above truncates in every BENCH_r0*.json and
    # PERF_r13.json had per_query = {} (r13 verdict item 1). Re-emit the
    # per-query minima as SMALL chunk lines (each independently
    # parseable JSON with a "queries" dict) so as many as possible
    # survive the tail cut. The cut removes the FRONT of stdout, so
    # chunks are ordered ASCENDING by time: the expensive queries —
    # where optimizations and regressions actually show — land in the
    # surviving window immediately before the final compact summary.
    ordered = sorted(timings.items(), key=lambda kv: (kv[1], kv[0]))
    chunk = 6
    for i in range(0, len(ordered), chunk):
        print(
            json.dumps(
                {"queries": dict(ordered[i : i + chunk])},
                separators=(",", ":"),
            )
        )
    # Compact machine-readable summary LAST so the totals contract always
    # survives tail capture (unchanged since r5).
    print(
        _summary_line(
            {
                "metric": "queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "mean_sec_per_query": round(total / max(len(timings), 1), 3),
                "reps": reps,
                # co-tenancy indicators (r11 verdict item 7): how much the
                # reps disagreed in total, and how much of the wall was JVM
                # GC — a large spread with flat GC is hypervisor steal, not
                # plan drift.
                "rep_spread_sec": round(
                    sum(max(v) - min(v) for v in rep_secs.values()), 3
                ),
                "gc_total_sec": round(sum(gc_ms.values()) / 1000.0, 3),
                "stage_run_total_sec": round(
                    sum(v[0] for v in stage_ms.values()) / 1000.0, 3
                ) if stage_ms else None,
                "loadavg_end": _loadavg(),
                "sf": sf_val,
            },
            timings,
        )
    )


if __name__ == "__main__":
    main()
