"""bench.py output contract — the driver keeps only the TAIL of stdout
and machine-reads the LAST line, so bench must print the full per-query
record first and a compact parseable summary last (r5 verdict: every
BENCH_r0*.json had parsed=null because the single giant line truncated)."""

from __future__ import annotations

import json


def test_bench_prints_compact_parseable_line_last(spark, monkeypatch, capsys):
    import bench

    # ADVICE r12: the reps==2 assertion below pins the DEFAULT — an
    # inherited SPARK_GRAFT_BENCH_REPS from the shell must not leak in
    monkeypatch.delenv("SPARK_GRAFT_BENCH_REPS", raising=False)
    monkeypatch.setattr(bench, "HEADLINE", [])
    monkeypatch.setattr(
        bench, "QUERIES", {"probe": lambda s, sf_dir: s.range(3).toDF("id")}
    )
    bench.main()
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 3, lines
    full, chunk, compact = (json.loads(l) for l in lines)
    assert full["metric"] == compact["metric"] == "queries_total_wall"
    assert full["value"] == compact["value"]
    assert set(full["queries"]) == {"probe"}
    assert compact["n_queries"] == 1
    assert "queries" not in compact  # must stay small enough for tail capture
    assert compact["mean_sec_per_query"] == round(compact["value"], 3)
    assert len(lines[-1]) < 400
    # r14 (r13 verdict item 1): per-query minima re-emitted as small
    # independently-parseable chunk lines between the full line and the
    # compact summary, so the driver's ~2000-char stdout tail keeps
    # per-query numbers for the slowest queries (chunks are ordered
    # ascending; the summary stays LAST and never carries "queries")
    assert chunk == {"queries": full["queries"]}
    assert len(lines[1]) < 250  # each chunk line must fit the tail easily
    # r12 protocol (r11 verdict item 5): driver-visible bench defaults to
    # min-of-2, and the full line carries per-rep walls + GC deltas so
    # co-tenancy is separable from plan drift (item 7)
    assert full["reps"] == compact["reps"] == 2
    assert full["rep_secs"]["probe"] and len(full["rep_secs"]["probe"]) == 2
    assert full["queries"]["probe"] == min(full["rep_secs"]["probe"])
    assert isinstance(full["gc_ms"].get("probe"), int)
    assert "rep_spread_sec" in compact and "gc_total_sec" in compact
    # r13 (r12 verdict item 7): per-query stage-time capture — under the
    # UI-less test session the column degrades to empty/None, never fails
    assert full["stage_ms"] == {}
    assert compact["stage_run_total_sec"] is None


def test_bench_chunk_lines_ascending_and_tail_sized(spark, monkeypatch, capsys):
    """r14 protocol: per-query chunk lines are small, independently
    parseable, cover every query exactly once, and are ordered ascending
    by min time so the slowest queries survive the driver's stdout-tail
    cut (the cut removes the FRONT of stdout)."""
    import time as _time

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REPS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    monkeypatch.setattr(bench, "HEADLINE", [])

    def mk(i):
        def fn(s, sf_dir, _i=i):
            _time.sleep(0.002 * _i)
            return s.range(1).toDF("id")

        return fn

    names = [f"q{i:02d}" for i in range(14)]
    monkeypatch.setattr(bench, "QUERIES", {n: mk(i) for i, n in enumerate(names)})
    bench.main()
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    full, chunks, compact = json.loads(lines[0]), lines[1:-1], json.loads(lines[-1])
    assert "queries" not in compact and compact["n_queries"] == 14
    seen: dict[str, float] = {}
    prev_max = float("-inf")
    for raw in chunks:
        d = json.loads(raw)
        assert set(d) == {"queries"} and len(raw) < 250
        vals = list(d["queries"].values())
        # ascending across chunk boundaries: this chunk's smallest value
        # is >= the previous chunk's largest
        assert min(vals) >= prev_max
        prev_max = max(vals)
        seen.update(d["queries"])
    assert seen == full["queries"]


def test_bench_summary_carries_slowest_within_tail(spark, monkeypatch, capsys):
    """The LAST line carries ``"slowest"``: the top-N per-query minima,
    slowest first, and stays within 1900 chars even with 40 of the
    longest registered query names — trimmed from the fast end when
    realistic multi-second values would push it past the limit."""
    import bench
    from graph_db_spark.plans.queries import QUERIES

    longest = sorted(QUERIES, key=lambda n: (-len(n), n))[:40]
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    monkeypatch.setattr(bench, "HEADLINE", [])
    monkeypatch.setattr(
        bench, "QUERIES", {n: (lambda s, sf_dir: s.range(1).toDF("id")) for n in longest}
    )
    bench.main()
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    full, compact = json.loads(lines[0]), json.loads(lines[-1])
    assert len(lines[-1]) <= 1900
    ranked = sorted(full["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    assert list(compact["slowest"].items()) == ranked[: len(compact["slowest"])]
    assert len(compact["slowest"]) == 40  # sub-second minima all fit
    # multi-minute minima make every entry longer: the line is trimmed
    # from the fast end, never past 1900 chars, never reordered
    big = {n: 1000.0 + i + 0.123 for i, n in enumerate(longest)}
    line = bench._summary_line({k: v for k, v in compact.items() if k != "slowest"}, big)
    trimmed = json.loads(line)["slowest"]
    assert len(line) <= 1900 and 0 < len(trimmed) < 40
    ranked = sorted(big.items(), key=lambda kv: -kv[1])
    assert list(trimmed.items()) == ranked[: len(trimmed)]


def test_run_module_exposes_traced_entry_points():
    """perfbench's traced ``graph_etl`` wraps these ``graph_db_spark.run``
    attributes by name; a move that drops one would silently empty the
    ``upsert``/``pipeline`` layers of ``--trace 1``."""
    from graph_db_spark import run

    for name in ("run", "build", "merge_into_parquet_table", "write_table", "assert_unique_key"):
        assert callable(getattr(run, name, None)), name
