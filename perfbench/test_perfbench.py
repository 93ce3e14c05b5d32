"""Tests of the benchmark itself: a tiny pass of every workload in both
modes, a tampered result, the no-engine exit and the metric lists.

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from fixture import KEY_COLUMNS, generate, key_width, replicate  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from run import END_TO_END  # noqa: E402
from spans import Span, covered, self_times  # noqa: E402

WORKLOADS = ("query_mix", "graph_rounds", "graph_etl")


def _tiny(workload: str, seed: int, trace: bool, tamper: bool = False) -> dict:
    """One pass of ``workload`` at sf0.001 with one fixture copy, in process."""
    import tempfile

    import run

    work = os.path.join(ROOT, ".bench_work", f"test-{workload}-{int(trace)}-{int(tamper)}")
    env, tmp = dict(os.environ), tempfile.tempdir
    run._configure(work, trace)
    try:
        return run.run(workload, seed, 0.0, trace, work, sf=0.001, copies=1, tamper=tamper)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = tmp


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_pass_prints_every_metric_with_unit(workload, trace):
    result = json.loads(json.dumps(_tiny(workload, 3, trace)))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = PER_LAYER if trace else END_TO_END
    assert list(result["metrics"]) == list(expected)
    for name, m in result["metrics"].items():
        assert m["unit"] == expected[name]
        assert isinstance(m["value"], float) and m["value"] == m["value"], name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tampered_result_counts_as_failed(workload):
    result = _tiny(workload, 5, True, tamper=True)
    assert result["correct"] is False
    assert result["failed"] == 1
    frac = result["metrics"]["failed_frac"]["value"]
    assert frac == pytest.approx(1 / result["attempted"])


def test_exits_nonzero_without_engine_source(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_replicate_shifts_every_key_by_copy(tmp_path):
    import pyarrow.parquet as pq

    base, out = str(tmp_path / "base"), str(tmp_path / "out")
    stats = generate(base, 0.001, seed=11)
    again = generate(str(tmp_path / "again"), 0.001, seed=11)
    assert stats == again  # same seed, same inputs
    replicate(base, out, copies=3)
    w = key_width(base)
    orders = pq.read_table(f"{base}/orders.parquet").to_pydict()
    copied = pq.read_table(f"{out}/orders.parquet").to_pydict()
    n = len(orders["o_orderkey"])
    assert len(copied["o_orderkey"]) == 3 * n
    for i in range(3):
        part = slice(i * n, (i + 1) * n)
        for col in ("o_orderkey", "o_custkey"):
            assert col in KEY_COLUMNS
            assert copied[col][part] == [k + (i + 1) * 10**w for k in orders[col]]
        assert copied["o_totalprice"][part] == orders["o_totalprice"]


def test_self_times_and_coverage():
    outer, inner = Span(0, None, "a", "x"), Span(1, 0, "b", "y")
    outer.t0, outer.t1, inner.t0, inner.t1 = 0.0, 10.0, 2.0, 5.0
    assert self_times([outer, inner]) == {0: 7.0, 1: 3.0}
    assert covered([(1, 3), (2, 4), (6, 7), (9, 12)], 0, 10) == pytest.approx(5.0)
