"""Pipeline DAG: target selection, dependency resolution, uniqueness
constraints, no dangling edges (the invariant the reference violates,
SURVEY §2.10.3-4)."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_db_spark.checks import dangling_edges
from graph_db_spark.plans.pipeline import REGISTRY, build, node_id, validate_keys


def test_registry_covers_reference_families():
    """Full parity with the reference graph model: 27 node labels
    (SURVEY §1.2) and 27 relationship types (§1.3)."""
    kinds = {n: t.kind for n, t in REGISTRY.items()}
    nodes = [
        "fields", "crops", "stations", "weather_days", "soil_days",
        "irrigation_days", "canopy_days", "sap_days", "soil_layer_readings",
        "irrigation_events", "et0_days", "weather_forecasts",
        "haney_analyses", "tnd_analyses", "soil_analyses",
        "soil_param_results", "application_events", "product_applications",
        "fertilizer_products", "app_nutrient_contents",
        "sap_analyses", "sap_element_results", "optimum_sap_ranges",
        "optimum_element_ranges", "water_analyses", "water_param_results",
        "depth_points",
    ]
    edges = [
        "planted_with", "has_station", "has_weather_day", "has_soil_param",
        "has_irrigation_event", "has_application", "has_product_app",
        "uses_product",
        "at_depth", "has_forecast", "has_soil_day", "has_layer_reading",
        "has_irrigation_day", "has_canopy_day", "has_sap_day", "has_et0",
        "has_sap_analysis", "measured_element", "has_optimum_range",
        "has_optimum_element", "has_haney_analysis", "has_tnd_analysis",
        "has_soil_analysis", "has_water_analysis", "has_water_param",
        "has_nutrient_content", "contains_nutrient",
    ]
    for expected in nodes:
        assert kinds.get(expected) == "node", expected
    for expected in edges:
        assert kinds.get(expected) == "edge", expected
    assert len(nodes) == 27 and len(edges) == 27
    assert sorted(kinds) == sorted(nodes + edges)  # nothing extra, nothing missing


def test_only_pulls_transitive_deps(spark, sf_dir):
    out = build(spark, sf_dir, only=["has_product_app"])
    assert set(out) == {"has_product_app"}
    assert out["has_product_app"].columns == ["src", "dst", "rel_type"]


def test_skip_excludes(spark, sf_dir):
    out = build(spark, sf_dir, only=["fields", "crops"], skip=["crops"])
    assert set(out) == {"fields"}


def test_unknown_task_raises(spark, sf_dir):
    with pytest.raises(KeyError):
        build(spark, sf_dir, only=["nope"])


def test_node_keys_unique(spark, sf_dir):
    names = [n for n, t in REGISTRY.items() if t.kind == "node"]
    out = build(spark, sf_dir, only=names)
    validate_keys(out)  # raises on any duplicate natural key


def test_no_dangling_edges(spark, sf_dir):
    """Every endpoint of every edge resolves to a node of its declared label
    — the check the reference can't pass for HAS_SOIL_PARAM (string vs
    datetime keys, §2.10.3). Node-key uniqueness (validate_keys) says
    nothing about edges, so this is their integrity check."""
    out = build(spark, sf_dir)
    ends = []
    for name, td in REGISTRY.items():
        if td.kind != "edge":
            continue
        for end, label in zip(("src", "dst"), td.ends):
            nodes = out[label].select(node_id(label).alias("id"))
            bad = dangling_edges(out[name], nodes, [end], ["id"])
            ends.append(bad.select(F.lit(f"{name}.{end}").alias("end")))
    assert len(ends) == 54
    dangling = functools.reduce(DataFrame.unionByName, ends).groupBy("end").count()
    assert {r["end"]: r["count"] for r in dangling.collect()} == {}
    # a child's parent-id column names its parent node, not only via the edge
    ranges = out["optimum_sap_ranges"].select(node_id("optimum_sap_ranges").alias("id"))
    assert dangling_edges(out["optimum_element_ranges"], ranges, ["opt_range_id"], ["id"]).count() == 0


def test_no_dangling_water_params(spark, sf_dir):
    """Quirk §2.10.4 fixed: the canonical 'unknown' sample_source fill on
    both WaterAnalysis and WaterParamResult means every HAS_WATER_PARAM
    edge resolves (the reference dangles every null-source result)."""
    out = build(spark, sf_dir, only=["water_analyses", "has_water_param"])
    nodes = out["water_analyses"].select(node_id("water_analyses").alias("id"))
    assert dangling_edges(out["has_water_param"], nodes, ["src"], ["id"]).count() == 0
    # and the fill actually occurs (some orders have a null-ish source)
    assert out["water_analyses"].filter(F.col("sample_source") == "unknown").count() > 0


def test_optimum_range_parse_branches(spark, sf_dir):
    """F5 branches all materialize: two-sided, >=-only, <=-only, single."""
    oer = build(spark, sf_dir, only=["optimum_element_ranges"])["optimum_element_ranges"]
    both = oer.filter(F.col("range_min").isNotNull() & F.col("range_max").isNotNull())
    lo = oer.filter(F.col("range_min").isNotNull() & F.col("range_max").isNull())
    hi = oer.filter(F.col("range_min").isNull() & F.col("range_max").isNotNull())
    assert both.count() > 0 and lo.count() > 0 and hi.count() > 0
    none = oer.filter(F.col("range_min").isNull() & F.col("range_max").isNull())
    assert none.count() == 0  # unparsable rows skipped


def test_zero_sum_quirk_flavors(spark, sf_dir):
    out = build(spark, sf_dir, only=["weather_days", "irrigation_days"])
    # weather flavor keeps real sums; irrigation flavor nulls zero-sums.
    w = out["weather_days"].select(F.explode("metrics")).select("value.sum")
    assert w.filter(F.col("sum").isNull()).count() == 0


def test_full_dag_builds_all_54_tables(spark, sf_dir):
    """End-to-end: every node AND edge task of the complete 27+27 graph
    model builds and materializes non-trivially in one DAG resolution
    (the reference runs all tasks per invocation; this is that run)."""
    out = build(spark, sf_dir)
    assert len(out) == 54
    for name, df in out.items():
        n = df.count()
        assert n > 0, f"{name} produced no rows"
        if REGISTRY[name].kind == "edge":
            assert df.columns == ["src", "dst", "rel_type"], name


def test_windowed_incremental_upsert_equals_full_run(spark, sf_dir, tmp_path):
    """The reference's incremental contract (SURVEY §2.8): re-running
    overlapping --start/--end windows through the idempotent upsert writer
    converges to the same tables as one full run. Window B deliberately
    overlaps window A (the −7d widening pattern,
    graph_irrigation_event.py:52-53) — the keyed MERGE absorbs the replay."""
    from graph_db_spark.run import run

    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    # flat-schema day tables (the MapType metrics tables converge too, but
    # their collect_list entry order is nondeterministic, which a set-of-
    # stringified-rows comparison would misread as a difference)
    targets = ["et0_days", "soil_layer_readings"]
    # window A: first half of January; window B: overlapping second half
    run(spark, sf_dir, inc_dir, only=targets, start="2024-01-01", end="2024-01-20")
    run(spark, sf_dir, inc_dir, only=targets, start="2024-01-13", end="2024-02-01")
    run(spark, sf_dir, full_dir, only=targets)
    for t in targets:
        inc = spark.read.parquet(f"{inc_dir}/{t}")
        full = spark.read.parquet(f"{full_dir}/{t}")
        a = {tuple(map(str, r)) for r in inc.collect()}
        b = {tuple(map(str, r)) for r in full.collect()}
        assert a == b, t


def test_product_idx_deterministic(spark, sf_dir):
    out1 = build(spark, sf_dir, only=["product_applications"])["product_applications"]
    out2 = build(spark, sf_dir, only=["product_applications"])["product_applications"]
    a = {tuple(r) for r in out1.collect()}
    b = {tuple(r) for r in out2.collect()}
    assert a == b


def test_task_builders_read_their_declared_deps():
    """Every @task builder reads each dependency it declares: a declared
    but unread dep records a DAG edge that does not exist and makes
    build(only=[...]) resolve a task for nothing. Checked on the source by
    name lookup in each builder body — no Spark needed."""
    import ast
    import inspect

    from graph_db_spark.plans import pipeline

    checked = 0
    for fn in ast.parse(inspect.getsource(pipeline)).body:
        for dec in getattr(fn, "decorator_list", []):
            if not (isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "task"):
                continue
            deps = [ast.literal_eval(k.value) for k in dec.keywords if k.arg == "deps"]
            deps = deps[0] if deps else (ast.literal_eval(dec.args[2]) if len(dec.args) > 2 else [])
            read = {
                n.id for stmt in fn.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            assert not set(deps) - read, f"{fn.name} never reads {sorted(set(deps) - read)}"
            checked += 1
    assert checked == len(REGISTRY) - len(pipeline.EDGES)  # every hand-written task seen
