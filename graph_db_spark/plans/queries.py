"""Driver-contract query registry.

One named entry per implemented SURVEY.md §2 operator:
``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLE_SQL[name]`` —
equivalent ANSI SQL for the DuckDB oracle (views: region nation customer
supplier part orders lineitem events documents embeddings).

Conventions that keep the value-hash comparison deterministic:

- every computed column is aliased identically in Spark and SQL;
- float aggregates are ``round(x, 4)`` on both sides (eliminates
  summation-order last-bit drift);
- dates/timestamps are emitted as formatted strings on both sides;
- integer aggregates are cast to BIGINT on both sides (DuckDB sums of
  integers are HUGEINT otherwise).

The inventory lives in plans/families/q*.py, one module per family
band. This module imports them IN ORDER: each ``@register`` call runs
at import, so the import order below is the QUERIES/ORACLE_SQL dict
order the driver gate reads. Private helpers are imported from the
family module that defines them.
"""

from __future__ import annotations

from graph_db_spark.plans.families import (  # noqa: F401 — imported for their @register calls
    q00_base,
    q01_relational_pipeline,
    q02_datetime_rollups,
    q03_dedup_bounds_gate,
    q04_sessions_events,
    q05_scd2_graph_ivm,
    q06_curation_streaming,
    q07_timeseries_stats,
    q08_survival_sampling,
    q09_graph_oracles,
    q10_hypothesis_tests,
    q11_rank_stats_lm,
    q12_uplift_attribution,
    q13_tsa_retrieval,
    q14_retrieval_drift,
)
from graph_db_spark.plans.families.q00_base import ORACLE_SQL, QUERIES

__all__ = ["ORACLE_SQL", "QUERIES"]
