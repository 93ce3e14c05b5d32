"""Session factory: env knobs parse forgivingly (no Spark session needed)."""

from __future__ import annotations

import pytest

from graph_db_spark.session import _df_debug_conf


@pytest.mark.parametrize(
    "raw, want",
    [
        ("1", "true"), ("yes", "true"), ("True ", "true"), ("TRUE", "true"),
        ("0", "false"), ("no", "false"), ("false", "false"), ("", "false"),
        ("junk", "false"),
    ],
)
def test_df_debug_env_parses_forgivingly(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_DF_DEBUG", raw)
    assert _df_debug_conf() == want


def test_df_debug_env_unset_is_false(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DF_DEBUG", raising=False)
    assert _df_debug_conf() == "false"
