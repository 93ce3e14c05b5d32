"""tools/check_correctness.py command line: a query list with a typo must
fail before Spark starts, not run nothing and report ALL GREEN."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_correctness.py"


def test_unknown_query_names_rejected_before_spark(monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location("check_correctness", TOOL)
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    def no_spark(*_args, **_kwargs):
        raise AssertionError("Spark started for a query list with unknown names")

    monkeypatch.setattr(cc, "get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv",
        ["check_correctness.py", "/nonexistent", "ngram_jaccard_pairs", "ngram_jacard_pairs"],
    )
    assert cc.main() != 0
    out = capsys.readouterr().out
    assert "ngram_jacard_pairs" in out
    assert "ngram_jaccard_pairs" not in out  # only the unknown name is listed
    assert "ALL GREEN" not in out
