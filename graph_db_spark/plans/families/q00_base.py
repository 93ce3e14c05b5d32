"""Shared query-registry core: the QUERIES/ORACLE_SQL dicts, the
@register decorator, and the cross-family helper expressions
(r4 rounding, timestamp formatting, the portable-hash SQL
replica)."""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_db_spark.functions import scalars as S
from graph_db_spark.operators import aggregates as A
from graph_db_spark.operators import joins as J
from graph_db_spark.operators.sessionize import session_intervals
from graph_db_spark.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _sf_tag(sf_dir: str) -> str:
    """Stable per-SF tag for scratch dirs / stream names. A digest, not
    ``hash()``: Python str hash is salted per process (PYTHONHASHSEED is
    not pinned), so hash-derived tags were random per run — stale
    /tmp/graft_* trees never matched the cleanup path and paths were not
    reproducible across processes (r5 ADVICE #1)."""
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _poly_sql(expr: str, mult: int = 31) -> str:
    """DuckDB replica of operators/dedup.py:portable_hash over ``expr``:
    parse the same 8-hex-digit md5 window (mult 31 → chars 1-8, 131 →
    chars 9-16) as an integer mod 2^31-1. md5 hex output is identical in
    both engines (UTF-8 bytes, lowercase hex — verified incl. multibyte);
    the 8-step digit fold is the engine-neutral hex→int parse."""
    from graph_db_spark.operators.dedup import _MD5_WINDOW
    from graph_db_spark.operators.dedup import _MINHASH_P as P

    off = _MD5_WINDOW[mult]
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split_regex(substr(md5({expr}), {off}, 8), ''), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        f"(acc, x) -> acc * 16 + x) % {P}"
    )


def r4(c: Column) -> Column:
    # + 0.0 normalizes IEEE negative zero (-0.0 + 0.0 = +0.0): the
    # driver's serialized value-hash distinguishes -0.0 from 0.0, so any
    # rounded emission that can be a tiny negative must pin the sign.
    # Oracle SQL must apply the same `+ 0.0` after round() (r5 verdict:
    # weighted_sample_docs hash-FAIL — DuckDB round keeps -0.0).
    return F.round(c, 4) + F.lit(0.0)


def _fmt_ts(c: Column) -> Column:
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")


# ---------------------------------------------------------------------------
# A1 — daily grouped stats (flagship; weather-day semantics on `events`)
# ---------------------------------------------------------------------------


