"""Sequential change-point detection — two-sided CUSUM per key.

The CUSUM recurrence (S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ−μ−kσ)), mirrored for S⁻;
a drift fires when either side exceeds hσ, then resets) is inherently
order-dependent per key — no window function expresses it. Like
``sequence_packing``, the honest Spark shape is ``applyInPandas``: keys
process in parallel, each group's fold runs in one Arrow batch; the
streaming twin is ``applyInPandasWithState`` with (S⁺, S⁻) as the state
(same escape hatch as ``stateful_sessions``).

Scale: one shuffle on the key; group size = events per key (bounded by
the key's activity horizon — repartition the time axis into the key for
unbounded histories). μ/σ come from the same groupBy pass.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DRIFT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("n_events", LongType()),
        StructField("n_drifts", LongType()),
        StructField("max_cusum", DoubleType()),
    ]
)


def cusum_fold(values: list[float], mean: float, std: float, k_sigmas: float, h_sigmas: float):
    """The reference fold, shared by the executor code and tests: returns
    (n_drifts, max_cusum). Pure float arithmetic in input order — the
    DuckDB oracle replays it with a list_reduce over the same ordering."""
    k = k_sigmas * std
    h = h_sigmas * std
    sp = sn = 0.0
    nd = 0
    mx = 0.0
    for x in values:
        sp = max(0.0, sp + (x - mean - k))
        sn = max(0.0, sn + (mean - x - k))
        mx = max(mx, sp, sn)
        if h > 0 and (sp > h or sn > h):
            nd += 1
            sp = sn = 0.0
    return nd, mx


# CUSUM slack k and decision threshold h, in per-key sigmas; the
# cusum_drift_detection oracle replays the same fold
_CUSUM_K_SIGMAS, _CUSUM_H_SIGMAS = 0.5, 4.0


def cusum_drift(events: DataFrame) -> DataFrame:
    """Per-``user_id`` two-sided CUSUM over time-ordered ``value``s:
    returns ``(key, n_events, n_drifts, max_cusum)`` with μ/σ taken per
    key (the self-calibrating form). Deterministic: ordering is (ts,
    event_id), and the fold is a pure function of that sequence."""
    rows = events.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("tb"),
        F.col("value").cast("double").alias("x"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        # applyInPandas hands the WHOLE group as one DataFrame (unlike
        # mapInPandas' batch iterator) — the fold must see every row
        pdf = pdf.sort_values(["ts", "tb"], kind="mergesort")
        xs = pdf["x"].tolist()
        n = len(xs)
        mean = sum(xs) / n
        var = sum((x - mean) ** 2 for x in xs) / (n - 1) if n > 1 else 0.0
        nd, mx = cusum_fold(xs, mean, var ** 0.5, _CUSUM_K_SIGMAS, _CUSUM_H_SIGMAS)
        return pd.DataFrame(
            {"key": [pdf["key"].iloc[0]], "n_events": [n], "n_drifts": [nd], "max_cusum": [mx]}
        )

    return rows.groupBy("key").applyInPandas(fold, schema=DRIFT_SCHEMA)


HOLT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_obs", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast", DoubleType()),
    ]
)


def holt_fold(xs: list[float], alpha: float, beta: float):
    """Holt's linear-trend recurrence (l₁=x₁, b₁=0): the shared
    reference fold — pure float arithmetic in input order, replayed by
    the DuckDB oracle's recursive CTE with identical expressions. The
    one-minus constants are precomputed ONCE by the caller's float
    literals on both sides, so every multiply uses bit-identical
    coefficients."""
    oma, omb = 1.0 - alpha, 1.0 - beta
    l, b = xs[0], 0.0
    for x in xs[1:]:
        l1 = alpha * x + oma * (l + b)
        b = beta * (l1 - l) + omb * b
        l = l1
    return l, b


# Holt smoothing weights and forecast horizon, replayed by the
# holt_linear_forecast oracle
_HOLT_ALPHA, _HOLT_BETA, _HOLT_HORIZON = 0.5, 0.3, 3


def holt_linear(series: DataFrame, key_col: str, order_col: str, value_col: str) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend, weights
    ``_HOLT_ALPHA``/``_HOLT_BETA``) with an h-step-ahead forecast l + h·b,
    h = ``_HOLT_HORIZON``. Unlike EWMA (whose one-state
    recurrence has the rescaled-cumsum closed form — see
    ewma_smoothing), the two-state Holt recurrence is a 2x2 matrix
    product chain no window function expresses, so this is the honest
    ``applyInPandas`` fold: one shuffle on the key, each series folded in
    one Arrow batch, keys in parallel (the CUSUM discipline above). The
    recurrence is a contraction (alpha, beta < 1), so input ulps don't
    amplify across steps."""
    rows = series.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("x"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o", kind="mergesort")
        xs = pdf["x"].tolist()
        lvl, tr = holt_fold(xs, _HOLT_ALPHA, _HOLT_BETA)
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "n_obs": [len(xs)],
                "level": [lvl],
                "trend": [tr],
                "forecast": [lvl + _HOLT_HORIZON * tr],
            }
        )

    return rows.groupBy("key").applyInPandas(fold, schema=HOLT_SCHEMA)
