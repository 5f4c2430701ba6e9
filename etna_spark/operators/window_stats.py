"""Window statistics over the time axis within a series — the heart of the
reference's feature layer (SURVEY.md §2.5).

Semantics match ETNA's ``WindowStatisticsTransform`` family
(/root/reference/etna/transforms/math/statistics.py:18-131 and subclasses),
pinned by the reference's golden tests
(tests/test_math/test_statistics_transform.py:110-330), which we port in
tests/test_window_stats.py:

- the window INCLUDES the current row and extends back in strides of
  ``seasonality``: points {t, t-s, t-2s, ..., t-(window-1)s};
- ``window=-1`` means all history;
- ``min_periods`` counts NON-NULL points in the strided window; fewer →
  result is null;
- remaining null results are replaced with ``fillna``;
- ``MeanTransform`` with ``alpha`` weights point at stride-offset i by
  ``alpha**i`` and divides by the NON-NULL COUNT (reference nanmean of the
  weighted window — not a weighted mean).

Physical strategy: when ``seasonality == 1`` and the aggregate is
SQL-expressible (mean α=1 / sum / min / max / std ddof=1 / min-max-diff) we
emit a native window expression — whole-stage-codegen'd, no Python. Exact
quantile/median/MAD/weighted-mean and any strided (s>1) window go through a
vectorized numpy kernel in ``applyInPandas`` (same sliding-window approach as
the reference, Arrow-batched per series group; never per-row Python).

Scale: both paths shuffle once on the series key; the pUDF kernel is
O(n·window) per series with bounded memory (2-D stride view, no 3-D tensor).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from etna_spark.sqltext import RUNNING, double, ident, over, rows_back

NATIVE_AGGS = {"mean", "sum", "min", "max", "std", "minmaxdiff"}
ALL_AGGS = NATIVE_AGGS | {"median", "quantile", "mad"}


def _strided_windows(x: np.ndarray, window: int, seasonality: int) -> np.ndarray:
    """(n, w) view: row t holds [x_t, x_{t-s}, ..., x_{t-(w-1)s}] (NaN-padded)."""
    history = window * seasonality
    rev = x[::-1]
    arr = np.concatenate([rev, np.full(history - 1, np.nan)])
    wins = np.lib.stride_tricks.sliding_window_view(arr, history)[:, ::seasonality]
    return wins  # reversed row order; caller flips the aggregate


def _kernel(
    x: np.ndarray,
    agg: str,
    window: int,
    seasonality: int,
    min_periods: int,
    fillna: float,
    alpha: float,
    quantile: float | None,
    ddof: int,
) -> np.ndarray:
    n = len(x)
    if n == 0:
        return np.array([], dtype=np.float64)
    if window == -1:
        window = (n - 1) // seasonality + 1
    wins = _strided_windows(x.astype(np.float64), window, seasonality)
    counts = (~np.isnan(wins)).sum(axis=1)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN slices
        if agg == "mean":
            if alpha == 1.0:
                y = np.nanmean(wins, axis=1)
            else:
                weights = alpha ** np.arange(wins.shape[1])
                y = np.nanmean(wins * weights, axis=1)
        elif agg == "sum":
            y = np.nansum(wins, axis=1)
        elif agg == "min":
            y = np.nanmin(wins, axis=1, initial=np.inf, where=~np.isnan(wins))
            y = np.where(counts == 0, np.nan, y)
        elif agg == "max":
            y = np.nanmax(wins, axis=1, initial=-np.inf, where=~np.isnan(wins))
            y = np.where(counts == 0, np.nan, y)
        elif agg == "minmaxdiff":
            mx = np.nanmax(wins, axis=1, initial=-np.inf, where=~np.isnan(wins))
            mn = np.nanmin(wins, axis=1, initial=np.inf, where=~np.isnan(wins))
            y = np.where(counts == 0, np.nan, mx - mn)
        elif agg == "std":
            y = np.full(len(wins), np.nan)
            ok = counts > ddof
            if ok.any():
                y[ok] = np.sqrt(
                    np.nanvar(wins[ok], axis=1, ddof=ddof)
                )
        elif agg == "median":
            y = np.nanmedian(wins, axis=1)
        elif agg == "quantile":
            y = np.nanquantile(wins, quantile, axis=1)
        elif agg == "mad":
            m = np.nanmean(wins, axis=1, keepdims=True)
            y = np.nanmean(np.abs(wins - m), axis=1)
        else:  # pragma: no cover
            raise ValueError(f"unknown agg {agg}")
    y = np.asarray(y, dtype=np.float64)
    y[counts < min_periods] = np.nan
    y = np.nan_to_num(y, nan=fillna)[::-1]
    return y


def window_stat(
    df: DataFrame,
    in_col: str,
    out_col: str,
    agg: str,
    window: int,
    seasonality: int = 1,
    min_periods: int = 1,
    fillna: float = 0.0,
    alpha: float = 1.0,
    quantile: float | None = None,
    ddof: int = 1,
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Append ``out_col`` = windowed statistic of ``in_col`` (double)."""
    if agg not in ALL_AGGS:
        raise ValueError(f"agg must be one of {sorted(ALL_AGGS)}")
    native = (
        seasonality == 1
        and agg in NATIVE_AGGS
        and (agg != "mean" or alpha == 1.0)
        and (agg != "std" or ddof == 1)
    )
    if native:
        ts = ident(ts_col)
        w = over(series_cols, ts, RUNNING if window == -1 else rows_back(window - 1))
        v = ident(in_col)
        if agg == "minmaxdiff":
            expr = f"max({v}) {w} - min({v}) {w}"
        else:  # std is ddof=1: null below 2 points, like nanstd ddof=1
            fn = {"mean": "avg", "std": "stddev_samp"}.get(agg, agg)
            expr = f"{fn}({v}) {w}"
        return df.withColumns({out_col: F.expr(
            f"CAST(coalesce(CASE WHEN count({v}) {w} >= {int(min_periods)} "
            f"THEN {expr} END, {double(fillna)}) AS DOUBLE)")})

    # pUDF path: whole-series numpy kernel per group, Arrow-batched.
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, DoubleType(), True)]
    )
    in_cols = list(df.columns)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        x = pdf[in_col].to_numpy(dtype=np.float64, na_value=np.nan)
        pdf[out_col] = _kernel(
            x, agg, window, seasonality, min_periods, float(fillna), alpha,
            quantile, ddof,
        )
        return pdf[in_cols + [out_col]]

    return df.groupBy(*series_cols).applyInPandas(apply_fn, schema=out_schema)


def rolling_corr_pair(
    df: DataFrame,
    x_col: str,
    y_col: str,
    window: int = 24,
    ts_col: str = "bucket_ts",
    out_col: str = "corr",
):
    """Trailing-window Pearson correlation between two aligned integer
    series (one row per timestamp, both measures present). Exact-chain
    discipline: the five window sums are BIGINT (reduction-order-proof),
    and the closing float ops run in one fixed order —
    num / (sqrt(d1) * sqrt(d2)) — identical in any IEEE engine (sqrt is
    correctly rounded in both Spark and DuckDB).

    Emitted only for full windows; zero-variance windows yield NULL.
    Reference twin: the rolling feature family of WindowStatistics plus
    the pairwise correlation EDA (plot_correlation_matrix) — here as a
    time-resolved pair statistic.
    """
    from pyspark.sql import Window as W

    w = W.orderBy(ts_col).rowsBetween(-(window - 1), 0)
    x, y = F.col(x_col), F.col(y_col)
    n = F.lit(window)
    sx = F.sum(x).over(w)
    sy = F.sum(y).over(w)
    sxx = F.sum(x * x).over(w)
    syy = F.sum(y * y).over(w)
    sxy = F.sum(x * y).over(w)
    cnt = F.count("*").over(w)
    num = (n * sxy - sx * sy).cast("double")
    d1 = (n * sxx - sx * sx).cast("double")
    d2 = (n * syy - sy * sy).cast("double")
    corr = F.when(
        (d1 > 0) & (d2 > 0), num / (F.sqrt(d1) * F.sqrt(d2))
    )
    return (
        df.withColumn("_cnt", cnt)
        .withColumn(out_col, F.round(corr, 6))
        .filter(F.col("_cnt") >= window)
        .drop("_cnt")
    )
