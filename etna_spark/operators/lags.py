"""Lag features and exogenous-column shifts.

Reference: ``LagTransform`` (k-step backward shift, list of lags or 1..k —
/root/reference/etna/transforms/math/lags.py:16-109) and ``ExogShiftTransform``
(shift exog columns FORWARD so future-unknown columns become usable at
horizon h — lags.py:112-313, auto mode derives the shift from the last
non-null timestamp vs the end of the target).

Spark mapping: ``F.lag(col, k)`` over (series, ts-ordered) windows — pure
WindowExec, one shuffle on the series key shared by all lags.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etna_spark.sqltext import ident, over


def lag_transform(
    df: DataFrame,
    in_col: str,
    lags: Sequence[int] | int,
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    out_prefix: str | None = None,
) -> DataFrame:
    """Append one column per lag: ``{prefix}_{k}`` = in_col shifted back k.

    ``lags`` as int means 1..lags (reference lags.py:60-66); each lag must be
    positive (shifting forward would leak the future into features).
    """
    if isinstance(lags, int):
        if lags < 1:
            raise ValueError("lags must be >= 1")
        lags = list(range(1, lags + 1))
    if any(k <= 0 for k in lags):
        raise ValueError("all lags must be positive")
    prefix = out_prefix or f"{in_col}_lag"
    return df.withColumns({f"{prefix}_{k}": _lag(in_col, k, series_cols, ts_col)
                           for k in lags})


def _lag(col: str, k: int, series_cols: Sequence[str], ts_col: str) -> Column:
    """``col`` shifted back ``k`` rows within its series, in time order."""
    return F.expr(f"lag({ident(col)}, {int(k)}) {over(series_cols, ident(ts_col))}")


def _shift(df: DataFrame, shifts: dict[str, int], series_cols: Sequence[str],
           ts_col: str) -> DataFrame:
    """Replace each column ``c`` of ``shifts`` by ``c_shift_{k}``, its lag
    by ``k``, appended after the other columns."""
    if not shifts:
        return df
    return df.withColumns({
        f"{c}_shift_{k}": _lag(c, k, series_cols, ts_col)
        for c, k in shifts.items()
    }).drop(*shifts)


class LagTransform:
    """Stateless fit/transform wrapper around :func:`lag_transform` so lag
    features compose in Pipeline transform chains and ``_target_`` configs
    (reference transforms/math/lags.py LagTransform)."""

    def __init__(
        self,
        in_col: str = "value",
        lags: Sequence[int] | int = 1,
        series_cols: Sequence[str] = ("series",),
        ts_col: str = "ts",
        out_prefix: str | None = None,
    ):
        self.in_col = in_col
        self.lags = lags
        self.series_cols = tuple(series_cols)
        self.ts_col = ts_col
        self.out_prefix = out_prefix

    def fit(self, df: DataFrame) -> "LagTransform":
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        return lag_transform(
            df, self.in_col, self.lags, self.series_cols, self.ts_col,
            self.out_prefix,
        )


def exog_shift(
    df: DataFrame,
    cols: Sequence[str],
    horizon: int,
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Shift exog columns forward ``horizon`` steps (rename ``c`` →
    ``c_shift_{h}``) so models at forecast time only see values that were
    known then. The simple fixed-lag mode of ExogShiftTransform."""
    return _shift(df, {c: horizon for c in cols}, series_cols, ts_col)


class ExogShiftAuto:
    """ExogShiftTransform(lag='auto') (reference lags.py:112-313): per exog
    column, estimate the minimal forward shift that makes the column fully
    known over a ``horizon``-step forecast:

        delta = steps(last ts where the column is non-null in EVERY series
                      → last ts of the dataset)
        shift = max(0, delta + horizon)

    Fit computes one distributed aggregation (per-ts all-non-null flags →
    per-column last covered ts); the resulting shift dict is a handful of
    scalars. Transform applies ``F.lag(col, shift)`` renaming ``c`` →
    ``c_shift_{k}`` for k>0 (columns already covering the horizon stay
    unshifted, like the reference)."""

    def __init__(
        self,
        cols: Sequence[str],
        horizon: int,
        step_seconds: int = 3600,
        series_cols: Sequence[str] = ("series",),
        ts_col: str = "ts",
        target_col: str | None = None,
    ):
        if horizon < 1:
            raise ValueError(
                f"ExogShiftAuto works only with positive horizon values, "
                f"{horizon} given"
            )
        self.cols = list(cols)
        self.horizon = horizon
        self.step_seconds = step_seconds
        self.series_cols = list(series_cols)
        self.ts_col = ts_col
        self.target_col = target_col
        self.shifts: dict[str, int] | None = None

    def fit(self, df: DataFrame) -> "ExogShiftAuto":
        ts = self.ts_col
        per_ts = df.groupBy(ts).agg(
            *[
                F.min(F.col(c).isNotNull().cast("int")).alias(c)
                for c in self.cols
            ],
            *(
                [F.max(F.col(self.target_col).isNotNull().cast("int"))
                 .alias("_tgt")]
                if self.target_col
                else []
            ),
        )
        # delta is measured against the TARGET's last timestamp (reference
        # _estimate_shift: last_date = target frame index max) — an exog
        # column known PAST the target end gets a NEGATIVE delta and may
        # need no shift at all. Without target_col, the dataset max is used
        # (every exog then shifts by >= horizon).
        last_expr = (
            F.max(F.when(F.col("_tgt") == 1, F.col(ts).cast("long")))
            if self.target_col
            else F.max(F.col(ts).cast("long"))
        )
        row = per_ts.agg(
            last_expr.alias("_last"),
            *[
                F.max(F.when(F.col(c) == 1, F.col(ts).cast("long"))).alias(c)
                for c in self.cols
            ],
        ).collect()[0]
        last = row["_last"]
        self.shifts = {}
        for c in self.cols:
            feat_last = row[c]
            delta = (
                (last - feat_last) // self.step_seconds
                if feat_last is not None and last is not None
                else 0
            )
            self.shifts[c] = max(0, int(delta) + self.horizon)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.shifts is None:
            raise ValueError("Transform is not fitted!")
        return _shift(df, {c: k for c, k in self.shifts.items() if k > 0},
                      self.series_cols, self.ts_col)

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)

    def get_regressors_info(self) -> list[str]:
        if self.shifts is None:
            raise ValueError("Fit the transform to get the regressors info!")
        return [f"{c}_shift_{k}" for c, k in self.shifts.items() if k > 0]


def check_regressors(
    df: DataFrame,
    regressor_cols: Sequence[str],
    target_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> None:
    """Regressor coverage validation (reference tsdataset.py:549-577):
    every regressor series must start no later than the target and finish
    strictly later. One distributed aggregation per series; raises
    ValueError naming the first offending series."""
    if not regressor_cols:
        return
    keys = list(series_cols)
    t = F.col(target_col)
    ts = F.col(ts_col)
    # a timestamp counts as covered when EVERY regressor is non-null there
    all_reg = F.lit(True)
    for c in regressor_cols:
        all_reg = all_reg & F.col(c).isNotNull()
    stats = df.groupBy(*keys).agg(
        F.min(F.when(t.isNotNull(), ts)).alias("_t_min"),
        F.max(F.when(t.isNotNull(), ts)).alias("_t_max"),
        F.min(F.when(all_reg, ts)).alias("_r_min"),
        F.max(F.when(all_reg, ts)).alias("_r_max"),
    )
    bad = stats.filter(
        (F.col("_t_min") < F.col("_r_min"))
        | (F.col("_t_max") >= F.col("_r_max"))
        | F.col("_r_min").isNull()
    )
    offender = bad.limit(1).collect()
    if offender:
        r = offender[0]
        seg = ", ".join(str(r[k]) for k in keys)
        raise ValueError(
            f"All the regressor series should start not later and finish "
            f"later than corresponding 'target'. Series of segment {seg} "
            f"have not enough history: target [{r['_t_min']}, {r['_t_max']}] "
            f"vs regressors [{r['_r_min']}, {r['_r_max']}]."
        )
