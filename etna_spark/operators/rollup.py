"""Tier rollups: continuous aggregates at 1m / 1h / 1d retention tiers.

This is the Spark-native equivalent of the reference library's hierarchy
rollup (a sparse summing-matrix multiply over segments) generalized to
the time axis: each tier is ``groupBy(series, bucket(ts)).agg(...)``, and
every aggregate materialized is ALGEBRAIC (sum/count/min/max +
sum-of-squares), so partial aggregates of any split of the input merge
exactly (:func:`merge_partials`).

Scale notes:
- ``groupBy`` gets map-side partial aggregation for free (hash-partial →
  shuffle → final), so the shuffle carries one row per (series, bucket) per
  input partition, not per input row.
- the tier engine (``plans/tiers.py``) merges each input delta into every
  tier's own rows in one aggregation: :func:`row_partials` turns raw rows
  into one-row partials and :func:`merge_partials` merges them with the
  tier rows of the touched days. No tier is derived from a finer one, so
  retention of a finer tier never loses data of a coarser one.
  :func:`rollup_cascade` (a coarser tier from a finer one) serves the
  batch paths: the bench's rollup stage and the ``__spark_entry__`` smoke run.
- skewed series keys are handled by the salted variant (two-phase agg, see
  :func:`rollup_salted`) plus AQE as backstop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tier name -> (seconds, spark date_trunc unit)
TIERS: dict[str, tuple[int, str]] = {
    "1m": (60, "minute"),
    "1h": (3600, "hour"),
    "1d": (86400, "day"),
}


def bucket(ts_col: str | Column, tier: str) -> Column:
    """Truncate a timestamp to the tier bucket start."""
    _, unit = TIERS[tier]
    return F.date_trunc(unit, ts_col)


def _agg_exprs(value_col: str, sum_is_exact: bool) -> list[Column]:
    """The algebraic aggregate set materialized on every tier.

    ``sum_is_exact`` marks integer-valued measures (token counts): their sums
    are bigint-exact, which makes cascade == direct-from-raw provable
    bit-for-bit (SURVEY.md §4.3).
    """
    v = F.col(value_col)
    s = F.sum(v.cast("long")) if sum_is_exact else F.sum(v)
    return [
        F.count(v).alias("point_count"),
        s.alias("value_sum"),
        F.min(v).alias("value_min"),
        F.max(v).alias("value_max"),
        (
            # widen BEFORE squaring: int32² overflows in the input type for
            # |v| > 46340 and ANSI mode (on in this repo) raises at runtime
            F.sum(v.cast("long") * v.cast("long"))
            if sum_is_exact
            else F.sum(v * v)
        ).alias("value_sumsq"),
    ]


def rollup(
    df: DataFrame,
    tier: str,
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "event_ts",
    value_col: str = "n_tok",
    sum_is_exact: bool = True,
) -> DataFrame:
    """Aggregate raw rows into one tier: (series..., bucket_ts, aggs)."""
    return (
        df.groupBy(*series_cols, bucket(ts_col, tier).alias("bucket_ts"))
        .agg(*_agg_exprs(value_col, sum_is_exact))
    )


def row_partials(
    df: DataFrame,
    tier: str,
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "event_ts",
    value_col: str = "n_tok",
    sum_is_exact: bool = True,
) -> DataFrame:
    """Each raw row as a one-row aggregate in the tier schema, with the
    types :func:`rollup` gives, so
    ``merge_partials(row_partials(df, t), [*series_cols, "bucket_ts"])`` ≡
    ``rollup(df, t)``. Raw rows and existing tier rows then merge in one
    aggregation (one shuffle) instead of a rollup followed by a merge."""
    v = F.col(value_col)
    wide = v.cast("long") if sum_is_exact else v
    return df.select(
        *series_cols,
        bucket(ts_col, tier).alias("bucket_ts"),
        v.isNotNull().cast("long").alias("point_count"),
        wide.alias("value_sum"),
        v.alias("value_min"),
        v.alias("value_max"),
        (wide * wide).alias("value_sumsq"),
    )


def merge_partials(df: DataFrame, keys: Sequence[str | Column]) -> DataFrame:
    """Merge rows of the tier schema that share ``keys`` into one.

    Valid because all materialized aggregates are algebraic:
    count = Σ count, sum = Σ sum, min = min(min), max = max(max),
    sumsq = Σ sumsq.
    """
    return df.groupBy(*keys).agg(
        F.sum("point_count").alias("point_count"),
        F.sum("value_sum").alias("value_sum"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
        F.sum("value_sumsq").alias("value_sumsq"),
    )


def rollup_cascade(
    tier_df: DataFrame,
    to_tier: str,
    series_cols: Sequence[str] = ("source",),
) -> DataFrame:
    """Derive a coarser tier from a finer one (1m→1h, 1h→1d)."""
    return merge_partials(
        tier_df, [*series_cols, bucket("bucket_ts", to_tier).alias("bucket_ts")])


def rollup_salted(
    df: DataFrame,
    tier: str,
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "event_ts",
    value_col: str = "n_tok",
    salt_col: str = "doc_id",
    n_salt: int = 16,
    sum_is_exact: bool = True,
) -> DataFrame:
    """Two-phase salted rollup for hot series keys (north-rule requirement).

    Phase 1 groups by (series, bucket, salt) — the hot key's rows spread over
    ``n_salt`` reducers; phase 2 merges the algebraic partials. Associativity
    of the aggregate set guarantees salted ≡ unsalted (pinned by the
    ``tok_rollup_1h_salted`` registry query against its DuckDB twin). Salt
    is derived from a high-cardinality column so it is deterministic, not
    random.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salt)))
    phase1 = (
        salted.groupBy(*series_cols, bucket(ts_col, tier).alias("bucket_ts"), "_salt")
        .agg(*_agg_exprs(value_col, sum_is_exact))
    )
    return merge_partials(phase1, [*series_cols, "bucket_ts"])
