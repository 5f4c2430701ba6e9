"""Gap-expansion regularize: property-tested against the definitional
spine left-join formulation on randomized sparse panels, plus plan-shape
assertions (the rewrite's whole point is removing the spine-join
exchange)."""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import random

import pytest
from pyspark.sql import functions as F

from etna_spark.operators.rollup import TIERS
from etna_spark.operators.spine import calendar_spine, ffill, regularize

START = dt.datetime(2024, 3, 1)


def _join_reference(tier_df, tier, series_cols, ts_col, per_series=False):
    """The definitional formulation: dense spine left-joined with the data
    (what regularize was before the gap-expansion rewrite)."""
    spine = calendar_spine(tier_df, tier, series_cols, ts_col, per_series)
    return spine.join(tier_df, on=[*series_cols, ts_col], how="left")


def _random_panel(spark, seed):
    rng = random.Random(seed)
    rows = []
    n_series = rng.randint(1, 5)
    for s in range(n_series):
        # each series occupies a random sparse subset of a random sub-span
        lo = rng.randint(0, 30)
        hi = rng.randint(lo, 60)
        for i in range(lo, hi + 1):
            if rng.random() < 0.4:
                rows.append(
                    (f"s{s}", START + dt.timedelta(hours=i),
                     float(rng.randint(0, 100)), rng.randint(0, 9))
                )
    if not rows:
        rows = [("s0", START, 1.0, 1)]
    return spark.createDataFrame(
        rows, "series string, bucket_ts timestamp, v double, c int"
    )


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("per_series", [False, True])
def test_gap_expansion_equals_spine_join(spark, seed, per_series):
    df = _random_panel(spark, seed)
    got = regularize(
        df, "1h", series_cols=("series",), ts_col="bucket_ts",
        per_series=per_series,
    )
    want = _join_reference(
        df, "1h", ("series",), "bucket_ts", per_series=per_series
    )
    key = ["series", "bucket_ts"]

    def norm(d):
        return sorted(
            (r["series"], r["bucket_ts"], r["v"], r["c"])
            for r in d.select(*key, "v", "c").collect()
        )

    assert norm(got) == norm(want)
    # null pattern: exactly the generated gap rows carry nulls
    assert (
        got.filter(F.col("v").isNull() & F.col("c").isNotNull()).count() == 0
    )


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_gap_expansion_plan_has_no_join(spark):
    df = _random_panel(spark, 99)
    reg = regularize(df, "1h", series_cols=("series",), ts_col="bucket_ts")
    plan = _physical_plan(reg)
    # the only join is the broadcast of the 1-row global bounds — the old
    # spine-join formulation had a SortMergeJoin on (series, ts) here
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("hashpartitioning") == 1  # the lead-window exchange
    # downstream fill reuses the same (series) clustering: a window right
    # after regularize must not introduce a second hash exchange
    filled = ffill(reg, ["v"], series_cols=("series",), ts_col="bucket_ts")
    p2 = _physical_plan(filled)
    assert "SortMergeJoin" not in p2 and "ShuffledHashJoin" not in p2
    assert p2.count("hashpartitioning") == 1


def test_regularize_unaligned_input_raises(spark):
    """An observation off the global-min-anchored grid must fail loudly —
    the gap-expansion value mask would otherwise silently drop it (the old
    spine left-join preserved such rows)."""
    rows = [
        ("s0", START, 1.0, 1),
        # 30 minutes past the hour: not on the 1h grid anchored at START
        ("s1", START + dt.timedelta(hours=2, minutes=30), 2.0, 2),
    ]
    df = spark.createDataFrame(
        rows, "series string, bucket_ts timestamp, v double, c int"
    )
    out = regularize(df, "1h", series_cols=("series",), ts_col="bucket_ts")
    with pytest.raises(Exception, match="not aligned"):
        out.collect()


def test_regularize_grid_is_complete_and_step_exact(spark):
    df = _random_panel(spark, 5)
    step, _ = TIERS["1h"]
    out = regularize(df, "1h", series_cols=("series",), ts_col="bucket_ts")
    pdf = out.select("series", "bucket_ts").toPandas()
    bounds = pdf["bucket_ts"].agg(["min", "max"])
    for s, grp in pdf.groupby("series"):
        ts = sorted(grp["bucket_ts"])
        assert ts[0] == bounds["min"] and ts[-1] == bounds["max"]
        diffs = {int((b - a).total_seconds()) for a, b in zip(ts, ts[1:])}
        assert diffs <= {step}
