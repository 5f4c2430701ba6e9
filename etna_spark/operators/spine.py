"""Calendar spine + gap materialization + gap-fill (ffill / interpolation).

The reference materializes gaps as NaN rows by regularizing the index —
``df.asfreq(freq)`` for datetime, ``np.arange`` reindex for integer timelines
(/root/reference/etna/datasets/tsdataset.py:333-357). Every downstream
operator then sees an equi-spaced grid. Our Spark equivalent: generate the
dense bucket sequence with ``F.sequence`` + ``explode`` — one spine per
series over the GLOBAL [min, max] (the reference's wide frame shares a single
index across segments), left-join the tier aggregates onto it, and fill.

Scale notes:
- the spine is built from a 1-row global agg cross-joined with the distinct
  series list — both tiny, both broadcast; no driver collect.
- the spine join is (series, bucket_ts) equi-join against the tier table,
  which is already shuffled on those keys from the rollup — Catalyst/AQE
  reuses the partitioning or broadcasts the spine when small.
- ffill/interpolation are single window passes per series (no shuffle beyond
  the partitionBy(series) the tier table already has).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etna_spark.operators.rollup import TIERS
from etna_spark.sqltext import RUNNING, ident, over


def calendar_spine(
    tier_df: DataFrame,
    tier: str,
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "bucket_ts",
    per_series: bool = False,
) -> DataFrame:
    """Dense (series..., bucket_ts) grid.

    ``per_series=False`` (default): every series spans the GLOBAL
    [min, max] — the reference's shared wide-frame index. At web scale with
    many short-lived series this materializes #series × global-range rows;
    ``per_series=True`` builds each series' grid over ITS OWN [min, max]
    (the misalignment-tolerant variant) — spine size = Σ per-series spans,
    the scale-correct choice when series lifetimes vary wildly."""
    step_seconds, _ = TIERS[tier]
    if per_series:
        series = tier_df.groupBy(*series_cols).agg(
            F.min(ts_col).alias("_min_ts"), F.max(ts_col).alias("_max_ts")
        )
    else:
        bounds = tier_df.agg(
            F.min(ts_col).alias("_min_ts"), F.max(ts_col).alias("_max_ts")
        )
        series = tier_df.select(*series_cols).distinct()
    # the per-series frame is tiny (one row per series) and AQE coalesces it
    # to ~1 partition — but each row EXPLODES into a full bucket range, so
    # leaving it coalesced would build the whole spine in one task. Spread the
    # series across the configured shuffle parallelism first (explicit N so
    # AQE doesn't re-coalesce the exchange).
    n_part = int(tier_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    series = series.repartition(n_part, *series_cols)
    if not per_series:
        series = series.crossJoin(F.broadcast(bounds))
    spine = series.select(
        *series_cols,
        F.explode(
            F.sequence(
                F.col("_min_ts"),
                F.col("_max_ts"),
                F.expr(f"interval {step_seconds} seconds"),
            )
        ).alias(ts_col),
    )
    return spine


def regularize(
    tier_df: DataFrame,
    tier: str,
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "bucket_ts",
    per_series: bool = False,
) -> DataFrame:
    """Materialize missing buckets as null rows — the Spark twin of ETNA's
    ``asfreq`` gap materialization.

    GAP-EXPANSION formulation (not a spine join): each observation emits
    itself plus the null gap rows up to the next observation in its series
    (``lead`` + ``sequence``-explode); the first observation additionally
    back-fills to the global min so every series spans the shared
    [min, max] index. One window pass over the data's OWN (series)
    partitioning — a tier table cached partitioned by series needs NO new
    exchange, and the exploded output stays series-partitioned for the
    downstream fill windows. The equivalent spine left-join shuffles both
    the spine AND the tier table on (series, ts); at 100 TB that join is
    the gap-fill bottleneck (measured 2→8-core scaling 0.64 → this shape
    removes the exchange entirely).

    ``per_series=True``: each series' grid covers its own [min, max]
    (misalignment-tolerant variant) — no back-fill, spine size = Σ spans.
    """
    step_seconds, _ = TIERS[tier]
    step = f"interval {step_seconds} seconds"
    ts = ident(ts_col)
    w = over(series_cols, ts)
    value_cols = [c for c in tier_df.columns
                  if c not in (*series_cols, ts_col)]
    nxt = f"lead({ts}) {w}"
    if per_series:
        base = tier_df.withColumns({
            "_start": F.expr(ts),
            "_end": F.expr(f"greatest(coalesce({nxt} - {step}, {ts}), {ts})"),
        })
    else:
        bounds = tier_df.agg(F.expr(f"min({ts}) AS _mn"),
                             F.expr(f"max({ts}) AS _mx"))
        # bucketed-input contract, enforced: every timestamp must sit on
        # the step grid anchored at the global min — otherwise the value
        # mask (_sts == _orig) would silently DROP the unaligned
        # observations (the old spine left-join preserved them). The
        # assert rides inside the _start expression so column pruning
        # can't elide it; per-row pmod is JVM-side and negligible.
        aligned = (f"pmod(CAST({ts} AS BIGINT) - CAST(_mn AS BIGINT), "
                   f"{step_seconds}) = 0")
        msg = ("regularize: input timestamps are not aligned to the "
               f"{tier} grid anchored at the global min — bucket the input "
               "(date_trunc) first; unaligned rows would be silently dropped")
        base = tier_df.crossJoin(F.broadcast(bounds)).withColumns({
            "_start": F.expr(
                f"CASE WHEN assert_true({aligned}, '{msg}') IS NULL THEN "
                f"CASE WHEN row_number() {w} = 1 THEN _mn ELSE {ts} END END"),
            "_end": F.expr(f"greatest(coalesce({nxt} - {step}, _mx), {ts})"),
        })
    exploded = base.selectExpr(
        *map(ident, series_cols),
        f"{ts} AS _orig",
        *map(ident, value_cols),
        f"explode(sequence(_start, _end, {step})) AS _sts",
    )
    return exploded.selectExpr(
        *map(ident, series_cols),
        f"_sts AS {ts}",
        *[f"CASE WHEN _sts = _orig THEN {ident(c)} END AS {ident(c)}"
          for c in value_cols],
    )


def ffill(
    df: DataFrame,
    cols: Sequence[str],
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """Forward-fill: last non-null per series in time order.

    Reference semantics: ``forward_fill`` imputation strategy
    (/root/reference/etna/transforms/missing_values/imputation.py:229-230) —
    an implicit as-of join against the last observation; leading nulls stay.
    """
    w = over(series_cols, ident(ts_col), RUNNING)
    return df.withColumns(
        {c: F.expr(f"last({ident(c)}, true) {w}") for c in cols})


def interpolate_linear(
    df: DataFrame,
    cols: Sequence[str],
    series_cols: Sequence[str] = ("source",),
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """Linear interpolation over the time axis, pandas-compatible.

    Matches ``pd.Series.interpolate(method="linear")`` on a regular grid
    (SURVEY.md §2.9): interior gaps are linearly interpolated between the
    surrounding observations, trailing gaps are forward-filled, leading gaps
    stay null. Pure SQL windows — no pUDF.
    """
    # Both lookups use RUNNING frames (unboundedPreceding..current): Spark's
    # WindowExec accumulates those in O(n), whereas a (current..
    # unboundedFollowing) frame is recomputed per row — O(n²) per partition,
    # catastrophic on long spines. "Next non-null" is therefore a running
    # last() over the DESCENDING time order.
    ts = ident(ts_col)
    wb = over(series_cols, ts, RUNNING)
    wf = over(series_cols, f"{ts} DESC", RUNNING)
    ts_num = f"CAST({ts} AS DOUBLE)"
    out = {}
    for c in cols:
        v = ident(c)
        prev_v = f"last({v}, true) {wb}"
        next_v = f"last({v}, true) {wf}"
        t_obs = f"CASE WHEN {v} IS NOT NULL THEN {ts_num} END"
        prev_t = f"last({t_obs}, true) {wb}"
        next_t = f"last({t_obs}, true) {wf}"
        frac = f"(({ts_num} - {prev_t}) / ({next_t} - {prev_t}))"
        interp = f"({prev_v} + ({next_v} - {prev_v}) * {frac})"
        out[c] = F.expr(
            f"CASE WHEN {v} IS NOT NULL THEN {v} "
            f"WHEN {prev_v} IS NULL THEN NULL "  # leading gap: stays null
            f"WHEN {next_v} IS NULL THEN {prev_v} "  # trailing gap: ffill
            f"ELSE {interp} END")
    return df.withColumns(out)
