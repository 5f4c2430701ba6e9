"""Continuous-aggregate tier engine: incremental 1m/1h/1d refresh + retention.

The north-rule core. Tier tables are snapshot-versioned parquet tables
partitioned by day (``part_day``); a refresh is INCREMENTAL end-to-end:

- 1m tier: read only input rows appended after the tier's watermark (the
  ``input_snapshot_id`` property of its newest snapshot), find the days they
  touch, and merge them with the existing rows of exactly those day
  partitions in one aggregation (all aggregates are algebraic:
  sum/count/min/max/sumsq — SURVEY.md §2.4); overwrite those partitions;
- 1h / 1d tiers: the finer tier is itself the snapshot-versioned input; the
  finer snapshots after the watermark name the affected days (from the
  catalog's partition map, no Spark job), which are recomputed from the
  finer tier's current content for just those days (cascade — never touches
  raw input);
- each tier commit is one partitioned write whose result stage also
  observes the per-partition lineage (points out, checksum); the data and
  the new watermark land in ONE atomic snapshot-log swap. A crash before
  the swap makes the rerun reprocess the same delta into the same
  partitions — the overwrite is idempotent, so resume-after-kill is exact
  (tests/test_tiers_resume.py). The manifest then gets per-partition
  lineage (rows in, points out, wall time, checksum), run metrics (incl.
  Spark job count) and an observability copy of the watermark.

Scale: work per refresh is O(delta + affected-partition size), never O(table).
The day-partitioning prunes every read; the rollup shuffle carries partial
aggregates only.
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etna_spark.operators.rollup import bucket, rollup_cascade, row_partials
from etna_spark.plans.manifest import Manifest
from etna_spark.sources.catalog import ParquetSnapshotTable

# order-insensitive per-partition fingerprint: sum of bounded row hashes
# (bounded so a long sum cannot overflow under ANSI mode)
_HASH_MOD = 1_000_000_007


def _checksum_col(cols: Sequence[str]) -> F.Column:
    return F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))


def _by_day(days: list[str], name: str, value: Column) -> list[Column]:
    """One conditional sum per day (observed metrics cannot group by)."""
    return [
        F.sum(F.when(F.col("part_day") == F.lit(d), value)).alias(f"{name}_{i}")
        for i, d in enumerate(days)
    ]


def _per_day(obs: Observation, days: list[str], name: str) -> dict[str, int]:
    metrics = obs.get
    return {d: int(metrics[f"{name}_{i}"] or 0) for i, d in enumerate(days)}


def _job_ids(spark: SparkSession) -> set[int]:
    """Spark jobs known to the status tracker in the caller's current job
    group (jobs the caller runs under another, nested group are not seen)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    return set(sc.statusTracker().getJobIdsForGroup(group))


class TierEngine:
    CASCADE = (("1m", None), ("1h", "1m"), ("1d", "1h"))

    def __init__(
        self,
        warehouse: str,
        series_cols: Sequence[str] = ("source",),
        ts_col: str = "event_ts",
        value_col: str = "n_tok",
        sum_is_exact: bool = True,
    ):
        self.warehouse = warehouse
        self.series_cols = list(series_cols)
        self.ts_col = ts_col
        self.value_col = value_col
        self.sum_is_exact = sum_is_exact
        self.input = ParquetSnapshotTable(os.path.join(warehouse, "input"))
        self.tiers = {
            t: ParquetSnapshotTable(os.path.join(warehouse, f"tier_{t}"))
            for t, _ in self.CASCADE
        }
        self.manifest = Manifest(os.path.join(warehouse, "manifest.jsonl"))

    # -- helpers ---------------------------------------------------------------

    @staticmethod
    def _with_part_day(df: DataFrame) -> DataFrame:
        return df.withColumn("part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))

    def _agg_cols(self) -> list[str]:
        return [*self.series_cols, "bucket_ts", "point_count", "value_sum",
                "value_min", "value_max", "value_sumsq"]

    # -- refresh ---------------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict[str, dict]:
        """Incrementally refresh every tier; returns per-tier run stats."""
        out = {}
        for tier, parent in self.CASCADE:
            out[tier] = self._refresh_tier(spark, tier, parent)
        return out

    def _refresh_tier(self, spark: SparkSession, tier: str, parent: str | None) -> dict:
        t0 = time.time()
        jobs0 = _job_ids(spark)
        run_id = Manifest.new_run_id()
        table = self.tiers[tier]
        src = self.input if parent is None else self.tiers[parent]
        cur_snap = src.current_snapshot_id()
        # Source of truth for the checkpoint: the tier table's own snapshot
        # properties (Iceberg snapshot.summary) — the data commit and the
        # watermark advance are ONE atomic log swap, so no crash window can
        # double-apply a delta. The manifest watermark record is
        # observability only.
        wm = int(table.latest_property("input_snapshot_id", 0))
        skipped = {"run_id": run_id, "tier": tier, "skipped": True,
                   "input_snapshot_id": cur_snap}
        if cur_snap <= wm:
            return skipped

        if parent is None:
            # raw → 1m: the days the delta touches and its rows per day
            # (count(*): rows with a null value count too), then the delta
            # rows as unit partials merged with the existing rows of those
            # days in one aggregation
            delta = src.read_delta(spark, wm, cur_snap)
            if delta is None:
                return skipped
            day = F.date_format(bucket(self.ts_col, tier), "yyyy-MM-dd")
            rows_in = {r[0]: r[1] for r in delta.groupBy(day).count().collect()}
            days = sorted(d for d in rows_in if d is not None)
            if not days:
                return skipped
            parts = row_partials(
                # a row without a timestamp belongs to no bucket
                delta.filter(F.col(self.ts_col).isNotNull()), tier,
                series_cols=self.series_cols, ts_col=self.ts_col,
                value_col=self.value_col, sum_is_exact=self.sum_is_exact,
            )
            if table.partitions() & set(days):
                parts = (table.read(spark, partitions=days)
                         .select(*self._agg_cols()).unionByName(parts))
            merged = rollup_cascade(parts, tier, self.series_cols)
        else:
            # cascade: recompute the affected days from the finer tier; its
            # rows per day are observed on the read (a map stage: a stage
            # re-run after a lost executor would count them twice)
            days = sorted(src.partitions(wm, cur_snap))
            if not days:
                return skipped
            rows_obs = Observation()
            finer = src.read(spark, partitions=days).observe(
                rows_obs, *_by_day(days, "rows", F.lit(1)))
            merged = rollup_cascade(finer, tier, self.series_cols)

        # lineage is observed after the final aggregate, in the write's
        # result stage, so a retried shuffle stage cannot count twice
        lineage = Observation()
        merged = self._with_part_day(merged).select(*self._agg_cols(), "part_day")
        merged = merged.observe(
            lineage,
            *_by_day(days, "points", F.lit(1)),
            *_by_day(days, "checksum", _checksum_col(
                [*self.series_cols, "bucket_ts", "value_sum", "point_count"])),
        )
        new_snap = table.overwrite_partitions(
            merged, "part_day", days,
            properties={"input_snapshot_id": cur_snap, "run_id": run_id},
        )
        points = _per_day(lineage, days, "points")
        checksums = _per_day(lineage, days, "checksum")
        if parent is not None:
            rows_in = _per_day(rows_obs, days, "rows")
        wall = time.time() - t0
        spark_jobs = len(_job_ids(spark) - jobs0)

        for d in days:
            self.manifest.log_lineage(
                run_id=run_id, tier=tier, partition=d, rows_in=int(rows_in[d]),
                points_out=points[d], wall_time_sec=wall,
                checksum=checksums[d], input_snapshot_id=cur_snap,
            )
        rows_in_total = int(sum(rows_in.values()))
        points_out = sum(points.values())
        self.manifest.log_metrics(
            run_id, tier, rows_in=rows_in_total, points_out=points_out,
            partitions=len(days), wall_time_sec=wall, spark_jobs=spark_jobs,
            input_snapshot_id=cur_snap, output_snapshot_id=new_snap,
        )
        self.manifest.set_watermark(tier, cur_snap, run_id)
        return {
            "run_id": run_id, "tier": tier, "skipped": False,
            "rows_in": rows_in_total, "points_out": points_out,
            "partitions": days, "wall_time_sec": wall,
            "input_snapshot_id": cur_snap,
        }

    # -- retention ---------------------------------------------------------------

    def expire(self, tier: str, keep_days: int, now_day: str) -> list[str]:
        """Retention: drop tier partitions older than ``now_day - keep_days``
        (partition-predicate DELETE + expire_snapshots, SURVEY.md §2.12)."""
        import datetime as dt

        cutoff = (
            dt.date.fromisoformat(now_day) - dt.timedelta(days=keep_days)
        ).isoformat()
        table = self.tiers[tier]
        victims = sorted(d for d in table.partitions() if d < cutoff)
        if victims:
            table.drop_partitions(victims)
            table.compact_files()
        return victims

    def tier_df(self, spark: SparkSession, tier: str) -> DataFrame:
        return self.tiers[tier].read(spark)
