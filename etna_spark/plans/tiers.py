"""Continuous-aggregate tier engine: incremental 1m/1h/1d refresh + retention.

The north-rule core. Tier tables are snapshot-versioned parquet tables
partitioned by day (``part_day``); a refresh is INCREMENTAL end-to-end and
merges the input delta into EVERY tier directly (SURVEY.md §2.12: late data
re-aggregates the affected partitions):

- watermark: each tier's checkpoint is the ``input_snapshot_id`` property of
  its newest snapshot, an INPUT-table snapshot id for every tier. A tier's
  delta is the input rows appended in (watermark, current]; tiers with
  equal watermarks (the normal case) share one delta read and one collect
  of the days it touches and its rows per day;
- one aggregate: the delta's rows, as one-row partials, are exploded once
  per tier and re-bucketed to that tier; each tier's existing rows of
  exactly the days its delta touches are unioned in, tagged with the tier;
  one ``groupBy(tier, series, bucket)`` merges everything. All aggregates
  are algebraic (sum/count/min/max/sumsq — SURVEY.md §2.4), so every tier
  equals a direct rollup of all input — bigint-exact for integer measures.
  No tier is derived from a finer one, so retention of a finer tier never
  loses data of a coarser one;
- one write: the result is written by ONE ``partitionBy(tier, part_day)``
  job whose result stage also observes each (tier, day)'s points out and
  checksum. Each tier's files are then moved into its own table, and the
  tiers' snapshot-log swaps run in order 1m → 1h → 1d, each committing the
  tier's data and its new watermark atomically.

Crash contract (tests/test_tiers_resume.py): a kill before a tier's swap
leaves that tier's watermark where it was, and the orphaned staged files
are ignored by reads and removed by ``compact_files`` (``expire`` compacts
every tier). The rerun reprocesses each left-behind tier's own delta into
the same partitions — the overwrite is idempotent, so resume-after-kill is
exact, also when a kill between two swaps leaves the tiers at different
watermarks. After each swap the manifest gets the tier's per-partition
lineage (rows in, points out, checksum), its run metrics (the refresh's
shared run id, Spark job count and wall time) and an observability copy of
the watermark. A tier's rows in are its finer tier's points out per day
(the input rows per day for 1m), from the same observation, or from the
finer tier's newest lineage record when that tier is not in the commit.

Scale: work per refresh is O(delta × tiers + affected-partition size),
never O(table). The day-partitioning prunes every read; the shuffle
carries partial aggregates only.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etna_spark.operators.rollup import bucket, merge_partials, row_partials
from etna_spark.plans.manifest import Manifest
from etna_spark.sources.catalog import ParquetSnapshotTable

# order-insensitive per-partition fingerprint: sum of bounded row hashes
# (bounded so a long sum cannot overflow under ANSI mode)
_HASH_MOD = 1_000_000_007


def _checksum_col(cols: Sequence[str]) -> F.Column:
    return F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))


def _by_tier_day(keys: list[tuple[str, str]], name: str, value: Column) -> list[Column]:
    """One conditional sum per (tier, day) (observed metrics cannot group by)."""
    return [
        F.sum(F.when((F.col("__tier") == t) & (F.col("part_day") == d), value))
        .alias(f"{name}_{i}")
        for i, (t, d) in enumerate(keys)
    ]


def _per_tier_day(obs: Observation, keys: list[tuple[str, str]],
                  name: str) -> dict[tuple[str, str], int]:
    metrics = obs.get
    return {k: int(metrics[f"{name}_{i}"] or 0) for i, k in enumerate(keys)}


def _rebucket(tiers: Sequence[str]) -> Column:
    """``bucket_ts`` truncated to the bucket of the row's ``__tier``."""
    cases = [(F.col("__tier") == t, bucket("bucket_ts", t)) for t in tiers]
    col = F.when(*cases[0])
    for case in cases[1:]:
        col = col.when(*case)
    return col


def _job_ids(spark: SparkSession) -> set[int]:
    """Spark jobs known to the status tracker in the caller's current job
    group (jobs the caller runs under another, nested group are not seen)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    return set(sc.statusTracker().getJobIdsForGroup(group))


class TierEngine:
    TIERS = ("1m", "1h", "1d")  # finest first: the order of the log swaps

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
            for t in self.TIERS
        }
        self.manifest = Manifest(os.path.join(warehouse, "manifest.jsonl"))

    # -- helpers ---------------------------------------------------------------

    def _agg_cols(self) -> list[str]:
        return [*self.series_cols, "bucket_ts", "point_count", "value_sum",
                "value_min", "value_max", "value_sumsq"]

    def _newest_points(self, tier: str) -> dict[str, int]:
        """points_out of the newest lineage record of each of ``tier``'s
        partitions."""
        return {r["partition"]: r["points_out"] for r in self.manifest.records()
                if r.get("kind") == "lineage" and r["tier"] == tier}

    # -- refresh ---------------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict[str, dict]:
        """Incrementally refresh every tier with one aggregate and one Spark
        write; returns per-tier run stats."""
        t0 = time.time()
        jobs0 = _job_ids(spark)
        run_id = Manifest.new_run_id()
        cur_snap = self.input.current_snapshot_id()
        out = {t: {"run_id": run_id, "tier": t, "skipped": True,
                   "input_snapshot_id": cur_snap} for t in self.TIERS}
        # Source of truth for the checkpoint: the tier table's own snapshot
        # properties (Iceberg snapshot.summary) — the data commit and the
        # watermark advance are ONE atomic log swap, so no crash window can
        # double-apply a delta. The manifest watermark record is
        # observability only.
        wms = {t: int(self.tiers[t].latest_property("input_snapshot_id", 0))
               for t in self.TIERS}
        days: dict[str, list[str]] = {}  # tier -> the days its delta touches
        rows_in_1m: dict = {}
        pieces = []
        for wm in sorted({w for w in wms.values() if w < cur_snap}):
            group = [t for t in self.TIERS if wms[t] == wm]
            delta = self.input.read_delta(spark, wm, cur_snap)
            if delta is None:
                continue
            # the days the delta touches and its rows per day (count(*):
            # rows with a null value count too)
            day = F.date_format(bucket(self.ts_col, "1m"), "yyyy-MM-dd")
            rows_in = {r[0]: r[1] for r in delta.groupBy(day).count().collect()}
            group_days = sorted(d for d in rows_in if d is not None)
            if not group_days:
                continue
            if "1m" in group:
                rows_in_1m = rows_in
            parts = row_partials(
                # a row without a timestamp belongs to no bucket
                delta.filter(F.col(self.ts_col).isNotNull()), "1m",
                series_cols=self.series_cols, ts_col=self.ts_col,
                value_col=self.value_col, sum_is_exact=self.sum_is_exact,
            ).select(F.explode(F.array(*map(F.lit, group))).alias("__tier"),
                     *self._agg_cols())
            pieces.append(parts.withColumn("bucket_ts", _rebucket(group)))
            for t in group:
                days[t] = group_days
                if self.tiers[t].partitions() & set(group_days):
                    pieces.append(
                        self.tiers[t].read(spark, partitions=group_days)
                        .select(F.lit(t).alias("__tier"), *self._agg_cols()))
        if not days:
            return out

        merged = merge_partials(reduce(DataFrame.unionByName, pieces),
                                ["__tier", *self.series_cols, "bucket_ts"])
        merged = merged.select(
            *self._agg_cols(),
            F.date_format("bucket_ts", "yyyy-MM-dd").alias("part_day"), "__tier")
        schema = merged.drop("__tier").schema
        # lineage is observed after the final aggregate, in the write's
        # result stage, so a retried shuffle stage cannot count twice
        keys = [(t, d) for t in self.TIERS if t in days for d in days[t]]
        lineage = Observation()
        merged = merged.observe(
            lineage,
            *_by_tier_day(keys, "points", F.lit(1)),
            *_by_tier_day(keys, "checksum", _checksum_col(
                [*self.series_cols, "bucket_ts", "value_sum", "point_count"])),
        )
        # the files keep part_day: partitionBy drops its columns from them
        staged = self.tiers["1m"].stage_partitioned(
            merged.withColumn("__part_day", F.col("part_day")),
            ["__tier", "__part_day"])
        spark_jobs = len(_job_ids(spark) - jobs0)
        points = _per_tier_day(lineage, keys, "points")
        checksums = _per_tier_day(lineage, keys, "checksum")
        # every tier's files into its own table before the first swap, so a
        # kill leaves each table only dirs its own compact_files removes
        stages = {t: self.tiers[t].take_staged(os.path.join(staged, f"__tier={t}"))
                  for t in days}
        shutil.rmtree(staged)
        wall = time.time() - t0

        for i, tier in enumerate(self.TIERS):
            if tier not in days:
                continue
            new_snap = self.tiers[tier].overwrite_partitions(
                stages[tier], days[tier], schema,
                properties={"input_snapshot_id": cur_snap, "run_id": run_id},
            )
            if i == 0:
                rows_in = rows_in_1m
            else:
                # the finer tier's points out: from this commit, or, for
                # days it is not in, from its newest lineage records
                finer = self.TIERS[i - 1]
                older = ({} if all((finer, d) in points for d in days[tier])
                         else self._newest_points(finer))
                rows_in = {d: points.get((finer, d), older.get(d, 0))
                           for d in days[tier]}
            out[tier] = self._log_commit(
                run_id, tier, days[tier], rows_in,
                {d: points[(tier, d)] for d in days[tier]},
                {d: checksums[(tier, d)] for d in days[tier]},
                wall, spark_jobs, cur_snap, new_snap,
            )
        return out

    def _log_commit(self, run_id: str, tier: str, days: list[str], rows_in: dict,
                    points: dict[str, int], checksums: dict[str, int], wall: float,
                    spark_jobs: int, cur_snap: int, new_snap: int) -> dict:
        """Manifest records of one tier commit; returns its run stats."""
        for d in days:
            self.manifest.log_lineage(
                run_id=run_id, tier=tier, partition=d, rows_in=int(rows_in[d]),
                points_out=points[d], wall_time_sec=wall,
                checksum=checksums[d], input_snapshot_id=cur_snap,
            )
        # rows without a timestamp (no day) still count in the total
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
        (partition-predicate DELETE + expire_snapshots, SURVEY.md §2.12),
        then delete the files no snapshot of any tier references."""
        import datetime as dt

        cutoff = (
            dt.date.fromisoformat(now_day) - dt.timedelta(days=keep_days)
        ).isoformat()
        table = self.tiers[tier]
        victims = sorted(d for d in table.partitions() if d < cutoff)
        if victims:
            table.drop_partitions(victims)
        # every tier: refreshes retire replaced files from all of them
        for t in self.tiers.values():
            t.compact_files()
        return victims

    def tier_df(self, spark: SparkSession, tier: str) -> DataFrame:
        return self.tiers[tier].read(spark)
