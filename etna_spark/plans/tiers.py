"""Continuous-aggregate tier engine: incremental 1m/1h/1d refresh + retention.

The north-rule core. Tier tables are snapshot-versioned parquet tables
partitioned by day (``part_day``); a refresh is INCREMENTAL end-to-end and
merges the input delta into EVERY tier directly (SURVEY.md §2.12: late data
re-aggregates the affected partitions):

- watermark: each tier's checkpoint is the ``input_snapshot_id`` property of
  its newest snapshot, an INPUT-table snapshot id for every tier. A tier's
  delta is the input rows appended in (watermark, current]; tiers with
  equal watermarks (the normal case) share one delta read;
- planning from catalog metadata: the input table is partitioned by the
  day of ``ts_col`` (Iceberg ``days(event_ts)``), so the catalog records
  every input file's day and row count. The days a delta touches and its
  rows per day (``rows_in``) come from ``row_counts`` — no Spark job runs
  before the write. Rows without a timestamp (the null partition) count
  in ``rows_in``'s total and reach no tier; a delta holding only such rows
  is skipped. An input file with no recorded day (a warehouse built before
  the input was partitioned) raises ``ValueError``: rebuild the warehouse;
- retention: ``expire`` records each tier's cutoff day as a snapshot
  property, and a refresh leaves days below a tier's cutoff out of that
  tier, so a late row cannot re-create a partial day there. A tier whose
  delta touches only days below its cutoff is skipped, and a snapshot that
  changes no data advances its watermark;
- one aggregate: the delta's rows, as one-row partials, are exploded once
  per tier and re-bucketed to that tier; each tier's existing rows of
  exactly the days its delta touches are unioned in, tagged with the tier;
  one ``groupBy(tier, series, bucket)`` merges everything. All aggregates
  are algebraic (sum/count/min/max/sumsq — SURVEY.md §2.4), so every tier
  equals a direct rollup of all input — bigint-exact for integer measures.
  No tier is derived from a finer one, so retention of a finer tier never
  loses data of a coarser one. A small delta (``_SPREAD_MAX_ROWS``, from
  the catalog's row counts) is merged over one partition per core, so the
  rewrite of the touched days runs in parallel; a larger one keeps the
  map-side partial aggregate;
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
finer tier's newest lineage record when that tier is not in the commit:
after a kill between swaps, or for a day below the finer tier's retention
cutoff, whose newest record then dates from before it expired.

Scale: work per refresh is O(delta × tiers + affected-partition size),
never O(table). The day-partitioning prunes every read; the shuffle
carries partial aggregates only.
"""

from __future__ import annotations

import datetime as dt
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
from etna_spark.sqltext import ident, idents

# order-insensitive per-partition fingerprint: sum of bounded row hashes
# (bounded so a long sum cannot overflow under ANSI mode)
_HASH_MOD = 1_000_000_007

# A delta of at most this many input rows is merged over a fixed number of
# partitions: AQE would coalesce its small merge shuffle into one task,
# which then rewrites every touched 1m day alone. A larger delta keeps the
# map-side partial aggregate that a fixed partition count forgoes, so its
# shuffle carries merged partials, not raw rows. Measured in-process at
# local[4], fixed count vs coalesced, median op (append + refresh) into a
# 571k-row two-day warehouse: 20k-row deltas 1.18-1.37 vs 1.48-1.60 s,
# 100k-row deltas 1.60/1.88 vs 2.04/2.01 s; refresh of a backfill into an
# empty warehouse: 571k rows x 2 days 1.72-1.92 vs 1.35-1.41 s, 4M rows x
# 7 days 6.4 vs 3.9-4.6 s.
_SPREAD_MAX_ROWS = 100_000


def _by_tier_day(keys: list[tuple[str, str]], name: str, value: str) -> list[Column]:
    """One conditional sum of the SQL expression ``value`` per (tier, day)
    (observed metrics cannot group by), each parsed from one SQL string:
    a ``Column`` tree costs a py4j call per node, and with a dozen keys
    building them took longer than the refresh's own planning."""
    out = []
    for i, (t, d) in enumerate(keys):
        if dt.date.fromisoformat(d).isoformat() != d:
            raise ValueError(f"not an ISO day: {d!r}")
        out.append(F.expr(f"sum(CASE WHEN `__tier` = '{t}' AND `part_day` = '{d}' "
                          f"THEN {value} END) AS `{name}_{i}`"))
    return out


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
        # one partition per day: a date's partition dir reads yyyy-MM-dd,
        # the day key of the tier partitions under the engine's UTC session
        # (the cast sorts the append's rows by an int, not by the string
        # date_format gives: a 4M-row append took 2.2 s, not 3.1 s)
        self.input = ParquetSnapshotTable(
            os.path.join(warehouse, "input"),
            partition_spec=f"CAST({ident(ts_col)} AS DATE)")
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
        props = {t: self.tiers[t].properties() for t in self.TIERS}
        wms = {t: int(props[t].get("input_snapshot_id", 0)) for t in self.TIERS}
        cutoffs = {t: props[t].get("retention_cutoff", "") for t in self.TIERS}
        days: dict[str, list[str]] = {}  # tier -> the days its delta touches
        rows_in_1m: dict = {}
        pieces = []
        delta_rows = 0
        for wm in sorted({w for w in wms.values() if w < cur_snap}):
            # the days the delta touches and its rows per day, from the
            # catalog (key None: rows without a timestamp, which belong to
            # no bucket); a tier keeps only the days at or after its
            # retention cutoff, and a tier left with none is skipped
            rows_in = self.input.row_counts(wm, cur_snap)
            group_days = sorted(d for d in rows_in if d is not None)
            kept = {t: [d for d in group_days if d >= cutoffs[t]]
                    for t in self.TIERS if wms[t] == wm}
            group = [t for t in kept if kept[t]]
            # a tier whose delta touches only days below its cutoff has
            # nothing to merge: a property-only snapshot advances its
            # watermark, so later refreshes stop re-reading this delta
            for t in kept:
                if group_days and not kept[t]:
                    self.tiers[t].drop_partitions(
                        [], {"input_snapshot_id": cur_snap, "run_id": run_id})
                    self.manifest.set_watermark(t, cur_snap, run_id)
            if not group:
                continue
            delta_rows += sum(rows_in.values())
            if "1m" in group:
                rows_in_1m = rows_in
            delta = self.input.read_delta(spark, wm, cur_snap)
            parts = row_partials(
                delta.filter(F.col(self.ts_col).isNotNull()), "1m",
                series_cols=self.series_cols, ts_col=self.ts_col,
                value_col=self.value_col, sum_is_exact=self.sum_is_exact,
            ).select(F.explode(F.array(*map(F.lit, group))).alias("__tier"),
                     *self._agg_cols())
            for t in group:
                if kept[t][0] != group_days[0]:  # rows of days it expired
                    parts = parts.filter(
                        (F.col("__tier") != t)
                        | (F.date_format("bucket_ts", "yyyy-MM-dd") >= cutoffs[t]))
            pieces.append(parts.withColumn("bucket_ts", _rebucket(group)))
            for t in group:
                days[t] = kept[t]
                if self.tiers[t].partitions() & set(kept[t]):
                    pieces.append(
                        self.tiers[t].read(spark, partitions=kept[t])
                        .select(F.lit(t).alias("__tier"), *self._agg_cols()))
        if not days:
            return out

        unioned = reduce(DataFrame.unionByName, pieces)
        group_by = ["__tier", *self.series_cols, "bucket_ts"]
        if delta_rows <= _SPREAD_MAX_ROWS:
            # 1m rows spread over 4n series slots, hash-placed on n tasks
            # (more slots than tasks evens the load); 1h and 1d stay whole,
            # one file per day
            n = spark.sparkContext.defaultParallelism
            series = idents(self.series_cols)
            unioned = unioned.withColumn("__slot", F.expr(
                f"CASE WHEN `__tier` = '1m' THEN pmod(xxhash64({series}), {4 * n}) "
                "ELSE 0 END")).repartition(n, "__tier", "__slot")
            group_by.insert(1, "__slot")
        merged = merge_partials(unioned, group_by)
        merged = merged.select(
            *self._agg_cols(),
            F.date_format("bucket_ts", "yyyy-MM-dd").alias("part_day"), "__tier")
        schema = merged.drop("__tier").schema
        # lineage is observed after the final aggregate, in the write's
        # result stage, so a retried shuffle stage cannot count twice
        keys = [(t, d) for t in self.TIERS if t in days for d in days[t]]
        hashed = idents([*self.series_cols, "bucket_ts", "value_sum",
                         "point_count"])
        lineage = Observation()
        merged = merged.observe(
            lineage,
            *_by_tier_day(keys, "points", "1"),
            *_by_tier_day(keys, "checksum", f"pmod(xxhash64({hashed}), {_HASH_MOD})"),
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
        (partition-predicate DELETE + expire_snapshots, SURVEY.md §2.12) and
        record that cutoff as the tier's ``retention_cutoff`` snapshot
        property (it never moves back), so later refreshes leave older days
        out of the tier; then delete the files no snapshot of any tier
        references."""
        table = self.tiers[tier]
        recorded = table.latest_property("retention_cutoff", "")
        cutoff = max(recorded, (dt.date.fromisoformat(now_day)
                                - dt.timedelta(days=keep_days)).isoformat())
        victims = sorted(d for d in table.partitions() if d < cutoff)
        if victims or cutoff != recorded:
            table.drop_partitions(victims, {"retention_cutoff": cutoff})
        # every tier: refreshes retire replaced files from all of them
        for t in self.tiers.values():
            t.compact_files()
        return victims

    def tier_df(self, spark: SparkSession, tier: str) -> DataFrame:
        return self.tiers[tier].read(spark)
