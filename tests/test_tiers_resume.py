"""Tier engine tests (FIXTURES.md §B5): incremental refresh ≡ full
recompute, rerun-after-kill is a no-op, retention drops partitions and
never loses data of a coarser tier, token-array invariance through the
pipeline, and the commit path's shape: a bounded number of Spark jobs per
refresh, one write per refresh, lineage equal to the committed files, one
partition per file, orphaned staging dirs ignored and compacted, and a
kill between two tiers' log swaps resumed exactly."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from etna_spark.operators.rollup import rollup
from etna_spark.plans import tiers
from etna_spark.plans.tiers import TierEngine
from etna_spark.sources.catalog import ParquetSnapshotTable
from etna_spark.synth import token_table


@pytest.fixture(scope="module")
def tokens_df(spark):
    return token_table(spark, 4000, with_tokens=False).cache()


def _tiers_equal(a, b, keys=("source", "bucket_ts")):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_refresh_equals_full(spark, tokens_df, tmp_path):
    """Two-snapshot ingestion (70/30 split) then refresh twice ≡ one-shot."""
    inc = TierEngine(str(tmp_path / "inc"))
    full = TierEngine(str(tmp_path / "full"))

    part1 = tokens_df.filter(F.xxhash64("doc_id") % 10 < 7)
    part2 = tokens_df.filter(F.xxhash64("doc_id") % 10 >= 7)

    inc.input.append(part1)
    r1 = inc.refresh(spark)
    assert not r1["1m"]["skipped"]
    inc.input.append(part2)
    r2 = inc.refresh(spark)
    assert not r2["1m"]["skipped"]

    full.input.append(tokens_df)
    full.refresh(spark)

    for tier in ("1m", "1h", "1d"):
        a = inc.tier_df(spark, tier)
        b = full.tier_df(spark, tier)
        assert _tiers_equal(a, b), f"tier {tier} incremental != full"
        # and both equal a direct rollup from raw
        direct = rollup(tokens_df, tier).withColumn(
            "part_day", F.date_format("bucket_ts", "yyyy-MM-dd")
        )
        assert _tiers_equal(a.select(*direct.columns), direct)


def test_coalesced_merge_equals_spread_merge(spark, tokens_df, tmp_path, monkeypatch):
    """The merge shape for deltas above ``_SPREAD_MAX_ROWS`` (map-side
    partial aggregate, AQE-coalesced shuffle) gives the same tiers as the
    fixed-partition shape small deltas take."""
    part1 = tokens_df.filter(F.xxhash64("doc_id") % 10 < 7)
    part2 = tokens_df.filter(F.xxhash64("doc_id") % 10 >= 7)
    engines = {}
    for limit in (tiers._SPREAD_MAX_ROWS, 0):
        monkeypatch.setattr(tiers, "_SPREAD_MAX_ROWS", limit)
        eng = engines[limit] = TierEngine(str(tmp_path / f"wh{limit}"))
        for part in (part1, part2):
            eng.input.append(part)
            eng.refresh(spark)
    for tier in TIERS:
        a, b = (e.tier_df(spark, tier) for e in engines.values())
        assert _tiers_equal(a, b), tier
        direct = _direct(tokens_df, tier)
        assert _tiers_equal(b.select(*direct.columns), direct), tier


def test_rerun_is_noop(spark, tokens_df, tmp_path):
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    snap_before = {t: eng.tiers[t].current_snapshot_id() for t in ("1m", "1h", "1d")}
    r = eng.refresh(spark)  # nothing new appended
    assert all(v["skipped"] for v in r.values())
    snap_after = {t: eng.tiers[t].current_snapshot_id() for t in ("1m", "1h", "1d")}
    assert snap_before == snap_after


def test_resume_after_kill(spark, tokens_df, tmp_path):
    """Checkpoint = snapshot property → data commit + watermark advance are
    atomic. Kill scenarios:
    (a) mid-write (staged files exist, log not swapped) → rerun converges to
        the clean result, orphans ignored;
    (b) after commit → rerun is a no-op with identical content."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)

    extra = token_table(spark, 500, with_tokens=False).withColumn(
        "doc_id", F.concat(F.lit("x_"), "doc_id")
    )
    eng.input.append(extra)

    # (a) simulate a job killed mid-write: stage orphan files into the tier
    # table dir without committing the snapshot log
    eng.tiers["1m"]._stage_df(extra.limit(10))
    eng.refresh(spark)
    content = sorted(map(tuple, eng.tier_df(spark, "1m").collect()))

    # reference: clean engine over the same total input
    clean = TierEngine(str(tmp_path / "clean"))
    clean.input.append(tokens_df)
    clean.input.append(extra)
    clean.refresh(spark)
    expected = sorted(map(tuple, clean.tier_df(spark, "1m").collect()))
    assert content == expected

    # (b) rerun after successful commit: no-op, identical content
    r = eng.refresh(spark)
    assert all(v["skipped"] for v in r.values())
    again = sorted(map(tuple, eng.tier_df(spark, "1m").collect()))
    assert again == content


def test_lineage_and_metrics_recorded(spark, tokens_df, tmp_path):
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    recs = eng.manifest.records()
    kinds = {r["kind"] for r in recs}
    assert {"watermark", "lineage", "metrics"} <= kinds
    lineage = [r for r in recs if r["kind"] == "lineage" and r["tier"] == "1m"]
    assert lineage and all(
        {"partition", "rows_in", "points_out", "checksum"} <= set(r) for r in lineage
    )
    # lineage rows_in must cover the full input
    assert sum(r["rows_in"] for r in lineage) == tokens_df.count()


def test_retention_expires_partitions(spark, tokens_df, tmp_path):
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    days = sorted(
        r[0] for r in eng.tier_df(spark, "1m").select("part_day").distinct().collect()
    )
    assert len(days) >= 3  # synth window spans 3+ days
    victims = eng.expire("1m", keep_days=1, now_day=days[-1])
    assert victims == days[:-2]
    left = sorted(
        r[0] for r in eng.tier_df(spark, "1m").select("part_day").distinct().collect()
    )
    assert left == days[-2:]
    # other tiers untouched
    assert eng.tier_df(spark, "1d").select("part_day").distinct().count() == len(days)


def test_refresh_after_retention_no_double_count(spark, tokens_df, tmp_path):
    """Retention must not erase the tier watermark (snapshot properties):
    a refresh after expire sees only the NEW delta — no re-read of the whole
    input, no sum-merge double-counting, no resurrection of expired days."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    days = sorted(
        r[0] for r in eng.tier_df(spark, "1m").select("part_day").distinct().collect()
    )
    victims = eng.expire("1m", keep_days=1, now_day=days[-1])
    assert victims  # something actually expired

    # new data lands only in the surviving (latest) days
    extra = (
        token_table(spark, 500, with_tokens=False)
        .withColumn("doc_id", F.concat(F.lit("y_"), "doc_id"))
        .filter(F.date_format(F.date_trunc("minute", "event_ts"), "yyyy-MM-dd")
                .isin(days[-2:]))
    )
    assert extra.count() > 0
    eng.input.append(extra)
    r = eng.refresh(spark)
    assert not r["1m"]["skipped"]
    # only surviving-day partitions were touched
    assert set(r["1m"]["partitions"]) <= set(days[-2:])

    got = eng.tier_df(spark, "1m")
    # expired days stay expired
    left = {x[0] for x in got.select("part_day").distinct().collect()}
    assert left == set(days[-2:])
    # surviving days match a clean recompute over the full input (no
    # double-counted aggregates)
    expected = (
        rollup(tokens_df.unionByName(extra), "1m")
        .withColumn("part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))
        .filter(F.col("part_day").isin(days[-2:]))
    )
    assert _tiers_equal(got.select(*expected.columns), expected)


def test_token_arrays_flow_through_untouched(spark, tmp_path):
    """input_hint invariant: the tokens column is byte-identical end-to-end
    through catalog append/read (the engine never mutates it)."""
    tt = token_table(spark, 300, with_tokens=True)
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tt)
    back = eng.input.read(spark)
    orig = {r["doc_id"]: r["tokens"] for r in tt.collect()}
    got = {r["doc_id"]: r["tokens"] for r in back.collect()}
    assert orig == got
    checks = (
        back.withColumn(
            "ok",
            (F.size("tokens") == F.col("n_tok"))
            & (
                F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)
                == F.aggregate(
                    "tokens", F.lit(0).cast("long"), lambda a, x: a + x
                )
            ),
        )
        .agg(F.min("ok"))
        .collect()[0][0]
    )
    assert checks is True


# -- commit path --------------------------------------------------------------

TIERS = ("1m", "1h", "1d")


def _one_day_extra(spark, prefix: str, day: str):
    return (
        token_table(spark, 500, with_tokens=False)
        .withColumn("doc_id", F.concat(F.lit(prefix), "doc_id"))
        .filter(F.date_format("event_ts", "yyyy-MM-dd") == day)
    )


def _newest_metrics(eng) -> dict[str, dict]:
    out = {}
    for r in eng.manifest.records():
        if r["kind"] == "metrics":
            out[r["tier"]] = r
    return out


def test_incremental_refresh_job_budget(spark, tokens_df, tmp_path):
    """After a seed refresh, a one-day append + refresh runs at most 2 Spark
    jobs in all (the write: the days and rows in come from the catalog) (counted here in a job group of the test's own), and every
    tier's metrics record carries the refresh's shared run id, job count
    and wall time."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    eng.input.append(_one_day_extra(spark, "j_", "2026-01-02"))

    sc = spark.sparkContext
    sc.setJobGroup("tier-job-budget", "incremental tier refresh")
    try:
        r = eng.refresh(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(1)  # the status tracker is fed asynchronously
    total = len(sc.statusTracker().getJobIdsForGroup("tier-job-budget"))

    assert all(r[t]["partitions"] == ["2026-01-02"] for t in TIERS)
    metrics = _newest_metrics(eng)
    shared = {(metrics[t]["run_id"], metrics[t]["spark_jobs"],
               metrics[t]["wall_time_sec"]) for t in TIERS}
    assert len(shared) == 1, shared
    ((run_id, jobs, wall),) = shared
    assert run_id == r["1m"]["run_id"]
    assert 1 <= jobs <= total <= 2, (jobs, total)
    # wall time covers the whole refresh up to the commits
    assert wall > 0


def test_lineage_matches_committed_files(spark, tokens_df, tmp_path):
    """After an incremental refresh, every tier's newest lineage record per
    partition equals a checksum/points recomputation from the files."""
    eng = TierEngine(str(tmp_path / "wh"))
    part1 = tokens_df.filter(F.xxhash64("doc_id") % 10 < 7)
    eng.input.append(part1)
    eng.refresh(spark)
    eng.input.append(tokens_df.subtract(part1))
    eng.refresh(spark)

    lineage = {}
    for r in eng.manifest.records():
        if r["kind"] == "lineage":
            lineage[(r["tier"], r["partition"])] = r
    for tier in TIERS:
        got = (
            eng.tier_df(spark, tier)
            .groupBy("part_day")
            .agg(
                F.sum(F.pmod(F.xxhash64("source", "bucket_ts", "value_sum",
                                        "point_count"),
                             F.lit(1_000_000_007))).alias("checksum"),
                F.count("*").alias("points"),
            )
            .collect()
        )
        assert got
        for r in got:
            rec = lineage[(tier, r["part_day"])]
            assert (rec["checksum"], rec["points_out"]) == (r["checksum"], r["points"])


def test_tier_files_hold_one_partition(spark, tokens_df, tmp_path):
    """Every committed tier and input file sits flat in a ``data-<uuid>/``
    dir and holds exactly one day (``part_day`` in a tier file, the day of
    ``event_ts`` in an input file), the one the partition map records for
    it, next to the file's row count."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    eng.input.append(_one_day_extra(spark, "p_", "2026-01-03"))
    eng.refresh(spark)
    for table in (eng.input, *eng.tiers.values()):
        entries = table._file_entries()
        files = [f for s in table.snapshots() for f in s.files]
        assert files
        for f in files:
            stage, name = f.split(os.sep)
            assert stage.startswith("data-") and name.endswith(".parquet")
            rows = pq.read_table(os.path.join(table.root, f))
            if table is eng.input:
                days = {t.strftime("%Y-%m-%d") for t in rows["event_ts"].to_pylist()}
            else:
                days = set(rows["part_day"].to_pylist())
            assert days == {entries[f]["partition"]}, (f, days, entries[f])
            assert entries[f]["rows"] == rows.num_rows
        assert table.partitions() == {entries[f]["partition"] for f in files}
    assert sum(eng.input.row_counts().values()) == eng.input.read(spark).count()


def test_killed_partitioned_write_ignored_and_compacted(spark, tokens_df, tmp_path,
                                                        monkeypatch):
    """A partitioned staging dir left by a kill before the log swap (files
    moved up, or still in their ``<col>=<value>`` subdirs) is not read, the
    rerun converges to the clean result, and ``compact_files`` removes it."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    extra = _one_day_extra(spark, "k_", "2026-01-02")
    eng.input.append(extra)
    t1m = eng.tiers["1m"]
    before = set(os.listdir(t1m.root))

    def killed(snaps):
        raise RuntimeError("killed before the log swap")

    monkeypatch.setattr(t1m, "_write_log", killed)
    with pytest.raises(RuntimeError):
        eng.refresh(spark)
    monkeypatch.undo()
    (moved,) = set(os.listdir(t1m.root)) - before
    assert moved.startswith("data-")
    # a kill during the Spark write leaves the partition subdirs in place
    unmoved = os.path.join(t1m.root, "data-killed")
    (eng.tier_df(spark, "1m").withColumn("__part_day", F.col("part_day"))
     .write.partitionBy("__part_day").parquet(unmoved))
    assert any(d.startswith("__part_day=") for d in os.listdir(unmoved))

    eng.refresh(spark)
    clean = TierEngine(str(tmp_path / "clean"))
    clean.input.append(tokens_df)
    clean.input.append(extra)
    clean.refresh(spark)
    for tier in TIERS:
        assert _tiers_equal(eng.tier_df(spark, tier), clean.tier_df(spark, tier))

    t1m.compact_files()
    left = set(os.listdir(t1m.root))
    assert moved not in left and "data-killed" not in left
    live = [f for s in t1m.snapshots() for f in s.files]
    assert all(os.path.exists(os.path.join(t1m.root, f)) for f in live)
    assert _tiers_equal(eng.tier_df(spark, "1m"), clean.tier_df(spark, "1m"))


def test_seven_day_input_one_write_per_tier(spark, tmp_path, monkeypatch):
    """A refresh over a 7-day input commits every tier from one parquet
    write (not one per tier or day) within the refresh's job budget."""
    week = token_table(spark, 3000, with_tokens=False, window_seconds=7 * 86400)
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(week)

    writes = []
    orig = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        writes.append(path)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    r = eng.refresh(spark)
    monkeypatch.undo()

    assert len(writes) == 1
    metrics = _newest_metrics(eng)
    for tier in TIERS:
        assert len(r[tier]["partitions"]) == 7
        assert eng.tiers[tier].partitions() == set(r[tier]["partitions"])
        assert metrics[tier]["spark_jobs"] <= 2
    direct = rollup(week, "1h").withColumn(
        "part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))
    assert _tiers_equal(eng.tier_df(spark, "1h").select(*direct.columns), direct)


def test_null_values_merge_like_rollup(spark, tokens_df, tmp_path):
    """Rows with a null value merge incrementally exactly like a direct
    rollup (point_count skips them), and lineage rows_in still counts them."""
    nulls = tokens_df.withColumn(
        "n_tok", F.when(F.xxhash64("doc_id") % 5 == 0, None).otherwise(F.col("n_tok")))
    first = nulls.filter(F.xxhash64("doc_id") % 2 == 0)
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(first)
    eng.refresh(spark)
    eng.input.append(nulls.subtract(first))
    eng.refresh(spark)
    for tier in TIERS:
        direct = rollup(nulls, tier).withColumn(
            "part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))
        assert _tiers_equal(eng.tier_df(spark, tier).select(*direct.columns), direct)
    rows_in = sum(r["rows_in"] for r in eng.manifest.records()
                  if r["kind"] == "lineage" and r["tier"] == "1m")
    assert rows_in == tokens_df.count()


def _direct(df, tier):
    return rollup(df, tier).withColumn(
        "part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))


def test_late_row_after_retention(spark, tokens_df, tmp_path):
    """A late row for a day the 1m tier has already expired: 1m, whose
    retention cutoff is past that day, is skipped and holds no partition of
    it; 1h and 1d merge it into their own rows of that day, so they still
    equal a direct rollup of all input. The coarser tiers' lineage for the
    day records as rows in the finer tier's points out: 1h takes 1m's
    newest lineage record of the day (from before it expired), 1d takes
    1h's points out of this commit."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    assert eng.expire("1m", keep_days=1, now_day="2026-01-03") == ["2026-01-01"]
    old_1m = _newest_lineage(eng)[("1m", "2026-01-01")]
    late = (tokens_df.limit(1)
            .withColumn("doc_id", F.lit("late_0"))
            .withColumn("event_ts",
                        F.lit("2026-01-01 07:00:00").cast(tokens_df.schema["event_ts"].dataType)))
    eng.input.append(late)
    r = eng.refresh(spark)
    assert r["1m"]["skipped"]
    assert all(r[t]["partitions"] == ["2026-01-01"] for t in ("1h", "1d"))
    assert "2026-01-01" not in eng.tiers["1m"].partitions()
    everything = tokens_df.unionByName(late)
    kept_1m = _direct(everything, "1m").filter(F.col("part_day") >= "2026-01-02")
    assert _tiers_equal(eng.tier_df(spark, "1m").select(*kept_1m.columns), kept_1m)
    for tier in ("1h", "1d"):
        direct = _direct(everything, tier)
        assert _tiers_equal(eng.tier_df(spark, tier).select(*direct.columns), direct), tier
    lineage = _newest_lineage(eng)
    assert lineage[("1h", "2026-01-01")][0] == old_1m[1]
    assert lineage[("1d", "2026-01-01")][0] == lineage[("1h", "2026-01-01")][1]
    # the cutoff holds without a new expire, and a rerun is a no-op
    assert eng.tiers["1m"].latest_property("retention_cutoff") == "2026-01-02"
    assert all(eng.refresh(spark)[t]["skipped"] for t in TIERS)


def test_null_timestamps_reach_no_tier(spark, tokens_df, tmp_path):
    """Rows without a timestamp count in the 1m metrics' rows in and reach
    no tier, so every tier equals a direct rollup of the other rows; a
    delta of only such rows is skipped and leaves every watermark as it
    was."""
    ts = tokens_df.schema["event_ts"].dataType
    mixed = tokens_df.withColumn(
        "event_ts", F.when(F.xxhash64("doc_id") % 7 == 0, F.lit(None).cast(ts))
        .otherwise(F.col("event_ts")))
    timed = mixed.filter(F.col("event_ts").isNotNull())
    assert timed.count() < tokens_df.count()
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(mixed)
    r = eng.refresh(spark)
    assert r["1m"]["rows_in"] == tokens_df.count()
    assert _newest_metrics(eng)["1m"]["rows_in"] == tokens_df.count()
    assert sum(rec["rows_in"] for rec in eng.manifest.records()
               if rec["kind"] == "lineage" and rec["tier"] == "1m") == timed.count()
    for tier in TIERS:
        direct = _direct(timed, tier)
        assert _tiers_equal(eng.tier_df(spark, tier).select(*direct.columns), direct), tier

    wms = {t: eng.tiers[t].latest_property("input_snapshot_id") for t in TIERS}
    eng.input.append(mixed.filter(F.col("event_ts").isNull()))
    assert eng.input.row_counts(wms["1m"]) == {None: tokens_df.count() - timed.count()}
    r = eng.refresh(spark)
    assert all(r[t]["skipped"] for t in TIERS)
    assert {t: eng.tiers[t].latest_property("input_snapshot_id") for t in TIERS} == wms


def test_unrecorded_input_file_raises_before_any_job(spark, tokens_df, tmp_path):
    """An input file with no recorded partition (a warehouse built before
    the input table recorded them) makes refresh raise ``ValueError``
    before any Spark job, and nothing is committed."""
    eng = TierEngine(str(tmp_path / "wh"))
    ParquetSnapshotTable(eng.input.root).append(tokens_df)  # no partition spec
    sc = spark.sparkContext
    sc.setJobGroup("tier-unrecorded-input", "refresh over an unrecorded input")
    try:
        with pytest.raises(ValueError, match="rebuild the warehouse"):
            eng.refresh(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(1)  # the status tracker is fed asynchronously
    assert sc.statusTracker().getJobIdsForGroup("tier-unrecorded-input") == []
    assert all(eng.tiers[t].current_snapshot_id() == 0 for t in TIERS)
    assert eng.manifest.records() == []


def _newest_lineage(eng) -> dict[tuple[str, str], tuple]:
    """Newest lineage per (tier, partition); 1m's rows_in counts only the
    delta a commit read, so it is left out."""
    out = {}
    for r in eng.manifest.records():
        if r["kind"] == "lineage":
            rows_in = None if r["tier"] == "1m" else r["rows_in"]
            out[(r["tier"], r["partition"])] = (
                rows_in, r["points_out"], r["checksum"])
    return out


def test_kill_between_log_swaps_resumes(spark, tokens_df, tmp_path, monkeypatch):
    """A kill after the 1m swap, in the 1h swap, leaves 1h/1d at the old
    watermark. The rerun refreshes only 1h/1d, each from its own delta,
    with no double count: every tier and its newest lineage equal a clean
    engine's."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    extra = _one_day_extra(spark, "s_", "2026-01-02")
    cur = eng.input.append(extra)

    def killed(snaps):
        raise RuntimeError("killed in the 1h log swap")

    monkeypatch.setattr(eng.tiers["1h"], "_write_log", killed)
    with pytest.raises(RuntimeError):
        eng.refresh(spark)
    monkeypatch.undo()
    wms = {t: eng.tiers[t].latest_property("input_snapshot_id") for t in TIERS}
    assert wms["1m"] == cur and wms["1h"] == wms["1d"] < cur

    r = eng.refresh(spark)
    assert r["1m"]["skipped"] and not r["1h"]["skipped"] and not r["1d"]["skipped"]
    assert all(eng.refresh(spark)[t]["skipped"] for t in TIERS)

    clean = TierEngine(str(tmp_path / "clean"))
    clean.input.append(tokens_df)
    clean.input.append(extra)
    clean.refresh(spark)
    for tier in TIERS:
        assert _tiers_equal(eng.tier_df(spark, tier), clean.tier_df(spark, tier)), tier
    assert _newest_lineage(eng) == _newest_lineage(clean)


def test_write_killed_before_move_compacted(spark, tokens_df, tmp_path, monkeypatch):
    """A refresh killed after its Spark write, before any file moved into a
    tier table, leaves only a staging dir in the 1m table, which reads
    ignore and ``compact_files`` removes; the rerun equals a clean engine."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    extra = _one_day_extra(spark, "m_", "2026-01-03")
    eng.input.append(extra)
    before = {t: set(os.listdir(eng.tiers[t].root)) for t in TIERS}

    def killed(self, path):
        raise RuntimeError("killed before the move")

    monkeypatch.setattr(ParquetSnapshotTable, "take_staged", killed)
    with pytest.raises(RuntimeError):
        eng.refresh(spark)
    monkeypatch.undo()
    t1m = eng.tiers["1m"]
    (staged,) = set(os.listdir(t1m.root)) - before["1m"]
    assert staged.startswith("data-")
    for tier in ("1h", "1d"):
        assert set(os.listdir(eng.tiers[tier].root)) == before[tier]
    t1m.compact_files()
    assert set(os.listdir(t1m.root)) == before["1m"]

    eng.refresh(spark)
    clean = TierEngine(str(tmp_path / "clean"))
    clean.input.append(tokens_df)
    clean.input.append(extra)
    clean.refresh(spark)
    for tier in TIERS:
        assert _tiers_equal(eng.tier_df(spark, tier), clean.tier_df(spark, tier)), tier


def test_expire_leaves_only_live_files(spark, tokens_df, tmp_path):
    """After refresh + expire cycles, every tier root holds exactly the
    parquet files its snapshot log references: files that overwrites
    retired from 1h/1d are deleted too, not only those of the expired
    tier."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    for i, day in enumerate(("2026-01-02", "2026-01-03")):
        eng.input.append(_one_day_extra(spark, f"e{i}_", day))
        eng.refresh(spark)
        eng.expire("1m", keep_days=1, now_day=day)
    for tier in TIERS:
        table = eng.tiers[tier]
        live = {f for s in table.snapshots() for f in s.files}
        on_disk = {
            os.path.relpath(os.path.join(d, f), table.root)
            for d, _, files in os.walk(table.root) for f in files
            if f.endswith(".parquet")
        }
        assert live and on_disk == live, (tier, sorted(on_disk - live))
