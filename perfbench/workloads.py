"""The benchmark's workloads: seeded inputs, set-up, timed operations and the
output checks, each against the package's public API.

Every workload is closed-loop with a single caller, which is how a
scheduler drives ``jobs/rollup_refresh.py``: the next operation starts only
after the previous one returned. Inputs are drawn from ``numpy`` with the
run's seed and handed to the program as parquet files or DataFrames; the
program never sees the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etna_spark.codec.gorilla import decode_series, encode_series
from etna_spark.data.dedup import minhash_band_pairs, minhash_signatures
from etna_spark.data.similarity import embedding_neardup_pairs, embedding_signatures
from etna_spark.operators.lags import lag_transform
from etna_spark.operators.spine import ffill, interpolate_linear, regularize
from etna_spark.operators.window_stats import window_stat
from etna_spark.plans.manifest import Manifest
from etna_spark.plans.tiers import TierEngine
from etna_spark.sources.catalog import ParquetSnapshotTable

from stats import new_files
from tracing import wrap_method

SERIES = ("source", "bkt")
N_SOURCES = 8
N_BUCKETS = 8
DAY0 = np.datetime64("2026-01-01", "D")
TIER_STEP = {"1m": 60, "1h": 3600, "1d": 86400}
HASH_MOD = 1_000_000_007


# -- inputs ---------------------------------------------------------------------


def token_rows(rng: np.random.Generator, n: int, day: np.datetime64,
               n_days: int = 1) -> pa.Table:
    """``n`` token-count rows spread uniformly over ``n_days`` days from
    ``day``: the ``synth.token_table`` recipe with a seeded generator.
    ``source`` is Zipf-like (src_k takes ~2^-(k+1) of the rows) and ``bkt``
    is a uniform salt bucket, so the series key (source, bkt) is skewed."""
    src = np.minimum(rng.geometric(0.5, n) - 1, N_SOURCES - 1)
    secs = rng.integers(0, n_days * 86400, n)
    ts = day.astype("datetime64[s]") + secs.astype("timedelta64[s]")
    return pa.table({
        "source": pa.array([f"src_{k}" for k in src], pa.string()),
        "bkt": pa.array(rng.integers(0, N_BUCKETS, n).astype(np.int32)),
        "event_ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        "n_tok": pa.array((16 + rng.integers(0, 497, n)).astype(np.int32)),
    })


def day_str(day: np.datetime64) -> str:
    return str(day.astype("datetime64[D]"))


# -- outside-in storage counters and layer wrappers -----------------------------


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under a table root, path -> size."""
    out = {}
    if not os.path.isdir(root):
        return out
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("data-") and os.path.isdir(p):
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    out[os.path.join(d, f)] = os.path.getsize(os.path.join(p, f))
    return out


def live_files(root: str) -> list[str]:
    """Files the table's snapshot log references (its current content)."""
    path = os.path.join(root, "_snapshots.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return sorted({p for s in json.load(f) for p in s["files"]})


def file_size(path: str) -> int:
    return os.path.getsize(path) if os.path.exists(path) else 0


def warehouse_storage(eng: TierEngine) -> dict[str, float]:
    """Live tier bytes and points, snapshot-log and manifest sizes, and
    files on disk that no snapshot references."""
    con = duckdb.connect()
    live_bytes = points = live_n = orphans = log_bytes = 0
    for table in (eng.input, *eng.tiers.values()):
        files = live_files(table.root)
        on_disk = data_files(table.root)
        orphans += len(set(on_disk) - set(files))
        log_bytes += file_size(os.path.join(table.root, "_snapshots.json"))
        if table is eng.input:
            continue
        live_n += len(files)
        live_bytes += sum(on_disk.get(p, 0) for p in files)
        paths = ",".join(f"'{os.path.join(table.root, p)}'" for p in files)
        points += con.execute(
            f"SELECT count(*) FROM read_parquet([{paths}])").fetchone()[0]
    con.close()
    return {
        "catalog.bytes_per_point": live_bytes / max(points, 1),
        "catalog.live_files": live_n,
        "catalog.orphan_files": orphans,
        "catalog.snapshot_log_bytes": log_bytes,
        "manifest.bytes": file_size(eng.manifest.path),
    }


class StorageCounters:
    """Files and bytes written per table by the timed ops, from directory
    walks around each commit; installed only in the traced run."""

    def __init__(self):
        self.files: dict[str, int] = {}
        self.bytes: dict[str, int] = {}

    def before(self, table: ParquetSnapshotTable):
        return data_files(table.root)

    def after(self, table: ParquetSnapshotTable, before, span) -> None:
        if span.op is None:  # set-up, warm-up and checks are not counted
            return
        n, b = new_files(before, data_files(table.root))
        name = os.path.basename(table.root)
        self.files[name] = self.files.get(name, 0) + n
        self.bytes[name] = self.bytes.get(name, 0) + b



def instrument(tracer, storage: StorageCounters) -> None:
    """Wrap the public methods of the catalog, manifest and tier engine."""
    cat = ParquetSnapshotTable
    for m in ("append", "overwrite_partitions"):
        wrap_method(tracer, cat, m, f"catalog.{m}", spark_jobs=True,
                    before=storage.before, after=storage.after)
    for m in ("read", "read_delta", "drop_partitions", "compact_files"):
        wrap_method(tracer, cat, m, f"catalog.{m}", spark_jobs=True)
    for m in ("snapshots", "current_snapshot_id", "latest_property"):
        wrap_method(tracer, cat, m, f"catalog.{m}")
    for m in ("records", "watermark", "set_watermark", "log_lineage", "log_metrics"):
        wrap_method(tracer, Manifest, m, f"manifest.{m}")
    for m in ("refresh", "expire", "tier_df"):
        wrap_method(tracer, TierEngine, m, f"tiers.{m}", spark_jobs=True)


# -- output checks ----------------------------------------------------------------


def pair_digest(res: pd.DataFrame) -> str:
    """Order-insensitive digest of a pair set."""
    pairs = sorted(zip(res["id_a"].astype(int), res["id_b"].astype(int)))
    return hashlib.sha1(repr(pairs).encode()).hexdigest()


class CheckFailed(Exception):
    """An output of the program differs from its recomputation."""


def require(ok, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def check_tiers(spark, eng: TierEngine, input_files: list[str],
                cutoff_1m: str | None) -> list[str]:
    """Every tier equals a DuckDB recomputation over the input parquet the
    program was given (1m after retention), and the newest lineage record
    of every live partition matches its recomputed checksum and count."""
    errors = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = "read_parquet([" + ",".join(f"'{p}'" for p in input_files) + "])"
    lineage = {}
    for r in Manifest(eng.manifest.path).records():
        if r.get("kind") == "lineage":
            lineage[(r["tier"], r["partition"])] = r
    for tier, step in TIER_STEP.items():
        root = eng.tiers[tier].root
        files = [os.path.join(root, p) for p in live_files(root)]
        if not files:
            errors.append(f"tier {tier}: no live files")
            continue
        got = "read_parquet([" + ",".join(f"'{p}'" for p in files) + "])"
        keep = f"WHERE b >= epoch(DATE '{cutoff_1m}')" if tier == "1m" and cutoff_1m else ""
        diff = con.execute(f"""
            WITH exp AS (
              SELECT * FROM (
                SELECT source, CAST(bkt AS BIGINT) AS bkt,
                  CAST(floor(epoch(event_ts) / {step}) * {step} AS BIGINT) AS b,
                  CAST(count(*) AS BIGINT) AS c,
                  CAST(sum(n_tok) AS BIGINT) AS s,
                  CAST(min(n_tok) AS BIGINT) AS mn,
                  CAST(max(n_tok) AS BIGINT) AS mx,
                  CAST(sum(CAST(n_tok AS BIGINT) * n_tok) AS BIGINT) AS sq
                FROM {src} GROUP BY ALL) {keep}
            ), got AS (
              SELECT source, CAST(bkt AS BIGINT) AS bkt,
                CAST(epoch(bucket_ts) AS BIGINT) AS b,
                CAST(point_count AS BIGINT) AS c, CAST(value_sum AS BIGINT) AS s,
                CAST(value_min AS BIGINT) AS mn, CAST(value_max AS BIGINT) AS mx,
                CAST(value_sumsq AS BIGINT) AS sq
              FROM {got}
            )
            SELECT (SELECT count(*) FROM (FROM exp EXCEPT ALL FROM got)),
                   (SELECT count(*) FROM (FROM got EXCEPT ALL FROM exp)),
                   (SELECT count(*) FROM got)
        """).fetchone()
        if diff[0] or diff[1] or not diff[2]:
            errors.append(f"tier {tier}: {diff[0]} missing, {diff[1]} unexpected "
                          f"of {diff[2]} rows vs recomputation")
        sums = (
            spark.read.parquet(*files)
            .groupBy("part_day")
            .agg(
                F.sum(F.pmod(F.xxhash64(*SERIES, "bucket_ts", "value_sum", "point_count"),
                             F.lit(HASH_MOD))).alias("checksum"),
                F.count("*").alias("points"),
            )
            .collect()
        )
        for r in sums:
            rec = lineage.get((tier, r["part_day"]))
            if rec is None:
                errors.append(f"tier {tier} {r['part_day']}: no lineage record")
            elif (rec["checksum"], rec["points_out"]) != (r["checksum"], r["points"]):
                errors.append(f"tier {tier} {r['part_day']}: lineage "
                              f"{rec['checksum']}/{rec['points_out']} vs "
                              f"recomputed {r['checksum']}/{r['points']}")
    con.close()
    stats = eng.refresh(spark)
    if not all(s["skipped"] for s in stats.values()):
        errors.append("refresh with no new input did not skip every tier")
    return errors


def _close(a, b) -> bool:
    return bool(np.allclose(a, b, rtol=1e-9, atol=1e-6, equal_nan=True))


def check_gapfill(res: pd.DataFrame, exp: pd.DataFrame, step: int) -> None:
    """Recompute regularize + ffill + linear interpolation with pandas: each
    series on the shared [min, max] grid of the query."""
    grid = np.arange(exp["ts"].min(), exp["ts"].max() + step, step)
    parts = []
    for (s, b), g in exp.groupby(["source", "bkt"]):
        v = pd.Series(g["v"].to_numpy(), index=g["ts"].to_numpy()).reindex(grid)
        parts.append(pd.DataFrame({"source": s, "bkt": b, "ts": grid,
                                   "v": v.ffill().to_numpy(),
                                   "v_lin": v.interpolate(method="linear").to_numpy()}))
    want = pd.concat(parts).sort_values(["source", "bkt", "ts"]).reset_index(drop=True)
    got = res.sort_values(["source", "bkt", "ts"]).reset_index(drop=True)
    require(len(got) == len(want), f"{len(got)} rows, expected {len(want)}")
    require((got["ts"].to_numpy() == want["ts"].to_numpy()).all(), "grid differs")
    for c in ("v", "v_lin"):
        require(_close(got[c].to_numpy(float), want[c].to_numpy(float)), f"{c} differs")


def check_window(res: pd.DataFrame, exp: pd.DataFrame) -> None:
    """Recompute the trailing 60-point mean/std/max and lag diff with pandas."""
    got = res.sort_values(["source", "bkt", "ts"]).reset_index(drop=True)
    require(len(got) == len(exp), f"{len(got)} rows, expected {len(exp)}")
    g = exp.groupby(["source", "bkt"])["v"]
    want = {
        "v_mean": g.transform(lambda x: x.rolling(60, min_periods=1).mean()),
        "v_std": g.transform(lambda x: x.rolling(60, min_periods=1).std()).fillna(0.0),
        "v_max": g.transform(lambda x: x.rolling(60, min_periods=1).max()),
        "v_diff": exp["v"] - g.shift(1),
    }
    require((got["ts"].to_numpy() == exp["ts"].to_numpy()).all(), "rows differ")
    for c, w in want.items():
        require(_close(got[c].to_numpy(float), w.to_numpy(float)), f"{c} differs")


def check_codec(res: pd.DataFrame, exp: pd.DataFrame) -> None:
    """Gorilla decode must return its input bit for bit."""
    got = res.sort_values(["source", "bkt", "ts"]).reset_index(drop=True)
    require(len(got) == len(exp), f"{len(got)} points, expected {len(exp)}")
    require((got["ts"].to_numpy() == exp["ts"].to_numpy()).all(), "timestamps differ")
    gv = got["v"].to_numpy(np.float64).view(np.uint64)
    ev = exp["v"].to_numpy(np.float64).view(np.uint64)
    require((gv == ev).all(), f"{int((gv != ev).sum())} values not bit-exact")


# -- workloads -------------------------------------------------------------------------


def backfill(spark, eng: TierEngine, path: str, n_rows: int) -> float:
    """Append one multi-day input file and refresh every tier; rows/s."""
    t = time.perf_counter()
    eng.input.append(spark.read.parquet(path))
    eng.refresh(spark)
    return n_rows / (time.perf_counter() - t)


class Workload:
    """One workload: ``setup`` builds its state, ``warm`` runs untimed
    operations, ``op`` is one timed operation and ``check`` returns the
    output errors found after the timed loop."""

    name = ""
    python_workers = False  # whether its ops run Python UDFs
    round_ops = 1  # the timed loop runs whole rounds of this many ops

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.rng = np.random.default_rng(seed)
        self.errors: list[str] = []
        self.backfill_rows_per_s = 0.0
        os.makedirs(work, exist_ok=True)

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        pass

    def op(self, i: int) -> None:
        """One timed operation."""
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed work between operations (retention, staging input)."""

    def check(self) -> list[str]:
        return self.errors

    def counters(self) -> dict[str, float]:
        """Per-layer counters taken at the end of the run."""
        return {"tiers.backfill_rows_per_s": self.backfill_rows_per_s}


class TierIngest(Workload):
    """Seed a multi-day warehouse, then append a small micro-batch into the
    current day (a fixed share of late rows for the previous day) and
    refresh; every ``CYCLES_PER_DAY`` cycles the day advances and the 1m
    tier is expired, so the warehouse stays bounded.

    Sizes follow a probe of this path at local[4]: a 2M-row, 7-day
    backfill (~286k rows a day), then ~20k-row appends, each refresh
    running ~45 Spark jobs. The seeded days keep the probe's density but
    are cut from 7 to 2, because set-up runs in every run of the
    benchmark. ``LATE_SHARE`` and ``CYCLES_PER_DAY`` are not measured:
    any late share above 0 makes each cycle rewrite the previous day's
    partition in every tier too, and 10% leaves most rows in the current
    day; two cycles a day put a day rollover with retention into every
    round, since a run times only a few cycles. A scheduler would run many
    more cycles a day."""

    name = "tier_ingest"
    SEED_DAYS = 2
    SEED_ROWS_PER_DAY = 2_000_000 // 7
    BATCH_ROWS = 20_000
    LATE_SHARE = 0.1
    CYCLES_PER_DAY = 2
    KEEP_DAYS_1M = 1
    # the first cycles after set-up run 20-50% slower while the JVM warms;
    # the set-up backfill and one untimed cycle take the worst of it
    WARM_CYCLES = 1
    round_ops = 2

    def setup(self) -> None:
        self.input_files: list[str] = []  # every file appended so far
        self.staged = 0
        self.cutoff: str | None = None
        self.cycle = 0
        self.day = DAY0 + self.SEED_DAYS - 1
        self.eng = TierEngine(os.path.join(self.work, "wh"), series_cols=SERIES)
        n = self.SEED_DAYS * self.SEED_ROWS_PER_DAY
        path = self._stage(token_rows(self.rng, n, DAY0, self.SEED_DAYS))
        self.backfill_rows_per_s = backfill(self.spark, self.eng, path, n)
        self.input_files.append(path)
        self._next_batch()

    def _stage(self, table: pa.Table) -> str:
        self.staged += 1
        path = os.path.join(self.work, f"batch-{self.staged:05d}.parquet")
        pq.write_table(table, path)
        return path

    def _next_batch(self) -> None:
        n_late = int(self.BATCH_ROWS * self.LATE_SHARE)
        self.batch = self._stage(pa.concat_tables([
            token_rows(self.rng, self.BATCH_ROWS - n_late, self.day),
            token_rows(self.rng, n_late, self.day - 1),
        ]))

    def op(self, i: int) -> None:
        """One freshness sample: the append call until refresh returns."""
        self.eng.input.append(self.spark.read.parquet(self.batch))
        self.input_files.append(self.batch)
        self.eng.refresh(self.spark)

    def after_op(self, i: int) -> None:
        self.cycle += 1
        if self.cycle % self.CYCLES_PER_DAY == 0:
            self.day = self.day + 1
            self.eng.expire("1m", self.KEEP_DAYS_1M, day_str(self.day))
            self.cutoff = day_str(self.day - self.KEEP_DAYS_1M)
        self._next_batch()

    def warm(self) -> None:
        for i in range(self.WARM_CYCLES):
            self.op(i)
            self.after_op(i)

    def check(self) -> list[str]:
        return self.errors + check_tiers(self.spark, self.eng, self.input_files,
                                         self.cutoff)

    def counters(self) -> dict[str, float]:
        return {**super().counters(), **warehouse_storage(self.eng)}


class QueryDedup(Workload):
    """Reads that never commit. A seeded mix of gap-fill, window and
    Gorilla-codec queries over a warehouse the engine built during set-up
    (narrow: one day of the 1m tier, a few series; wide: every day of the
    1h tier, all series), interleaved with MinHash-LSH and embedding
    near-dup passes over a corpus with a planted near-duplicate population
    (every ``DUP_MOD``-th row is a perturbed copy of its predecessor)."""

    name = "query_dedup"
    python_workers = True
    DAYS = 2
    ROWS_PER_DAY = 20_000
    NARROW_SERIES = 3
    N_DOCS = 6_000
    N_WORDS = 40
    VOCAB = 50_000
    N_VECS = 6_000
    DIM = 32
    N_PLANES = 13
    DUP_MOD = 10
    NUM_PERM = 16
    MINHASH_THRESHOLD = 0.5
    NEARDUP_THRESHOLD = 0.99
    # one round of the fixed mix; the seed only picks days, series and data
    MIX = (("minhash", None), ("gapfill", "narrow"), ("window", "narrow"),
           ("codec", "narrow"), ("neardup", None), ("gapfill", "wide"),
           ("window", "wide"), ("codec", "wide"))
    round_ops = len(MIX)

    def setup(self) -> None:
        n = self.DAYS * self.ROWS_PER_DAY
        path = os.path.join(self.work, "input.parquet")
        pq.write_table(token_rows(self.rng, n, DAY0, self.DAYS), path)
        self.eng = TierEngine(os.path.join(self.work, "wh"), series_cols=SERIES)
        self.backfill_rows_per_s = backfill(self.spark, self.eng, path, n)
        self._setup_corpus()
        self.results: list[tuple] = []
        self.codec_bytes = self.codec_points = 0

    # -- queries over the warehouse --------------------------------------------

    def _rows(self, tier: str, days: list[str] | None, keys: list[str] | None):
        """The query's input rows, read independently with DuckDB."""
        root = self.eng.tiers[tier].root
        files = ",".join(f"'{os.path.join(root, p)}'" for p in live_files(root))
        where = []
        if days:
            where.append("part_day IN (" + ",".join(f"'{d}'" for d in days) + ")")
        if keys:
            where.append("(source || ':' || bkt) IN (" + ",".join(f"'{k}'" for k in keys) + ")")
        sql = (f"SELECT source, bkt, CAST(epoch(bucket_ts) AS BIGINT) AS ts, "
               f"CAST(value_sum AS DOUBLE) AS v FROM read_parquet([{files}])"
               + (" WHERE " + " AND ".join(where) if where else ""))
        return duckdb.sql(sql).df().sort_values(["source", "bkt", "ts"]).reset_index(drop=True)

    def _params(self, width: str):
        if width == "wide":
            return "1h", None, None
        day = day_str(DAY0 + int(self.rng.integers(0, self.DAYS)))
        keys = sorted({f"src_{min(int(self.rng.geometric(0.5)) - 1, N_SOURCES - 1)}:"
                       f"{int(self.rng.integers(0, N_BUCKETS))}"
                       for _ in range(self.NARROW_SERIES)})
        return "1m", [day], keys

    def _query(self, kind: str, width: str) -> None:
        tier, days, keys = self._params(width)
        df = self.eng.tier_df(self.spark, tier)
        if days:
            df = df.filter(F.col("part_day").isin(days))
        if keys:
            df = df.filter(F.concat_ws(":", "source", F.col("bkt").cast("string")).isin(keys))
        base = df.select(*SERIES, "bucket_ts", F.col("value_sum").cast("double").alias("v"))
        tr = self.tracer
        if kind == "gapfill":
            with tr.span("query.gapfill", spark_jobs=True):
                reg = regularize(base, tier, series_cols=SERIES).withColumn("v_lin", F.col("v"))
                out = interpolate_linear(ffill(reg, ["v"], series_cols=SERIES),
                                         ["v_lin"], series_cols=SERIES)
                res = out.select(*SERIES, F.col("bucket_ts").cast("long").alias("ts"),
                                 "v", "v_lin").toPandas()
        elif kind == "window":
            with tr.span("query.window", spark_jobs=True):
                for agg in ("mean", "std", "max"):
                    base = window_stat(base, "v", f"v_{agg}", agg, 60,
                                       series_cols=SERIES, ts_col="bucket_ts")
                out = lag_transform(base, "v", [1], series_cols=SERIES, ts_col="bucket_ts")
                out = out.withColumn("v_diff", F.col("v") - F.col("v_lag_1"))
                res = out.select(*SERIES, F.col("bucket_ts").cast("long").alias("ts"),
                                 "v", "v_mean", "v_std", "v_max", "v_diff").toPandas()
        else:
            with tr.span("codec.encode", spark_jobs=True):
                enc = encode_series(df.select(*SERIES, "bucket_ts", "value_sum"),
                                    series_cols=SERIES, ts_col="bucket_ts",
                                    value_col="value_sum", chunk="day").toPandas()
            with tr.span("codec.decode", spark_jobs=True):
                dec = decode_series(self.spark.createDataFrame(enc), series_cols=SERIES,
                                    ts_col="ts", value_col="v")
                res = dec.toPandas()
            self.codec_bytes += int(enc["codec_blob"].map(len).sum())
            self.codec_points += int(enc["n_points"].sum())
        self.results.append((kind, (tier, days, keys), res))

    def _setup_corpus(self) -> None:
        n, w = self.N_DOCS, self.N_WORDS
        words = self.rng.integers(0, self.VOCAB, (n, w))
        dup = np.arange(n) % self.DUP_MOD == self.DUP_MOD - 1
        words[dup] = words[np.flatnonzero(dup) - 1]
        pos = self.rng.integers(0, w, dup.sum())
        words[np.flatnonzero(dup), pos] = self.VOCAB + self.rng.integers(0, self.VOCAB, dup.sum())
        self.texts = [" ".join(f"w{x}" for x in row) for row in words]
        corpus_path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(n)), "text": self.texts}),
                       corpus_path)
        vecs = self.rng.uniform(-1, 1, (self.N_VECS, self.DIM))
        vdup = np.arange(self.N_VECS) % self.DUP_MOD == self.DUP_MOD - 1
        vecs[vdup] = vecs[np.flatnonzero(vdup) - 1] + self.rng.uniform(
            -1e-3, 1e-3, (vdup.sum(), self.DIM))
        self.vecs = vecs
        emb_path = os.path.join(self.work, "emb.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(self.N_VECS)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        }), emb_path)
        self.corpus = self.spark.read.parquet(corpus_path)
        self.embs = self.spark.read.parquet(emb_path)

    def _minhash(self) -> None:
        with self.tracer.span("dedup.minhash", spark_jobs=True):
            sigs = minhash_signatures(self.corpus, num_perm=self.NUM_PERM,
                                      hash_fn="xxhash").cache()
            try:
                res = minhash_band_pairs(sigs, num_perm=self.NUM_PERM, bands=4,
                                         threshold=self.MINHASH_THRESHOLD,
                                         max_bucket=500).toPandas()
            finally:
                sigs.unpersist()
        self.results.append(("minhash", None, res))

    def _neardup(self) -> None:
        with self.tracer.span("similarity.neardup", spark_jobs=True):
            sig = embedding_signatures(self.embs, id_col="vec_id", vec_col="embedding",
                                       n_planes=self.N_PLANES, dim=self.DIM,
                                       n_tables=4).cache()
            try:
                res = embedding_neardup_pairs(
                    self.embs, id_col="vec_id", vec_col="embedding",
                    threshold=self.NEARDUP_THRESHOLD, n_planes=self.N_PLANES,
                    dim=self.DIM, n_tables=4, max_bucket=200, signatures=sig,
                ).toPandas()
            finally:
                sig.unpersist()
        self.results.append(("neardup", None, res))

    def _run(self, kind: str, width: str | None) -> None:
        if kind == "minhash":
            self._minhash()
        elif kind == "neardup":
            self._neardup()
        else:
            self._query(kind, width)

    def warm(self) -> None:
        # wide queries run the same operators as narrow ones: warming the
        # narrow kinds and both dedup passes covers every code path. The
        # warm-up's pair sets are the reference every timed pass must repeat.
        for kind, width in self.MIX:
            if width != "wide":
                self._run(kind, width)
        self.reference = {kind: pair_digest(res) for kind, _, res in self.results
                          if kind in ("minhash", "neardup")}
        self.results.clear()
        self.codec_bytes = self.codec_points = 0

    def op(self, i: int) -> None:
        self._run(*self.MIX[i % len(self.MIX)])

    # -- output checks -----------------------------------------------------------

    def check(self) -> list[str]:
        errors = list(self.errors)
        for kind, params, res in self.results:
            try:
                if kind in self.reference:
                    require(pair_digest(res) == self.reference[kind],
                            "pair set differs from the warm-up pass")
                    (self._check_minhash if kind == "minhash" else self._check_neardup)(res)
                    continue
                exp = self._rows(*params)
                if kind == "gapfill":
                    check_gapfill(res, exp, TIER_STEP[params[0]])
                elif kind == "window":
                    check_window(res, exp)
                else:
                    check_codec(res, exp)
            except CheckFailed as e:
                errors.append(f"{kind} {params or ''}: {e}")
        return errors

    def _check_minhash(self, res: pd.DataFrame) -> None:
        """Every pair is a planted near-copy, recall is high, and every pair
        is rescored in Python with the exact shingle Jaccard. Each estimate
        must be a count of agreeing permutations over ``NUM_PERM``. With 16
        permutations one pair's estimate has a standard deviation of ~0.09
        at the planted Jaccard (~0.85), so a per-pair tolerance tight
        enough to matter would fail correct output on some seeds; the mean
        estimation error over all pairs is bounded instead. The linear
        permutation family overestimates by ~0.03 on this corpus, and a
        constant estimate of 1 would be off by ~0.15."""
        planted = {(i - 1, i) for i in range(self.DUP_MOD - 1, self.N_DOCS, self.DUP_MOD)}
        pairs = set(zip(res["id_a"].astype(int), res["id_b"].astype(int)))
        require(len(pairs) == len(res), "duplicate pairs")
        require(pairs <= planted, f"{len(pairs - planted)} pairs are not near-copies")
        require(len(pairs) >= 0.8 * len(planted), f"recall {len(pairs)}/{len(planted)} below 0.8")

        def shingles(i):
            w = self.texts[i].split(" ")
            return {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}

        err = []
        for a, b, est in res[["id_a", "id_b", "est_jaccard"]].itertuples(index=False):
            sa, sb = shingles(int(a)), shingles(int(b))
            exact = len(sa & sb) / len(sa | sb)
            require(exact >= self.MINHASH_THRESHOLD,
                    f"pair ({a},{b}): exact Jaccard {exact:.3f} below the threshold")
            err.append(est - exact)
        agree = res["est_jaccard"].to_numpy(float) * self.NUM_PERM
        require(np.allclose(agree, np.round(agree)),
                "estimates are not agreement counts over the permutations")
        require(abs(np.mean(err)) <= 0.08,
                f"mean Jaccard estimation error {np.mean(err):+.3f} over {len(err)} pairs")

    def _check_neardup(self, res: pd.DataFrame) -> None:
        """Every pair is a planted near-copy, recall is high, and every
        pair's cosine is rescored exactly with numpy."""
        planted = {(i - 1, i) for i in range(self.DUP_MOD - 1, self.N_VECS, self.DUP_MOD)}
        pairs = set(zip(res["id_a"].astype(int), res["id_b"].astype(int)))
        require(len(pairs) == len(res), "duplicate pairs")
        require(pairs <= planted, f"{len(pairs - planted)} pairs are not near-copies")
        require(len(pairs) >= 0.95 * len(planted), f"recall {len(pairs)}/{len(planted)} below 0.95")
        va, vb = self.vecs[res["id_a"].astype(int)], self.vecs[res["id_b"].astype(int)]
        cos = (va * vb).sum(1) / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))
        bad = (np.abs(cos - res["cosine_sim"].to_numpy()) > 1e-9) | (cos < self.NEARDUP_THRESHOLD)
        require(not bad.any(), f"{int(bad.sum())} pairs fail the exact cosine rescore")

    def counters(self) -> dict[str, float]:
        pairs = {kind: len(res) for kind, _, res in self.results
                 if kind in ("minhash", "neardup")}
        return {**super().counters(), **warehouse_storage(self.eng),
                "codec.bytes_per_point": self.codec_bytes / max(self.codec_points, 1),
                "dedup.pairs_out": pairs.get("minhash", 0),
                "similarity.pairs_out": pairs.get("neardup", 0)}


WORKLOADS = {w.name: w for w in (TierIngest, QueryDedup)}
