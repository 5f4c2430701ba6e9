"""Snapshot-versioned table catalog: Iceberg when available, parquet fallback.

The north rule requires jobs resumable from Iceberg-snapshot checkpoints. In
this sandbox no Iceberg runtime jar is present, so the catalog abstracts the
SNAPSHOT CONTRACT the engine needs and implements it over plain parquet:

- a table is a directory of immutable data files plus ``_snapshots.json``;
- every append creates snapshot k+1 listing the files it added;
- ``read(table, snapshot_id)`` sees exactly the files of snapshots ≤ id;
- ``read_delta(table, after_id, until_id)`` sees only files appended in
  (after_id, until_id] — the incremental-refresh input;
- ``stage_partitioned`` writes a DataFrame with one ``partitionBy`` job
  without committing it, and ``overwrite_partitions`` atomically replaces
  the files of a partition subset with staged ones (the tier-refresh MERGE
  target: one staged write can feed several tables);
- a table may carry a partition spec, a SQL expression over its rows
  (Iceberg: a partition transform such as ``days(event_ts)``); ``append``
  on such a table writes one ``partitionBy`` job, so every file holds one
  partition value (Spark's null-partition dir is recorded as null);
- the partition value and row count (from its parquet footer) of every
  file a partitioned append or an overwrite commits are recorded in a
  sidecar (Iceberg: the manifest entry's
  partition tuple and ``record_count``). ``partitions()`` and
  ``read(..., partitions=...)`` list and prune by it, so a refresh opens
  only the files of the days it touches, and ``row_counts`` sums it per
  partition over a snapshot range, so a refresh learns which days a delta
  touches, and how many rows each, without a Spark job.

Snapshots record the Spark schema of the rows they write (whenever it
changes), and reads pass it to the parquet reader, so opening a table starts
no schema-inference job. Reads name a staging dir instead of its files
where they take all of them, so a scan of many files (a partitioned
append writes one per task and partition) starts no listing job either.

With Iceberg the same calls map to ``table.snapshot_id``, incremental scan
(``start-snapshot-id``/``end-snapshot-id``) and ``overwritePartitions()``;
swap the impl, keep the engine. (SURVEY.md §7.5 'Iceberg availability'.)

Writes are atomic via write-temp-then-rename + a json swap, so a job killed
mid-write never corrupts the table — the basis of the resume tests.

Known divergence from Iceberg: ``overwrite_partitions`` retires replaced
files from HISTORICAL snapshot entries too (the fallback keeps one file list
per snapshot, not full manifests), so time-travel reads to pre-overwrite
snapshots of tier tables are not supported — only the current view and the
append-delta scan, which is all the engine uses. Input tables are
append-only, so their full snapshot history stays readable.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, replace
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the dir name Spark's partitionBy gives a null partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class Snapshot:
    id: int
    files: list[str]  # paths relative to table root, added by this snapshot
    wall_time: float
    # snapshot summary properties (Iceberg: snapshot.summary) — the tier
    # engine stores its input watermark here so data commit + checkpoint
    # advance are ONE atomic operation (no crash window can double-apply a
    # delta)
    properties: dict | None = None
    # Spark schema (``StructType.jsonValue()``) of the rows this snapshot
    # wrote, recorded only where it differs from the one before
    schema: dict | None = None


class ParquetSnapshotTable:
    """A snapshot-versioned parquet table. ``partition_spec`` (optional) is
    a SQL expression over the table's rows whose value partitions the
    files ``append`` writes; tables written only by
    ``overwrite_partitions`` leave it unset, since their staged dirs
    already name their partitions."""

    def __init__(self, root: str, partition_spec: str | None = None):
        self.root = root
        self.partition_spec = partition_spec
        os.makedirs(root, exist_ok=True)

    # -- snapshot log ---------------------------------------------------------

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self._log_path):
            return []
        with open(self._log_path) as f:
            return [Snapshot(**s) for s in json.load(f)]

    def current_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1].id if snaps else 0

    def _write_log(self, snaps: list[Snapshot]) -> None:
        tmp = self._log_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f, indent=1)
        os.replace(tmp, self._log_path)  # atomic commit point

    @staticmethod
    def _schema(snaps: list[Snapshot]) -> dict | None:
        """The schema in force after ``snaps``: the newest recorded one."""
        return next((s.schema for s in reversed(snaps) if s.schema), None)

    def _commit(self, snaps: list[Snapshot], files: list[str],
                properties: dict | None, schema: dict | None) -> int:
        if schema == self._schema(snaps):
            schema = None
        new_id = (snaps[-1].id if snaps else 0) + 1
        snaps.append(Snapshot(id=new_id, files=files, wall_time=time.time(),
                              properties=properties, schema=schema))
        self._write_log(snaps)
        return new_id

    # -- io -------------------------------------------------------------------

    def _stage_df(self, df: DataFrame) -> list[str]:
        """Write df into an immutable staging dir, return relative file paths."""
        stage = f"data-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.root, stage)
        df.write.mode("overwrite").parquet(out_dir)
        return [
            os.path.join(stage, f)
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ]

    def stage_partitioned(self, df: DataFrame, partition_cols: Sequence[str]) -> str:
        """Write ``df`` with ONE ``partitionBy(*partition_cols)`` job into a
        fresh staging dir ``data-<uuid>`` of this table's root and return its
        path, laid out ``<c1>=<v1>/<c2>=<v2>/...`` (the partition columns are
        not in the files). Nothing is committed: a nested staging dir is
        handed to ``take_staged`` + ``overwrite_partitions`` of the table it
        belongs to, and one left behind by a kill holds no live file, so
        ``compact_files`` removes it whole."""
        out_dir = os.path.join(self.root, f"data-{uuid.uuid4().hex}")
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(out_dir)
        return out_dir

    def take_staged(self, path: str) -> str:
        """Move a staged dir of ``<col>=<value>`` partition subdirs (one
        level of a ``stage_partitioned`` output, possibly another table's)
        into this table's root as a fresh ``data-<uuid>`` dir; returns its
        name. One rename, no commit."""
        stage = f"data-{uuid.uuid4().hex}"
        os.rename(path, os.path.join(self.root, stage))
        return stage

    def _move_up(self, stage: str) -> dict[str, dict]:
        """Move the files of each ``<col>=<value>`` subdir of the staging dir
        ``stage`` up into it, so the layout stays flat
        (``data-<uuid>/*.parquet``: compaction and storage walks look one
        level deep); returns each file's sidecar entry: its partition value,
        from its subdir's name (None for Spark's null partition), and its
        row count, from its parquet footer."""
        entries = {}
        out_dir = os.path.join(self.root, stage)
        for i, d in enumerate(sorted(os.listdir(out_dir))):
            sub = os.path.join(out_dir, d)
            if not os.path.isdir(sub):
                continue
            value = unquote(d.split("=", 1)[1])  # Spark %XX-escapes paths
            for f in sorted(os.listdir(sub)):
                if f.endswith(".parquet"):
                    # each partition dir restarts the task file names
                    rel = os.path.join(stage, f"p{i}-{f}")
                    path = os.path.join(self.root, rel)
                    os.rename(os.path.join(sub, f), path)
                    entries[rel] = {
                        "partition": None if value == _NULL_PARTITION else value,
                        "rows": pq.read_metadata(path).num_rows,
                    }
            shutil.rmtree(sub)
        return entries

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        """Append rows as a new snapshot; returns its id. With a partition
        spec the rows are written by one ``partitionBy`` job on the spec's
        value and each file's partition and row count are recorded."""
        snaps = self.snapshots()
        if self.partition_spec is None:
            files = self._stage_df(df)
        else:
            staged = self.stage_partitioned(
                df.withColumn("__partition", F.expr(self.partition_spec)),
                ["__partition"])
            entries = self._move_up(os.path.basename(staged))
            files = sorted(entries)
            self._record_files(entries, snaps)
        return self._commit(snaps, files, properties, df.schema.jsonValue())

    @staticmethod
    def _properties(snaps: list[Snapshot]) -> dict:
        out: dict = {}
        for s in snaps:
            out.update(s.properties or {})
        return out

    def properties(self) -> dict:
        """Every snapshot property at its newest value (watermark and
        retention reads): one log read for all keys."""
        return self._properties(self.snapshots())

    def latest_property(self, key: str, default=None):
        """Highest-snapshot value of a snapshot property."""
        return self.properties().get(key, default)

    def _scan(self, spark: SparkSession, after_id: int, until_id: int | None,
              partitions: list | None = None) -> DataFrame | None:
        """The files of snapshots (after_id, until_id] (only those recorded
        under one of ``partitions``, if given), read with the schema in
        force at ``until_id``; None when no file is left."""
        snaps = [s for s in self.snapshots()
                 if until_id is None or s.id <= until_id]
        files = [f for s in snaps if s.id > after_id for f in s.files]
        if partitions is not None:
            wanted = set(map(str, partitions))
            part_map = self._partition_map()
            files = [f for f in files if part_map.get(f) in wanted]
        if not files:
            return None
        schema = self._schema(snaps)
        reader = spark.read
        if schema is not None:  # logs written before schemas were recorded
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*self._paths(files))

    def _paths(self, files: list[str]) -> list[str]:
        """Reader paths for ``files``: a staging dir whole where they are
        every parquet file it holds (a partitioned append writes one file
        per task and partition), else the files. Spark lists more than 32
        paths with a Spark job of its own."""
        by_dir: dict[str, list[str]] = {}
        for f in files:
            by_dir.setdefault(os.path.dirname(f), []).append(f)
        paths = []
        for d, fs in by_dir.items():
            held = [x for x in os.listdir(os.path.join(self.root, d))
                    if x.endswith(".parquet")]
            paths += [d] if len(held) == len(fs) else fs
        return [os.path.join(self.root, p) for p in paths]

    def read(
        self, spark: SparkSession, snapshot_id: int | None = None,
        partitions: list | None = None,
    ) -> DataFrame:
        """Rows of snapshots ≤ ``snapshot_id`` (default: all), pruned to the
        files of ``partitions`` when given."""
        df = self._scan(spark, 0, snapshot_id, partitions)
        if df is None:
            raise ValueError(f"table {self.root} is empty")
        return df

    def read_delta(
        self, spark: SparkSession, after_id: int, until_id: int
    ) -> DataFrame | None:
        """Rows appended in snapshots (after_id, until_id] — the incremental
        scan."""
        return self._scan(spark, after_id, until_id)

    # -- partition-scoped overwrite (tier tables) ------------------------------

    def overwrite_partitions(
        self, stage: str, partition_values: list, schema: StructType,
        properties: dict | None = None,
    ) -> int:
        """Replace all rows of the named partitions with the files staged in
        ``stage`` (a ``take_staged`` dir of this table: one ``<col>=<value>``
        subdir per partition, each holding the files of that partition, whose
        rows have ``schema``). Files of other partitions are kept. Maps to
        Iceberg ``overwritePartitions()``.

        No Spark job runs here: the files are moved up out of their
        partition subdirs (``_move_up``), the file → partition map comes
        from the subdir names, and the snapshot-log swap commits them.
        Every file holds exactly one partition value, so retention and
        later overwrites retire whole files, never rewrite them. A staged
        partition not named raises ``ValueError`` and commits nothing (the
        staged files stay orphans for ``compact_files``)."""
        entries = self._move_up(stage)
        wanted = set(map(str, partition_values))
        stray = {e["partition"] for e in entries.values()} - wanted
        if stray:
            raise ValueError(
                f"rows outside the named partitions: {sorted(map(str, stray))}")
        snaps = self.snapshots()
        # the sidecar keeps the entries of the files it retires until the
        # next write: until the log swap, the log still references them
        self._record_files(entries, snaps)
        retired = {f for f, p in self._partition_map().items() if p in wanted}
        return self._commit(self._retire(snaps, retired), sorted(entries),
                            properties, schema.jsonValue())

    @staticmethod
    def _retire(snaps: list[Snapshot], retired: set[str]) -> list[Snapshot]:
        """``snaps`` without the ``retired`` files. Everything else stays:
        properties() merges the whole log, so dropping historical
        properties would erase the tier watermark that refresh reads
        (double-apply hazard after retention), and reads take the schema
        from the newest snapshot that recorded one."""
        return [replace(s, files=[f for f in s.files if f not in retired])
                for s in snaps]

    # partition sidecar: file -> {"partition": value, "rows": row count}
    @property
    def _part_map_path(self) -> str:
        return os.path.join(self.root, "_partitions.json")

    def _file_entries(self) -> dict[str, dict]:
        if not os.path.exists(self._part_map_path):
            return {}
        with open(self._part_map_path) as f:
            return json.load(f)

    def _partition_map(self) -> dict[str, str | None]:
        return {f: e["partition"] for f, e in self._file_entries().items()}

    def _record_files(self, entries: dict[str, dict], snaps: list[Snapshot]) -> None:
        """Add ``entries`` to the sidecar, dropping those of files no
        snapshot of ``snaps`` (the log as committed) references. Written
        before the snapshot log, the atomic commit point: the sidecar only
        matters for files the log references."""
        live = {f for s in snaps for f in s.files}
        m = {f: e for f, e in self._file_entries().items() if f in live}
        m.update(entries)
        tmp = self._part_map_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=1)
        os.replace(tmp, self._part_map_path)

    def _files_between(self, after_id: int, until_id: int | None) -> list[str]:
        return [f for s in self.snapshots()
                if after_id < s.id and (until_id is None or s.id <= until_id)
                for f in s.files]

    def partitions(self, after_id: int = 0, until_id: int | None = None) -> set:
        """Partition values of the live files added by snapshots
        (after_id, until_id]; by default every partition the table holds.
        Reads only the catalog's own files, never the data."""
        part_map = self._partition_map()
        return {part_map[f] for f in self._files_between(after_id, until_id)
                if f in part_map}

    def row_counts(self, after_id: int = 0, until_id: int | None = None) -> dict:
        """Rows per partition value (None: the null partition) of the live
        files added by snapshots (after_id, until_id], summed from the
        recorded footer counts. Reads only the catalog's own files, never
        the data. A file with no recorded entry (written before this table
        recorded partitions and row counts) raises ``ValueError``."""
        entries = self._file_entries()
        out: dict = {}
        for f in self._files_between(after_id, until_id):
            if f not in entries:
                raise ValueError(
                    f"{os.path.join(self.root, f)} has no recorded partition "
                    "and row count: it was written before they were recorded; "
                    "rebuild the warehouse from its input")
            part = entries[f]["partition"]
            out[part] = out.get(part, 0) + entries[f]["rows"]
        return out

    def drop_partitions(self, partition_values: list,
                        properties: dict | None = None) -> int:
        """Retention: drop whole partitions (expire old tier windows). The
        new snapshot carries every property forward, updated with
        ``properties``, so even a log rewrite that trims history keeps the
        watermark visible."""
        vals = set(map(str, partition_values))
        retired = {f for f, p in self._partition_map().items() if p in vals}
        snaps = self.snapshots()
        props = {**self._properties(snaps), **(properties or {})}
        return self._commit(self._retire(snaps, retired), [], props or None, None)

    def compact_files(self) -> None:
        """Physically delete files no longer referenced by any snapshot
        (expire_snapshots equivalent). A staging dir none of whose files is
        live — replaced, expired, or left by a write killed before its log
        swap, partition subdirectories included — is removed whole."""
        live = set()
        for s in self.snapshots():
            live.update(s.files)
        live_dirs = {f.split(os.sep, 1)[0] for f in live}
        for d in os.listdir(self.root):
            p = os.path.join(self.root, d)
            if not (d.startswith("data-") and os.path.isdir(p)):
                continue
            if d not in live_dirs:
                shutil.rmtree(p)
                continue
            for f in os.listdir(p):
                rel = os.path.join(d, f)
                if f.endswith(".parquet") and rel not in live:
                    os.remove(os.path.join(self.root, rel))
