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
- ``partitions()`` and ``read(..., partitions=...)`` list and prune by the
  recorded file → partition map, so a refresh opens only the files of the
  days it touches.

Snapshots record the Spark schema of the rows they write (whenever it
changes), and reads pass it to the parquet reader, so opening a table starts
no schema-inference job.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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
    def __init__(self, root: str):
        self.root = root
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

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        """Append rows as a new snapshot; returns its id."""
        files = self._stage_df(df)
        return self._commit(self.snapshots(), files, properties,
                            df.schema.jsonValue())

    def latest_property(self, key: str, default=None):
        """Highest-snapshot value of a snapshot property (watermark reads)."""
        for s in reversed(self.snapshots()):
            if s.properties and key in s.properties:
                return s.properties[key]
        return default

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
            files = [f for f in files if part_map.get(f, set()) & wanted]
        if not files:
            return None
        schema = self._schema(snaps)
        reader = spark.read
        if schema is not None:  # logs written before schemas were recorded
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*[os.path.join(self.root, f) for f in files])

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
        partition subdirs, so the layout stays flat (``data-<uuid>/*.parquet``:
        compaction and storage walks look one level deep), the file →
        partition map comes from the subdir names, and the snapshot-log swap
        commits them. Every file holds exactly one partition value, so
        retention and later overwrites retire whole files, never rewrite
        them. A staged partition not named raises ``ValueError`` and
        commits nothing (the staged files stay orphans for
        ``compact_files``)."""
        file_parts: dict[str, str] = {}
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
                    os.rename(os.path.join(sub, f), os.path.join(self.root, rel))
                    file_parts[rel] = value
            shutil.rmtree(sub)
        wanted = set(map(str, partition_values))
        stray = set(file_parts.values()) - wanted
        if stray:
            raise ValueError(f"rows outside the named partitions: {sorted(stray)}")
        snaps = self.snapshots()
        retired = {f for f, parts in self._partition_map().items() if parts & wanted}
        kept_snaps = self._retire(snaps, retired)
        # partition sidecar first, snapshot log last: the log write is the
        # atomic commit point, and the sidecar only matters for files the log
        # references
        self._set_partition_map_entries(file_parts)
        return self._commit(kept_snaps, sorted(file_parts), properties,
                            schema.jsonValue())

    @staticmethod
    def _retire(snaps: list[Snapshot], retired: set[str]) -> list[Snapshot]:
        """``snaps`` without the ``retired`` files. Everything else stays:
        latest_property() walks the whole log, so dropping historical
        properties would erase the tier watermark that refresh reads
        (double-apply hazard after retention), and reads take the schema
        from the newest snapshot that recorded one."""
        return [replace(s, files=[f for f in s.files if f not in retired])
                for s in snaps]

    # partition sidecar: file -> set of partition values it contains
    @property
    def _part_map_path(self) -> str:
        return os.path.join(self.root, "_partitions.json")

    def _partition_map(self) -> dict[str, set]:
        if not os.path.exists(self._part_map_path):
            return {}
        with open(self._part_map_path) as f:
            return {k: set(v) for k, v in json.load(f).items()}

    def partitions(self, after_id: int = 0, until_id: int | None = None) -> set[str]:
        """Partition values of the live files added by snapshots
        (after_id, until_id]; by default every partition the table holds.
        Reads only the catalog's own files, never the data."""
        part_map = self._partition_map()
        out: set[str] = set()
        for s in self.snapshots():
            if after_id < s.id and (until_id is None or s.id <= until_id):
                for f in s.files:
                    out |= part_map.get(f, set())
        return out

    def _set_partition_map_entries(self, file_parts: dict[str, str]) -> None:
        m = self._partition_map()
        live = set()
        for s in self.snapshots():
            live.update(s.files)
        m = {k: v for k, v in m.items() if k in live}
        for f, v in file_parts.items():
            m[f] = {v}
        tmp = self._part_map_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({k: sorted(v) for k, v in m.items()}, fh, indent=1)
        os.replace(tmp, self._part_map_path)

    def drop_partitions(self, partition_values: list) -> int:
        """Retention: drop whole partitions (expire old tier windows)."""
        vals = set(map(str, partition_values))
        part_map = self._partition_map()
        retired = {f for f, parts in part_map.items() if parts and parts <= vals}
        snaps = self.snapshots()
        kept = self._retire(snaps, retired)
        # carry the current watermark forward on the retention snapshot too,
        # so even a log rewrite that trims history keeps the watermark visible
        props = {}
        for s in reversed(snaps):
            if s.properties:
                props = dict(s.properties)
                break
        return self._commit(kept, [], props or None, None)

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
