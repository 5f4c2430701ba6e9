"""Job manifest: per-partition lineage, run metrics and watermark records.

North-rule requirement: jobs are resumable from snapshot checkpoints with
per-partition lineage and metrics emitted to a manifest table. The manifest
is a small append-only JSON-lines log next to the warehouse (at scale: an
Iceberg table written with the same records). The checkpoint itself is not
here: it is the ``input_snapshot_id`` property of each tier table's newest
snapshot, committed in the same log swap as the data.

Records:
- ``watermark``: {tier, input_snapshot_id} — an observability copy of the
  checkpoint (an input-table snapshot id for every tier), written after the
  tier commit. Refresh never reads it.
- ``lineage``: one per (run, tier, partition): rows_in (input rows for
  1m, the finer tier's points_out for 1h/1d), points_out,
  wall_time_sec, checksum (order-insensitive: the sum over the partition's
  rows of ``pmod(xxhash64(series, bucket_ts, value_sum, point_count),
  1e9+7)`` — cheap verifiable fingerprint).
- ``metrics``: per run and tier: totals, plus the refresh's wall time up
  to its log swaps and the number of Spark jobs it ran (one refresh
  commits every tier, so its tiers' records share these and the run id).

The reference has no equivalent (its 'state' is fitted transform objects,
SURVEY.md §3.2); this is the lakehouse analogue.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any


class Manifest:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _append(self, record: dict[str, Any]) -> None:
        record = {"ts": time.time(), **record}
        line = json.dumps(record)
        # single-line O_APPEND write: atomic enough for one writer per tier;
        # Iceberg-table impl would commit via the catalog instead.
        with open(self.path, "a") as f:
            f.write(line + "\n")

    def records(self) -> list[dict[str, Any]]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- watermarks -----------------------------------------------------------

    def watermark(self, tier: str) -> int:
        """Newest recorded watermark of ``tier``: an observability reader
        (refresh uses the tier table's snapshot property instead)."""
        wm = 0
        for r in self.records():
            if r.get("kind") == "watermark" and r.get("tier") == tier:
                wm = max(wm, r["input_snapshot_id"])
        return wm

    def set_watermark(self, tier: str, input_snapshot_id: int, run_id: str) -> None:
        self._append(
            {
                "kind": "watermark",
                "tier": tier,
                "input_snapshot_id": input_snapshot_id,
                "run_id": run_id,
            }
        )

    # -- lineage + metrics ------------------------------------------------------

    def log_lineage(
        self,
        run_id: str,
        tier: str,
        partition: str,
        rows_in: int,
        points_out: int,
        wall_time_sec: float,
        checksum: int,
        input_snapshot_id: int,
    ) -> None:
        self._append(
            {
                "kind": "lineage",
                "run_id": run_id,
                "tier": tier,
                "partition": partition,
                "rows_in": rows_in,
                "points_out": points_out,
                "wall_time_sec": wall_time_sec,
                "checksum": checksum,
                "input_snapshot_id": input_snapshot_id,
            }
        )

    def log_metrics(self, run_id: str, tier: str, **metrics: Any) -> None:
        self._append({"kind": "metrics", "run_id": run_id, "tier": tier, **metrics})

    @staticmethod
    def new_run_id() -> str:
        return uuid.uuid4().hex[:12]
