"""Pure arithmetic of the benchmark: percentiles, span self time and
write amplification. No Spark here, so it is unit-tested on its own
(``python3 -m pytest perfbench``)."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(
    values: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND
) -> tuple[float, float] | None:
    """The highest nearest-rank percentile that still has ``min_beyond``
    samples above it, as ``(percentile, value)``; ``None`` when there are
    too few samples for any percentile to qualify.

    With n sorted samples the k-th smallest (1-based) has n - k samples
    beyond it, so k = n - min_beyond, which is the 100·k/n percentile."""
    n = len(values)
    k = n - min_beyond
    if k < 1:
        return None
    return 100.0 * k / n, float(sorted(values)[k - 1])


def round_latency(durations: Sequence[float], round_ops: int) -> float:
    """Median over whole rounds of the round's mean op latency. A round is
    one pass over a workload's fixed op mix, so every round weighs each op
    kind the same; ops after the last whole round are ignored."""
    rounds = [durations[i:i + round_ops]
              for i in range(0, len(durations) - round_ops + 1, round_ops)]
    if not rounds:
        raise ValueError("no whole round of ops")
    return median([sum(r) / round_ops for r in rounds])


def self_time(
    start: float, end: float, children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it that its children cover.
    Children are clipped to the span and overlapping children are merged,
    so the result is never negative and never counts an instant twice."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def new_files(
    before: dict[str, int], after: dict[str, int]
) -> tuple[int, int]:
    """Files and bytes present in ``after`` but not in ``before`` (both map
    path -> size). Data files are immutable and uniquely named, so a new
    path is a written file."""
    added = [p for p in after if p not in before]
    return len(added), sum(after[p] for p in added)


def write_amplification(tier_bytes_written: int, input_bytes_appended: int) -> float:
    """Tier bytes written per input byte appended; 0 when nothing was
    appended."""
    if input_bytes_appended <= 0:
        return 0.0
    return tier_bytes_written / input_bytes_appended
