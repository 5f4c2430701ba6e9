"""Per-layer metrics of a traced run (``--trace 1``), computed from the spans
recorded around every call into a layer, the Spark event log and the storage
counters. Metrics of a layer a workload does not touch read 0."""

from __future__ import annotations

from stats import median, round_latency, self_time, write_amplification
from tracing import TASK_METRICS

# span kinds that get the executor task metrics of their own subtree
EXECUTOR_SPANS = (
    "tiers.refresh", "catalog.overwrite_partitions", "query.gapfill",
    "query.window", "codec.encode", "codec.decode", "dedup.minhash",
    "similarity.neardup",
)

# counters the workload reads at the end of the run
END_COUNTERS = (
    "tiers.backfill_rows_per_s", "jvm.peak_rss_mb", "catalog.snapshot_log_bytes",
    "catalog.live_files", "catalog.orphan_files", "catalog.bytes_per_point",
    "manifest.bytes", "codec.bytes_per_point", "dedup.pairs_out",
    "similarity.pairs_out",
)

TIERS = ("1m", "1h", "1d")

MANIFEST_WRITES = ("manifest.set_watermark", "manifest.log_lineage", "manifest.log_metrics")


def layer_metrics(tracer, op_spans, events, storage, counters, udf_s, durations,
                  round_ops) -> dict[str, float]:
    """Per-layer metrics of the timed ops. Totals (``.calls``, ``.spark_jobs``,
    bytes, and ``.s`` of catalog, manifest and expire spans) are per op; the
    refresh, query, codec and dedup ``.s`` are medians per call, and the
    executor metrics are means per call."""
    n_ops = max(len(op_spans), 1)
    roots = {r.id for r in op_spans}
    spans = [s for s in tracer.spans if s.op is not None and s.id not in roots]
    selfs = tracer.self_times()
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def calls(name):
        return by_name.get(name, [])

    def total(name, f=lambda s: s.end - s.start):
        return sum(f(s) for s in calls(name)) / n_ops

    def med(name, f=lambda s: s.end - s.start):
        vals = [f(s) for s in calls(name)]
        return median(vals) if vals else 0.0

    tier_bytes = sum(v for k, v in storage.bytes.items() if k != "input")
    kids = tracer.children()
    m = {
        "tiers.spark_jobs_per_refresh": med(
            "tiers.refresh", lambda r: sum(len(c.jobs) for c in tracer.subtree(r))),
        "tiers.refresh.s": med("tiers.refresh"),
        "tiers.refresh.self_s": med("tiers.refresh", lambda s: selfs[s.id]),
        "tiers.expire.s": total("tiers.expire"),
        "catalog.append.s": total("catalog.append"),
        "catalog.overwrite_partitions.s": total("catalog.overwrite_partitions"),
        "catalog.overwrite_partitions.calls": len(calls("catalog.overwrite_partitions")) / n_ops,
        "catalog.overwrite_partitions.spark_jobs": total(
            "catalog.overwrite_partitions", lambda s: len(s.jobs)),
        "catalog.read.calls": len(calls("catalog.read")) / n_ops,
        "catalog.snapshot_log_reads": len(calls("catalog.snapshots")) / n_ops,
        "catalog.snapshot_log_s": total("catalog.snapshots", lambda s: selfs[s.id]),
        "catalog.files_written": sum(
            v for k, v in storage.files.items() if k != "input") / n_ops,
        "catalog.bytes_written": tier_bytes / n_ops,
        **{f"catalog.bytes_written.{t}": storage.bytes.get(f"tier_{t}", 0) / n_ops
           for t in TIERS},
        "catalog.write_amplification": write_amplification(
            tier_bytes, storage.bytes.get("input", 0)),
        "catalog.drop_partitions.s": total("catalog.drop_partitions"),
        "catalog.compact_files.s": total("catalog.compact_files"),
        "manifest.records_written": sum(len(calls(n)) for n in MANIFEST_WRITES) / n_ops,
        "manifest.s": sum(selfs[s.id] for s in spans
                          if s.name.startswith("manifest.")) / n_ops,
        "query.gapfill.s": med("query.gapfill"),
        "query.window.s": med("query.window"),
        "codec.encode.s": med("codec.encode"),
        "codec.decode.s": med("codec.decode"),
        "codec.python_udf_s": udf_s["codec"] / max(len(calls("codec.encode")), 1),
        "dedup.minhash.s": med("dedup.minhash"),
        "similarity.neardup.s": med("similarity.neardup"),
        "similarity.python_udf_s": udf_s["similarity"] / max(
            len(calls("similarity.neardup")), 1),
        "trace.op_latency_s": round_latency(durations, round_ops),
        "trace.unspanned_s": median([
            self_time(r.start, r.end, [(c.start, c.end) for c in kids.get(r.id, [])])
            for r in op_spans]) if op_spans else 0.0,
        "trace.spans_per_op": len(spans) / n_ops,
    }
    for k in END_COUNTERS:
        m[k] = counters.get(k, 0)
    for name in EXECUTOR_SPANS:
        for metric in TASK_METRICS:
            vals = []
            for s in calls(name):
                tree = tracer.subtree(s)
                if metric in ("tasks", "tasks_failed"):  # from the status tracker
                    vals.append(sum(getattr(c, metric) for c in tree))
                else:
                    vals.append(sum(events.get(c.group, {}).get(metric, 0.0)
                                    for c in tree if c.group))
            m[f"{name}.{metric}"] = sum(vals) / len(vals) if vals else 0
    return m
