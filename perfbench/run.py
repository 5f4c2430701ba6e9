"""Benchmark of the etna_spark tier engine, query operators, codec and dedup.

    python3 perfbench/run.py --workload tier_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (``workloads.py``):

- ``tier_ingest``: micro-batch append + incremental 1m/1h/1d refresh, with
  late rows, day rollover and retention (the ``TierEngine.refresh`` path
  that ``jobs/rollup_refresh.py`` drives);
- ``query_dedup``: gap-fill, window and Gorilla-codec reads over a
  warehouse the engine built, interleaved with MinHash-LSH and embedding
  near-dup passes. It never commits.

The session comes from ``etna_spark.session.get_spark`` with only the master
set (plus the event log and UDF profiler in the traced run), so the session
defaults are measured as shipped. Scratch data lives in ``.perfbench_work/``
under the current directory and is removed at exit.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (``layers.py``) with ``--trace 1``. ``BENCHMARK.json`` at
the repository root is the one list of metric names and units; a run fails
if what it computed differs from that list. The line before it is a
summary for people: per-op latencies, the latency tail when at least 11 ops
ran, set-up phases, end-of-run counters and every output check error.

End-to-end metrics:

- ``setup_s``: session start, Python workers, data set-up and warm-up, all
  before the first timed op;
- ``spark_jobs_per_op``: Spark jobs the program starts per timed op, which
  is what per-commit overhead is made of;
- ``op_latency_rel``: wall latency per op (median over rounds of the
  round's mean op latency) divided by the run's median wall time of fixed
  reference Spark work (``reference_s``). On a shared 4-core host, raw
  latency and CPU seconds per op moved by up to 2x between runs minutes
  apart; the ratio cancels most of that, since the reference work runs on
  the same host in the same minutes.

Raw latency, the reference time and CPU seconds per op are in the summary
line; raw latency is also traced as ``trace.op_latency_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_CORES = min(4, os.cpu_count() or 1)

OPS_GROUP = "perfbench-ops"
REF_GROUP = "perfbench-reference"
REF_ROWS = 40_000_000  # ~0.15 s on 4 cores
REF_SMALL_JOBS = 5  # ~0.3 s
REF_WARM = 3  # untimed runs of the reference work before the first op
# after each op the reference work repeats until it has taken this share of
# the op's time, so long ops (few per run) still give a steady median
REF_SHARE = 0.3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    """Keep every file the JVM and the Python workers write inside ``work``,
    and let the workers import the package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _warm_python_workers(spark) -> None:
    """Start every Python worker slot with the codec and LSH modules
    imported, so timed ops don't pay worker start-up and first imports."""

    def imports(it):
        import etna_spark.codec.gorilla  # noqa: F401
        import etna_spark.data.similarity  # noqa: F401

        yield from it

    spark.range(0, N_CORES * 4, numPartitions=N_CORES * 4).mapInPandas(
        imports, "id long").collect()


def reference_s(spark) -> float:
    """Wall seconds of fixed Spark work that runs no code of the package:
    one CPU-bound job (a hash sum over a range, one task per core) and a
    few tiny jobs, whose time is scheduling overhead. The ops are made of
    both kinds of work. It runs after every op (``REF_SHARE``), outside the
    op's timing and job count; its median over the run is the unit of
    ``op_latency_rel``, so a slower or busier host moves both the same way.
    It runs through the same session, so a change of session defaults
    moves it too."""
    sc = spark.sparkContext
    sc.setJobGroup(REF_GROUP, "reference work", False)
    t = time.perf_counter()
    spark.range(0, REF_ROWS, numPartitions=N_CORES).selectExpr("sum(hash(id))").collect()
    for _ in range(REF_SMALL_JOBS):
        spark.range(0, 1000, numPartitions=N_CORES).selectExpr("sum(id)").collect()
    secs = time.perf_counter() - t
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return secs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)
    except (OSError, ValueError) as e:
        _fail(f"cannot read BENCHMARK.json: {e}")
    if not os.path.isfile(os.path.join(ROOT, "etna_spark", "__init__.py")):
        _fail(f"etna_spark package not found next to {HERE}")
    sys.path[:0] = [ROOT, HERE]
    try:
        import layers
        import tracing
        import workloads as wl
        from etna_spark.session import get_spark
        from stats import median, round_latency, tail_percentile
    except ImportError as e:
        _fail(f"cannot import the benchmark or the package: {e}")
    if args.workload not in wl.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")
    w_cls = wl.WORKLOADS[args.workload]

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    event_dir = os.path.join(work, "events")
    spark = jvm = None
    try:
        t0 = time.perf_counter()
        conf = None
        if args.trace:
            os.makedirs(event_dir)
            conf = tracing.tracing_conf(event_dir)
        spark = get_spark(master=f"local[{N_CORES}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        jvm = tracing.spark_jvm_pid()
        if w_cls.python_workers:
            _warm_python_workers(spark)
        session_s = time.perf_counter() - t0

        tracer = tracing.Tracer(spark.sparkContext if args.trace else None)
        storage = wl.StorageCounters()
        if args.trace:
            wl.instrument(tracer, storage)
        w = w_cls(spark, os.path.join(work, "data"), args.seed, tracer)
        t = time.perf_counter()
        w.setup()
        data_s = time.perf_counter() - t
        t = time.perf_counter()
        w.warm()
        for _ in range(REF_WARM):
            reference_s(spark)
        warm_s = time.perf_counter() - t
        if args.trace:
            udf_dir = os.path.join(work, "udf-profile")
            tracing.udf_python_seconds(spark, udf_dir)  # drop warm-up profiles

        # closed loop, single caller; the loop ends after the deadline, on a
        # whole round of the workload's op mix
        durations, op_spans, ref_s = [], [], []
        udf_s = {"codec": 0.0, "similarity": 0.0}
        attempted = failed = 0
        ref_cpu = 0.0
        cpu0 = tracing.cpu_seconds(jvm)
        deadline = time.perf_counter() + args.seconds
        while attempted == 0 or attempted % w.round_ops or time.perf_counter() < deadline:
            i = attempted
            attempted += 1
            tracer.op = i
            first_span = len(tracer.spans)
            if not args.trace:  # traced runs set one job group per span instead
                spark.sparkContext.setJobGroup(OPS_GROUP, "timed ops", False)
            t = time.perf_counter()
            try:
                with tracer.span(f"op.{args.workload}") as root:
                    w.op(i)
                    durations.append(time.perf_counter() - t)
                w.after_op(i)
            except Exception as e:  # an op that raises counts as failed
                failed += 1
                if len(durations) < attempted:
                    durations.append(time.perf_counter() - t)
                w.errors.append(f"op {i}: {type(e).__name__}: {e}")
            tracer.op = None
            c = tracing.cpu_seconds(jvm)
            spent = 0.0
            while spent == 0.0 or spent < REF_SHARE * durations[-1]:
                ref_s.append(reference_s(spark))
                spent += ref_s[-1]
            ref_cpu += tracing.cpu_seconds(jvm) - c
            if args.trace:
                op_spans.append(root)
                tracer.collect_jobs(tracer.spans[first_span:])
                # the op's Python UDF time belongs to the layer whose span ran it
                layer = next((s.name.split(".")[0] for s in tracer.spans[first_span:]
                              if s.name in ("codec.encode", "similarity.neardup")), None)
                secs = tracing.udf_python_seconds(spark, udf_dir)
                if layer:
                    udf_s[layer] += secs
        cpu = tracing.cpu_seconds(jvm) - cpu0 - ref_cpu
        latency = round_latency(durations, w.round_ops)
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(OPS_GROUP))

        errors = w.check()
        counters = {**w.counters(), "jvm.peak_rss_mb": tracing.peak_rss_mb(jvm)}
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "failed_op_share": failed / attempted,
            "session_s": round(session_s, 3), "data_setup_s": round(data_s, 3),
            "warm_s": round(warm_s, 3), "op_s": [round(d, 3) for d in durations],
            "op_latency_s": round(latency, 4),
            "reference_s": round(median(ref_s), 4),
            "op_tail_pct_s": tail_percentile(durations),
            "cpu_s_per_op": round(cpu / attempted, 3),
            **{k: round(v, 4) for k, v in counters.items()},
            "errors": errors,
        }))
        if args.trace:
            spark.stop()
            spark = None  # the event log is complete once the session stops
            metrics = layers.layer_metrics(
                tracer, op_spans, tracing.read_event_log(event_dir), storage,
                counters, udf_s, durations, w.round_ops)
        else:
            metrics = {
                "setup_s": session_s + data_s + warm_s,
                "spark_jobs_per_op": jobs / attempted,
                "op_latency_rel": latency / median(ref_s),
            }
        # BENCHMARK.json is the one list of the metrics and their units
        units = {m["name"]: m["unit"]
                 for m in declared["per_layer" if args.trace else "end_to_end"]}
        if set(metrics) != set(units):
            raise RuntimeError("computed and declared metrics differ: "
                               f"{sorted(set(metrics) ^ set(units))}")
        print(json.dumps({
            "correct": failed == 0 and not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            tracing.stop_jvm(jvm)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    main()
