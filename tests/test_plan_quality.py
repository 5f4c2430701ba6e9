"""Physical-plan assertions: the optimizations SURVEY.md §4 promises must
actually appear in the plans (predicate pushdown, column pruning, broadcast
joins, map-side partial aggregation, no Python in native paths)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from etna_spark.operators.rollup import rollup
from etna_spark.operators.spine import ffill, regularize

from .conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("ts", "value")
    plan = _plan(q)
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reads_narrow_schema(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    q = ev.groupBy("event_type").agg(F.sum("value"))
    plan = _plan(q)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "value" in read_schema and "props" not in read_schema


def test_rollup_has_partial_aggregation_and_no_python(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").withColumnRenamed(
        "event_type", "source"
    )
    r = rollup(ev, "1m", series_cols=("source",), ts_col="ts", value_col="value",
               sum_is_exact=False)
    plan = _plan(r)
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "partial_sum" in plan  # shuffle carries partial aggregates
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_small_dim_join_is_broadcast(spark):
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    supplier = spark.read.parquet(f"{SF_SMALL}/supplier.parquet")
    q = (
        lineitem.join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(nation, supplier["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name").agg(F.sum("l_extendedprice"))
    )
    assert "BroadcastHashJoin" in _plan(q)


def test_gapfill_chain_stays_jvm_side(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").withColumnRenamed(
        "event_type", "source"
    )
    r = rollup(ev, "1m", series_cols=("source",), ts_col="ts",
               value_col="value", sum_is_exact=False)
    filled = ffill(regularize(r, "1m", series_cols=("source",)), ["value_sum"],
                   series_cols=("source",))
    plan = _plan(filled)
    assert "BatchEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_macro_mode_has_no_unpartitioned_full_row_window(spark):
    """Macro-mode encoder/metrics must not run a window over ALL raw rows in
    one task: global-order windows are allowed only over per-timestamp
    pre-aggregates, so their window expressions consume aggregated columns
    (sum(_s)/sum(_c) / _d), never the raw target directly."""
    import datetime as dt

    from etna_spark.functions.metrics import compute_metrics
    from etna_spark.operators.encoders import MeanEncoder

    rows = [
        ("s%d" % (i % 5), dt.datetime(2021, 1, 1) + dt.timedelta(hours=i // 5),
         "c%d" % (i % 3), float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "series string, ts timestamp, cat string, value double"
    )
    enc = MeanEncoder(
        in_col="cat", out_col="enc", target_col="value", mode="macro",
        series_cols=("series",), ts_col="ts",
    ).fit(df)
    import re

    plan = _plan(enc.transform(df))
    assert re.search(r"sum\(_s#\d+\) windowspecdefinition", plan)
    assert "HashAggregate" in plan
    # no window aggregates the raw value column (that would be the one-task
    # full-row window this test guards against)
    assert not re.search(r"sum\(value#\d+\) windowspecdefinition", plan)

    m = compute_metrics(
        df.withColumn("prediction", F.col("value") + 1),
        true_col="value", pred_col="prediction",
        metrics=("mae", "max_deviation"), mode="macro",
        series_cols=("series",), ts_col="ts",
    )
    plan2 = _plan(m)
    assert re.search(r"sum\(_d#\d+\) windowspecdefinition", plan2)
    assert "HashAggregate" in plan2
    assert not re.search(r"sum\(\(prediction#\d+ - value#\d+\)\) windowspecdefinition", plan2)


def test_reconcile_proportion_join_is_broadcast(spark):
    """Top-down reconcile attaches the per-child proportion table via a
    broadcast join (one row per child series, never a shuffle of the
    forecast side)."""
    import datetime as dt

    from etna_spark.operators.reconciliation import TopDownReconciliator

    mapping = spark.createDataFrame(
        [("c1", "p1"), ("c2", "p1")], "child string, parent string"
    )
    rows = [
        ("c1", dt.datetime(2021, 1, 1 + i), float(i + 1)) for i in range(5)
    ] + [
        ("c2", dt.datetime(2021, 1, 1 + i), float(2 * i + 2)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "child string, ts timestamp, value double")
    rec = TopDownReconciliator(
        mapping, "child", "parent", period=3, method="PHA",
        value_col="value", ts_col="ts",
    ).fit(df)
    fc = spark.createDataFrame(
        [("p1", dt.datetime(2021, 1, 9), 10.0)],
        "parent string, ts timestamp, value double",
    )
    assert "BroadcastHashJoin" in _plan(rec.reconcile(fc))


def test_euclidean_distance_matrix_is_one_aggregate(spark):
    """The pairwise distance matrix must be join + hash aggregate — no
    Python, no window, no nested-loop join on the big side."""
    import datetime as dt

    from etna_spark.operators.clustering import euclidean_distance_matrix

    rows = [
        (s, dt.datetime(2021, 1, 1, h), float(h))
        for s in ("a", "b", "c") for h in range(6)
    ]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    plan = _plan(euclidean_distance_matrix(df))
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_voting_forecast_is_projection_over_joins(spark):
    """The vote itself must be a JVM-side weighted-sum projection — the
    pandas stages belong to the base models only."""
    import datetime as dt

    from etna_spark.plans.ensembles import VotingEnsemble
    from etna_spark.plans.pipeline import Pipeline, naive_model

    rows = [
        ("a", dt.datetime(2021, 1, 1) + dt.timedelta(days=i), float(i % 7))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    pipes = [
        Pipeline(model=naive_model(7), horizon=3, step_seconds=86400,
                 in_col="value", series_cols=("series",), ts_col="ts"),
        Pipeline(model=naive_model(1), horizon=3, step_seconds=86400,
                 in_col="value", series_cols=("series",), ts_col="ts"),
    ]
    ens = VotingEnsemble(pipes, weights=[1.0, 1.0]).fit(df)
    base_kernels = sum(
        _plan(p.forecast()).count("FlatMapGroupsInPandas") for p in pipes
    )
    plan = _plan(ens.forecast())
    # the vote adds no Python stage beyond the base-model kernels
    assert plan.count("FlatMapGroupsInPandas") == base_kernels


def test_embedding_neardup_candidates_are_equi_join(spark):
    """The LSH candidate join must be a hash equi-join on (table, sig) —
    never a cartesian/nested-loop product of the corpus with itself. The
    signature stage is the ONE deliberate Arrow kernel in the dedup path
    (similarity.py::_sig_kernel — bit-identical to the expression chain,
    pinned by test_embedding_signature_backends_bit_identical), so the
    plan may contain exactly one ArrowEvalPython and no row-at-a-time
    BatchEvalPython. The kernel also emits the pre-filter projection, so
    no broadcast join attaches it, and the vector-attach joins are the
    SHUFFLE_HASH-hinted shape even for a tiny in-memory frame."""
    from etna_spark.data.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 8) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(embedding_neardup_pairs(emb, n_planes=4, dim=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # formatted plans print each node twice (tree line + detail section)
    assert plan.count("ArrowEvalPython") == 2
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan


def test_hierarchy_multihop_is_single_broadcast_join(spark):
    """HierarchicalStructure.rollup composes the transitive mapping
    driver-side: a 2-hop rollup must be ONE broadcast join + one
    aggregation — no SortMergeJoin, no join chain."""
    import datetime as dt

    from etna_spark.operators.hierarchy import HierarchicalStructure

    h = HierarchicalStructure(
        {"total": ["X", "Y"], "X": ["a", "b"], "Y": ["c", "d"]},
        ["total", "mid", "leaf"],
    )
    rows = [
        (leaf, dt.datetime(2021, 1, 1 + i), float(i + 1))
        for leaf in "abcd" for i in range(4)
    ]
    df = spark.createDataFrame(rows, "segment string, ts timestamp, value double")
    plan = _plan(h.rollup(df, "leaf", "total", ["value"]))
    # formatted plans print each node twice (tree line + detail section):
    # exactly ONE BroadcastHashJoin node = exactly two mentions
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_temperature_sample_is_broadcast_filter(spark):
    """The fact-table side of the temperature mix must stay a pure
    projection+filter: stats join via broadcast hash join (no
    SortMergeJoin of the corpus), no Python eval anywhere."""
    from etna_spark.data.sampling import temperature_stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(300)],
        "doc_id long, lang string",
    )
    plan = _plan(temperature_stratified_sample(df, "doc_id", "lang"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_truncate_and_quantiles_stay_jvm_side(spark):
    """tok_vocab_truncate's remap must be per-row JVM HOFs (no Python
    eval, no join of the fact table); tok_length_quantiles_exact must
    window only over the domain-sized histogram (no fact-table sort)."""
    from etna_spark.registry_ops8 import (
        q_tok_length_quantiles,
        q_tok_vocab_truncate,
    )

    sf = "/root/testdata/sf0.001"
    plan_t = _plan(q_tok_vocab_truncate(spark, sf))
    assert "BatchEvalPython" not in plan_t and "ArrowEvalPython" not in plan_t
    assert "CartesianProduct" not in plan_t
    assert "SortMergeJoin" not in plan_t  # keep-set is a literal, not a join

    plan_q = _plan(q_tok_length_quantiles(spark, sf))
    assert "BatchEvalPython" not in plan_q and "ArrowEvalPython" not in plan_q
    # the only sort feeding a window runs AFTER the (source, n_tok)
    # hash-aggregate — i.e. over the tiny histogram, not the corpus
    agg_pos = plan_q.find("HashAggregate")
    win_pos = plan_q.find("Window")
    assert agg_pos != -1 and win_pos != -1


def test_sessionize_is_single_exchange_chain(spark):
    """session_stats: the window and the session aggregation share the
    user-key partitioning — exactly ONE shuffle, no Python."""
    from etna_spark.operators.sessionize import session_stats

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").withColumn(
        "vc", F.round(F.col("value") * 100, 0).cast("long")
    )
    out = session_stats(ev, key_cols=("user_id",), ts_col="ts",
                        gap_s=14400, value_col="vc")
    plan = _plan(out)
    # formatted plans list each node twice (tree + detail): one Exchange
    assert plan.count("+- Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_pmi_joins_are_broadcast_no_python(spark):
    """Unigram counts and totals ride broadcast joins onto the bigram
    table; the only nested-loop joins are the 1-row totals frame."""
    from etna_spark.data.text import bigram_pmi

    tok = spark.createDataFrame(
        [([1, 2, 3, 1, 2],), ([2, 3, 2, 3, 1],)], "tokens array<int>"
    )
    plan = _plan(bigram_pmi(tok, min_count=1, top_k=5))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan  # 1-row totals are BNLJ, fine


def test_kmeans_quantized_stays_jvm_side(spark):
    """Distance fold + argmin are HOF expressions — no Python eval and
    no join at all in the assignment plan."""
    from etna_spark.data.kmeans import kmeans_quantized

    emb = spark.createDataFrame(
        [(i, [0.1 * i, 0.2]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(kmeans_quantized(emb, k=2, rounds=2))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_funnel_stages_and_cohorts_have_no_python(spark):
    from etna_spark.operators.cohorts import cohort_retention, funnel

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    for q in (
        funnel(ev, steps=("view", "click", "purchase")),
        cohort_retention(ev),
    ):
        plan = _plan(q)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
