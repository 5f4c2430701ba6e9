"""r6 optimization pins: vocabulary-truncation remap paths (literal vs
broadcast) are value-identical, and the broadcast path's plan size is
K-independent (the literal path's plan grows with K — the r5 verdict's
256k-vocab scale concern)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from etna_spark.data.vocab import truncate_vocab, vocab_topk


def _toks(spark, n_docs=200, vocab=500, doc_len=20):
    return spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(doc_len - 1)),
            lambda j: F.pmod(F.xxhash64("id", j), F.lit(vocab)).cast("int"),
        ).alias("tokens"),
    )


def test_literal_and_broadcast_remap_identical(spark):
    df = _toks(spark)
    lit = truncate_vocab(df, k=40, mode="literal", out_col="m")
    bc = truncate_vocab(df, k=40, mode="broadcast", out_col="m")
    a = {r["doc_id"]: list(r["m"]) for r in lit.select("doc_id", "m").collect()}
    b = {r["doc_id"]: list(r["m"]) for r in bc.select("doc_id", "m").collect()}
    assert a == b
    # sanity: the remap actually UNKs something and keeps something
    flat = [t for v in a.values() for t in v]
    keep = set(vocab_topk(df, k=40))
    assert any(t == 0 for t in flat)
    assert any(t in keep for t in flat)


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _analyzed(df) -> str:
    """The analyzed logical plan section of the extended explain."""
    text = _plan(df, "extended")
    return text.split("== Analyzed Logical Plan ==")[1].split(
        "== Optimized Logical Plan ==")[0]


def test_broadcast_remap_plan_is_k_independent(spark):
    df = _toks(spark)
    small = truncate_vocab(df, k=10, mode="broadcast", out_col="m")
    big = truncate_vocab(df, k=400, mode="broadcast", out_col="m")
    p_small = _plan(small)
    p_big = _plan(big)
    # broadcast path: plan text does not grow with K
    assert abs(len(p_big) - len(p_small)) < 200
    # literal path: plan text DOES grow with K (the shape the broadcast
    # path exists to avoid)
    l_small = truncate_vocab(df, k=10, mode="literal", out_col="m")
    l_big = truncate_vocab(df, k=400, mode="literal", out_col="m")
    assert len(_analyzed(l_big)) > len(_analyzed(l_small)) + 1000


def test_auto_mode_switches(spark):
    df = _toks(spark)
    lit = truncate_vocab(df, k=10, mode="auto", literal_max=20, out_col="m")
    bc = truncate_vocab(df, k=30, mode="auto", literal_max=20, out_col="m")
    assert "isin" in _analyzed(lit) or "IN (" in _analyzed(lit)
    assert "_remap" in _analyzed(bc)
