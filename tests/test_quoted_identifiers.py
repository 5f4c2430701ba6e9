"""The operators that build their projections as SQL text give the same rows
on columns whose names need backquotes (a space, a dot, an embedded
backquote) as on plainly named columns."""

from __future__ import annotations

import pytest

from etna_spark.codec.gorilla import decode_series, encode_series
from etna_spark.data.dedup import minhash_band_pairs, minhash_signatures
from etna_spark.data.similarity import bucket_pairs, embedding_neardup_pairs
from etna_spark.operators.lags import exog_shift, lag_transform
from etna_spark.operators.spine import ffill, interpolate_linear, regularize
from etna_spark.operators.window_stats import window_stat

# plain name -> a name that only works backquoted
ODD = {"source": "my source", "bkt": "b.kt", "bucket_ts": "t.s", "v": "v`al",
       "doc_id": "doc id", "text": "te.xt", "vec_id": "vec`id",
       "embedding": "emb.edding"}


def _rename(df, names):
    for old, new in names.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def _plain(name: str) -> str:
    for plain, odd in ODD.items():
        name = name.replace(odd, plain)
    return name


def _assert_same(plain, odd):
    back = odd.toDF(*map(_plain, odd.columns))
    assert back.columns == plain.columns
    rows = lambda df: sorted(map(repr, df.collect()))  # noqa: E731
    assert rows(back) == rows(plain)


@pytest.fixture(scope="module")
def tier(spark):
    # 3 x 2 series on a 1-minute grid with gaps
    return spark.sql(
        "SELECT concat('s', id % 3) AS source, CAST(id % 2 AS INT) AS bkt, "
        "timestamp_seconds((id DIV 6) * 60) AS bucket_ts, "
        "CAST(id * 1.5 AS DOUBLE) AS v FROM range(90) WHERE id % 7 != 3")


S = ("source", "bkt")


def _run(df, fn, **kw):
    """``fn`` on ``df`` with plain names and on its oddly named copy."""
    odd = {k: (tuple(ODD[c] for c in v) if isinstance(v, tuple) else
               [ODD[c] for c in v] if isinstance(v, list) else ODD.get(v, v))
           for k, v in kw.items()}
    return fn(df, **kw), fn(_rename(df, ODD), **odd)


@pytest.mark.parametrize("per_series", [False, True])
def test_gapfill_chain(tier, per_series):
    def gapfill(df, series_cols, ts_col, cols):
        reg = regularize(df, "1m", series_cols=series_cols, ts_col=ts_col,
                         per_series=per_series)
        filled = ffill(reg, cols, series_cols=series_cols, ts_col=ts_col)
        lin = interpolate_linear(reg, cols, series_cols=series_cols, ts_col=ts_col)
        return filled.join(lin.withColumnsRenamed({c: c + "_lin" for c in cols}),
                           [*series_cols, ts_col])

    _assert_same(*_run(tier, gapfill, series_cols=S, ts_col="bucket_ts", cols=["v"]))


@pytest.mark.parametrize("agg", ["mean", "sum", "min", "max", "std", "minmaxdiff"])
@pytest.mark.parametrize("window", [-1, 1, 3])
def test_window_stat_native(tier, agg, window):
    def stat(df, in_col, series_cols, ts_col):
        return window_stat(df, in_col, "out", agg, window, min_periods=2,
                           fillna=-1.0, series_cols=series_cols, ts_col=ts_col)

    _assert_same(*_run(tier, stat, in_col="v", series_cols=S, ts_col="bucket_ts"))


def test_lags_and_exog_shift(tier):
    def lags(df, in_col, series_cols, ts_col):
        out = lag_transform(df, in_col, [1, 2], series_cols=series_cols, ts_col=ts_col)
        return exog_shift(out, [in_col], 3, series_cols=series_cols, ts_col=ts_col)

    _assert_same(*_run(tier, lags, in_col="v", series_cols=S, ts_col="bucket_ts"))


def test_codec_roundtrip(tier):
    def codec(df, series_cols, ts_col, value_col):
        enc = encode_series(df, series_cols=series_cols, ts_col=ts_col,
                            value_col=value_col)
        return enc.join(decode_series(enc, series_cols=series_cols, ts_col=ts_col,
                                      value_col=value_col), list(series_cols))

    _assert_same(*_run(tier, codec, series_cols=S, ts_col="bucket_ts",
                       value_col="v"))


def test_bucket_pairs(tier):
    keyed = tier.selectExpr("source", "bkt", "CAST(v * 2 AS BIGINT) AS v")
    _assert_same(*_run(keyed, bucket_pairs, bucket_cols=("source",), id_col="v"))
    _assert_same(*_run(keyed, bucket_pairs, bucket_cols=("source",), id_col="v",
                       payload_col="bkt", emit_payloads=True))


def test_minhash(spark):
    docs = spark.sql(
        "SELECT id AS doc_id, concat_ws(' ', transform(sequence(0, 12), "
        "i -> concat('w', (id * 7 + i * (id % 3 + 1)) % 23))) AS text FROM range(40)")

    def minhash(df, id_col, text_col):
        sigs = minhash_signatures(df, id_col=id_col, text_col=text_col, num_perm=16)
        return minhash_band_pairs(sigs, id_col=id_col, num_perm=16, bands=4,
                                  threshold=0.3)

    plain, odd = _run(docs, minhash, id_col="doc_id", text_col="text")
    assert plain.count() > 0
    _assert_same(plain, odd)


def test_embedding_neardup(spark):
    embs = spark.sql(
        "SELECT id AS vec_id, transform(sequence(0, 7), "
        "i -> CAST((id DIV 2 * 13 + i * 7) % 11 AS DOUBLE) + (id % 2) * 1e-3) "
        "AS embedding FROM range(40)")

    def neardup(df, id_col, vec_col):
        return embedding_neardup_pairs(df, id_col=id_col, vec_col=vec_col,
                                       threshold=0.99, n_planes=4, dim=8,
                                       n_tables=2, max_bucket=100)

    plain, odd = _run(embs, neardup, id_col="vec_id", vec_col="embedding")
    assert plain.count() > 0
    _assert_same(plain, odd)
