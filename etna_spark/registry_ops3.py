"""Final registry batch: distribution resampling, token-table gap-fill,
strided imputation, and rows-only entries for the genuinely
non-SQL-expressible operators (Gorilla round-trip, MinHash/SimHash LSH,
hyperplane ANN, autoregressive imputation) — the driver records the weaker
rows-only check for those, per the contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etna_spark.codec.gorilla import decode_series, encode_series
from etna_spark.data.dedup import MINHASH_PERMS, minhash_lsh_pairs, simhash_pairs
from etna_spark.data.similarity import cosine_topk_lsh
from etna_spark.operators.imputation import TimeSeriesImputer
from etna_spark.operators.resample import ResampleWithDistribution
from etna_spark.operators.rollup import rollup
from etna_spark.operators.spine import ffill, regularize
from etna_spark.operators.window_stats import window_stat
from etna_spark.registry import epoch, register
from etna_spark.registry_ops2 import _H_SERIES, _events_1h
from etna_spark.sources.testdata import load_table
from etna_spark.synth import DOC_TOKEN_SQL, doc_token_table


# ---------------------------------------------------------------------------
# ResampleWithDistributionTransform (resample.py:12-199): daily totals
# distributed over the hourly grid by the learned hourly share.
# ---------------------------------------------------------------------------

@register(
    "resample_distribution_1h",
    _H_SERIES
    + """
, daily AS (
  SELECT event_type, date_trunc('day', bucket_ts) AS d,
         CAST(sum(value_cents) AS BIGINT) AS day_cents
  FROM series GROUP BY 1, 2
), grid AS (
  SELECT s.event_type, s.bucket_ts, s.value_cents,
    CASE WHEN hour(s.bucket_ts) = 0 THEN d.day_cents END AS daily_sparse
  FROM series s LEFT JOIN daily d
    ON s.event_type = d.event_type AND date_trunc('day', s.bucket_ts) = d.d
), anchored AS (
  SELECT *,
    min(CASE WHEN daily_sparse IS NOT NULL THEN bucket_ts END)
      OVER (PARTITION BY event_type) AS anchor
  FROM grid
), folded AS (
  SELECT *,
    CAST((epoch(bucket_ts) - epoch(anchor)) / 3600 AS BIGINT) % 24 AS fold
  FROM anchored
), dist AS (
  SELECT event_type, fold,
    CAST(sum(value_cents) AS BIGINT) AS fold_sum,
    CAST(sum(sum(value_cents)) OVER (PARTITION BY event_type) AS BIGINT)
      AS total_sum
  FROM folded GROUP BY 1, 2
)
SELECT f.event_type, CAST(epoch(f.bucket_ts) AS BIGINT) AS bucket_ts,
  round(
    (last_value(f.daily_sparse IGNORE NULLS) OVER (
       PARTITION BY f.event_type ORDER BY f.bucket_ts
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    * (CAST(d.fold_sum AS DOUBLE) / d.total_sum), 6) AS resampled
FROM folded f JOIN dist d ON f.event_type = d.event_type AND f.fold = d.fold
""",
)
def q_resample_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _events_1h(spark, sf_dir)
    daily = (
        s.groupBy(
            F.col("event_type").alias("_et"),
            F.date_trunc("day", "bucket_ts").alias("d"),
        ).agg(F.sum("value_cents").alias("day_cents"))
    )
    grid = s.join(
        daily,
        on=(F.col("event_type") == F.col("_et"))
        & (F.date_trunc("day", F.col("bucket_ts")) == F.col("d")),
        how="left",
    ).select(
        "event_type",
        "bucket_ts",
        "value_cents",
        F.when(F.hour("bucket_ts") == 0, F.col("day_cents"))
        .cast("double")
        .alias("daily_sparse"),
    )
    r = ResampleWithDistribution(
        in_col="daily_sparse", distribution_col="value_cents", inplace=False,
        out_col="resampled", series_cols=("event_type",), ts_col="bucket_ts",
    ).fit(grid)
    out = r.transform(grid)
    return out.select(
        "event_type", epoch(), F.round("resampled", 6).alias("resampled")
    )


# ---------------------------------------------------------------------------
# token-table gap-fill (the north-star query on the primary input shape)
# ---------------------------------------------------------------------------

@register(
    "tok_gapfill_ffill_1m",
    f"WITH tok AS ({DOC_TOKEN_SQL})"
    + """
, agg AS (
  SELECT source, date_trunc('minute', event_ts) AS bucket_ts,
         CAST(sum(n_tok) AS BIGINT) AS tok_sum
  FROM tok GROUP BY 1, 2
), bounds AS (SELECT min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM agg),
spine AS (
  SELECT s.source, g.bucket_ts
  FROM (SELECT DISTINCT source FROM tok) s
  CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MINUTE))
              AS bucket_ts FROM bounds) g
)
SELECT sp.source, CAST(epoch(sp.bucket_ts) AS BIGINT) AS bucket_ts,
  last_value(a.tok_sum IGNORE NULLS) OVER (
    PARTITION BY sp.source ORDER BY sp.bucket_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_sum_ffill
FROM spine sp LEFT JOIN agg a USING (source, bucket_ts)
""",
)
def q_tok_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    tt = doc_token_table(spark, sf_dir)
    r1m = rollup(tt, "1m", series_cols=("source",), ts_col="event_ts",
                 value_col="n_tok")
    reg = regularize(
        r1m.select("source", "bucket_ts", F.col("value_sum").alias("tok_sum_ffill")),
        "1m", series_cols=("source",),
    )
    out = ffill(reg, ["tok_sum_ffill"], series_cols=("source",))
    return out.select("source", epoch(), "tok_sum_ffill")


# ---------------------------------------------------------------------------
# strided (seasonal) operators — SQL twin cross-checks the numpy kernel
# ---------------------------------------------------------------------------

@register(
    "window_mean_seasonal_1h",
    _H_SERIES
    + """
, lagged AS (
  SELECT event_type, bucket_ts, value_cents,
    lag(value_cents, 0) OVER w AS l0,
    lag(value_cents, 24) OVER w AS l24,
    lag(value_cents, 48) OVER w AS l48
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
)
SELECT event_type, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts,
  round(CASE WHEN (l0 IS NOT NULL) OR (l24 IS NOT NULL) OR (l48 IS NOT NULL)
    THEN (coalesce(l0, 0) + coalesce(l24, 0) + coalesce(l48, 0))
         / CAST((CASE WHEN l0 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN l24 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN l48 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    ELSE 0.0 END, 6) AS seasonal_mean
FROM lagged
""",
)
def q_window_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WindowStatisticsTransform strided path (statistics.py:97-105):
    window=3, seasonality=24 → points {t, t−24, t−48}, min_periods=1,
    fillna=0 — exercised through the applyInPandas numpy kernel and
    cross-checked against an explicit lag-based SQL expansion."""
    s = _events_1h(spark, sf_dir).withColumn(
        "vc", F.col("value_cents").cast("double")
    )
    out = window_stat(
        s, "vc", "seasonal_mean", "mean", window=3, seasonality=24,
        min_periods=1, fillna=0.0, series_cols=("event_type",),
        ts_col="bucket_ts",
    )
    return out.select(
        "event_type", epoch(), F.round("seasonal_mean", 6).alias("seasonal_mean")
    )


# ---------------------------------------------------------------------------
# rows-only entries (non-SQL-expressible: sequential/autoregressive state,
# bit-level codecs, hash-model candidates)
# ---------------------------------------------------------------------------

@register("gorilla_roundtrip", None)
def q_gorilla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla encode→decode round-trip over the token 1m tier: one row per
    series with points, bytes, and an exact-match flag vs the original."""
    tt = doc_token_table(spark, sf_dir)
    tier = rollup(tt, "1m", series_cols=("source",), ts_col="event_ts",
                  value_col="n_tok").select(
        "source", "bucket_ts", F.col("value_sum").cast("double").alias("v")
    )
    enc = encode_series(tier, series_cols=("source",), ts_col="bucket_ts",
                        value_col="v")
    dec = decode_series(enc, series_cols=("source",), ts_col="bucket_ts",
                        value_col="v")
    orig = tier.select(
        "source", F.col("bucket_ts").cast("long").alias("bucket_ts"), "v"
    )
    match = (
        orig.join(dec, on=["source", "bucket_ts"], how="full")
        # coalesce to 0: a full-join miss (row lost/invented by the codec)
        # yields NULL, which F.min would silently skip — it must FAIL
        .withColumn(
            "_ok", F.coalesce((orig["v"] == dec["v"]).cast("int"), F.lit(0))
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_points"), F.min("_ok").alias("all_match"))
    )
    sizes = enc.groupBy("source").agg(
        F.sum(F.length("codec_blob")).alias("codec_bytes")
    )
    return match.join(sizes, on="source")


# the permutation table of minhash_signatures, as (i, a_i, b_i) rows
_MINHASH_PERMS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS[:16]))

_MINHASH_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id,
    CAST(list_reduce(
      [CAST(0 AS BIGINT)] ||
      list_transform(string_split(s.sh_str, ' '), w -> unicode(w) * length(w)),
      (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) AS sh
  FROM (
    SELECT doc_id,
      unnest(list_transform(
        range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        i -> array_to_string(string_split(text, ' ')[i + 1:i + 3], ' ')
      )) AS sh_str
    FROM documents
  ) s
), sig AS (
  SELECT doc_id, list(m ORDER BY i) AS sig FROM (
    SELECT doc_id, i,
      min((sh * a + b) % 1000000007) AS m
    FROM sh CROSS JOIN (VALUES """ + _MINHASH_PERMS_SQL + """) perms(i, a, b)
    GROUP BY doc_id, i
  ) GROUP BY doc_id
), banded AS (
  SELECT doc_id, sig, bd,
    CAST(list_reduce([CAST(0 AS BIGINT)] || sig[bd * 4 + 1 : bd * 4 + 4],
      (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS bd) bands
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                  x.sig AS sig_a, y.sig AS sig_b
  FROM banded x JOIN banded y
    ON x.bd = y.bd AND x.bucket = y.bucket AND x.doc_id < y.doc_id
)
SELECT id_a, id_b,
  len(list_filter(list_transform(range(1, 17),
    i -> CASE WHEN sig_a[CAST(i AS INT)] = sig_b[CAST(i AS INT)]
         THEN 1 ELSE 0 END), v -> v = 1)) / 16.0 AS est_jaccard
FROM cand
WHERE len(list_filter(list_transform(range(1, 17),
    i -> CASE WHEN sig_a[CAST(i AS INT)] = sig_b[CAST(i AS INT)]
         THEN 1 ELSE 0 END), v -> v = 1)) / 16.0 >= 0.2
"""


def _simhash_sql(max_hamming: int, prefix_bits: int, n_tables: int) -> str:
    """Generate the DuckDB twin of simhash_pairs (64 per-bit vote terms)."""
    def bit_const(j: int) -> int:
        v = 1 << (63 - j)
        return v - (1 << 64) if v >= 1 << 63 else v  # signed bit pattern

    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(whs, h -> CASE WHEN (h >> {j}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN CAST({bit_const(j)} AS BIGINT)"
        f" ELSE 0 END)"
        for j in range(64)
    )
    mask = (1 << prefix_bits) - 1
    shifts = ", ".join(
        f"({64 - prefix_bits * (t + 1)})" for t in range(n_tables)
    )
    return f"""
WITH wh AS (
  SELECT doc_id, list_transform(string_split(text, ' '), w ->
    CAST(list_reduce([CAST(0 AS BIGINT)] ||
      list_transform(string_split(w, ''), ch -> unicode(ch)),
      (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) * 2147483648
    + CAST(list_reduce([CAST(0 AS BIGINT)] ||
      list_transform(string_split(w, ''), ch -> unicode(ch)),
      (acc, x) -> (acc * 137 + x) % 998244353) AS BIGINT)
  ) AS whs
  FROM documents
), sim AS (
  SELECT doc_id, ({bit_terms}) AS simhash FROM wh
), tables AS (
  SELECT doc_id, simhash,
    t.sh AS tshift, (simhash >> t.sh) & {mask} AS bucket
  FROM sim CROSS JOIN (SELECT unnest([{shifts}]) AS sh) t
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                  x.simhash AS h_a, y.simhash AS h_b
  FROM tables x JOIN tables y
    ON x.tshift = y.tshift AND x.bucket = y.bucket AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
"""


@register("dedup_minhash_lsh", _MINHASH_SQL)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, id_col="doc_id", text_col="text",
                             k=3, num_perm=16, bands=4, threshold=0.2)


@register("dedup_simhash", _simhash_sql(max_hamming=16, prefix_bits=8, n_tables=8))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with full-coverage bit-slice LSH (default
    n_tables = 64 // prefix_bits = 8 — every hash bit belongs to exactly
    one table's slice, so any pair within hamming ≤ 7 is guaranteed a
    shared bucket); the arithmetic word-hash family makes the full
    pipeline DuckDB-reproducible (hamming is integer-exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, id_col="doc_id", text_col="text",
                         max_hamming=16, prefix_bits=8)


def _lsh_w_sql(q: str) -> str:
    """SQL twin of similarity._plane_weight for flat index k = q*64 + i-1
    (DuckDB's list_transform ``i`` is 1-based): two multiply rounds with
    xorshift mixing, all mod 2^31 — every intermediate < 2^31·2246822519
    ≈ 4.8e18, inside BIGINT. Textual CSE (each stage referenced twice for
    the xor) stays small; DuckDB evaluates it per (plane, component)
    exactly like the driver-side Python that inlines the weights."""
    k = f"({q} * 64 + i - 1)"
    h1 = f"(({k} * 2654435761) % 2147483648)"
    h1x = f"xor({h1}, {h1} >> 15)"
    h2 = f"(({h1x} * 2246822519) % 2147483648)"
    h2x = f"xor({h2}, {h2} >> 13)"
    return f"(({h2x}) % 1000 - 499.5) / 500.0"



_ANN_LSH_SQL = f"""
WITH sig AS (
  SELECT e.vec_id, e.embedding, t.tbl,
    CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 4),
      p -> CASE WHEN list_reduce([0.0] || list_transform(range(1, 65),
             i -> CAST(embedding[i] AS DOUBLE)
                  * {_lsh_w_sql('(t.tbl * 4 + p)')}),
             (acc, x) -> acc + x) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END),
      (acc, b) -> acc * 2 + b) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 4)) AS tbl) t
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.embedding AS qv, c.embedding AS cv
  FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.sig = c.sig
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
    list_sum(list_transform(range(1, 65),
      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))) AS sim
  FROM cand
), ranked AS (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(sim, 5) AS cosine_sim,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


@register("ann_cosine_lsh", _ANN_LSH_SQL)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (similarity.py:88-145) with ARITHMETIC plane
    weights, so the full signature→bucket-join→rescore pipeline has a
    DuckDB twin (candidates, not just scores, are value-checked)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk_lsh(queries, emb, k=5, n_planes=4, n_tables=4)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine_sim", 5).alias("cosine_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


_EMB_NEARDUP_SQL = f"""
WITH sig AS (
  SELECT e.vec_id, e.embedding, t.tbl,
    CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 4),
      p -> CASE WHEN list_reduce([0.0] || list_transform(range(1, 65),
             i -> CAST(embedding[i] AS DOUBLE)
                  * {_lsh_w_sql('(t.tbl * 4 + p)')}),
             (acc, x) -> acc + x) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END),
      (acc, b) -> acc * 2 + b) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 4)) AS tbl) t
), capped AS (
  SELECT * FROM sig
  QUALIFY count(*) OVER (PARTITION BY tbl, sig) <= 1000
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM capped a JOIN capped b
    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
), scored AS (
  SELECT id_a, id_b,
    list_sum(list_transform(range(1, 65),
      i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))))) AS sim
  FROM cand
)
SELECT id_a, id_b, round(sim, 5) AS cosine_sim
FROM scored WHERE sim >= 0.25
"""


@register("embedding_neardup_pairs", _EMB_NEARDUP_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (similarity.py:158): LSH-bucketed
    candidates (4 tables x 4 planes, arithmetic plane weights, hot-bucket
    cap) + exact rescore ≥ threshold — the embedding-based near-dedup for
    training corpora, candidate set AND scores value-checked like
    ann_cosine_lsh; the cap (QUALIFY twin in SQL) guards the quadratic
    degenerate-bucket self-join at scale."""
    from etna_spark.data.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(
        emb, threshold=0.25, n_planes=4, dim=64, n_tables=4, max_bucket=1000
    )
    return out.select(
        "id_a", "id_b", F.round("cosine_sim", 5).alias("cosine_sim")
    )


_IMPUTER_SEASONAL_SQL = """
WITH RECURSIVE agg AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM agg
), grid AS (
  SELECT s.event_type, s.bucket_ts,
         CAST(a.vc AS DOUBLE) AS v_orig,
         CAST((epoch(s.bucket_ts) - epoch(b.mn)) // 3600 AS BIGINT) AS i
  FROM (SELECT et.event_type, g.bucket_ts
        FROM (SELECT DISTINCT event_type FROM events) et
        CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                    AS bucket_ts FROM bounds) g) s
  CROSS JOIN bounds b
  LEFT JOIN agg a USING (event_type, bucket_ts)
), fv AS (
  SELECT event_type, min(bucket_ts) FILTER (v_orig IS NOT NULL) AS first_valid
  FROM grid GROUP BY 1
), g2 AS (
  SELECT g.event_type, g.bucket_ts, g.v_orig,
         g.i % 24 AS phase, g.i // 24 AS j,
         (g.v_orig IS NULL AND g.bucket_ts >= f.first_valid) AS imp
  FROM grid g JOIN fv f USING (event_type)
), rec AS (
  -- autoregressive seasonal fill: x[i] = nanmean(x[i-24], x[i-48]) at
  -- masked points, already-imputed values feeding later ones — one
  -- sequential chain per (series, hour-of-grid phase), cur/prev1 carrying
  -- the last two chain values
  SELECT event_type, bucket_ts, phase, j, v_orig AS cur,
         CAST(NULL AS DOUBLE) AS prev1
  FROM g2 WHERE j = 0
  UNION ALL
  SELECT g.event_type, g.bucket_ts, g.phase, g.j,
    CASE WHEN g.v_orig IS NOT NULL THEN g.v_orig
         WHEN g.imp THEN
           CASE WHEN r.cur IS NOT NULL AND r.prev1 IS NOT NULL
                  THEN (r.cur + r.prev1) / 2.0
                WHEN r.cur IS NOT NULL THEN r.cur
                ELSE r.prev1 END
         ELSE NULL END AS cur,
    r.cur AS prev1
  FROM rec r
  JOIN g2 g ON g.event_type = r.event_type AND g.phase = r.phase
           AND g.j = r.j + 1
)
SELECT event_type, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts,
       round(cur, 6) AS v
FROM rec
"""


@register("imputer_seasonal_autoregressive", _IMPUTER_SEASONAL_SQL)
def q_imputer_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running seasonal imputation (imputation.py:233-242) — autoregressive
    (already-imputed points feed later ones), window=2, seasonality=24.
    Sequential per series in Spark (applyInPandas kernel), but each fill
    depends only on the two previous same-phase points — the oracle walks
    the same recursion as a DuckDB recursive CTE over per-(series, phase)
    chains. Fills are dyadic means of integer cents → exact in double."""
    s = _events_1h(spark, sf_dir).select(
        "event_type", "bucket_ts",
        F.col("value_cents").cast("double").alias("v"),
    )
    reg = regularize(s, "1h", series_cols=("event_type",), ts_col="bucket_ts")
    imp = TimeSeriesImputer(
        strategy="seasonal", window=2, seasonality=24, in_col="v",
        series_cols=("event_type",), ts_col="bucket_ts",
    ).fit(reg)
    out = imp.transform(reg)
    # unfillable points come back from the Arrow kernel as NaN; the grid's
    # untouched gaps are NULL — normalize both to NULL like the oracle
    v = F.when(F.isnan("v"), F.lit(None)).otherwise(F.col("v"))
    return out.select("event_type", epoch(), F.round(v, 6).alias("v"))


# ---------------------------------------------------------------------------
# hierarchy rollup across series (customer → nation → region on the TPC-H
# star schema): the reference's summing-matrix as a groupBy cascade
# ---------------------------------------------------------------------------

@register(
    "hierarchy_rollup_region",
    """
WITH cust_day AS (
  SELECT o_custkey, CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT)
           AS month_ts,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), nation_level AS (
  SELECT c.c_nationkey AS nationkey, month_ts,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM cust_day JOIN customer c ON c.c_custkey = o_custkey
  GROUP BY 1, 2
)
SELECT r.r_name AS region, month_ts, CAST(sum(cents) AS BIGINT) AS cents
FROM nation_level
JOIN nation n ON n.n_nationkey = nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY 1, 2
""",
)
def q_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_level_dataframe semantics (utils.py:292-359): leaf (customer)
    series summed up a two-level tree (nation → region), each level derived
    from the previous one via hierarchy_rollup."""
    from etna_spark.operators.hierarchy import hierarchy_rollup

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    leaf = (
        orders.withColumn("cents", F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.date_trunc("month", "o_orderdate").cast("long").alias("month_ts"),
        )
        .agg(F.sum("cents").alias("cents"))
    )
    to_nation = customer.select(
        F.col("c_custkey").alias("custkey"), F.col("c_nationkey").alias("nationkey")
    )
    nation_level = hierarchy_rollup(
        leaf, to_nation, "custkey", "nationkey", ["cents"], ts_col="month_ts"
    )
    to_region = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_nationkey").alias("nationkey"), F.col("r_name").alias("region"))
    region_level = hierarchy_rollup(
        nation_level, to_region, "nationkey", "region", ["cents"], ts_col="month_ts"
    )
    return region_level.select("region", "month_ts", "cents")


_IVF_CENTROID_IDS = (0, 62, 125, 187, 250, 312, 375, 437)

_COS = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
)

_ANN_IVF_SQL = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
  FROM embeddings WHERE vec_id IN {_IVF_CENTROID_IDS}
), sims AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_COS.format(a='e.embedding', b='c.cv')} AS sim
  FROM embeddings e CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, embedding, cid,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(sim, 9) DESC, cid) AS rk
  FROM sims
), c_assign AS (
  SELECT vec_id AS neighbor_id, embedding AS cv2, cid AS cell
  FROM ranked WHERE rk = 1
), q_assign AS (
  SELECT vec_id AS query_id, embedding AS qv, cid AS cell
  FROM ranked WHERE rk <= 3 AND vec_id < 10
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         {_COS.format(a='q.qv', b='c.cv2')} AS sim
  FROM q_assign q JOIN c_assign c USING (cell)
  WHERE q.query_id <> c.neighbor_id
), ranked2 AS (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(sim, 5) AS cosine_sim,
       CAST(rank AS INTEGER) AS rank
FROM ranked2 WHERE rank <= 5
"""


@register("ann_cosine_ivf", _ANN_IVF_SQL)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end (cell assignment → n_probe bucket join → exact
    rescore) with DETERMINISTIC centroids — the embeddings of 8 fixed
    vec_ids — so the whole index build + probe is reproducible arithmetic
    and the DuckDB oracle re-derives it. The MLlib-k-means-trained path
    (train_centroids) is the production default and keeps its recall-vs-
    brute-force pytest pin; the plan shape is identical either way."""
    from etna_spark.data.ivf import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id").isin(*_IVF_CENTROID_IDS))
        .orderBy("vec_id").select("embedding").collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk_ivf(
        queries, emb, k=5, n_cells=8, n_probe=3, centroids=centroids
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine_sim", 5).alias("cosine_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@register("stl_detrend_1h", None)
def q_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STLTransform (reference decomposition/stl.py:25-270): numpy-STL +
    ARIMA(1,1,0) trend model per series over the dense hourly event series
    (period=24). LOESS is not DuckDB-expressible → rows-only; the entry is
    SELF-VERIFYING like gorilla_roundtrip: per-series row with all_match=1
    iff value == residual + season_trend within 1e-6 at every point, so the
    driver's rows check pins reconstruction."""
    from etna_spark.operators.stl import STLTransform

    s = _events_1h(spark, sf_dir).select(
        "event_type", "bucket_ts",
        F.col("value_cents").cast("double").alias("v"),
    )
    dense = ffill(
        regularize(s, "1h", series_cols=("event_type",), ts_col="bucket_ts"),
        ["v"], series_cols=("event_type",), ts_col="bucket_ts",
    ).filter(F.col("v").isNotNull())
    t = STLTransform(
        period=24, model="arima", in_col="v",
        series_cols=("event_type",), ts_col="bucket_ts", step_seconds=3600,
    ).fit(dense)
    resid = t.transform(dense).select(
        "event_type", "bucket_ts", F.col("v").alias("resid")
    )
    back = t.inverse_transform(resid.withColumnRenamed("resid", "v"))
    # left join from the input + coalesce-to-0: a row the inverse DROPS or
    # NULLs must flip all_match to 0 (F.min would skip a NULL comparison);
    # detrend_gain = stddev(raw)/stddev(resid) is the non-tautological
    # check — a wrongly-fitted state reconstructs fine but leaves resid
    # variance ~= raw variance (gain ~1), a real fit gives gain >> 1
    joined = dense.select("event_type", "bucket_ts", "v").join(
        back.select(
            "event_type", "bucket_ts", F.col("v").alias("v_back")
        ),
        on=["event_type", "bucket_ts"],
        how="left",
    ).join(
        resid.select("event_type", "bucket_ts", "resid"),
        on=["event_type", "bucket_ts"],
        how="left",
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.min(F.coalesce(
            (F.abs(F.col("v") - F.col("v_back")) < 1e-6).cast("int"),
            F.lit(0),
        )).alias("all_match"),
        F.round(F.stddev_pop("v") / F.stddev_pop("resid"), 4).alias(
            "detrend_gain"
        ),
    )
