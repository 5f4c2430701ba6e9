"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
(random-hyperplane) variant as the scale path — at 10^9+ vectors the
bucketed join prunes the candidate space to colliding signatures, and an
IVF refinement is the same plan with learned centroids instead of hash
planes.

Vector math is zip_with/aggregate higher-order functions with float64
accumulation (left-to-right deterministic — SURVEY.md §4.3 float
discipline); the one deliberate exception is the multi-table signature
kernel (``_sig_kernel``), an Arrow-batched numpy replay of the identical
float chain — at n_tables×n_planes projections per vector the per-row
expression-array allocations dominate, the textbook Pandas-UDF-wins case.
The LSH signature derives hyperplane weights from a hash of
(plane, dimension) — deterministic, no RNG state, no driver-side model.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from etna_spark.sqltext import double, ident


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-to-right float64 dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over the SQL expressions ``a`` and ``b``."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
            "CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim, rank) — exact top-k per query.

    Queries broadcast against the corpus (the classic small-probe/large-
    corpus shape); rank ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.join(F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine_sim", 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _plane_weight(k: int) -> float:
    """Pseudo-random hyperplane weight ∈ (-1, 1) for flat plane-component
    index ``k = plane * dim + i`` — two multiply rounds with xorshift
    mixing, everything mod 2^31 so every intermediate fits signed int64
    (max 2^31·2246822519 ≈ 4.8e18 < 2^63) in Python, numpy, Spark ANSI
    and DuckDB BIGINT alike. A plain LCG here (the r1-r4 formula) leaves
    the low bits — the ones ``% 1000`` keeps — correlated across
    consecutive k, which makes adjacent planes near-parallel: measured
    6.7× the candidate-pair volume of these mixed weights at 100k
    vectors / 4×18 planes (offline numpy A/B, recall 1.0 for both on
    the planted near-dup population)."""
    h = (k * 2654435761) % 2147483648
    h ^= h >> 15
    h = (h * 2246822519) % 2147483648
    h ^= h >> 13
    return (h % 1000 - 499.5) / 500.0


def _hyperplane_sign(vec: Column, plane: int, dim: int) -> Column:
    """sign(v · h_plane) with pseudo-random plane weights from the
    ARITHMETIC mixed hash of (plane, component) — deterministic, and
    exactly reproducible in a DuckDB oracle (xxhash64 is not). Weight
    ∈ (-1, 1), sequential-fold dot product so both engines sum in
    identical order.

    The weights are computed DRIVER-SIDE with the same integer arithmetic
    and inlined as a literal array: Python's ``%`` on non-negative ints is
    pmod and the float steps (−499.5, /500.0) are IEEE-exact, so the
    values are bit-identical to the in-plan formula the SQL oracles
    replay — while the per-row cost drops from building a dim-element
    expression array per plane to reading a constant (measured ~2× on
    the 72-plane near-dup signature stage)."""
    ws = [_plane_weight(plane * dim + i) for i in range(dim)]
    weights = F.array(*[F.lit(w) for w in ws])
    return (
        F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        > 0
    ).cast("int")


def _valid_norm(n: Column) -> Column:
    """A norm that defines a cosine: positive and not NaN. Spark orders NaN
    above every double, so ``n > 0`` alone would admit it."""
    return (n > 0) & ~F.isnan(n)


def _sig_kernel(n_planes: int, dim: int, n_tables: int):
    """Arrow-vectorized multi-table signature kernel: bit-identical to the
    ``lsh_signature`` expression chain (same mixed-hash weights, same sequential
    left-to-right float64 accumulation over components — numpy elementwise
    ``acc += v_i * w_i`` iterated in ``i`` order IS that chain, just
    computed for all (row, plane) cells at once), ~20× the throughput of
    the per-plane ``zip_with`` expressions, whose per-row array
    allocations made the signature stage allocation-bound (measured 36 s
    → 4 s at 400k×dim32×72 planes on 2 cores).

    Returns ``struct<sig: array<bigint>, pf: array<double>>``: ``pf`` is
    the first ``min(4, dim)`` coordinates of the unit vector, ``v_i /
    norm(v)`` with the norm folded left to right in index order exactly
    as :func:`norm` does, and null wherever :func:`_valid_norm` fails
    (an infinite norm still gives ``v_i / inf``). Both outputs are
    pinned to their Spark-expression twins by a property test. A null
    vector gets a null ``sig`` and ``pf``."""
    total = n_tables * n_planes
    m = min(4, dim)
    weights = np.array(
        [[_plane_weight(p * dim + i) for p in range(total)] for i in range(dim)],
        dtype=np.float64,
    )

    @pandas_udf(StructType([
        StructField("sig", ArrayType(LongType())),
        StructField("pf", ArrayType(DoubleType())),
    ]))
    def sigs(cells: pd.Series) -> pd.DataFrame:
        # a null vector gets a null signature array, which posexplode
        # turns into no rows
        present = cells.notna().to_numpy()
        vs = cells[present]
        if not len(vs):
            mat = np.zeros((0, dim), dtype=np.float64)
        elif isinstance(vs.iloc[0], np.ndarray):
            # Arrow hands list<float> cells over as numpy arrays —
            # np.stack + astype widens float32→float64 exactly (same
            # values as the tolist() path, which round-trips through
            # Python floats) without materializing len·dim Python
            # objects per batch (r6, guide §4.2)
            mat = np.stack(vs.values).astype(np.float64, copy=False)
        else:
            mat = np.asarray(vs.tolist(), dtype=np.float64)
        if mat.ndim != 2 or mat.shape[1] != dim:
            raise ValueError(
                f"expected fixed-length dim={dim} vectors, got shape {mat.shape}"
            )
        # (plane, row) layout: every step is one contiguous multiply-add
        # over the whole batch, ~2× faster than (row, plane); each cell
        # still sees the same products in the same order
        cols = np.ascontiguousarray(mat.T)
        acc = np.zeros((total, len(mat)), dtype=np.float64)
        ss = np.zeros(len(mat), dtype=np.float64)
        with np.errstate(over="ignore"):  # huge vectors: ss → inf, as in Spark
            for i in range(dim):
                acc += weights[i][:, None] * cols[i]
                ss += cols[i] * cols[i]
        bits = acc > 0
        out = np.zeros((n_tables, len(mat)), dtype=np.int64)
        for t in range(n_tables):
            for p in range(n_planes):
                out[t] = out[t] * 2 + bits[t * n_planes + p]
        n = np.sqrt(ss)
        with np.errstate(divide="ignore", invalid="ignore"):
            pf = mat[:, :m] / n[:, None]
        valid = (n > 0) & ~np.isnan(n)
        sig_rows = iter(np.ascontiguousarray(out.T))
        pf_rows = iter([row if ok else None for row, ok in zip(pf, valid)])
        return pd.DataFrame({
            "sig": [next(sig_rows) if p else None for p in present],
            "pf": [next(pf_rows) if p else None for p in present],
        })

    return sigs


def lsh_signature(vec: Column, n_planes: int, dim: int, plane_offset: int = 0) -> Column:
    """Random-hyperplane signature as a packed long (n_planes ≤ 62)."""
    bits = F.array(
        *[_hyperplane_sign(vec, plane_offset + p, dim) for p in range(n_planes)]
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane-LSH bucket in ANY of
    ``n_tables`` tables (each table = an independent plane set, ids offset),
    then exact cosine rescoring. The bucket join is the scale path (no cross
    join); recall rises with tables, cost with planes per table."""

    def sigs(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        # two selects: referencing a same-select alias from posexplode trips
        # Spark's lateral-column-alias resolution (INTERNAL_ERROR)
        base = df.select(F.col(id_col).alias(idc), F.col(vec_col).alias(vecc))
        tables = F.array(
            *[
                lsh_signature(F.col(vecc), n_planes, dim, plane_offset=t * n_planes)
                for t in range(n_tables)
            ]
        )
        return base.select(
            idc, vecc, F.posexplode(tables).alias("_table", "_sig")
        )

    sig_q = sigs(queries, "query_id", "_qv")
    sig_c = sigs(corpus, "neighbor_id", "_cv")
    cand = (
        sig_c.join(F.broadcast(sig_q), on=["_table", "_sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .distinct()
    )
    scored = cand.withColumn("cosine_sim", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine_sim", 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def sq8_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 scalar quantization of an embedding column — the standard
    first compression step of a vector store (4× smaller than float32,
    16× smaller than float64; FAISS's SQ8 / every vector DB's default).

    Per vector: ``scale = (max − min) / 255``; ``code_i = round((v_i −
    min) / scale)`` in 0..255. Returns (id, codes array<int>, mn, scale);
    all arithmetic is element-wise JVM HOFs with a fixed float chain, so
    a DuckDB oracle replays it exactly. Constant vectors get scale 0 and
    all-zero codes (dequantize returns mn)."""
    v = F.col(vec_col)
    # widen BEFORE subtracting: float32 max−min rounds to float precision,
    # while the oracle subtracts widened doubles — the chains must match
    mn = F.array_min(v).cast("double")
    scale = (
        F.array_max(v).cast("double") - F.array_min(v).cast("double")
    ) / F.lit(255.0)
    return (
        df.select(
            F.col(id_col).alias("vec_id"),
            v.alias("_v"),
            mn.alias("_mn"),
            scale.alias("_scale"),
        )
        .select(
            "vec_id",
            F.transform(
                F.col("_v"),
                lambda x: F.when(
                    F.col("_scale") > 0,
                    F.least(
                        F.lit(255),
                        F.greatest(
                            F.lit(0),
                            F.round(
                                (x.cast("double") - F.col("_mn"))
                                / F.col("_scale"),
                                0,
                            ).cast("int"),
                        ),
                    ),
                ).otherwise(F.lit(0)),
            ).alias("codes"),
            F.col("_mn").alias("mn"),
            F.col("_scale").alias("scale"),
        )
    )


def sq8_decode(encoded: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Dequantize: ``v̂_i = mn + code_i · scale`` (array<double>)."""
    return encoded.select(
        "vec_id",
        F.transform(
            F.col("codes"),
            lambda c: F.col("mn") + c.cast("double") * F.col("scale"),
        ).alias(vec_col),
    )


def embedding_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """``(_id, _pf, _table, _sig)`` — one multi-table hyperplane-LSH
    signature row per (vector, table), SLIM: no vector payload. Split out
    of :func:`embedding_neardup_pairs` so callers (e.g. the benchmark) can
    cache it explicitly when they reuse it across calls. Keeping the
    id/table/sig rows plus the ``min(4, dim)``-double pre-filter
    projection ``_pf`` — not the ``dim``-double vectors — is what makes
    the candidate exchange signature-sized instead of corpus-sized;
    vectors re-enter only for the candidate-pair rescore, keyed by id.

    All ``n_tables × n_planes`` projections and ``_pf`` come from one
    vectorized numpy kernel per Arrow batch (:func:`_sig_kernel`),
    bit-identical to :func:`lsh_signature` and to ``v_i / norm(v)``
    (property-tested, ``test_data_ops.py``) but ~10× faster than the
    expression chain at high plane counts."""
    # Nondeterministic only to the optimizer: it must not copy the kernel
    # call into the size(sig) > 0 filter it infers from the posexplode
    # (that plan ships every vector to Python twice). Separate selects:
    # referencing a same-select alias from posexplode trips Spark's
    # lateral-column-alias resolution (INTERNAL_ERROR), and exploding a
    # plain array column keeps the struct out of the exploded rows.
    k = _sig_kernel(n_planes, dim, n_tables).asNondeterministic()
    return (
        df.select(F.col(ident(id_col)).alias("_id"),
                  k(F.col(ident(vec_col))).alias("_k"))
        .select("_id", F.col("_k.pf").alias("_pf"),
                F.col("_k.sig").alias("_sigs"))
        .select("_id", "_pf", F.posexplode("_sigs").alias("_table", "_sig"))
    )


def bucket_pairs(
    keyed: DataFrame,
    bucket_cols: Sequence[str],
    id_col: str = "_id",
    max_bucket: int | None = None,
    distinct: bool = True,
    payload_col: str | None = None,
    max_payload_gap: float | None = None,
    emit_payloads: bool = False,
) -> DataFrame:
    """Distinct unordered id pairs that share a bucket — ONE hash
    aggregation instead of the bucket-size agg + capped join + self-join
    chain (r6 optimization, guide §2.4 "remove shuffles outright").

    ``groupBy(bucket).collect_list(id)`` shuffles each (bucket, id) row
    exactly once; pair expansion happens map-side with higher-order
    functions over the member array (so the quadratic blow-up of a hot
    bucket is bounded by the SAME ``max_bucket`` cap as before, now a
    simple ``size(ms)`` filter with no extra aggregation+join). The
    equivalent self-join plan shuffled the keyed rows three times
    (bucket-size agg, cap join, self-join) and needed a 6-exchange plan;
    this is 2 exchanges (group + distinct). Output: (id_a < id_b),
    deduplicated across buckets.

    ``distinct=False`` skips the cross-bucket dedup — for callers whose
    downstream per-pair scoring is deterministic, deduplicating AFTER the
    (usually far more selective) score filter moves the distinct from
    candidate volume to survivor volume and deletes the candidate-sized
    exchange (guide §2.3: shuffle fewer bytes). Duplicate pairs then cost
    only redundant map-side rescores (bounded by the table/band count).

    ``payload_col`` carries one extra column into the member list (as a
    struct field alongside the id). With ``max_payload_gap`` (array
    payloads) a pair is kept only if every coordinate of its two payload
    arrays differs by at most the gap — symmetric by construction, and
    applied MAP-SIDE during expansion, so a provably-safe pre-filter (the
    per-coordinate unit-vector bound in :func:`embedding_neardup_pairs`)
    shrinks the candidate set before it ever reaches an exchange. A null
    payload or coordinate fails the gap. Ids stay the ordering key (the
    id is the struct's first field, so least/greatest still normalizes
    by id).

    ``emit_payloads=True`` (requires ``payload_col``) additionally
    returns the two payloads as ``pay_a`` / ``pay_b`` columns — for
    callers whose per-pair score is a function of the payloads alone
    (e.g. MinHash signature agreement): scoring then happens MAP-SIDE in
    the expansion output and the downstream distinct runs on score
    SURVIVORS instead of raw candidates, deleting both payload-attach
    joins (r6, guide §2.3/§2.4).
    """
    if payload_col is None and (emit_payloads or max_payload_gap is not None):
        raise ValueError("emit_payloads/max_payload_gap require payload_col")
    if payload_col is not None:
        entry = f"struct({ident(id_col)} AS i, {ident(payload_col)} AS p)"
    else:
        entry = ident(id_col)
    members = keyed.groupBy(*map(ident, bucket_cols)).agg(
        F.expr(f"collect_list({entry}) AS _ms"))
    cond = "size(_ms) >= 2"
    if max_bucket is not None:
        cond += f" AND size(_ms) <= {int(max_bucket)}"
    members = members.where(cond)

    # filter BEFORE building the normalized pair struct: the gap test is
    # symmetric, so orientation does not matter, and skipping the struct +
    # least/greatest for failing pairs avoids ~12× the survivor count in
    # per-pair allocations at bench params (16.6M raw pairs → 1.37M
    # surviving the projection bound). The id-inequality guard preserves
    # the pre-r6 self-join contract (`id_a < id_b` strict): a duplicated id
    # in dirty input must not emit an (x, x) pair (r6 review fix).
    if payload_col is None:
        keep = "y != x"
    else:
        keep = "y.i != x.i"
        if max_payload_gap is not None:
            keep += (" AND forall(zip_with(x.p, y.p, (a, b) -> "
                     f"abs(a - b) <= {double(max_payload_gap)}), ok -> ok)")
    rest = f"filter(slice(_ms, i + 2, size(_ms) - i - 1), y -> {keep})"
    pairs = (f"flatten(transform(_ms, (x, i) -> transform({rest}, "
             "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))")
    if payload_col is not None:
        sel = ["_p.a.i AS id_a", "_p.b.i AS id_b"]
        if emit_payloads:
            sel += ["_p.a.p AS pay_a", "_p.b.p AS pay_b"]
    else:
        sel = ["_p.a AS id_a", "_p.b AS id_b"]
    out = members.selectExpr(f"explode({pairs}) AS _p").selectExpr(*sel)
    return out.distinct() if distinct else out


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    max_bucket: int = 10000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, LSH-bucketed
    candidates (embedding-based near-dedup for training corpora).

    Scale shape (r6-optimized): ``n_tables`` independent plane sets (same
    rotation as :func:`cosine_topk_lsh`) so a near-dup pair whose
    differing bits fall inside one table's slice still collides in
    another; candidates come from ONE ``groupBy(table, sig)`` over the
    SLIM ``(id, pf, table, sig)`` rows with map-side pair expansion
    (:func:`bucket_pairs` — the hot-bucket ``max_bucket`` cap is a
    ``size()`` filter on the member list, and the former 6-exchange
    bucket-size-agg + cap-join + self-join chain collapses to 2
    exchanges); the ``dim``-double vectors enter only at the rescore.

    One plan at every input size. Candidates are pre-filtered by the
    projection bound (below) before any exchange, and the vectors are
    attached with SHUFFLE_HASH-hinted id-keyed joins: the per-partition
    hash builds run in PARALLEL — A/B-measured faster AND far more
    stable than a broadcast-hash rescore (min 4.7 s vs 5.8 s at
    1M×dim32, spread 4.7–5.7 vs 5.8–14 s: the 1M-row broadcast
    relation's build is driver-serial). The build side is the
    uniformly-id-keyed vector table, so per-partition build size is
    total/partitions — bounded by shuffle parallelism, the standard
    cluster-safe SHJ shape.

    Degenerate vectors (zero or NaN norm) have no defined cosine and
    produce no pairs; neither does a pair whose cosine overflows to NaN
    (e.g. two ``[1e300]*8`` vectors, whose norms are infinite).

    ``signatures`` accepts a precomputed (ideally cached)
    :func:`embedding_signatures` frame with matching parameters."""
    sig = (
        signatures
        if signatures is not None
        else embedding_signatures(df, id_col, vec_col, n_planes, dim, n_tables)
    )
    # Provably-safe projection pre-filter (r6): for unit-normalized
    # vectors â = a/|a|, cos(a,b) ≥ θ  ⇒  |â − b̂| = √(2−2cos) ≤ √(2−2θ),
    # and every coordinate satisfies |â_i − b̂_i| ≤ |â − b̂|. The signature
    # rows carry the first m normalized coordinates (``_pf``), so pair
    # expansion discards, MAP-SIDE and before any exchange, every pair
    # that provably cannot reach the threshold — a necessary condition,
    # never a heuristic, so the output set is unchanged (recall 1.0 by
    # construction; float error is ~1e-14 against a 1e-6 safety margin).
    # Measured at 1M×dim32/θ=0.99: candidates 16.6M → 1.37M (12×), the
    # distinct and rescore shrinking with them. ``_pf`` is null for a
    # degenerate vector, and a null payload fails the gap.
    bound = math.sqrt(max(0.0, 2.0 - 2.0 * threshold)) + 1e-6
    # distinct=True is deliberate even though the rescore would collapse
    # duplicates after the filter: the candidate distinct's exchange is
    # what re-spreads the (byte-small, work-heavy) pair stream across the
    # full parallelism before the expensive rescore — A/B-measured
    # distinct-after-filter at 1M×dim32: 14.7 s vs 10.3 s, because AQE
    # coalesces the groupBy output by SHUFFLE bytes and the fused
    # explode+rescore then runs on too few tasks (only ~2% of candidates
    # are cross-table duplicates, so the dedup saves nothing here).
    cand = bucket_pairs(sig, ("_table", "_sig"), id_col="_id",
                        max_bucket=max_bucket, payload_col="_pf",
                        max_payload_gap=bound)
    # per-vector norm computed ONCE per vector (same float chain as the
    # pair-wise cosine, so oracle values are unchanged)
    vecs = df.selectExpr(
        f"{ident(id_col)} AS _vid",
        f"{ident(vec_col)} AS _vv",
        f"sqrt({_dot_sql(ident(vec_col), ident(vec_col))}) AS _vn",
    ).hint("SHUFFLE_HASH")
    # valid-norm guard: a degenerate vector yields null (dropped by the
    # filter) instead of an ANSI DIVIDE_BY_ZERO. Spark orders NaN above
    # every double, so an overflowed cosine (inf/inf) would pass any
    # threshold without the isnan term.
    valid = "(_na > 0 AND NOT isnan(_na)) AND (_vn > 0 AND NOT isnan(_vn))"
    return (
        cand.join(vecs, on=F.expr("id_a = _vid"))
        .selectExpr("id_a", "id_b", "_vv AS _va", "_vn AS _na")
        .join(vecs, on=F.expr("id_b = _vid"))
        .selectExpr(
            "id_a", "id_b",
            f"CASE WHEN {valid} THEN {_dot_sql('_va', '_vv')} / (_na * _vn) "
            "END AS cosine_sim")
        .where(f"cosine_sim >= {double(threshold)} AND NOT isnan(cosine_sim)")
    )
