"""Deduplication family for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash. No reference counterpart (engine-specific; SURVEY.md
inventory extension).

Scale design:
- exact dedup is a single hash-aggregate on the content key (map-side
  partial → shuffle one row per group);
- near-dup methods NEVER do the naive O(n²) cross join: candidate pairs come
  from an equi-join on shared shingles / LSH band buckets, so the shuffle
  carries (bucket, doc) pairs and the pair space is only what collides —
  the standard web-scale dedup shape;
- hot buckets (stop-shingles) are capped (``max_bucket``) before the
  self-join — the dedup twin of rollup salting, without which one viral
  shingle produces a quadratic reducer.

Hash discipline: arithmetic polynomial hashes over codepoints (oracle-
expressible, deterministic); the plan shape is unchanged if swapped for
xxhash64 at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etna_spark.data.text import HASH_MOD, word_hash61, words
from etna_spark.sqltext import double, ident

# The MinHash permutation family: permutation i maps a shingle hash h to
# (a_i·h + b_i) mod p (p = HASH_MOD), with a_i, b_i drawn independently in
# [1, p) (splitmix64 of 2i and 2i+1, reduced mod p−1, plus 1). Independent
# coefficients matter: the family (i+1)·(A·h + B) mod p used before made
# every permutation a multiple of one value, so one hash collision between
# two unrelated docs won most of their 16 minima at once. h < p and
# a_i < p keep every product below 2^60, inside BIGINT under ANSI mode.
# The dedup_minhash_lsh oracle (registry_ops3) replays this table.
MINHASH_PERMS = (
    (893357628, 493524570), (323194151, 446402582),
    (300873973, 346691917), (300820335, 745837146),
    (908978881, 69808257), (46600587, 955562744),
    (359490484, 938848372), (260298389, 638669822),
    (277502954, 655903268), (585608395, 506791545),
    (71195965, 739678680), (412550793, 111299787),
    (195649025, 665586862), (42776609, 860553443),
    (549845707, 241155439), (357639181, 96837743),
    (357810416, 67396045), (16642002, 136440328),
    (98767996, 803537714), (192663775, 399744421),
    (233533721, 567659826), (678530714, 181380821),
    (261539776, 596169099), (143972002, 931630162),
    (478282354, 316242521), (196745470, 104644839),
    (797932133, 887272625), (858525432, 967813633),
    (657586838, 761355698), (627319801, 801214593),
    (903005564, 267315306), (274159521, 725271006),
)


def exact_dedup(
    df: DataFrame, key_cols=("text",), id_col: str = "doc_id"
) -> DataFrame:
    """Groups with >1 rows: (key..., canonical_id = min id, dup_count)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def _shingles_sql(w: str, k: int) -> str:
    """SQL for the word k-shingles (joined strings) of the words array ``w``.

    ``concat_ws`` over ``k`` null-safe ``get`` element reads instead of
    ``array_join(slice(...))``: no per-shingle array allocation, and the
    caller binds the words array once as a projected column, so the split
    is not re-evaluated per shingle (interpreted HOF lambdas have no
    common-subexpression elimination: re-splitting the text for every
    shingle measured 9.2 s → 4.4 s for the 38M-shingle bench corpus).
    ``concat_ws`` skips the NULLs that ``get`` returns past the end of a
    short (< k words) document, which joins exactly the same prefix
    ``array_join`` produced — value-identical, pinned by tests."""
    parts = ", ".join(f"get({w}, i + {j})" for j in range(k))
    return (f"transform(sequence(0, greatest(size({w}) - {k}, 0)), "
            f"i -> concat_ws(' ', {parts}))")


def _shingle_hash_sql(sh: str) -> str:
    """SQL for the polynomial hash of a shingle's word codes (order-sensitive;
    a word's code is its first codepoint × its length)."""
    return (f"aggregate(split({sh}, ' '), CAST(0 AS BIGINT), (acc, w) -> "
            f"pmod(acc * 131 + ascii(w) * length(w), {HASH_MOD}))")


def _doc_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int,
    hash_fn: str = "poly",
    distinct: bool = True,
) -> DataFrame:
    """(id, sh) — shingle hashes per doc, in [0, HASH_MOD); distinct per
    doc by default (set semantics for Jaccard).

    ``hash_fn='poly'`` (default) is the oracle-expressible arithmetic
    polynomial over word codes; ``hash_fn='xxhash'`` is the at-scale
    drop-in (JVM-native xxhash64, then mod): same plan shape, far
    cheaper per shingle, and — unlike the poly hash, whose word codes
    are ascii(first)·length — collision-resistant on vocabularies of
    same-prefix/same-length words. Benchmarks use 'xxhash'; the
    driver-checked queries keep 'poly' so DuckDB can replay them.

    ``distinct=False`` skips the per-(id, shingle) dedup — min-based
    consumers (MinHash) are duplicate-insensitive (min over a multiset
    equals min over its set), and dropping the distinct removes a full
    shingle-count-sized exchange from the plan (r6, guide §2.4)."""
    if hash_fn == "poly":
        h = _shingle_hash_sql("_s")
    elif hash_fn == "xxhash":
        h = f"pmod(xxhash64(_s), {HASH_MOD})"
    else:
        raise ValueError(f"bad hash_fn {hash_fn!r}")
    i = ident(id_col)
    out = (
        df.selectExpr(i, f"split({ident(text_col)}, ' ') AS _w")
        .selectExpr(i, f"explode({_shingles_sql('_w', k)}) AS _s")
        .selectExpr(i, f"{h} AS sh")
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 64,
) -> DataFrame:
    """(id_a, id_b, jaccard) over the distinct-k-shingle sets, candidates from
    shared shingles, exact Jaccard verification."""
    sh = _doc_shingle_hashes(df, id_col, text_col, k).cache()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_sz"))
    # cap viral shingles before the self-join (quadratic reducer guard)
    bucket_sizes = sh.groupBy("sh").agg(F.count("*").alias("_bs"))
    capped = sh.join(
        bucket_sizes.filter(F.col("_bs") <= max_bucket).select("sh"), on="sh"
    )
    a = capped.select(F.col(id_col).alias("id_a"), "sh")
    b = capped.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "_sz": "_sa"}), on="id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "_sz": "_sb"}), on="id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    hash_fn: str = "poly",
) -> DataFrame:
    """(id, sig: array<long>) — min over the permuted shingle-hash family
    ``(a_i·h + b_i) mod p`` of :data:`MINHASH_PERMS`."""
    # distinct=False: min over the permuted hashes is duplicate-insensitive,
    # so the (id, shingle) dedup exchange is pure cost here — the groupBy's
    # map-side partial aggregation already reduces the explode to one row
    # per doc before the (doc-count-sized) shuffle (r6, guide §2.3/§2.4).
    if num_perm > len(MINHASH_PERMS):
        raise ValueError(f"num_perm={num_perm} exceeds the {len(MINHASH_PERMS)} "
                         "permutations of MINHASH_PERMS")
    sh = _doc_shingle_hashes(df, id_col, text_col, k, hash_fn=hash_fn,
                             distinct=False)
    mins = ", ".join(f"min(pmod(sh * {a} + {b}, {HASH_MOD}))"
                     for a, b in MINHASH_PERMS[:num_perm])
    return sh.groupBy(ident(id_col)).agg(F.expr(f"array({mins}) AS sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs from LSH band buckets, scored by signature agreement
    (estimated Jaccard); classic shingle→minhash→band→bucket-join.

    Since the batch-4 rewrite the signature frame feeds a SINGLE banding
    select (the est-joins that used to re-read it are gone), so caching
    it buys nothing in this one-shot path; callers that reuse signatures
    across several calls should use :func:`minhash_signatures` +
    :func:`minhash_band_pairs` and own the cache lifecycle — this
    convenience wrapper deliberately does NOT cache, so it cannot leak
    cached blocks (r5 ADVICE)."""
    sigs = minhash_signatures(df, id_col, text_col, k, num_perm)
    return minhash_band_pairs(sigs, id_col=id_col, num_perm=num_perm,
                              bands=bands, threshold=threshold)


def minhash_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band/bucket-join stage over precomputed ``(id, sig)`` signatures —
    split out so callers (e.g. the benchmark) control the signature
    frame's caching/unpersist lifecycle explicitly.

    ``max_bucket`` drops band buckets with more members before pair
    expansion — the same quadratic-reducer guard the shingle and
    embedding candidate generators apply (a boilerplate/template cluster
    puts thousands of near-identical docs in one bucket; its pairs are
    better handled by exact dedup upstream). ``None`` keeps every bucket
    (the driver-checked oracle query replays the uncapped join).

    r6 shape (guide §2.3/§2.4): candidates come from ONE
    ``groupBy(band, bucket)`` with map-side pair expansion
    (:func:`etna_spark.data.similarity.bucket_pairs`), and the 16-long
    signature rides INTO the member list as an int-cast payload
    (lossless: every element < HASH_MOD < 2^31, and halving the element
    width halves the bucket exchange's payload bytes — guide §2.3
    "narrower types"). ``est_jaccard`` is then computed MAP-SIDE from
    the two payloads during expansion, which deletes both former
    estimate joins, and the distinct runs on threshold SURVIVORS
    (91k at bench scale) instead of raw candidates. A pair colliding in
    several bands carries the same signatures everywhere, so its est is
    identical in every copy and the post-filter distinct returns
    exactly the old pair set (A/B: exceptAll == 0 both directions at 1M
    docs, capped and uncapped; measured 8.0 s → 5.8 s for the full
    bench stage)."""
    from etna_spark.data.similarity import bucket_pairs

    rows_per_band = num_perm // bands
    bucket = ("aggregate(slice(sig, b * {r} + 1, {r}), CAST(0 AS BIGINT), "
              "(acc, x) -> pmod(acc * 131 + x, {p}))").format(r=rows_per_band,
                                                               p=HASH_MOD)
    banded = sigs.selectExpr(
        ident(id_col),
        "transform(sig, x -> CAST(x AS INT)) AS _sig32",
        f"explode(transform(sequence(0, {bands - 1}), "
        f"b -> struct(b AS band, {bucket} AS bucket))) AS bb",
    ).selectExpr(ident(id_col), "_sig32", "bb.band", "bb.bucket")
    cand = bucket_pairs(banded, ("band", "bucket"), id_col=id_col,
                        max_bucket=max_bucket, payload_col="_sig32",
                        emit_payloads=True, distinct=False)
    agree = ("size(filter(zip_with(pay_a, pay_b, (x, y) -> CAST(x = y AS INT)), "
             "v -> v = 1))")
    est = cand.selectExpr("id_a", "id_b",
                          f"{agree} / {num_perm} AS est_jaccard")
    return est.where(f"est_jaccard >= {double(threshold)}").distinct()


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash over word hashes; rows with
    null text are dropped.

    For each bit j, sum ±1 over the words' hashes; bit j of the result is 1
    when the sum is positive. Vectorized as a 64-element higher-order-
    function reduction (no Python). Word hashes use the arithmetic
    ``word_hash61`` family so a DuckDB oracle reproduces the exact value
    (xxhash64 is a drop-in at scale; plan shape identical).

    Two r6 fixes, each worth ~2× on the full pair query:
    - the word-hash ARRAY is projected once: interpreted HOF lambdas
      have no common-subexpression elimination, so embedding the
      transform inside each of the 64 bit-vote aggregates re-split and
      re-hashed every word 64× per document (the same CSE gap as the
      batch-1 shingle fix; simhash compute 4–5 s → 0.4 s isolated);
    - the output column is made provably NON-NULLABLE (null-text docs
      are dropped up front — a hash of an absent document is
      meaningless, and downstream joins discarded their null keys
      anyway — and the hash rides through a never-firing coalesce):
      otherwise any equi-join on the hash infers an IsNotNull
      constraint and pushes it to the scan with the ENTIRE 64-vote
      expression INLINED, silently re-evaluating the full hash per row
      in a filter (seen in plans/r06/dedup_simhash_after.txt's
      predecessor; the coalesce removes the constraint at the source).
    Values for non-null-text documents are bit-identical."""
    base = df.where(F.col(text_col).isNotNull()).select(
        id_col, F.transform(words(text_col),
                            lambda w: word_hash61(w)).alias("_wh"),
    )
    w_hashes = F.col("_wh")

    def bit_vote(j: int):
        # closure (not a default arg: pyspark's lambda introspection counts
        # parameters, and a bound default would make this look 3-ary)
        return lambda acc, h: acc + F.when(
            F.shiftrightunsigned(h, j) % 2 == 1, 1
        ).otherwise(-1)

    sim = F.lit(0).cast("long")
    for j in range(64):  # static bit index → plain shift expressions
        s_j = F.aggregate(w_hashes, F.lit(0).cast("long"), bit_vote(j))
        # bitwise assembly: `sim*2 + bit` ARITHMETIC_OVERFLOWs under ANSI
        # once bit 63 (the j=0 vote) is set
        sim = sim.bitwiseOR(F.shiftleft((s_j > 0).cast("long"), 63 - j))
    # coalesce never fires (text is non-null by the filter above, so the
    # vote aggregates are non-null) — it exists to make the column's
    # TYPE non-nullable so joins don't infer an IsNotNull constraint
    return base.select(
        id_col, F.coalesce(sim, F.lit(0).cast("long")).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    prefix_bits: int = 16,
    n_tables: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidates come from ``n_tables`` LSH tables, table t bucketing on the
    disjoint ``prefix_bits``-bit slice starting at bit 64−(t+1)·prefix —
    multi-table rotation recovers pairs whose differing bits happen to fall
    in any single table's slice (recall → 1 as tables cover the word).
    Default ``n_tables = 64 // prefix_bits`` covers every bit of the hash:
    any pair within hamming ≤ n_tables−1 is then guaranteed a shared
    bucket (pigeonhole), and recall degrades gracefully above that. Pass a
    smaller ``n_tables`` explicitly to trade recall for candidate volume."""
    if n_tables is None:
        n_tables = 64 // prefix_bits
    if n_tables * prefix_bits > 64:
        raise ValueError("n_tables * prefix_bits must be <= 64")
    s = simhash64(df, id_col, text_col)
    mask = (1 << prefix_bits) - 1
    if mask >= 1 << 63:
        mask -= 1 << 64  # signed 64-bit pattern (prefix_bits == 64)
    slices = F.array(*[
        F.struct(
            F.lit(t).alias("_t"),
            F.shiftrightunsigned("simhash", 64 - prefix_bits * (t + 1))
            .bitwiseAND(F.lit(mask)).alias("_bucket"),
        )
        for t in range(n_tables)
    ])
    tables = s.select(
        id_col, "simhash", F.explode(slices).alias("_tb")
    ).select(id_col, "simhash", F.col("_tb._t").alias("_t"),
             F.col("_tb._bucket").alias("_bucket"))
    a = tables.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("h_a"), "_t", "_bucket")
    b = tables.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("h_b"), "_t", "_bucket")
    return (
        a.join(b, on=["_t", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _cc_canon(e: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Canonical undirected edge set: (min, max) pairs, loops dropped."""
    return (
        e.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_sym(canon: DataFrame) -> DataFrame:
    """Symmetric directed view of a canonical edge set."""
    return canon.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(canon.select(F.col("b").alias("u"), F.col("a").alias("v")))


def _cc_large_star(canon: DataFrame) -> DataFrame:
    """large-star(u): connect every neighbor v > u to min(N(u) ∪ {u})."""
    sym = _cc_sym(canon)
    m = sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least(F.col("u"), F.col("_mn")).alias("_m")
    )
    out = (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, on="u")
        .select(F.col("v").alias("a"), F.col("_m").alias("b"))
    )
    return _cc_canon(out)


def _cc_small_star(canon: DataFrame) -> DataFrame:
    """small-star(u): connect u and its smaller neighbors to their min."""
    le = _cc_sym(canon).filter(F.col("v") < F.col("u"))
    m = le.groupBy("u").agg(F.min("v").alias("_m"))
    nb = le.join(m, on="u").select(
        F.col("v").alias("a"), F.col("_m").alias("b")
    )
    own = m.select(F.col("u").alias("a"), F.col("_m").alias("b"))
    return _cc_canon(nb.unionByName(own))


def _cc_alternating(canon: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): converges
    in O(log² n) rounds INDEPENDENT of graph diameter — each round two
    join+aggregate passes over the shrinking edge set. On convergence the
    graph is a union of stars whose centers are the component minima."""
    from etna_spark.plans.state import materialize

    cur = materialize(canon)
    for _ in range(max_iter):
        new = materialize(_cc_small_star(_cc_large_star(cur)))
        # set equality via anti-joins (count equality alone is fooled by
        # swaps); both directions because contraction can add AND drop
        grew = new.join(cur, on=["a", "b"], how="left_anti").limit(1).count()
        shrank = cur.join(new, on=["a", "b"], how="left_anti").limit(1).count()
        cur = new
        if grew == 0 and shrank == 0:
            sym = _cc_sym(cur)
            return sym.groupBy("u").agg(
                F.least(F.first("u"), F.min("v")).alias("component")
            )
    raise RuntimeError(
        f"alternating connected_components did not converge in {max_iter} "
        "rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    switch_after: int = 10,
) -> DataFrame:
    """Connected components over an undirected edge list → (node, component)
    with component = min node id of the component.

    Two regimes behind one interface. Min-label propagation first: each
    round every node takes the min of its own and its neighbors' labels —
    one equi-join + hash aggregate per round, converging in O(diameter)
    rounds, which is the cheap path for near-dup graphs (clusters are
    cliques-ish, diameter a handful). If it hasn't converged after
    ``switch_after`` rounds the graph is high-diameter, and the remaining
    budget goes to the alternating large-star/small-star contraction
    (Kiveris et al., SoCC 2014) whose round count is O(log² n) regardless
    of diameter. Each round is materialized so the plan never nests.

    Only nodes that appear in ``edges`` are labeled (isolated docs are
    their own component trivially).
    """
    from etna_spark.plans.state import materialize

    # pin the (possibly expensive) candidate-pair lineage ONCE — every
    # propagation round joins against und twice otherwise
    und = materialize(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        ).distinct()
    )
    labels = und.select("u").distinct().withColumn("component", F.col("u"))
    converged = False
    for _ in range(min(switch_after, max_iter)):
        nb = (
            und.join(
                labels.withColumnRenamed("u", "v").withColumnRenamed(
                    "component", "_nc"
                ),
                on="v",
            )
            .groupBy("u")
            .agg(F.min("_nc").alias("_nb"))
        )
        new = materialize(
            labels.join(nb, on="u", how="left").select(
                "u",
                F.least(
                    F.col("component"), F.coalesce("_nb", "component")
                ).alias("component"),
            )
        )
        changed = (
            new.join(
                labels.withColumnRenamed("component", "_old"), on="u"
            )
            .filter(F.col("component") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        remaining = max_iter - min(switch_after, max_iter)
        if remaining <= 0:
            raise RuntimeError(
                f"connected_components: total round budget max_iter="
                f"{max_iter} was exhausted by label propagation before the "
                f"contraction switch point (switch_after={switch_after}); "
                "did not converge — raise max_iter"
            )
        # high-diameter graph: hand the remaining round budget to the
        # diameter-independent contraction
        return _cc_alternating(_cc_canon(und, "u", "v"), remaining)
    return labels


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup clustering end-to-end: shingle-join candidate pairs →
    Jaccard filter → connected components → (doc_id, component,
    cluster_size). The dedup decision is ``doc_id == component`` (keep the
    min-id canonical per cluster)."""
    pairs = ngram_jaccard_pairs(
        df, id_col=id_col, text_col=text_col, k=k,
        threshold=threshold, max_bucket=max_bucket,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    # no forced broadcast: the sizes table is one row per CLUSTER —
    # unbounded at corpus scale; let Spark's size-limited machinery decide
    return comp.join(sizes, on="component").select(
        F.col("u").alias(id_col), "component", "cluster_size"
    )
