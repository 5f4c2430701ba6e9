"""Training-data pipeline ops: text stats, dedup family, similarity search,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etna_spark.data.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from etna_spark.data.multimodal import extract_features, frame_sample, synth_media_table
from etna_spark.data.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_neardup_pairs,
    embedding_signatures,
)
from etna_spark.data.text import add_text_stats, lang_scores, token_count_bpe_ish

from .conftest import SF_DIR


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words appear here nothing shared"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "der hund ist und der das"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), key_cols=("text",), id_col="doc_id").collect()
    assert len(out) == 1
    assert out[0]["canonical_id"] == 1 and out[0]["dup_count"] == 2


def test_ngram_jaccard_finds_neardup(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), k=3, threshold=0.3).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_recalls_neardups(spark):
    sigs = minhash_signatures(_docs(spark), num_perm=16).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    assert by_id[1] == by_id[4]  # identical docs → identical signatures
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            _docs(spark), num_perm=16, bands=4, threshold=0.4
        ).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert (1, 3) not in pairs


def test_simhash_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(_docs(spark), max_hamming=10, prefix_bits=8).collect()
    }
    assert pairs[(1, 4)] == 0  # identical docs → identical simhash
    assert (1, 3) not in pairs or pairs[(1, 3)] > 0


def test_simhash_recall_vs_exact_hamming(spark):
    """Full-coverage default (n_tables = 64 // prefix_bits) vs the exact
    all-pairs hamming join on the synthetic documents corpus.

    Pigeonhole guarantee: with 8 disjoint 8-bit slices, any pair differing
    in ≤ 7 bits must agree on at least one slice → recall 1.0 there; at the
    looser max_hamming=16 budget the measured recall must stay ≥ 0.95."""
    from etna_spark.data.dedup import simhash64
    from etna_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    s = simhash64(docs, "doc_id", "text")
    a = s.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    exact = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= 16)
        .collect()
    }
    got8 = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(
            docs, id_col="doc_id", text_col="text",
            max_hamming=16, prefix_bits=8,  # n_tables defaults to 8
        ).collect()
    }
    tight = {p for p, h in exact.items() if h <= 7}
    assert tight and tight <= got8, "pigeonhole guarantee violated for hamming <= 7"
    mid = {p for p, h in exact.items() if h <= 10}
    recall8 = len(got8 & mid) / len(mid)
    assert recall8 >= 0.95, f"pb=8 recall {recall8:.3f} < 0.95 over {len(mid)} pairs"
    # narrower slices buy recall at wider budgets: 16 × 4-bit tables
    # guarantee every pair within hamming ≤ 15 a shared bucket
    got4 = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(
            docs, id_col="doc_id", text_col="text",
            max_hamming=16, prefix_bits=4,  # n_tables defaults to 16
        ).collect()
    }
    recall4 = len(got4 & set(exact)) / len(exact)
    assert recall4 >= 0.95, f"pb=4 recall {recall4:.3f} < 0.95 over {len(exact)} pairs"


def test_text_stats_and_langid(spark):
    out = add_text_stats(_docs(spark), "text")
    r1 = out.filter("doc_id = 1").collect()[0]
    assert r1["n_words"] == 9
    assert r1["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert r1["uniq_word_ratio"] == pytest.approx(8 / 9)
    r4 = out.filter("doc_id = 4").collect()[0]
    assert r1["fingerprint"] == r4["fingerprint"]
    assert out.filter("doc_id = 3").collect()[0]["fingerprint"] != r1["fingerprint"]

    langs = {r["doc_id"]: r["lang_pred"] for r in lang_scores(_docs(spark)).collect()}
    assert langs[1] == "en" and langs[5] == "de"
    assert langs[3] == "und"  # no markers


def test_text_features_keep_user_temp_named_columns(spark):
    """quality_features / lang_scores bind the split words to a temp
    column; a user column that happens to share its name (in any case)
    must come through untouched, and the features must not change."""
    from etna_spark.data.text import quality_features

    docs = _docs(spark).withColumns({"_w_qf": F.col("doc_id") * 10,
                                     "_W_LS": F.lit("keep")})
    qf = quality_features(docs).orderBy("doc_id").collect()
    assert [r["_w_qf"] for r in qf] == [10, 20, 30, 40, 50]
    assert qf[0]["n_words"] == 9
    assert qf[0]["stopword_ratio"] == pytest.approx(2 / 9)
    ls = lang_scores(docs).orderBy("doc_id").collect()
    assert [r["_W_LS"] for r in ls] == ["keep"] * 5
    assert [r["_w_qf"] for r in ls] == [10, 20, 30, 40, 50]
    assert ls[0]["lang_pred"] == "en" and ls[4]["lang_pred"] == "de"


def test_token_count_bpe_ish(spark):
    df = spark.createDataFrame(
        [(1, "short words here"), (2, "extraordinarily long terminology")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", token_count_bpe_ish("text").alias("n")).collect()}
    # per word: 1 + len//4 → short(2) words(2) here(2) = 6
    assert out[1] == 6
    # extraordinarily(4) long(2) terminology(3) = 9
    assert out[2] == 9


def test_cosine_topk_bruteforce_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter("vec_id < 3")
    out = cosine_topk_bruteforce(queries, emb, k=4).collect()
    # numpy oracle
    import pandas as pd

    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    mat = mat.astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    for q in range(3):
        sims = mat @ mat[q] / (norms * norms[q])
        order = sorted(
            [(round(-sims[j], 6), ids[j]) for j in range(len(ids)) if ids[j] != q]
        )[:4]
        expected = [int(i) for _, i in order]
        got = sorted(
            [(r["rank"], r["neighbor_id"]) for r in out if r["query_id"] == q]
        )
        assert [n for _, n in got] == expected, f"query {q}"


def test_cosine_lsh_is_subset_with_decent_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = cosine_topk_bruteforce(queries, emb, k=1).collect()
    approx = cosine_topk_lsh(queries, emb, k=1, n_planes=4, n_tables=6).collect()
    exact_top = {r["query_id"]: r["neighbor_id"] for r in exact}
    approx_top = {r["query_id"]: r["neighbor_id"] for r in approx}
    hits = sum(1 for q, n in approx_top.items() if exact_top.get(q) == n)
    assert len(approx_top) >= 10  # most queries get a candidate at 4 planes
    assert hits / max(len(approx_top), 1) >= 0.3  # single-table recall


def test_embedding_neardup_pairs_runs(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = embedding_neardup_pairs(emb, threshold=0.5, n_planes=4)
    assert out.count() >= 0  # random vectors: few/no pairs; plan must run


def _planted_neardup_corpus(n_pairs: int, dim: int = 64):
    """n_pairs (base, perturbed-twin) vector pairs; twins have cosine ≥ ~0.99,
    unrelated bases are near-orthogonal at dim=64. Deterministic."""
    rng = np.random.RandomState(7)
    base = rng.normal(size=(n_pairs, dim))
    twin = base + 0.05 * rng.normal(size=(n_pairs, dim))
    rows = []
    for i in range(n_pairs):
        rows.append((2 * i, [float(x) for x in base[i]]))
        rows.append((2 * i + 1, [float(x) for x in twin[i]]))
    return rows


def test_embedding_neardup_recall_vs_exact(spark):
    """Default multi-table signatures must recover ≥95% of the true
    cosine≥0.9 pairs (the exact set computed all-pairs in numpy)."""
    rows = _planted_neardup_corpus(40)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mat = np.array([v for _, v in rows])
    nrm = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(nrm, nrm)
    exact = {
        (i, j)
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if sims[i, j] >= 0.9
    }
    assert len(exact) >= 35  # the planted twins are real near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.9).collect()
    }
    assert got <= exact  # exact rescore: no false positives
    assert len(got & exact) / len(exact) >= 0.95


def test_embedding_neardup_hot_bucket_cap(spark):
    """A degenerate mass of identical embeddings shares one signature per
    table; the cap must drop those buckets instead of self-joining them
    quadratically, while normal-sized buckets still produce pairs."""
    same = [(i, [1.0] + [0.0] * 63) for i in range(300)]
    normal = [(1000, [0.0] * 32 + [1.0] * 32), (1001, [0.0] * 32 + [1.0] * 32)]
    emb = spark.createDataFrame(same + normal, "vec_id long, embedding array<double>")
    out = embedding_neardup_pairs(emb, threshold=0.9, max_bucket=50).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1000, 1001) in pairs  # small bucket survives
    assert all(a >= 1000 for a, _ in pairs)  # 300-clone bucket dropped entirely


def test_embedding_neardup_degenerate_vectors(spark, tmp_path):
    """Zero-norm vectors, norms that overflow to inf and a duplicated id
    give no pairs — never a NaN cosine (Spark orders NaN above every
    threshold), never an (x, x) pair — for in-memory and parquet-read
    input alike."""
    a = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    b = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]
    rows = [
        (0, [0.0] * 8), (1, [0.0] * 8),        # zero norm: no cosine
        (2, [1e300] * 8), (3, [1e300] * 8),    # inf norms: inf/inf = NaN
        (4, a), (4, a),                        # duplicated id
        (5, b), (6, [x * 1.0001 for x in b]),  # the one real pair
    ]
    mem = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mem.write.parquet(str(tmp_path / "emb"))
    disk = spark.read.parquet(str(tmp_path / "emb"))
    for emb in (mem, disk):
        out = embedding_neardup_pairs(emb, threshold=0.9, n_planes=4,
                                      dim=8).collect()
        assert [(r["id_a"], r["id_b"]) for r in out] == [(5, 6)]
        assert out[0]["cosine_sim"] == pytest.approx(1.0)


def test_embedding_null_vector_gives_no_rows(spark):
    """A null vector has no signature rows and joins no pair, also when a
    whole Arrow batch is null; the other vectors keep theirs."""
    b = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]
    rows = [(0, None), (5, b), (6, [x * 1.0001 for x in b]), (7, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = embedding_signatures(emb.coalesce(1), n_planes=4, dim=8,
                                n_tables=2).collect()
    assert sorted(r["_id"] for r in sigs) == [5, 5, 6, 6]
    nulls = emb.filter(F.col("embedding").isNull()).coalesce(1)
    assert embedding_signatures(nulls, n_planes=4, dim=8).count() == 0
    out = embedding_neardup_pairs(emb, threshold=0.9, n_planes=4, dim=8).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(5, 6)]


def test_multimodal_features(spark):
    media = synth_media_table(spark, 30)
    feats = extract_features(media, decode_stub="fake").collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature_vec"]) == 16 for r in feats)
    # deterministic: rerun produces identical features
    feats2 = extract_features(media, decode_stub="fake").collect()
    assert {r["media_id"]: r["feat_mean"] for r in feats2} == {
        r["media_id"]: r["feat_mean"] for r in feats
    }


def test_multimodal_raise_stub(spark):
    media = synth_media_table(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        extract_features(media, decode_stub="raise").collect()


def test_frame_sampling(spark):
    media = synth_media_table(spark, 30)
    frames = frame_sample(media, every_ms=1000).collect()
    vids = {r["media_id"] for r in frames}
    assert vids  # only video rows
    one = [r for r in frames if r["media_id"] == sorted(vids)[0]]
    assert [r["frame_idx"] for r in sorted(one, key=lambda r: r["frame_ts_ms"])] == list(
        range(len(one))
    )


def test_connected_components_label_propagation(spark):
    from etna_spark.data.dedup import connected_components

    # two components: {1,2,3,4} (a path, diameter 3) and {10, 11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["u"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_end_to_end(spark):
    from etna_spark.data.dedup import dedup_clusters

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "the quick brown fox jumps over the lazy cat today"),
        (4, "completely different text with no overlap at all here"),
        (5, "another unrelated document about spark and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_clusters(df, threshold=0.3).toPandas().set_index("doc_id")
    # 1,2,3 form one near-dup cluster with canonical 1; 4 and 5 have no
    # qualifying pairs and are absent (isolated docs are trivially unique)
    assert set(out.index) == {1, 2, 3}
    assert (out["component"] == 1).all()
    assert (out["cluster_size"] == 3).all()


def test_connected_components_raises_when_unconverged(spark):
    from etna_spark.data.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_connected_components_path_graph_contraction(spark):
    """A 60-node path (diameter 59) exceeds the label-propagation round
    budget; the alternating large-star/small-star contraction must take
    over and converge within the same total budget (its round count is
    O(log² n), diameter-independent)."""
    from etna_spark.data.dedup import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    got = {
        r["u"]: r["component"]
        for r in connected_components(
            path, max_iter=20, switch_after=3
        ).collect()
    }
    assert got == {i: 0 for i in range(60)}


def test_connected_components_contraction_matches_propagation(spark):
    """On random shallow graphs the two regimes must agree exactly."""
    import random

    from etna_spark.data.dedup import _cc_alternating, _cc_canon, connected_components

    rng = random.Random(11)
    edges = {(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(45)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    prop = {
        r["u"]: r["component"] for r in connected_components(df).collect()
    }
    und = df.selectExpr("id_a as u", "id_b as v").unionAll(
        df.selectExpr("id_b as u", "id_a as v")
    )
    alt = {
        r["u"]: r["component"]
        for r in _cc_alternating(_cc_canon(und, "u", "v"), 20).collect()
    }
    assert alt == prop


def test_repetition_stats_gopher(spark):
    """Hand-computed repetition fractions: 'a b a b a b' (chars=11) has
    top 2-gram 'a b'x3 covering 9 chars; 3-grams 'a b a'x2 + 'b a b'x2
    cover 20 (sum-of-covers may exceed chars on overlapping repeats)."""
    from etna_spark.data.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert abs(out[1]["top_2gram_char_frac"] - 9 / 11) < 1e-9
    assert abs(out[1]["dup_3gram_char_frac"] - 20 / 11) < 1e-9
    assert abs(out[2]["top_2gram_char_frac"] - 3 / 5) < 1e-9
    assert out[2]["dup_3gram_char_frac"] == 0.0
    assert out[3]["top_2gram_char_frac"] == 0.0  # no 2-grams at all
    assert out[3]["dup_3gram_char_frac"] == 0.0


def test_sq8_quantization_error_and_recall(spark):
    """SQ8 reconstruction error is bounded by scale/2 per element, and
    top-1 search over the dequantized corpus recovers >=90% of the exact
    top-1 neighbors on the sf embeddings."""
    from etna_spark.data.similarity import sq8_decode, sq8_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    enc = sq8_encode(emb)
    deq = sq8_decode(enc)
    joined = (
        emb.select("vec_id", "embedding")
        .join(deq.withColumnRenamed("embedding", "deq"), on="vec_id")
        .join(enc.select("vec_id", "scale"), on="vec_id")
        .select(
            "vec_id", "scale",
            F.aggregate(
                F.zip_with(
                    "embedding", "deq",
                    lambda a, b: F.abs(a.cast("double") - b),
                ),
                F.lit(0.0), lambda acc, x: F.greatest(acc, x),
            ).alias("max_err"),
        )
    )
    bad = joined.filter(
        F.col("max_err") > F.col("scale") / 2 + 1e-9
    ).count()
    assert bad == 0
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk_bruteforce(
            emb.filter("vec_id < 30"), emb, k=1
        ).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk_bruteforce(
            emb.filter("vec_id < 30"), sq8_decode(sq8_encode(emb)), k=1
        ).collect()
    }
    hits = sum(1 for q, n in approx.items() if exact.get(q) == n)
    assert hits / len(exact) >= 0.9


def test_sq8_constant_vector(spark):
    from etna_spark.data.similarity import sq8_decode, sq8_encode

    emb = spark.createDataFrame(
        [(1, [2.5] * 8), (2, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    enc = sq8_encode(emb)
    rows = {r["vec_id"]: r for r in enc.collect()}
    assert rows[1]["scale"] == 0.0 and set(rows[1]["codes"]) == {0}
    deq = {r["vec_id"]: r["embedding"] for r in sq8_decode(enc).collect()}
    assert deq[1] == [2.5] * 8 and deq[2] == [0.0] * 8


def test_hash_stratified_sample_properties(spark):
    """Deterministic, rate-respecting (within hash-uniformity tolerance),
    monotone in the rate, and exact at the 0/1 endpoints."""
    from etna_spark.data.sampling import hash_stratified_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string").cache()

    def sample(rates, default=0.0):
        return {
            r["doc_id"]
            for r in hash_stratified_sample(
                df, "doc_id", "source", rates, default_rate=default
            ).collect()
        }

    full = sample({"a": 1.0, "b": 1.0})
    assert len(full) == 4000  # rate 1 keeps everything
    assert sample({"a": 0.0, "b": 0.0}) == set()
    half = sample({"a": 0.5, "b": 0.0})
    assert sample({"a": 0.5, "b": 0.0}) == half  # deterministic
    assert 0.4 * 2000 < len(half) < 0.6 * 2000  # ~rate within tolerance
    assert all(i % 2 == 0 for i in half)  # only stratum 'a'
    # monotone: raising the rate only adds rows
    assert half <= sample({"a": 0.8, "b": 0.0})
    # default rate applies to unlisted strata
    dflt = sample({}, default=0.25)
    assert 0.15 * 4000 < len(dflt) < 0.35 * 4000
    import pytest

    with pytest.raises(ValueError, match="must be in"):
        hash_stratified_sample(df, "doc_id", "source", {"a": 1.5})


def test_ppm_codec_roundtrip_and_grammar():
    """decode_ppm is a real parser: roundtrip, comment/whitespace grammar,
    and loud failures on malformed input (multimodal.py)."""
    from etna_spark.data.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(px)), px)
    assert np.array_equal(decode_ppm(encode_ppm(px, comment="hi")), px)
    # spec grammar: comments between any header tokens, mixed whitespace
    raw = b"P6 # c1\n# c2\n 9\t5 # wide\n 255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(raw), px)
    with pytest.raises(ValueError, match="truncated PPM raster"):
        decode_ppm(encode_ppm(px)[:-1])
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode_ppm(b"P5 9 5 255\n" + px.tobytes())
    with pytest.raises(NotImplementedError, match="16-bit"):
        decode_ppm(b"P6 2 2 65535\n" + bytes(24))


def test_extract_features_decodes_ppm_under_raise_stub(spark):
    """The raise stub no longer fires for the self-contained PPM format:
    features come from the REAL pixels; other mimes still raise."""
    from etna_spark.data.multimodal import MEDIA_SCHEMA, encode_ppm

    px = np.full((4, 6, 3), 100, dtype=np.uint8)
    px[:, :, 0] = 200  # red-heavy so the mean is distinguishable
    rows = [("m0", "image", bytearray(encode_ppm(px)),
             "image/x-portable-pixmap", 6, 4, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media, decode_stub="raise").collect()
    assert len(feats) == 1
    expected = (200 + 100 + 100) / 3.0 / 255.0
    assert abs(feats[0]["feat_mean"] - expected) < 1e-6
    other = synth_media_table(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|unavailable"):
        extract_features(other, decode_stub="raise").collect()


def test_bench_corpora_planted_neardup_recall(spark):
    """The deterministic bench corpora (synth.corpus_table /
    embedding_table, FIXTURES.md §B6) plant every 10th row as a near-copy
    of its predecessor; the LSH paths must recall most planted pairs and
    the xxhash shingle mode must agree with itself across partitionings."""
    from etna_spark.data.dedup import minhash_band_pairs, minhash_signatures
    from etna_spark.data.similarity import embedding_neardup_pairs
    from etna_spark.synth import corpus_table, embedding_table

    corpus = corpus_table(spark, 3000, num_partitions=8)
    sigs = minhash_signatures(corpus, num_perm=16, hash_fn="xxhash")
    pairs = minhash_band_pairs(sigs, num_perm=16, bands=4, threshold=0.5,
                               max_bucket=500).collect()
    planted = {(i - 1, i) for i in range(9, 3000, 10)}
    got = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
           for r in pairs}
    recall = len(got & planted) / len(planted)
    assert recall > 0.8, recall

    embs = embedding_table(spark, 2000, dim=32, num_partitions=8)
    nd = embedding_neardup_pairs(
        embs, id_col="vec_id", vec_col="embedding", threshold=0.99,
        n_planes=18, dim=32, n_tables=4, max_bucket=200,
    ).collect()
    planted_e = {(i - 1, i) for i in range(9, 2000, 10)}
    got_e = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
             for r in nd}
    recall_e = len(got_e & planted_e) / len(planted_e)
    assert recall_e > 0.85, recall_e


def test_pack_sequences_exact_and_partition_invariant(spark):
    """pack_sequences (data/packing.py): the packed stream must equal the
    single-threaded concatenation token-for-token, every block except the
    last must be exactly block_size, and the result must be IDENTICAL
    under different partition counts (the two-phase prefix sum is the
    thing under test)."""
    from etna_spark.data.packing import block_checksums, pack_sequences

    docs = [(i, list(range(i * 100, i * 100 + n)), n)
            for i, n in enumerate([5, 17, 1, 32, 9, 3, 64, 2, 11, 28])]
    df = spark.createDataFrame(
        docs, "doc_id int, tokens array<int>, n_tok int")
    B = 16
    expected_stream = [t for _, toks, _ in docs for t in toks]
    out = {r["block_id"]: r for r in
           pack_sequences(df, block_size=B, num_partitions=4).collect()}
    n_total = len(expected_stream)
    assert sorted(out) == list(range((n_total + B - 1) // B))
    for b, r in sorted(out.items()):
        assert r["tokens"] == expected_stream[b * B:(b + 1) * B]
        if b < max(out):
            assert r["n_tokens"] == B
    # partition-invariance: 1 vs 4 vs 32 range partitions, same checksums
    ref = sorted(
        block_checksums(
            pack_sequences(df, block_size=B, num_partitions=1)).collect())
    for np_ in (4, 32):
        got = sorted(
            block_checksums(
                pack_sequences(df, block_size=B, num_partitions=np_)
            ).collect())
        assert got == ref
    # conservation: no token lost or duplicated
    assert sum(r["n_tokens"] for r in ref) == n_total


def test_pack_sequences_validations(spark):
    import pytest as _pt

    from etna_spark.data.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, [1, 2], 2), (2, [], 0), (3, [7], 1)],
        "doc_id int, tokens array<int>, n_tok int")
    with _pt.raises(ValueError, match="block_size"):
        pack_sequences(df, block_size=0)
    # empty docs contribute nothing but do not break offsets
    rows = sorted(pack_sequences(df, block_size=2, num_partitions=2).collect())
    assert [r["tokens"] for r in rows] == [[1, 2], [7]]


def test_contamination_and_novelty_handcrafted(spark):
    """benchmark_contamination / ngram_novelty on a corpus with known
    overlaps, including the short-doc edge (< n tokens → zero grams, and
    the sequence(0,-1)-descends Spark trap is guarded)."""
    from etna_spark.data.contamination import (
        benchmark_contamination,
        ngram_novelty,
    )

    bench = spark.createDataFrame(
        [(100, [1, 2, 3, 4, 5])], "doc_id int, tokens array<int>")
    train = spark.createDataFrame(
        [
            (1, [9, 1, 2, 3, 7]),        # shares no 3-gram with bench
            (2, [1, 2, 3, 4, 9, 2, 3, 4, 5]),  # shares [1,2,3],[2,3,4](x2),[3,4,5]... distinct grams
            (3, [5, 4, 3, 2, 1]),        # reversed — no shared gram
            (4, [7, 7]),                 # shorter than n → zero grams
        ],
        "doc_id int, tokens array<int>")
    got = {r["doc_id"]: r["n_shared_grams"]
           for r in benchmark_contamination(train, bench, n=3).collect()}
    # doc 2's grams: 123,234,349,492,923,234,345 → distinct shared: 123,234,345
    assert got == {1: 1, 2: 3}  # doc 1 shares [1,2,3]
    nov = {r["doc_id"]: (r["n_grams"], r["n_novel"])
           for r in ngram_novelty(train.union(bench), n=3).collect()}
    assert nov[4] == (0, 0) if 4 in nov else True  # zero-gram doc absent or zero
    # doc 1 owns gram 123 first (min doc id) → novel; 912, 237 unique
    assert nov[1] == (3, 3)
    # doc 2: grams 123(first=1 → stale), 234, 349, 492, 923, 234, 345 —
    # 234/345 first seen in doc 2 (bench doc 100 > 2), so only 123 is stale
    assert nov[2] == (7, 6)
    assert nov[100] == (3, 0)  # 123,234,345 all first-seen earlier


def test_embedding_signature_backends_bit_identical(spark):
    """The Arrow signature kernel must produce EXACTLY the signatures of
    the JVM expression chain (``lsh_signature`` per table: same mixed-hash
    weights, same left-to-right float64 fold) and EXACTLY the pre-filter
    projection ``v_i / norm(v)`` under the valid-norm guard — adversarial
    vectors included (zeros, huge/tiny magnitudes, sign-boundary-hunting
    values from a hash recipe)."""
    import struct

    from etna_spark.data.similarity import (
        _valid_norm,
        embedding_signatures,
        lsh_signature,
        norm,
    )

    n_planes, dim, n_tables = 11, 16, 3
    df = spark.range(0, 500).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 15), j -> CASE"
            " WHEN id = 0 THEN 0.0"
            " WHEN id = 1 THEN 1e300"
            " WHEN id = 2 THEN 1e-300"
            " ELSE (pmod(xxhash64(id, j), 2000001) - 1000000) / 1e6 *"
            "      power(10.0, pmod(xxhash64(id, j, 7), 13) - 6) END)"
        ).alias("embedding"),
    )
    got = embedding_signatures(df, id_col="vec_id", vec_col="embedding",
                               n_planes=n_planes, dim=dim, n_tables=n_tables)
    assert got.columns == ["_id", "_pf", "_table", "_sig"]

    v = F.col("embedding")
    tables = F.array(*[
        lsh_signature(v, n_planes, dim, plane_offset=t * n_planes)
        for t in range(n_tables)
    ])
    ref_sig = df.select(F.col("vec_id").alias("_id"), v).select(
        "_id", F.posexplode(tables).alias("_table", "_sig"))
    assert (sorted(got.select("_id", "_table", "_sig").collect())
            == sorted(ref_sig.collect()))

    ref_pf = df.select(
        F.col("vec_id").alias("_id"),
        F.when(_valid_norm(norm(v)), F.array(*[
            F.get(v, i).cast("double") / norm(v) for i in range(4)
        ])).alias("_pf"),
    )

    def bits(rows):
        # compare IEEE bit patterns: float == would conflate 0.0/-0.0
        return {
            r["_id"]: None if r["_pf"] is None else tuple(
                struct.unpack("<q", struct.pack("<d", x))[0] for x in r["_pf"])
            for r in rows
        }

    got_pf = bits(got.where(F.col("_table") == 0).collect())
    want_pf = bits(ref_pf.collect())
    assert got_pf == want_pf
    assert got_pf[0] is None and got_pf[2] is None  # zero / underflowed norm
    assert got_pf[1] == (0, 0, 0, 0)  # 1e300 / inf = +0.0 (bit pattern 0)


_SPAN_DOCS = [
    (0, [1, 2, 3, 4, 5, 6, 7, 8]),           # source of all grams
    (1, [1, 2, 3, 4, 9, 5, 6, 7, 8]),        # stale at j=0 and j=5
    (2, [1, 2, 3, 4, 5, 6]),                 # stale j=0,1,2 → one span
    (3, [50, 51, 52, 53, 54]),               # all novel → no rows
    (4, [1, 2, 3]),                          # shorter than n → no rows
    (10, [7, 8, 3, 4, 9]),                   # novel source for doc 11's j=0
    # stale j=0 (from doc 10) and j=2 (from doc 0) with j=1 NOVEL:
    # windows overlap (gap 2 ≤ n−1) → must merge into ONE span [0,5]
    (11, [7, 8, 3, 4, 5, 6]),
]


def test_duplicate_spans_handcrafted(spark):
    """Cut-list semantics on a hand-built corpus (n=4): full-dup docs get
    one whole-doc span, interleaved novelty splits spans into islands,
    all-novel docs produce no rows, and stale windows merge whenever they
    OVERLAP (gap ≤ n−1), not only when adjacent."""
    from etna_spark.data.contamination import duplicate_spans

    df = spark.createDataFrame(_SPAN_DOCS, "doc_id int, tokens array<int>")
    rows = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, n=4).collect()
    )
    assert rows == [(1, 0, 3), (1, 5, 8), (2, 0, 5), (11, 0, 5)]


def test_remove_duplicate_spans_handcrafted(spark):
    """The cut: covered positions drop, survivors keep order, span-free
    docs pass through untouched, fully-covered docs empty out."""
    from etna_spark.data.contamination import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(_SPAN_DOCS, "doc_id int, tokens array<int>")
    out = remove_duplicate_spans(df, duplicate_spans(df, n=4))
    got = {r["doc_id"]: (r["tokens_clean"], r["n_removed"])
           for r in out.collect()}
    assert got[0] == ([1, 2, 3, 4, 5, 6, 7, 8], 0)
    assert got[1] == ([9], 8)      # spans [0,3] + [5,8] leave position 4
    assert got[2] == ([], 6)       # whole doc covered
    assert got[3] == ([50, 51, 52, 53, 54], 0)
    assert got[4] == ([1, 2, 3], 0)
    assert got[11] == ([], 6)      # merged span [0,5] covers everything


def test_token_frequency_score_handcrafted(spark):
    """Exact integer stats: counts 1→2, 2→2, 3→1, total 5 positions."""
    from etna_spark.data.contamination import token_frequency_score

    df = spark.createDataFrame(
        [(0, [1, 1, 2]), (1, [2, 3])], "doc_id int, tokens array<int>")
    got = {r["doc_id"]: (r["n_tok"], r["freq_sum"], r["mean_freq"])
           for r in token_frequency_score(df).collect()}
    assert got[0] == (3, 6, round(6 / 15, 9))
    assert got[1] == (2, 3, round(3 / 10, 9))


def test_blocklist_stats_handcrafted(spark):
    from etna_spark.data.text import blocklist_stats

    df = spark.createDataFrame(
        [(0, "slow query drop"), (1, "fast path"), (2, "Slow SLOW x")],
        "doc_id int, text string")
    rows = {r["doc_id"]: (r["n_blocked"], r["kept"])
            for r in blocklist_stats(df, ("slow", "drop")).collect()}
    assert rows == {0: (2, False), 1: (0, True), 2: (2, False)}


def test_pii_redact_handcrafted(spark):
    """Email/IPv4 redaction: counts and redacted strings, including the
    adversarial non-IP (octet > 255) and an IP glued to extra dotted
    digits (leftmost match wins, remainder survives)."""
    from etna_spark.data.text import pii_redact

    cases = [
        (0, "mail bob.smith+x@sub.example.org end"),
        (1, "host 10.0.0.1 and 255.255.255.255 up"),
        (2, "not-an-ip 999.300.1.2 here"),
        (3, "chain 1.2.3.4.5 tail"),
        (4, "plain text only"),
        (5, "two a@b.co c@d.io and 172.16.254.3"),
    ]
    df = spark.createDataFrame(cases, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_ipv4"], r["text_redacted"])
           for r in pii_redact(df).collect()}
    assert got[0] == (1, 0, "mail <EMAIL> end")
    assert got[1] == (0, 2, "host <IP> and <IP> up")
    assert got[2] == (0, 0, "not-an-ip 999.300.1.2 here")
    assert got[3] == (0, 1, "chain <IP>.5 tail")
    assert got[4] == (0, 0, "plain text only")
    assert got[5] == (2, 1, "two <EMAIL> <EMAIL> and <IP>")


def test_temperature_stratified_sample_upweights_rare(spark):
    """α=0.5 mixing: rare strata get HIGHER keep-rates than abundant
    ones; thresholds are integer-exact and the sample is deterministic."""
    from etna_spark.data.sampling import temperature_stratified_sample

    # skewed strata: 3000 'big', 600 'mid', 60 'small'
    rows = (
        [(i, "big") for i in range(3000)]
        + [(10_000 + i, "mid") for i in range(600)]
        + [(20_000 + i, "small") for i in range(60)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string").cache()
    out = temperature_stratified_sample(df, "doc_id", "lang").cache()
    thr = {
        r["lang"]: r["sample_thr"]
        for r in out.select("lang", "sample_thr").distinct().collect()
    }
    # exact integer replay of the spec
    import math

    c = {"big": 3000, "mid": 600, "small": 60}
    score = {s: math.floor(math.sqrt(v) * 1_000_000) for s, v in c.items()}
    denom, total = sum(score.values()), sum(c.values())
    target = (total * 1) // 2
    expect = {
        s: min(10_000, ((score[s] * target) // denom) * 10_000 // c[s])
        for s in c
    }
    assert thr == {s: t for s, t in expect.items() if t > 0}
    # temperature flattening: rarer stratum → higher keep-rate (the
    # rarest hits the keep-everything cap)
    assert expect["small"] == 10_000
    assert expect["small"] > expect["mid"] > expect["big"]
    # determinism
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in temperature_stratified_sample(df, "doc_id", "lang").collect()
    }
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="target fraction"):
        temperature_stratified_sample(df, "doc_id", "lang", target_num=3,
                                      target_den=2)


def test_dedup_keep_canonical_invariants(spark):
    """Exactly one keep per component; singletons keep themselves; the
    kept doc maximizes (n_chars, -doc_id) within its cluster."""
    from etna_spark.data.dedup import dedup_clusters
    from etna_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    from etna_spark.registry_ops8 import q_dedup_keep_canonical

    out = q_dedup_keep_canonical(spark, sf).cache()
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    rows = {r["doc_id"]: r for r in out.collect()}
    chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    assert set(rows) == set(chars)  # decision covers every document
    by_comp = {}
    for r in rows.values():
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        keeps = [m for m in members if m["keep"] == 1]
        assert len(keeps) == 1  # exactly one survivor per cluster
        best = max(members, key=lambda m: (chars[m["doc_id"]], -m["doc_id"]))
        assert keeps[0]["doc_id"] == best["doc_id"]
        assert all(m["cluster_size"] == len(members) for m in members)


def test_quality_gate_priority_and_attribution(spark):
    """keep ⇔ reason='ok'; first failing rule wins in priority order on
    handcrafted documents that each trip exactly one rule."""
    from etna_spark.data.text import quality_gate

    # 44 DISTINCT 5-char words: no repeated 2-grams, mean word len 5.0
    ok = " ".join(f"wrd{i:02d}" for i in range(44))
    docs = [
        (1, ok),                                          # ok (44 words)
        (2, "too short text"),                            # too_short
        (3, ("word " * 120).strip()),                     # too_long (count checked first)
        (4, "aa " * 10 + "bb " * 15),                     # word_len (mwl ≈ 2.9)
        (5, ok + " slow"),                                # blocklist
        (6, ("alpha beta " * 22).strip()),                # repetition_top2 (44 words, high top-2gram)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_gate(df, ("slow",)).collect()}
    assert out[1]["reason"] == "ok" and out[1]["keep"]
    assert out[2]["reason"] == "too_short"
    assert out[3]["reason"] == "too_long"
    assert out[4]["reason"] == "word_len"
    assert out[5]["reason"] == "blocklist"
    assert out[6]["reason"] == "repetition_top2"
    for r in out.values():
        assert r["keep"] == (r["reason"] == "ok")


def test_shuffle_and_split_reproducible_and_disjoint(spark):
    """Epoch shuffle is a permutation, stable across reruns; holdout
    split partitions the corpus with ~80/10/10 mass."""
    from etna_spark.registry_ops8 import (
        q_tok_epoch_shuffle,
        q_tok_holdout_split,
    )

    sf = "/root/testdata/sf0.001"
    a = {r["doc_id"]: r["shuffle_rank"]
         for r in q_tok_epoch_shuffle(spark, sf).collect()}
    b = {r["doc_id"]: r["shuffle_rank"]
         for r in q_tok_epoch_shuffle(spark, sf).collect()}
    assert a == b                                  # deterministic
    assert sorted(a.values()) == list(range(1, len(a) + 1))  # permutation

    s = {r["doc_id"]: r["split"] for r in q_tok_holdout_split(spark, sf).collect()}
    assert set(s) == set(a)                        # every doc assigned once
    from collections import Counter

    c = Counter(s.values())
    n = len(s)
    assert 0.7 * n < c["train"] < 0.9 * n
    assert c["train"] + c["val"] + c["test"] == n
