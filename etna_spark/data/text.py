"""Text analysis for large-scale training-data pipelines: token counting,
quality scoring, language-ID heuristics, document fingerprinting.

No reference counterpart (ETNA is numeric-panel only) — these are the
data-pipeline operators the 100 TB token lakehouse needs alongside the tier
engine. All are native column expressions / higher-order functions (JVM-side,
whole-stage codegen); nothing touches Python per row.

Hash discipline: fingerprints use a POLYNOMIAL hash over word codepoints
(`(acc·31 + unicode(word[0])·len(word)) mod p`) rather than xxhash64 —
expressible identically in the DuckDB oracle, and collision-adequate for
dedup candidate generation; the scale path can swap in xxhash64 without
changing any plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007

# tiny multilingual marker sets for the language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

STOPWORDS = ("a", "the", "of", "to", "in", "and")


def words(text: str | Column) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(t, " ")


def token_count_whitespace(text: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe_ish(text: str | Column) -> Column:
    """BPE-ish token estimate: alphanumeric runs + a sub-token for every 4
    chars of long words (approximates byte-pair splits of rare words)."""
    t = F.col(text) if isinstance(text, str) else text
    runs = F.regexp_extract_all(t, F.lit("[a-z0-9]+"), 0)
    return F.aggregate(
        runs,
        F.lit(0).cast("long"),
        lambda acc, w: acc + 1 + F.floor(F.length(w) / 4).cast("long"),
    )


def _temp_col(df: DataFrame, base: str) -> str:
    """A column name not already in ``df`` (Spark resolves names
    case-insensitively), so a bound temp never overwrites user data."""
    taken = {c.lower() for c in df.columns}
    name = base
    while name.lower() in taken:
        name = "_" + name
    return name


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / word-shape / stopword-ratio quality features.

    The words array is bound once as a projected column (r6): the four
    feature expressions referenced ``words(text)`` independently, and
    with no CSE across interpreted HOF subtrees the text was re-split
    four times per row (CollapseProject keeps the binding because the
    alias is referenced more than once and a split is not cheap).
    Values unchanged."""
    tmp = _temp_col(df, "_w_qf")
    base = df.withColumn(tmp, words(text_col))
    w = F.col(tmp)
    n_words = F.size(w)
    n_chars = F.length(text_col)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return base.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": (n_chars - (n_words - 1)) / n_words,
            "stopword_ratio": stop_hits / n_words,
            "uniq_word_ratio": F.size(F.array_distinct(w)) / n_words,
        }
    ).drop(tmp)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0..1 quality score from the features (heuristic weights)."""
    f = quality_features(df, text_col)
    score = (
        F.least(F.col("n_words") / 64.0, F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
        + F.col("uniq_word_ratio") * 0.4
    )
    return f.withColumn("quality_score", score)


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word hit ratio per language + argmax prediction ('und' when no
    marker hits). N-gram-frequency language ID reduced to its word-marker
    form — the Spark plan (HOF filter + greatest/argmax) is identical for
    richer marker tables."""
    tmp = _temp_col(df, "_w_ls")
    base = df.withColumn(tmp, words(text_col))
    w = F.col(tmp)  # bound once — same CSE rationale as quality_features
    n = F.size(w)
    cols = {}
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(w, lambda x: x.isin(*markers)))
        cols[f"score_{lang}"] = hits / n
    out = base.withColumns(cols).drop(tmp)
    best = None
    for lang in LANG_MARKERS:
        s = F.col(f"score_{lang}")
        best = s if best is None else F.greatest(best, s)
    pred = F.lit("und")
    # deterministic tie-break: first language (insertion order) achieving max
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (F.col(f"score_{lang}") > 0) & (F.col(f"score_{lang}") == best),
            F.lit(lang),
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def word_code(w: Column) -> Column:
    """Per-word integer code: first-codepoint × length (cheap, oracle-safe)."""
    return F.ascii(w) * F.length(w)


def word_hash61(w: Column) -> Column:
    """61-bit arithmetic word hash: two codepoint polynomial hashes packed
    as h1·2³¹ + h2 — oracle-expressible (DuckDB: string_split(w,'') +
    unicode + list_reduce with the same constants), well-mixed low bits for
    SimHash voting, no overflow under ANSI (max < 2⁶¹).

    Deliberately TWO aggregate passes, mirroring the oracle SQL 1:1. A
    struct-accumulator single-fold was tried in r6 and reverted: field
    extraction (`hs["h1"]`, `hs["h2"]`) duplicates the whole aggregate
    subtree in the plan (no CSE across interpreted HOF expressions), so
    it still split and folded twice — plus a struct allocation per
    element. The per-call duplication that actually mattered was the
    CALLER embedding this hash once per bit-vote (fixed in
    :func:`~etna_spark.data.dedup.simhash64` by binding the word-hash
    array as a projected column)."""
    cps = F.transform(F.split(w, ""), lambda ch: F.ascii(ch))
    h1 = F.aggregate(
        cps, F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 131 + x, F.lit(1000000007)),
    )
    h2 = F.aggregate(
        cps, F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 137 + x, F.lit(998244353)),
    )
    return h1 * F.lit(2147483648) + h2


def fingerprint(text: str | Column) -> Column:
    """Order-sensitive polynomial rolling hash of the word sequence."""
    return F.aggregate(
        words(text),
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * 31 + word_code(w), F.lit(HASH_MOD)),
    )


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = quality_score(df, text_col)
    out = out.withColumn("fingerprint", fingerprint(text_col))
    out = out.withColumn("n_tokens_ws", token_count_whitespace(text_col))
    return out


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, app. A1.1,
    the MassiveText repetition filters): per document,

    - ``top_{top_n}gram_char_frac`` — characters covered by the most
      repeated word ``top_n``-gram (max over grams of count·len, one
      deterministic max — no tie-break needed) over total characters;
    - ``dup_{dup_n}gram_char_frac`` — characters covered by ALL word
      ``dup_n``-grams occurring more than once (Σ count·len over dup
      grams) over total characters.

    **Deliberate deviations from the published Gopher statistics** (so
    the DuckDB oracle replays one exact integer formula with no
    tie-break ambiguity — do NOT reuse MassiveText's published
    thresholds against these columns; re-calibrate on your corpus):

    - the "top" gram maximizes ``count * len(gram)`` (characters
      covered), not raw occurrence count as in Rae et al. — a single
      deterministic ``max`` over integers, whereas most-frequent-gram
      needs a tie-break rule that SQL and Spark would have to share;
    - the "dup" coverage sums ``count * len(gram)`` over *overlapping*
      duplicated grams without de-overlapping, so the fraction can
      exceed 1.0 on highly repetitive text (e.g. "a a a a" → 20/11 in
      the pytest golden). Rank/filter by relative value, not by an
      absolute [0, 1] scale.

    Scale shape: explode n-grams → one hash aggregation on (doc, gram) →
    one per-doc aggregation; everything JVM-side (split/transform/
    concat_ws), no Python. High-repetition documents (boilerplate, SEO
    spam, template farms) score near 1 and are filtered upstream of
    tokenization."""
    w = F.split(F.col(text_col), " ")
    base = df.select(
        id_col,
        F.length(text_col).alias("_chars"),
        w.alias("_ws"),
    )

    def grams(n: int) -> F.Column:
        return F.when(
            F.size("_ws") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - n),
                lambda i: F.concat_ws(" ", F.slice("_ws", i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def char_cover(n: int, dup_only: bool, out: str) -> DataFrame:
        g = base.select(id_col, "_chars", F.explode(grams(n)).alias("_g"))
        cnt = g.groupBy(id_col, "_chars", "_g").agg(
            F.count("*").alias("_c")
        )
        if dup_only:
            cover = F.sum(
                F.when(F.col("_c") > 1, F.col("_c") * F.length("_g"))
                .otherwise(F.lit(0))
            )
        else:
            cover = F.max(F.col("_c") * F.length("_g"))
        return cnt.groupBy(id_col, "_chars").agg(
            (cover / F.col("_chars")).alias(out)
        ).drop("_chars")

    top = char_cover(top_n, False, f"top_{top_n}gram_char_frac")
    dup = char_cover(dup_n, True, f"dup_{dup_n}gram_char_frac")
    out = (
        df.select(id_col)
        .join(top, on=id_col, how="left")
        .join(dup, on=id_col, how="left")
    )
    # docs shorter than n words have no n-grams at all → 0.0
    return out.fillna(0.0)


def blocklist_stats(
    df: DataFrame,
    blocklist: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style bad-word filtering (Raffel et al. 1910.10683 §2.2 drops any
    page containing a blocklisted word): per document, the number of word
    positions hit by the (case-insensitive) blocklist and the resulting
    keep/drop flag.

    The blocklist is a literal array baked into the plan (real lists are a
    few hundred entries — expression-sized), and the scan is one HOF
    ``filter`` over the split words: per-row JVM work, no explode, no
    shuffle, no Python. A corpus-sized blocklist would swap the literal
    for a broadcast join against exploded words without changing the
    output contract."""
    bl = F.array(*[F.lit(w.lower()) for w in blocklist])
    n_blocked = F.size(
        F.filter(words(text_col), lambda x: F.array_contains(bl, F.lower(x)))
    )
    # bind the filter ONCE (no interpreted-HOF CSE): `kept` derives from
    # the bound column instead of re-scanning the words per row
    return df.select(
        F.col(id_col),
        n_blocked.cast("long").alias("n_blocked"),
    ).select(
        F.col(id_col),
        "n_blocked",
        (F.col("n_blocked") == 0).alias("kept"),
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (char
# classes, bounded repeats, \b, longest-first alternations) so Spark and
# the DuckDB oracle match the SAME spans — no lookaround, no backrefs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
PII_IPV4_RE = rf"\b{_OCTET}(\.{_OCTET}){{3}}\b"


def pii_redact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dolma/C4-style PII scrubbing: count and redact email addresses and
    IPv4 literals (``<EMAIL>`` / ``<IP>`` placeholders), the two pattern
    families that are pure regex (phone formats need locale tables).
    Everything is JVM ``regexp_count`` / ``regexp_replace`` — per-row
    expression work that pushes through whole-stage codegen; the patterns
    live in the Java∩RE2 subset so a DuckDB oracle value-checks the
    redacted STRINGS, not just the counts."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE, "<IP>",
        ).alias("text_redacted"),
    )


def quality_gate(
    df: DataFrame,
    blocklist: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 95,
    min_word_len: float = 3.8,
    max_word_len: float = 5.2,
    max_top2: float = 0.2,
    max_dup3: float = 0.5,
) -> DataFrame:
    """Composite document-quality DECISION table — the C4 + Gopher rule
    stack a training pipeline actually applies, with the funnel
    attribution a data audit needs: per document one keep flag and the
    FIRST failing rule (fixed priority order), so ``GROUP BY reason``
    is the filter-kill breakdown.

    Rules in priority order (each one already value-checked on its own
    surface): word-count bounds and mean-word-length bounds (Gopher
    A1.1 document heuristics), the C4 blocklist (Raffel et al.
    §2.2), then the Gopher repetition fractions
    (:func:`repetition_stats` — note its documented deviations; default
    thresholds here are re-calibrated for this corpus, NOT MassiveText's
    published values).

    Every predicate compares an exactly-reproducible quantity (integer
    counts, single-division ratios) against a literal, so the whole
    decision table is SQL-oracle exact. Plan shape: the repetition join
    is the only shuffle (per-doc aggregates); bounds and blocklist are
    per-row JVM expressions."""
    rep = repetition_stats(df, id_col=id_col, text_col=text_col,
                           top_n=2, dup_n=3)
    bl = blocklist_stats(df, blocklist, id_col=id_col,
                         text_col=text_col).select(id_col, "n_blocked")
    # bind the words array once (no interpreted-HOF CSE — the three
    # F.size references would re-split the text per row otherwise)
    base = df.select(
        id_col, F.length(text_col).alias("_chars"),
        F.size(words(text_col)).alias("n_words"),
    ).select(
        id_col,
        "n_words",
        (
            (F.col("_chars") - (F.col("n_words") - F.lit(1)))
            / F.col("n_words")
        ).alias("mean_word_len"),
    )
    j = base.join(rep, on=id_col).join(bl, on=id_col)
    reason = (
        F.when(F.col("n_words") < min_words, "too_short")
        .when(F.col("n_words") > max_words, "too_long")
        .when(
            (F.col("mean_word_len") < min_word_len)
            | (F.col("mean_word_len") > max_word_len),
            "word_len",
        )
        .when(F.col("n_blocked") > 0, "blocklist")
        .when(F.col("top_2gram_char_frac") > max_top2, "repetition_top2")
        .when(F.col("dup_3gram_char_frac") > max_dup3, "repetition_dup3")
        .otherwise("ok")
    )
    return j.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


def bigram_pmi(
    tok_df: DataFrame,
    tokens_col: str = "tokens",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k adjacent token bigrams by ratio-form PMI
    p(xy)/(p(x)p(y)) = cnt * U^2 / (T * c1 * c2) with U = total unigrams,
    T = total bigrams — collocation mining over the pre-tokenized corpus.

    Numerator and denominator are exact BIGINT products (ANSI overflow
    raises loudly) and the score is ONE float division, so ranking and
    values are engine-exact; the log-PMI variant is a monotone transform
    of this ratio (ln is not bit-portable across engines — see
    data/ranking.py). min_count filters the unstable rare-pair tail, the
    standard PMI practice. Corpus-sized work: two explode+hash-aggs;
    unigram counts broadcast back onto the (vocab^2-bounded) bigram
    table.
    """
    toks = F.col(tokens_col)
    # rows with < 2 tokens have no bigrams; the filter also keeps the
    # ANSI slice(length = size-1) from seeing a negative length on
    # empty arrays (which raises, not skips)
    bigrams = tok_df.filter(F.size(toks) >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bc = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    uni = tok_df.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    totals = uni.agg(F.sum("c").alias("u_total")).crossJoin(
        bc.agg(F.sum("cnt").alias("t_total"))
    )
    scored = (
        bc.filter(F.col("cnt") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")
                          .withColumnRenamed("c", "c1")), on="w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                          .withColumnRenamed("c", "c2")), on="w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "cnt",
            (
                (F.col("cnt") * F.col("u_total") * F.col("u_total"))
                .cast("double")
                / (F.col("t_total") * F.col("c1") * F.col("c2"))
                .cast("double")
            ).alias("pmi_ratio"),
        )
    )
    from pyspark.sql import Window as W

    w = W.orderBy(
        F.col("pmi_ratio").desc(), F.col("cnt").desc(), "w1", "w2"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select("w1", "w2", "cnt", F.round("pmi_ratio", 6).alias("pmi_ratio"),
                "rank")
    )
