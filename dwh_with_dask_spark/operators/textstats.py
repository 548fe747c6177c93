"""Text-analysis operators for training-data pipelines.

North-star additions (ABSENT-IN-REFERENCE, SURVEY.md §2B): token
counting, language-ID heuristic, document fingerprinting. All built-in
Column expressions — these run inside whole-stage codegen over the scan,
so a 100 TB corpus pays exactly one pass with no Python involved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dwh_with_dask_spark.operators.dedup import (
    _grams_from_tokens,
    normalize_text,
    text_tokens,
    word_ngrams,
)
from dwh_with_dask_spark.operators.partitioning import barrier, widen

# Tiny high-frequency marker lists per language; enough for a coarse
# n-gram/stopword language-ID heuristic (public fastText/langid approach,
# shrunk to builtins). Deterministic tie-break: alphabetical language id.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "ist", "nicht", "das", "ein", "zu"],
    "en": ["the", "a", "and", "is", "of", "to", "in", "that"],
    "es": ["el", "la", "que", "los", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "est", "une", "dans", "pour", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}

STOPWORDS_EN = LANG_MARKERS["en"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text (one regex pass —
    see dedup.text_tokens for the equivalence + perf contract)."""
    return text_tokens(col)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: split on word/number/punct boundaries.

    A BPE-flavored upper bound on tokenizer counts (regex classes, not a
    learned vocab): runs of letters, runs of digits, and single
    punctuation marks each count once.
    """
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(
        F.coalesce(c, F.lit("")), F.lit(r"([A-Za-z]+|[0-9]+|[^\sA-Za-z0-9])"), 1
    )
    return F.size(pieces)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are neither word chars nor whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    n_punct = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    toks = tokens(col)
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, n_sw.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_token_len(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-hit count per language (token intersection size)."""
    toks = F.array_distinct(tokens(col))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.array_intersect(toks, arr))
    return out


def lang_id(col: Column | str) -> Column:
    """Predicted language = argmax marker hits; 'und' when all zero.

    Ties break to the alphabetically-first language id (deterministic).
    """
    scores = lang_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores, reverse=True):  # later WHEN wins ties -> alphabetical min
        s = scores[lang]
        cond = s >= F.greatest(best_score, F.lit(1))
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(best_score, s)
    return best_lang


def doc_fingerprint(col: Column | str, n: int = 5) -> Column:
    """Deterministic content fingerprint: min md5 over word n-grams.

    A 1-hash MinHash — robust to reordering of distant content and cheap
    to compare across corpora (equality ⇒ near-certain shared n-gram).
    Falls back to md5 of the whole normalized text for short docs.
    """
    grams = word_ngrams(col, n)
    min_gram_hash = F.array_min(F.transform(grams, lambda g: F.md5(g)))
    return F.coalesce(min_gram_hash, F.md5(normalize_text(col)))


def repetition_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_n: int = 3,
) -> DataFrame:
    """Per-doc repetition stats — the Gopher/MassiveText repetition rules
    (ABSENT-IN-REFERENCE; public rule set from Rae et al. 2021, §A1.1):
    for each n in 1..``max_n`` the fraction of the document's n-gram
    occurrences claimed by its single most frequent n-gram, plus the
    distinct-unigram (type/token) ratio. High top-n-gram fractions mark
    boilerplate/spam ("buy now buy now ..."); a low type/token ratio
    marks low-entropy text.

    Plan shape (the 100 TB story): ONE corpus scan. Tokens are bound
    once behind a repartition projection barrier (same O(len^2)-lambda
    hazard as ``dedup.word_ngrams`` — see that docstring); 1..max_n
    grams are tagged and flattened row-locally so there is a single
    explode; the only shuffle is the count aggregation keyed on
    (id, n, gram) — short strings, never the document body — with
    map-side partial aggregation.

    Docs shorter than n tokens have no n-gram rows and surface NULL for
    that n's fraction (mirrored exactly by the SQL oracle).
    """
    if not 1 <= max_n <= 3:
        raise ValueError("max_n must be 1..3 (output columns are fixed)")
    # Tokenize BELOW one conditional widen exchange carrying the token
    # arrays (the round-7 _doc_shingles shape): the exchange is the
    # projection barrier against gram-lambda re-inlining (O(len²)),
    # AND HashPartitioning(id) satisfies every aggregation in this
    # operator via the subset-of-grouping-keys rule — groupBy(id, n,
    # gram), groupBy(id, n), groupBy(id) all aggregate in place. The
    # previous coalesce-barrier shape erased the partitioning, so the
    # EXPLODED gram rows paid an ENSURE_REQUIREMENTS exchange and the
    # two rollups re-shuffled again (4 exchanges vs 1; the same
    # mechanism as the round-6 Jaccard regression, BASELINE.md).
    toks_df = widen(
        df.select(F.col(id_col), text_tokens(text_col).alias("__toks")),
        id_col,
    )

    tk = F.col("__toks")

    def _tag(n: int):
        # single-arg lambda ONLY: a second parameter (even defaulted)
        # makes pyspark pass the array index into it
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    tagged = F.flatten(
        F.array(
            *[
                F.transform(_grams_from_tokens(tk, n), _tag(n))
                for n in range(1, max_n + 1)
            ]
        )
    )
    exploded = toks_df.select(
        F.col(id_col), F.explode(tagged).alias("t")
    ).select(id_col, F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))

    counts = exploded.groupBy(id_col, "n", "gram").agg(F.count("*").alias("c"))
    per_n = counts.groupBy(id_col, "n").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_distinct"),
    )

    def frac_for(n: int) -> Column:
        return F.max(
            F.when(
                F.col("n") == n,
                F.col("top_c").cast("double") / F.col("total").cast("double"),
            )
        )

    out = per_n.groupBy(id_col).agg(
        frac_for(1).alias("top_unigram_frac"),
        frac_for(2).alias("top_bigram_frac"),
        frac_for(3).alias("top_trigram_frac"),
        F.max(
            F.when(
                F.col("n") == 1,
                F.col("n_distinct").cast("double") / F.col("total").cast("double"),
            )
        ).alias("distinct_unigram_ratio"),
    )
    if max_n < 3:  # drop the all-NULL columns for small max_n
        keep = ["top_unigram_frac", "top_bigram_frac", "top_trigram_frac"][:max_n]
        out = out.select(id_col, *keep, "distinct_unigram_ratio")
    return out


def repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_bigram_frac: float = 0.18,
    min_distinct_ratio: float = 0.20,
) -> DataFrame:
    """Gopher-style repetition gate: keep docs whose top-bigram fraction
    and type/token ratio pass the (public rule-of-thumb) thresholds.
    Docs too short to have bigrams pass the bigram rule vacuously —
    repetition rules exist to catch long boilerplate, not short docs.
    """
    prof = repetition_profile(df, id_col=id_col, text_col=text_col, max_n=2)
    keep = prof.filter(
        (
            F.col("top_bigram_frac").isNull()
            | (F.col("top_bigram_frac") <= max_top_bigram_frac)
        )
        & (F.col("distinct_unigram_ratio") >= min_distinct_ratio)
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def bigram_logprob_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc mean bigram log-probability under the corpus's own
    add-one-smoothed bigram model — the SQL-expressible analog of the
    CCNet/KenLM perplexity filter (public pipeline practice: score docs
    with an n-gram LM, drop the tail). Low scores mark gibberish /
    boilerplate whose word transitions the corpus never makes.

    Model: ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)`` with ``c(w1·)``
    the corpus count of bigrams starting at ``w1`` and ``V`` the count
    of distinct context words. Output: (id, n_bigrams, avg_logprob)
    for every doc with ≥2 tokens, the score rounded to 6 dp (the corr
    idiom — float sum order across engines).

    Plan: ONE tokenize pass (the repartition projection barrier from
    ``repetition_profile``), one explode to (doc, w1, w2), then the two
    corpus counts as window counts over the SAME exploded frame — no
    join-back of a separate count table (the measured BM25 window-df
    choice). V rides in as a broadcast 1-row cross join. Hot context
    words make ``partition by w1`` skew at extreme scale — the
    groupBy+join rewrite is the escape hatch there, same trade as BM25.
    """
    toks_df = barrier(
        widen(df.select(id_col, text_col), id_col).select(
            F.col(id_col), text_tokens(text_col).alias("__toks")
        )
    )
    tk = F.col("__toks")
    sz = F.size(tk)
    pairs = F.when(
        sz >= 2,
        F.zip_with(
            F.slice(tk, 1, sz - 1),
            F.slice(tk, 2, sz - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = toks_df.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )

    from pyspark.sql.window import Window

    c12 = F.count("*").over(Window.partitionBy("w1", "w2"))
    c1 = F.count("*").over(Window.partitionBy("w1"))
    scored = big.select(
        F.col(id_col), c12.alias("c12"), c1.alias("c1")
    )
    v = big.agg(F.count_distinct(F.col("w1")).alias("v"))
    return (
        scored.crossJoin(F.broadcast(v))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("c12") + F.lit(1.0))
                        / (F.col("c1") + F.col("v"))
                    )
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


def syllable_count(col: Column | str) -> Column:
    """Heuristic syllable count: total [aeiouy]+ vowel groups across the
    lowercased text — the standard cheap proxy English readability
    formulas use. Pure Column regex (one pass, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.lower(F.coalesce(c, F.lit(""))), F.lit("[aeiouy]+"), 0)
    )


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading ease (Flesch 1948, public domain formula):
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    sentence count floored at 1 (proxy = terminal [.!?] marks) and
    returning NULL for wordless text. One double expression over three
    integer counts — deterministic across engines given the same
    counts; oracle rounds to 6 dp."""
    c = F.col(col) if isinstance(col, str) else col
    words = token_count(c)
    sents = F.greatest(
        F.length(c) - F.length(F.regexp_replace(c, r"[.!?]", "")), F.lit(1)
    )
    syls = syllable_count(c)
    return F.when(
        words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syls.cast("double") / words.cast("double")),
    )
