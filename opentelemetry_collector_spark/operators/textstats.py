"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

Beyond the reference's scope (its body is an opaque pcommon.Value) but
first-class here per the build charter. Everything is native column
expressions — single pass over ``text``, no shuffle, fully codegen'd —
so at 100 TB these run at scan speed.

Cross-engine notes (DuckDB oracle parity): whitespace is a literal
space class ``[ ]+`` (documents are single-spaced), hashes are md5,
ratios round to 6 digits to dodge float-format drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic; deliberately simple + deterministic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "zh": ["的", "是", "了"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def norm_text(c: Column) -> Column:
    return F.lower(F.trim(c))


def bind_once(value: Column, body) -> Column:
    """Evaluate ``value`` exactly once and feed it to ``body``.

    Higher-order-function lambdas are interpreted (not codegen'd), and
    Catalyst's projection collapsing can inline an aliased expression
    into every use site — so an expensive expression (md5, split)
    referenced N times inside a lambda would run N times per row.
    Wrapping it as the element of a 1-element array binds it to a lambda
    variable, which IS evaluated once: the biggest constant-factor lever
    in the dedup signature computations."""
    return F.element_at(F.transform(F.array(value), body), 1)


def words_col(c: Column) -> Column:
    return F.split(norm_text(c), "[ ]+")


def grams_col(c: Column, k: int) -> Column:
    """Non-distinct k-word grams as an array column — THE single source
    of the gram-window edge semantics shared by dedup.shingles_col and
    repetition_stats (and their DuckDB twins): start positions
    0..greatest(n−k, 0), out-of-range words drop out of concat_ws, so
    every document yields at least one (possibly short) gram and the
    gram count is never 0. The words array is bound once; F.get is
    0-based and null-safe."""

    def body(w: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", *[F.get(w, i + j) for j in range(k)]),
        )

    return bind_once(words_col(c), body)


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (≈ chars/4,
    the common rule of thumb — cheap, deterministic, scan-speed)."""
    w = words_col(F.col("text"))
    return df.withColumns(
        {
            "n_tokens": F.size(w),
            "n_subwords_est": F.ceil(F.length(norm_text(F.col("text"))) / F.lit(4)).cast("bigint"),
        }
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Length/punct/stopword-ratio quality features + a composite score
    in [0,1]. Rounded to 6 digits for cross-engine stability."""
    t = norm_text(F.col("text"))
    w = words_col(F.col("text"))
    n_chars = F.length(t)
    n_tok = F.size(w)
    punct = F.length(F.regexp_replace(t, "[a-z0-9 ]", ""))
    stop_hits = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    avg_wlen = F.round(n_chars.cast("double") / n_tok, 6)
    # n_tok is never 0 (split('') yields ['']), but n_chars IS 0 for
    # empty/whitespace text — under ANSI mode a plain / would throw, so
    # the punct ratio (and therefore quality) goes NULL there instead.
    # Identical to / for every non-empty doc, so oracle parity holds.
    punct_ratio = F.round(F.try_divide(punct.cast("double"), n_chars), 6)
    stop_ratio = F.round(stop_hits.cast("double") / n_tok, 6)
    score = F.round(
        F.least(F.lit(1.0), n_tok.cast("double") / 64.0) * (1.0 - punct_ratio), 6
    )
    return df.withColumns(
        {
            "n_chars_norm": n_chars,
            "n_tokens": n_tok,
            "avg_word_len": avg_wlen,
            "punct_ratio": punct_ratio,
            "stopword_ratio": stop_ratio,
            "quality": score,
        }
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-word language guess (n-gram-heuristic class). ONE fold
    over the token array tallies every language's marker hits at once
    (an array-of-counters accumulator), then a when-chain argmax with a
    fixed tie order — one pass over the words instead of one
    interpreted filter per language, and the counter array is bound
    once so the fold isn't re-evaluated per argmax reference."""
    langs = list(LANG_MARKERS)  # insertion order is fixed
    w = words_col(F.col("text"))
    counts = F.aggregate(
        w,
        F.array_repeat(F.lit(0), len(langs)),
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[x.isin(LANG_MARKERS[l]).cast("int") for l in langs]),
            lambda a, b: a + b,
        ),
    )

    def argmax(c: Column) -> Column:
        # deterministic: strictly-greater wins, earlier language on ties
        best_lang = F.lit("und")
        best_hits = F.lit(0)
        for i, lang in enumerate(langs):
            hit = F.get(c, i)
            is_better = hit > best_hits
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_hits = F.when(is_better, hit).otherwise(best_hits)
        return F.struct(best_lang.alias("lang"), best_hits.alias("hits"))

    best = bind_once(counts, argmax)
    return df.withColumns(
        {"lang_guess": best["lang"], "lang_guess_hits": best["hits"]}
    )


# PII patterns shared verbatim with the DuckDB oracle (dialect subset:
# [.]/[+] instead of escapes, explicit [0-9]/[a-z] classes — portable
# across Java regex and RE2). Applied in list order; each replacement
# token cannot be re-matched by a later pattern.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_IP = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
PII_PHONE = "[+][0-9][0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", PII_EMAIL, "<email>"),
    ("ip", PII_IP, "<ip>"),
    ("phone", PII_PHONE, "<phone>"),
]


def redact_pii(df: DataFrame, id_col: str = "id") -> DataFrame:
    """PII scrubbing (training-data hygiene): replace email addresses,
    IPv4 addresses and international phone numbers with typed
    placeholder tokens, and count each category before redaction.

    Pure chained regexp_replace / regexp_extract_all column work — one
    codegen'd pass over the text, no shuffle, scan speed at 100 TB.
    Patterns are module constants shared character-for-character with
    the DuckDB oracle.

    Each category is counted against the PROGRESSIVELY-redacted string
    (the value just before that pattern's own replace), not the
    original text, so a match swallowed by an earlier pattern (e.g. an
    IP-shaped substring inside an email's domain that the email pass
    already replaced) is never counted in a category that did not
    actually redact it — the counts sum to the number of replacements
    performed."""
    red = F.col("text")
    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[f"n_{name}s"] = F.size(F.regexp_extract_all(red, F.lit(pat), 0))
        red = F.regexp_replace(red, pat, token)
    return df.select(
        F.col(id_col),
        red.alias("redacted"),
        *[c.alias(n) for n, c in counts.items()],
    )


def repetition_stats(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Gopher/C4-class intra-document repetition signals, per doc:

    * ``dup_2gram_frac`` — fraction of word 2-grams that are repeats of
      an earlier 2-gram in the same document (1 − distinct/total);
    * ``top_word_frac`` — share of the document taken by its single
      most frequent word;
    * ``flag_repetitive`` — 1 when either signal crosses the curation
      threshold (dup 2-grams ≥ 20% or top word ≥ 40%), evaluated in
      integer arithmetic so both engines agree exactly.

    Scale shape: the 2-gram counters are one bound-once HOF pass over
    the token array (scan speed, no shuffle); the top-word mode is the
    classic explode → (id, word) partial-count → per-id max, two
    hash-partial aggregations that parallelize per-row at 100 TB. The
    2-gram window is grams_col (the shared single source of the gram
    edge semantics) so a one-word doc has exactly one "gram" and the
    denominator is never 0.
    """
    w = words_col(F.col("text"))
    counts = bind_once(
        grams_col(F.col("text"), 2),
        lambda g: F.array(F.size(g), F.size(F.array_distinct(g))),
    )
    base = df.select(
        F.col(id_col),
        F.size(w).alias("n_words"),
        F.get(counts, 0).alias("n_2grams"),
        F.get(counts, 1).alias("n_uniq_2grams"),
        w.alias("_w"),
    )
    top = (
        base.select(
            id_col, "n_words", "n_2grams", "n_uniq_2grams",
            F.explode("_w").alias("word"),
        )
        .groupBy(id_col, "n_words", "n_2grams", "n_uniq_2grams", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col, "n_words", "n_2grams", "n_uniq_2grams")
        .agg(F.max("c").alias("top_word_n"))
    )
    dup = F.col("n_2grams") - F.col("n_uniq_2grams")
    return top.select(
        F.col(id_col),
        F.col("n_words"),
        F.round(dup.cast("double") / F.col("n_2grams"), 6).alias("dup_2gram_frac"),
        F.round(F.col("top_word_n").cast("double") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
        (
            (dup * 5 >= F.col("n_2grams"))
            | (F.col("top_word_n") * 5 >= F.col("n_words") * 2)
        )
        .cast("int")
        .alias("flag_repetitive"),
    )


# Polynomial rolling-hash constants, shared verbatim with the DuckDB
# oracle: base/modulus sized so acc*B + h stays far inside int64
# (acc < 2^31, B < 2^20 → product < 2^51).
ROLL_B = 1_000_003
ROLL_P = 2_147_483_647


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints:

    * ``fp_exact`` — md5 of normalized text (order- and spacing-exact);
    * ``fp_bag``   — md5 of sorted distinct tokens (order-insensitive);
    * ``fp_roll``  — polynomial rolling hash over the token stream
      (order-sensitive, incrementally updatable: appending a turn to a
      conversation is O(1) given the previous hash — the property that
      makes it the fingerprint for streaming/append-only corpora).
    """
    t = norm_text(F.col("text"))
    w = words_col(F.col("text"))
    hs = F.transform(
        w,
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")
        % F.lit(ROLL_P),
    )
    roll = F.aggregate(
        hs,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * F.lit(ROLL_B) + x) % F.lit(ROLL_P),
    )
    return df.withColumns(
        {
            "fp_exact": F.md5(t),
            "fp_bag": F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(w)))),
            "fp_roll": roll,
        }
    )
