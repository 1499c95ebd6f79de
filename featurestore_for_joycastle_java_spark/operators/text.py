"""Text-analysis operators for LLM-data pipelines (north-star §2.3):
tokenization, statistics, quality scoring, language-ID heuristic, document
fingerprinting, shingling.

Everything is a Catalyst expression (split / higher-order functions /
regexp / md5) — zero Python in the row path, so the whole battery runs
inside whole-stage codegen and scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic.
#: Deliberately small: the point is the *operator shape* (set-membership
#: scoring entirely in expressions), not linguistic accuracy.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"],
    "fr": ["le", "la", "les", "et", "un", "une", "des", "du", "en", "est"],
    "es": ["el", "los", "las", "y", "una", "del", "que", "por", "con", "para"],
    "de": ["der", "die", "das", "und", "ein", "eine", "von", "mit", "zu", "im"],
}

#: CJK unified ideographs — Java regex syntax (DuckDB RE2 spells the same
#: class as [\x{4e00}-\x{9fff}]).
_ZH_CLASS = "[一-鿿]"


def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(col), " "), lambda x: x != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_ngrams(col: Column) -> Column:
    """Distinct character 3-grams of the lowercased text (the n-gram
    Jaccard dedup input — catches near-dups word tokenization misses:
    typos, spacing, inflection). Sequence+substr, no explode; a text
    shorter than 3 yields an empty set (the sequence(1,0)-descends
    guard, same trap as ``shingles``). The lowered string binds ONCE via
    the single-element transform (no CSE across HOF lambdas)."""

    def build(s: Column) -> Column:
        n_pos = F.length(s) - 2
        grams = F.transform(
            F.sequence(F.lit(1), n_pos), lambda i: s.substr(i, F.lit(3))
        )
        return F.array_distinct(
            F.when(n_pos >= 1, grams).otherwise(
                F.array().cast("array<string>")
            )
        )

    return bind_once(F.lower(col), build)


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n_punct = F.length(F.regexp_replace(col, r"[^.,!?;:'\"()-]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


def bind_once(expr: Column, build) -> Column:
    """Evaluate ``expr`` ONCE per row and apply ``build(expr)``.

    Catalyst does no common-subexpression elimination across HOF lambda
    boundaries (same trap documented in ``shingles``): a builder that
    references ``expr`` k times re-evaluates it k times. Routing through
    a single-element ``transform`` lambda pins it to one evaluation per
    row, whatever ``build`` does with it (r5: generalized from the
    tokens-only helper — one documented home for the workaround)."""
    return F.element_at(F.transform(F.array(expr), build), 1)


def _bind_tokens(col: Column, build) -> Column:
    """Tokenize ``col`` ONCE and apply ``build(token_array)``."""
    return bind_once(tokens(col), build)


def _hits_in(tk: Column, stopwords: list[str]) -> Column:
    """Stopword hits (with repeats) over an already-bound token array."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tk, lambda x: F.array_contains(arr, x)))


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: length credit + stopword-presence credit
    - punctuation-spam penalty. Deterministic double arithmetic. The token
    array is bound once (see ``_bind_tokens``) so the tokenizer runs once
    per row, not once per sub-score."""

    def build(tk: Column) -> Column:
        n_tok = F.size(tk)
        length_credit = F.least(n_tok / F.lit(100.0), F.lit(1.0))
        stop_ratio = F.when(
            n_tok > 0, _hits_in(tk, LANG_STOPWORDS["en"]) / n_tok
        ).otherwise(F.lit(0.0))
        stop_credit = F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
        return F.round(
            F.lit(0.5) * length_credit
            + F.lit(0.3) * stop_credit
            + F.lit(0.2) * (F.lit(1.0) - punct_ratio(col)),
            6,
        )

    return _bind_tokens(col, build)


def lang_id(col: Column) -> Column:
    """Language-ID heuristic: CJK script check first, then argmax of
    stopword-profile hits with a fixed priority order (en > fr > es > de)
    on ties — deterministic by construction. All four profiles score the
    same bound token array (one tokenize per row, not four)."""

    def build(tk: Column) -> Column:
        scores = {lang: _hits_in(tk, sw) for lang, sw in LANG_STOPWORDS.items()}
        return (
            F.when(col.rlike(_ZH_CLASS), F.lit("zh"))
            .when(
                (scores["en"] >= scores["fr"])
                & (scores["en"] >= scores["es"])
                & (scores["en"] >= scores["de"]),
                F.lit("en"),
            )
            .when(
                (scores["fr"] >= scores["es"]) & (scores["fr"] >= scores["de"]),
                F.lit("fr"),
            )
            .when(scores["es"] >= scores["de"], F.lit("es"))
            .otherwise(F.lit("de"))
        )

    return _bind_tokens(col, build)


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text.
    md5 (not xxhash64) so any engine reproduces it — the exact-dedup key."""
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(normalized)


def shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (the MinHash/Jaccard input). Built from
    sequence+transform+slice — no explode needed until the caller wants
    an inverted index.

    The token array is bound ONCE per row via a single-element outer
    ``transform`` lambda: Catalyst does no common-subexpression
    elimination across HOF lambda boundaries, so referencing ``tokens(
    col)`` directly inside the per-index lambda would re-tokenize the
    document once per shingle (~300× blowup, measured 6× wall-clock on
    the documents table)."""

    def build(tk: Column) -> Column:
        n = F.size(tk) - (k - 1)
        # guard n < 1 explicitly: sequence(1, 0) yields a DESCENDING
        # [1, 0] in Spark (step inferred -1) and slice(arr, 0, k) then
        # throws at runtime — a doc with fewer than k tokens must produce
        # an empty shingle set, not an error
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, k)))
        )

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def md5_hash60(col: Column) -> Column:
    """Cross-engine 60-bit hash: the first 15 hex chars of md5, parsed as
    an integer. Unlike xxhash64 (Spark-internal), any engine reproduces it
    — DuckDB spells the same value ``('0x' || substr(md5(x),1,15))::BIGINT``
    — so operators built on it (SimHash twin, winnowing) get FULL value
    oracles instead of rows-only checks. 60 bits keeps the value inside a
    signed long in both engines (no sign-bit edge cases)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(col: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): positional k-token shingles → rolling 60-bit hash per
    shingle → minimum hash in every ``w``-wide window → distinct selected
    hashes. Guarantees any shared run of ≥ k+w-1 tokens between two
    documents yields a shared fingerprint, so matching fingerprints are a
    local-similarity (partial-overlap) signal that whole-doc hashing and
    bag-of-shingles Jaccard both miss.

    Entirely higher-order functions on one row — no explode, no shuffle;
    a downstream groupBy(fp) turns it into near-dup candidate pairs with
    one uniform shuffle (the 100 TB shape, same as exact dedup). Documents
    with fewer than k tokens produce no fingerprints; with fewer than
    k+w-1 tokens, one window covering all shingles (Spark's ``slice`` and
    DuckDB's ``l[i:j]`` both clamp at the array end, so both engines agree
    on the short tail)."""

    def windows_over(hashes: Column) -> Column:
        # hashes is a BOUND array (single-element transform below): the
        # per-window lambda references it ~n times, and Catalyst does no
        # CSE across lambda boundaries — unbound, every window would
        # re-hash every shingle (the shingles() 300x trap, squared)
        m = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
        widx = F.when(F.size(hashes) >= 1, F.sequence(F.lit(1), m)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(widx, lambda i: F.array_min(F.slice(hashes, i, w)))
        )

    def build(tk: Column) -> Column:
        n = F.size(tk) - (k - 1)
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        hashes = F.transform(
            idx, lambda i: md5_hash60(F.concat_ws(" ", F.slice(tk, i, k)))
        )
        return F.element_at(F.transform(F.array(hashes), windows_over), 1)

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)
