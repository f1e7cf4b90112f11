"""Text-analysis column functions (north-star: language-ID, quality
scoring, token counting, fingerprinting — BASELINE.json).

Design constraints:
* pure Column expressions (JVM, codegen) — a 100 TB corpus cannot
  afford per-row Python;
* every function is *deterministic and engine-portable*: the same math
  is expressible in ANSI-ish SQL so the DuckDB oracle can verify it.

The engine-portable 60-bit hash: ``h60(s) = int(md5(s)[:15], 16)`` —
md5 is identical everywhere; 15 hex digits < 2^60 fits a signed int64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for portable integer hashing (fits products in int64: values
#: < 1e9+7, multipliers < 2e3 → < 2e12).
HASH_MOD = 1_000_000_007

#: Small per-language stopword sets for the n-gram/stopword language
#: heuristic. Data, not code — extend per corpus.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "y", "es", "un"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text → empty array (guarded
    so split's [''] artifact never leaks into counts)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def h60(s: Column) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5 as int64."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def hmod(s: Column) -> Column:
    """Portable bounded hash in [0, HASH_MOD)."""
    return h60(s) % F.lit(HASH_MOD)


def word_shingles(toks: Column, n: int) -> Column:
    """Word n-gram shingles joined by a single space; docs shorter than
    ``n`` tokens yield an empty list.

    Built by zipping the array with its j-shifted suffixes (n-1 zips,
    each O(len)) — NOT transform(i -> slice(toks, i, n)), whose
    per-element slice is O(len²) per document and dominated every
    shingle consumer's wall time (~4× of the bigram stage at sf0.1)."""
    cur = toks
    for j in range(1, n):
        # zip_with pads the shorter side with NULLs; the trailing
        # (incomplete) entries are cut by the final slice
        cur = F.zip_with(
            cur,
            F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k >= 1, F.slice(cur, 1, k)).otherwise(
        F.array().cast("array<string>")
    )


def stopword_ratio(toks: Column, stopwords: tuple[str, ...]) -> Column:
    """Fraction of tokens that are stopwords; 0.0 for empty docs."""
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def language_scores(text: Column) -> dict[str, Column]:
    """Stopword-ratio score per language (the n-gram heuristic's
    degenerate-but-deterministic form)."""
    toks = tokens(text)
    return {lang: stopword_ratio(toks, sw) for lang, sw in STOPWORDS.items()}


def predicted_language(text: Column) -> Column:
    """Argmax of language_scores with deterministic tiebreak (language
    name order); 'und' when every score is 0."""
    scores = language_scores(text)
    langs = sorted(scores)  # deterministic tiebreak: alphabetical
    best = F.greatest(*[scores[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        out = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def avg_token_len(toks: Column) -> Column:
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:
    0.4·distinct-token ratio + 0.3·stopword presence + 0.3·length factor
    (min(1, n_tokens/64)). Deterministic arithmetic, oracle-portable.
    """
    toks = tokens(text)
    n = F.size(toks)
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(0.0))
    stop = stopword_ratio(toks, STOPWORDS["en"])
    length_factor = F.least(F.lit(1.0), n.cast("double") / F.lit(64.0))
    return (
        F.lit(0.4) * distinct_ratio + F.lit(0.3) * stop + F.lit(0.3) * length_factor
    )


def fingerprint(text: Column, shingle_n: int = 3) -> Column:
    """Document fingerprint: minimum portable hash over word-n-gram
    shingles (1-permutation MinHash ≈ winnowing's global minimum).
    Short docs fall back to min over tokens; NULL for empty docs."""
    toks = tokens(text)
    sh = word_shingles(toks, shingle_n)
    basis = F.when(F.size(sh) > 0, sh).otherwise(toks)
    return F.array_min(F.transform(basis, lambda s: hmod(s)))
