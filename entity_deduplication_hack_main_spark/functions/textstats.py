"""Text-analysis functions for training-data pipelines.

Beyond-reference capabilities required at 100 TB: language-ID heuristic,
quality scoring, token counting, and document fingerprinting — all pure JVM
expressions with DuckDB-identical renderings for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.functions import textnorm

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic. Public knowledge (most frequent function words).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "du", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "que", "por", "con"),
    "nl": ("de", "het", "een", "en", "van", "is", "dat", "niet", "met", "zijn"),
}


def token_count(text: Column) -> Column:
    return textnorm.token_count(textnorm.normalize(text))


#: GPT-2-style pre-tokenization pattern (Radford et al. 2019, the public
#: gpt2 regex), restricted to constructs RE2 also supports so the DuckDB
#: oracle is bit-identical: the possessive-contraction alternatives, then
#: optional-space letter runs / digit runs / punctuation runs, then
#: whitespace runs. (The original's `\s+(?!\S)` lookahead is dropped —
#: RE2 has no lookahead — which only shifts where a trailing-space token
#: boundary falls, not the count class.) This is the "BPE-ish regex"
#: token count of the task brief: the PRE-tokenizer segment count that
#: upper-bounds BPE merges per text, useful as a cheap length-in-tokens
#: estimate for training-data budgeting.
BPE_PRETOKEN_PAT = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count(text: Column) -> Column:
    """Count of GPT-2-style pre-tokenizer segments (BPE-ish token count)
    over the RAW text — no normalization; casing/punctuation count the
    way a real tokenizer would see them."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PAT), 0))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(textnorm.tokens(textnorm.normalize(text))))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not letters/digits/whitespace."""
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    return F.when(n > 0, stripped / n).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    toks = textnorm.tokens(textnorm.normalize(text))
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme repetition, high
    punctuation, and degenerate token lengths. Deterministic, documented."""
    tc = token_count(text)
    rep = F.when(tc > 0, distinct_token_count(text) / tc).otherwise(F.lit(0.0))
    pr = punct_ratio(text)
    mtl = mean_token_len(text)
    len_ok = F.when((mtl >= 2) & (mtl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(rep * (1.0 - pr) * len_ok, 6)


# --- token-array variants: ONE tokenize per row --------------------------
# Catalyst's common-subexpression elimination does not reliably merge the
# normalize+tokenize subtree across sibling Project expressions, so the
# text-Column helpers above re-evaluate it once per stat — up to ~7x per
# row in the quality/language queries (r04 verdict #7). Consumers should
# materialize `tokens_col(text)` once (withColumn) and feed the *_from
# variants; the *_from lambdas close over a plain column REFERENCE, which
# higher-order functions evaluate once (never a computed subtree — the
# round-1 O(n^2) lambda pitfall).


def tokens_col(text: Column) -> Column:
    """The normalized token array — materialize once per row."""
    return textnorm.tokens(textnorm.normalize(text))


def stopword_ratio_from(toks: Column, lang: str = "en") -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def mean_token_len_from(toks: Column) -> Column:
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score_from(toks: Column, text: Column) -> Column:
    """:func:`quality_score` from a materialized token array (punctuation
    ratio still reads the raw text — it is character-level)."""
    tc = F.size(toks)
    rep = F.when(
        tc > 0, F.size(F.array_distinct(toks)) / tc
    ).otherwise(F.lit(0.0))
    pr = punct_ratio(text)
    mtl = mean_token_len_from(toks)
    len_ok = F.when((mtl >= 2) & (mtl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(rep * (1.0 - pr) * len_ok, 6)


# --- Gopher quality rules (Rae et al. 2021 A1.1 — the non-repetition
# half; the repetition half lives in functions/repetition.py) ------------
# Words = raw whitespace-split tokens (NOT normalized: the alpha-char and
# symbol rules inspect raw punctuation). Rules, a doc passes if ALL hold:
#   50 <= n_words <= 100000;  3 <= mean_word_len <= 10;
#   symbol_word_ratio <= 0.1 ('#' plus '...'/'…' occurrences per word);
#   bullet_line_frac <= 0.9 (lines starting with • - *);
#   ellipsis_line_frac <= 0.3 (lines ending with '...' or '…');
#   alpha_word_frac >= 0.8 (words containing >= 1 [A-Za-z]);
#   n_stop_hits >= 2 (distinct members of the 8-word Gopher stop list).

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_cols(text: Column) -> dict[str, Column]:
    """The Gopher quality signals as named Columns (one raw-word split +
    one line split per row; ratios rounded 6 to match the oracle)."""
    words = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    lines = F.split(text, "\n")
    nw = F.size(words)
    wlen_sum = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_sym = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.")
    ) + F.regexp_count(text, F.lit("…"))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.startswith(F.ltrim(ln), F.lit("•"))
            | F.startswith(F.ltrim(ln), F.lit("-"))
            | F.startswith(F.ltrim(ln), F.lit("*")),
        )
    )
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda ln: F.endswith(ln, F.lit("..."))
            | F.endswith(ln, F.lit("…")),
        )
    )
    toks = textnorm.tokens(textnorm.normalize(text))
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), sw))

    def ratio(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
        )

    return {
        "n_words": nw.cast("bigint"),
        "mean_word_len": ratio(wlen_sum, nw),
        "symbol_word_ratio": ratio(n_sym, nw),
        "bullet_line_frac": ratio(n_bullet, F.size(lines)),
        "ellipsis_line_frac": ratio(n_ellipsis, F.size(lines)),
        "alpha_word_frac": ratio(n_alpha, nw),
        "n_stop_hits": n_stop.cast("bigint"),
    }


def gopher_quality_pass(cols: dict[str, Column]) -> Column:
    return (
        (cols["n_words"] >= 50)
        & (cols["n_words"] <= 100000)
        & (cols["mean_word_len"] >= 3)
        & (cols["mean_word_len"] <= 10)
        & (cols["symbol_word_ratio"] <= 0.1)
        & (cols["bullet_line_frac"] <= 0.9)
        & (cols["ellipsis_line_frac"] <= 0.3)
        & (cols["alpha_word_frac"] >= 0.8)
        & (cols["n_stop_hits"] >= 2)
    )


def sql_gopher_quality(text_expr: str) -> list[str]:
    """DuckDB select-expression list mirroring :func:`gopher_quality_cols`
    + the pass flag, aliased identically."""
    words = f"list_filter(string_split_regex({text_expr}, '\\s+'), w -> w != '')"
    lines = f"string_split({text_expr}, chr(10))"
    toks = textnorm.sql_tokens(textnorm.sql_normalize(text_expr))
    sw = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
    nw = f"len({words})"
    wlen = f"coalesce(list_sum(list_transform({words}, w -> len(w))), 0)"
    n_alpha = (
        f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
    )
    n_sym = (
        f"(len(regexp_extract_all({text_expr}, '#'))"
        f" + len(regexp_extract_all({text_expr}, '\\.\\.\\.'))"
        f" + len(regexp_extract_all({text_expr}, '…')))"
    )
    n_bullet = (
        f"len(list_filter({lines}, l -> starts_with(trim(l), '•')"
        f" OR starts_with(trim(l), '-') OR starts_with(trim(l), '*')))"
    )
    n_ell = (
        f"len(list_filter({lines}, l -> ends_with(l, '...')"
        f" OR ends_with(l, '…')))"
    )
    n_stop = f"len(list_intersect(list_distinct({toks}), {sw}))"

    def ratio(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} > 0 THEN round({num}::DOUBLE / {den}, 6) "
            f"ELSE 0.0 END"
        )

    exprs = [
        f"{nw}::BIGINT AS n_words",
        f"{ratio(wlen, nw)} AS mean_word_len",
        f"{ratio(n_sym, nw)} AS symbol_word_ratio",
        f"{ratio(n_bullet, f'len({lines})')} AS bullet_line_frac",
        f"{ratio(n_ell, f'len({lines})')} AS ellipsis_line_frac",
        f"{ratio(n_alpha, nw)} AS alpha_word_frac",
        f"{n_stop}::BIGINT AS n_stop_hits",
    ]
    return exprs


SQL_GOPHER_QUALITY_PASS = (
    "(n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3 AND "
    "mean_word_len <= 10 AND symbol_word_ratio <= 0.1 AND "
    "bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3 AND "
    "alpha_word_frac >= 0.8 AND n_stop_hits >= 2)"
)


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 of normalized text — the
    boilerplate-insensitive exact-dup key."""
    return F.md5(textnorm.normalize(text))


# --- DuckDB renderings ---------------------------------------------------


def sql_token_count(text: str) -> str:
    return f"len({textnorm.sql_tokens(textnorm.sql_normalize(text))})"


def sql_distinct_token_count(text: str) -> str:
    return f"len(list_distinct({textnorm.sql_tokens(textnorm.sql_normalize(text))}))"


def sql_bpe_token_count(text: str) -> str:
    """DuckDB rendering of :func:`bpe_token_count` — RE2 runs the same
    pattern (single quotes doubled for the SQL literal)."""
    lit = BPE_PRETOKEN_PAT.replace("'", "''")
    return f"len(regexp_extract_all({text}, '{lit}'))"


def sql_stopword_ratio(text: str, lang: str = "en") -> str:
    toks = textnorm.sql_tokens(textnorm.sql_normalize(text))
    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"len(list_filter({toks}, t -> list_contains({sw}, t)))::DOUBLE "
        f"/ len({toks}) ELSE 0.0 END"
    )


def sql_fingerprint(text: str) -> str:
    return f"md5({textnorm.sql_normalize(text)})"
