"""Text-analysis operators for training-data pipelines (SURVEY.md §2.10
X3 / BASELINE north star).

All operators are pure Column expressions (JVM-side, codegen-friendly,
no Python UDFs) so they vectorize inside whole-stage codegen and are
reproducible in an external SQL engine for oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small stopword list matching the synthetic corpus vocabulary.
STOPWORDS = ("the", "a", "of", "and", "to", "in")

TOKEN_PATTERN = r"\S+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization via regexp_extract_all — identical
    semantics in DuckDB (len/empty-string safe, no trailing empties)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-style pre-tokenization (GPT-2-ish): letter runs, digit runs, and
# individual punctuation marks become separate subword seeds. A real BPE
# would merge within these pre-tokens; counting them is the standard
# cheap proxy for "how many tokens will the tokenizer emit".
SUBWORD_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def subword_tokens(text: Column) -> Column:
    """BPE-ish pre-tokens via regexp_extract_all — identical in DuckDB."""
    return F.regexp_extract_all(F.lower(text), F.lit(SUBWORD_PATTERN), 0)


def subword_count(text: Column) -> Column:
    return F.size(subword_tokens(text))


# Rabin-Karp polynomial rolling hash over token hashes: base/modulus
# chosen so every intermediate fits a BIGINT in both engines (acc < M,
# so acc*B + x < 2^36 — DuckDB errors on BIGINT overflow where the JVM
# would silently wrap, so staying far under 2^63 is a correctness
# requirement, not a style choice).
ROLL_B = 31
ROLL_M = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def rolling_fingerprint(toks: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    (Rabin-Karp) folded over per-token portable hashes —
    ``h = (h*B + hash(tok) % M) % M``. Unlike the md5 fingerprint (which
    normalizes whitespace and hashes one big string), this is computable
    incrementally and is the building block for shift-resistant chunk
    fingerprints. Empty docs hash to 0. ``toks`` should be a
    materialized token-array column."""
    from multichannel_commerce_data_pipeline_spark.functions import portable_hash32

    fold = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_B + portable_hash32(t, 7) % ROLL_M) % ROLL_M,
    )
    return F.when(F.size(toks) > 0, fold).otherwise(F.lit(0).cast("long"))


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are alphabetic or space — a proxy for
    'clean prose' vs markup/noise."""
    clean_len = F.length(F.regexp_replace(text, r"[^A-Za-z ]", ""))
    return F.when(F.length(text) > 0, clean_len / F.length(text)).otherwise(F.lit(0.0))


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + stopword presence
    + alpha ratio. Heuristic mirror of C4/Gopher-style filters, kept
    SQL-portable.

    Inlines the tokenizer at every reference — fine in a one-shot
    projection, but a caller scoring a large corpus should project
    ``tokens(text)`` into its own column first and call
    :func:`quality_score_from` (the regex then runs once per row; see
    the shingles docstring for why)."""
    return quality_score_from(tokens(text), text)


def quality_score_from(toks: Column, text: Column) -> Column:
    """quality_score over a MATERIALIZED token-array column: the
    formula references the token list three times (length band,
    stopword ratio numerator and denominator), and Spark re-evaluates
    an inlined tokenizer expression at every reference."""
    n = F.size(toks)
    length_ok = F.when((n >= 5) & (n <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(toks) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    alpha_ok = alpha_ratio(text) * 0.3
    return F.round(length_ok + stop_ok + alpha_ok, 4)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lower-cased text. Engine-portable (md5 is
    identical in DuckDB)."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


# The highest-frequency English character bigrams (standard corpus
# statistics) — the profile the n-gram scorer matches against.
EN_BIGRAMS = (
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
)


def char_bigrams(clean: Column) -> Column:
    """Char bigram array of an already-cleaned (lower, letters-only)
    column reference. Guarded like shingles(): short strings produce an
    empty array, never a descending sequence."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length(clean) - 1),
        lambda i: clean.substr(i, F.lit(2)),
    )
    return F.when(F.length(clean) >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )


def en_bigram_score(bigrams: Column) -> Column:
    """Fraction of char bigrams that are high-frequency English bigrams
    — the n-gram-profile language-ID statistic (fastText-style profiles
    reduce to exactly this shape per language)."""
    n = F.size(bigrams)
    hits = F.size(F.filter(bigrams, lambda b: b.isin(*EN_BIGRAMS)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def chunk_spans(toks: Column, chunk_tokens: int, stride: int) -> Column:
    """Array of (start, length) chunk spans over a token array — the
    context-window chunker of a training-data pipeline: fixed-size
    windows every ``stride`` tokens (``stride < chunk_tokens`` gives
    overlap). Every token is covered; the final window is the remainder
    (shorter, never empty). Empty docs produce zero chunks."""
    n = F.size(toks)
    n_chunks = F.when(
        n > chunk_tokens,
        F.ceil((n - chunk_tokens) / F.lit(stride).cast("double")) + 1,
    ).otherwise(F.when(n > 0, F.lit(1)).otherwise(F.lit(0)))
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.struct(
            (i * stride + 1).alias("start"),
            F.least(F.lit(chunk_tokens), n - i * stride).alias("len"),
        ),
    )
    # sequence(0, -1) is DESCENDING in Spark, not empty — same guard as
    # shingles()
    return F.when(n_chunks > 0, spans).otherwise(
        F.array().cast("array<struct<start:int,len:int>>")
    )


def lang_guess(text: Column) -> Column:
    """Tiny deterministic language-ID heuristic (stopword-marker based).

    Real corpora would use charset n-gram profiles (fastText-style); the
    synthetic corpus shares one vocabulary, so this demonstrates the
    operator shape: first-matching-marker CASE, 'und' fallback."""
    t = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (
        F.when(t.contains(" the ") | t.contains(" a "), "en")
        .when(t.contains(" der ") | t.contains(" und "), "de")
        .when(t.contains(" el ") | t.contains(" la "), "es")
        .otherwise("und")
    )


def with_text_features(df: DataFrame) -> DataFrame:
    """Attach the full text-analysis feature set of ``text`` as columns."""
    text = F.col("text")
    toks = tokens(text)
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("avg_token_len", F.round(avg_token_len(toks), 4))
        .withColumn("stopword_ratio", F.round(stopword_ratio(toks), 4))
        .withColumn("alpha_ratio", F.round(alpha_ratio(text), 4))
        .withColumn("quality_score", quality_score(text))
        .withColumn("fingerprint", fingerprint(text))
        .withColumn("lang_guess", lang_guess(text))
    )


# --- PII redaction -----------------------------------------------------
# RE2-compatible patterns (no lookaround/backrefs) so Spark's Java regex
# and DuckDB's RE2 agree character-for-character — the redaction is
# oracle-checkable.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"(?:\+?[0-9]{1,2}[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def redact_pii(text: Column) -> Column:
    """Scrub emails, phone numbers, and IPv4 addresses to typed
    placeholder tokens — the standard pre-training privacy pass. Pure
    chained regexp_replace: JVM-side, codegen-friendly, and order-fixed
    (the pattern order is part of the operator contract, mirrored
    exactly by the SQL oracle)."""
    out = text
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def oracle_redact_pii(expr: str) -> str:
    """DuckDB twin of :func:`redact_pii` (same patterns, same order,
    'g' flag matching Spark's replace-all semantics)."""
    out = expr
    for pat, token in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{token}', 'g')"
    return out


# Unicode hygiene: the normalize-before-anything curation pass (CCNet /
# Dolma run an equivalent before hashing or language-ID — a zero-width
# space inside a nav-bar line would otherwise defeat every digest-based
# dedup above). Ordered stages; each pattern embeds the literal
# characters (not \\u escapes) so the SAME class text compiles in both
# Java regex (Spark) and RE2 (DuckDB, which lacks \\uXXXX):
#   1. strip C0/C1 control chars except tab/newline (kept: collapsed
#      into spaces by stage 4) and DEL;
#   2. strip format characters: zero-width space/non-joiner/joiner,
#      BOM/ZWNBSP, soft hyphen, LTR/RTL marks;
#   3. NBSP and narrow NBSP become plain spaces;
#   4. collapse whitespace runs to one space and trim.
# Stage 1 removes \\x0B explicitly BEFORE stage 4 because Java's \\s
# includes vertical tab while RE2's does not — the one dialect gap in
# these patterns.
NORMALIZE_STAGES: tuple[tuple[str, str], ...] = (
    # \xNN ESCAPE text (not raw control bytes): a raw NUL inside the
    # oracle's SQL string literal would break the DuckDB parser; both
    # Java regex and RE2 compile the \xNN escapes identically
    (r"[\x00-\x08\x0b-\x1f\x7f-\x9f]", ""),
    ("[​‌‍﻿­‎‏]", ""),
    ("[  ]", " "),
    (r"\s+", " "),
)


def normalize_text(text: Column) -> Column:
    """Unicode hygiene scrub (see NORMALIZE_STAGES): control and
    format characters out, NBSP to space, whitespace collapsed,
    trimmed. Pure chained regexp_replace — JVM-side, codegen-friendly,
    order-fixed and mirrored exactly by :func:`oracle_normalize_text`."""
    out = text
    for pat, repl in NORMALIZE_STAGES:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def oracle_normalize_text(expr: str) -> str:
    """DuckDB twin of :func:`normalize_text` (same stages, same order,
    'g' flag; the class literals are raw characters so RE2 compiles
    the identical classes)."""
    out = expr
    for pat, repl in NORMALIZE_STAGES:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    return f"trim({out})"


# --- Gopher-style document quality flags -------------------------------
# The repetition/shape heuristics from the Gopher corpus-filtering rules
# (Rae et al. 2021, table A1) that are computable as pure expressions:
# word count bounds, mean word length bounds, symbol-to-word ratio, and
# stopword presence. Each flag is independent; the keep decision is
# their conjunction, so downstream can re-mix thresholds per corpus.


def gopher_flags(text: Column) -> dict[str, Column]:
    """Quality flag columns for one document: the caller selects
    whichever subset it filters on (all JVM-side, one tokenizer pass
    when materialized via with_text_features discipline). Callers that
    already project ``tokens(text)`` should pass it through
    :func:`gopher_flags_from` instead — the flags reference the token
    list from several independent output columns, and the lambda-
    bearing ones (mean word length) are excluded from Catalyst's
    subexpression elimination, so an inlined tokenizer re-runs per
    reference (r16 optimization round, guide §4.2)."""
    return gopher_flags_from(tokens(text), text)


def gopher_flags_from(toks: Column, text: Column) -> dict[str, Column]:
    """:func:`gopher_flags` over a MATERIALIZED token-array column
    (the symbol ratio still reads the raw text — symbols include
    characters the whitespace tokenizer keeps inside tokens)."""
    n_words = F.size(toks)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(
            toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
        )
        / n_words,
    ).otherwise(F.lit(0.0))
    n_symbols = F.size(
        F.regexp_extract_all(text, F.lit(r"[#\.\{\}\[\]<>\|\\]"), 0)
    )
    symbol_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    n_stop = F.size(F.array_intersect(toks, F.lit(list(STOPWORDS))))
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "n_stopword_kinds": n_stop,
        **gopher_ok_flags(n_words, mean_wl, symbol_ratio, n_stop),
    }


def gopher_ok_flags(
    n_words: Column, mean_wl: Column, symbol_ratio: Column, n_stop: Column
) -> dict[str, Column]:
    """The four Gopher pass/fail flags from the four (already computed)
    scalar signals — the single source of the thresholds. Callers that
    STAGE the scalars in their own projection (because ``mean_wl``'s
    aggregate fold carries a lambda, which subexpression elimination
    skips — r16 optimization round, guide §4.2) derive the flags from
    the staged columns through this helper so the cut points can never
    drift between the staged and inline forms."""
    return {
        "ok_word_count": (n_words >= 5) & (n_words <= 10_000),
        "ok_word_len": (mean_wl >= 2.0) & (mean_wl <= 12.0),
        "ok_symbols": symbol_ratio <= 0.1,
        "ok_stopwords": n_stop >= 2,
    }


def oracle_quality_score(toks_expr: str, text_expr: str) -> str:
    """DuckDB twin of :func:`quality_score` as a SQL fragment over a
    token-list expression and the raw text expression (the inline
    original lives in queries/text.py text_quality_filter's oracle —
    keep the two in lockstep with this helper when composing new
    oracles)."""
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    t, x = toks_expr, text_expr
    return (
        f"ROUND((CASE WHEN len({t}) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)"
        f" + (CASE WHEN len({t}) > 0"
        f"      AND len(list_filter({t}, tk -> tk IN ({stop_in}))) / len({t}) >= 0.05"
        f"    THEN 0.3 ELSE 0.0 END)"
        f" + (CASE WHEN length({x}) > 0"
        f"    THEN length(regexp_replace({x}, '[^A-Za-z ]', '', 'g')) / length({x})"
        f"    ELSE 0.0 END) * 0.3, 4)"
    )
