"""Text-analysis expression library (scale-out extensions, SURVEY.md §7.8).

Everything is a native Column builder over a whitespace-tokenized ``documents``
table: token stats, stopword/quality scoring, marker-based language ID,
document fingerprinting, shingling, and a cross-engine-portable string hash.

Portability convention: the DuckDB oracles reproduce these formulas exactly —
same tokenizer (literal single-space split), same fold order, same modulus —
so outputs are bit-identical. Avoid regexes here; Java and RE2 dialects drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: modulus for the portable char-fold hash (2^31 - 1, Mersenne prime).
HASH_P = 2147483647

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")
ES_MARKERS = ("el", "la", "de", "los", "una")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (documents.text is single-space separated)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(toks: Column) -> Column:
    return F.size(toks).cast("bigint")


def distinct_token_count(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)).cast("bigint")


def hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a fixed word list (JVM-side higher-order filter)."""
    return F.size(F.filter(toks, lambda x: x.isin(*words))).cast("bigint")


def quality_score(n_tokens: Column, stop_ratio: Column) -> Column:
    """Deterministic heuristic quality score: length saturation × stopword
    penalty. (The general capability: cheap per-doc quality gates for
    training-data filtering.)"""
    return F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (
        F.lit(1.0) - F.lit(0.5) * stop_ratio
    )


def predicted_lang(toks: Column) -> Column:
    """Marker-token language ID heuristic (n-gram/stopword evidence)."""
    en = hits(toks, EN_STOPWORDS)
    es = hits(toks, ES_MARKERS)
    return (
        F.when((en >= es) & (en > 0), F.lit("en"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the raw text (md5 is identical across
    engines; used for exact dedup grouping)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def prefix_fingerprint(text: Column | str, n_chars: int = 40) -> Column:
    """Fingerprint of the first ``n_chars`` — catches shared-boilerplate
    near-dups that exact hashing misses."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.substring(c, 1, n_chars))


def shingles_expr(tokens_col: str = "w", n: int = 3) -> Column:
    """Word n-gram shingle array (empty when the doc has < n tokens).

    Spark array indexing in SQL lambdas is 0-based; the DuckDB mirror uses
    1-based ``w[i+1]`` over the same ``range(len-n+1)`` — identical shingles.
    """
    parts = ", ".join(f"{tokens_col}[i+{j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {n} "
        f"THEN transform(sequence(0, size({tokens_col})-{n}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def char_fold_hash(col: str = "shingle") -> Column:
    """Portable string hash: left fold (acc*131 + ascii(char)) mod 2^31-1.

    Bit-identical in Spark (``aggregate``) and DuckDB (``list_reduce`` with a
    prepended 0 accumulator) — verified; this is what makes MinHash/LSH
    oracle-checkable across engines. Always non-negative.
    """
    return F.expr(
        f"aggregate(transform(split({col},''), x -> cast(ascii(x) as bigint)),"
        f" 0L, (a,b) -> (a*131+b) % {HASH_P})"
    )


def char_fold_hash_sql(expr: str) -> str:
    """DuckDB mirror of :func:`char_fold_hash` for oracle SQL."""
    return (
        f"list_reduce(list_prepend(0, list_transform(string_split({expr},''),"
        f" x -> CAST(ascii(x) AS BIGINT))), (a,b) -> (a*131+b) % {HASH_P})"
    )


def md5_hash48(col: Column | str) -> Column:
    """Portable 48-bit string hash: the first 12 hex chars of md5 parsed as
    an integer.

    md5 over UTF-8 bytes is engine-invariant, and on the Spark side it is
    a single native JVM intrinsic per value — no per-character lambda in
    the hot path (the char-fold hash costs O(len) interpreted aggregate
    steps per string; this is the fast form for corpus-scale hashing).
    The DuckDB mirror folds only the 12 hex chars. Always non-negative.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("binary")), 1, 12), 16, 10
    ).cast("bigint")


def md5_hash48_sql(expr: str) -> str:
    """DuckDB mirror of :func:`md5_hash48` for oracle SQL."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substring(md5({expr}), 1, 12), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(a, b) -> a * 16 + b)"
    )


#: PII redaction patterns (pattern, replacement), applied in order. Kept in
#: the Java∩RE2 common dialect (char classes, bounded quantifiers, \b,
#: non-capturing groups) — verified bit-identical Spark vs DuckDB. Order
#: matters: emails before URLs (an email inside a URL query string is
#: redacted as email), cards last (phone hyphens already consumed).
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^ ]+", "<URL>"),
    (r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    (r"\b(?:[0-9][ -]?){13,16}\b", "<CCNUM>"),
)


def redact_pii(text: Column | str) -> Column:
    """Curation-stage PII scrub: emails, URLs, US-style phone numbers, and
    card-like digit runs → typed placeholder tokens. A pure regexp_replace
    chain in the scan projection — row-parallel, zero shuffles, and the
    exact same chain is reproduced by the DuckDB oracle for hash-gating."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, rep in PII_PATTERNS:
        c = F.regexp_replace(c, pat, rep)
    return c
