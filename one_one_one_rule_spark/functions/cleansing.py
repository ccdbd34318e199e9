"""Cleansing expression library — Spark SQL expression text, no UDFs.

Replaces the reference's pandas cleanse stage (transform_valuation.py:99-149)
with Catalyst expressions: everything here fuses into one whole-stage-codegen
projection. Each function takes an operand as SQL text (a quoted column
name or any expression) and returns SQL text; Column callers wrap it in
``F.expr``.

Engine convention (SURVEY.md §1 hazard): all missing/invalid numerics become
SQL NULL at ingestion — never NaN — so three-valued logic, medians, and
coalesce reproduce the reference's pandas-NaN semantics.
"""

from __future__ import annotations


def normalize_symbol(col: str) -> str:
    """F3 — ticker normalization: strip → upper → literal '.'→'-'.

    Reference: transform_valuation.py:105-111, extract_tickers.py:12-18.
    """
    return f"replace(upper(trim({col})), '.', '-')"


def to_clean_double(col: str) -> str:
    """F1 + P5 — safe float coercion with NaN/±inf scrubbed to NULL.

    Reference: _safe_float (transform_valuation.py:12-19) plus the
    inf-replace pass (transform_valuation.py:140). Spark's cast already
    yields NULL on unparsable input; we additionally normalize NaN and ±inf
    to NULL so downstream comparisons/aggregates see pandas-like missing.
    """
    d = f"CAST({col} AS DOUBLE)"
    return (
        f"CASE WHEN isnan({d}) OR abs({d}) = CAST('Infinity' AS DOUBLE)"
        f" THEN NULL ELSE {d} END"
    )


def null_if_nonpositive(col: str) -> str:
    """P4 — conditional NULL-ing: value <= 0 → NULL (price / market_cap).

    Reference: transform_valuation.py:142-145.
    """
    return f"CASE WHEN ({col}) <= 0 THEN NULL ELSE {col} END"


def fill_unknown(col: str, default: str = "Unknown") -> str:
    """P6 — NULL/empty string → default (sector fill).

    Reference: transform_valuation.py:147 (and source-side :75).
    """
    lit = "'" + default.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"CASE WHEN ({col}) IS NULL OR ({col}) = '' THEN {lit} ELSE {col} END"
