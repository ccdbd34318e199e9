"""Valuation formula library — the analytical core (SURVEY.md §2.7).

Every function returns Spark SQL expression text over the column (or SQL
parameter) names it is given, so operands must be plain names. This text
is the one definition of each formula: operators/valuate.py applies it
with ``selectExpr``, and functions/sql_udfs.py builds its SQL UDF bodies
from the same functions. The reference's iterrows/apply row loops
(transform_valuation.py:226-306) compile away into one codegen'd
projection. NULL three-valued logic stands in for the reference's NaN
guards: ``NULL > 0`` is NULL, which ``CASE WHEN`` treats as false —
exactly the reference's ``pd.notna(x) and x > 0`` shape.

Double literals carry the ``D`` suffix: a bare ``22.5`` is DECIMAL in
Spark SQL and would turn the arithmetic around it into decimal math.

Provenance tags are produced by CASE chains mirroring the exact guard
order of their value counterparts, so tag and value can never disagree.
"""

from __future__ import annotations

import math

from ..config import ValuationThresholds


def double_literal(x: float) -> str:
    """A finite double as Spark SQL text (``0.9D``); ``repr`` round-trips
    the exact double. Non-finite values have no literal form."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL double literal for non-finite {x!r}")
    return f"{x!r}D"


def graham_value(trailing_eps: str, book_value_per_share: str) -> str:
    """F4 — Graham number: sqrt(22.5 * eps * bvps) iff both > 0, else NULL.

    Reference: _compute_graham_value, transform_valuation.py:181-187.
    """
    e, b = trailing_eps, book_value_per_share
    return f"CASE WHEN {e} > 0 AND {b} > 0 THEN sqrt(22.5D * {e} * {b}) END"


def _growth_pct(earnings_growth: str) -> str:
    """Unit normalization: growth <= 1 is a fraction → ×100, else already %.

    Reference: transform_valuation.py:199.
    """
    g = earnings_growth
    return f"CASE WHEN {g} <= 1 THEN {g} * 100 ELSE {g} END"


def peg_ratio(reported_peg: str, trailing_pe: str, earnings_growth: str) -> str:
    """F5 (value) — reported PEG if > 0, else derived trailing_pe/growth_pct
    when both trailing_pe > 0 and earnings_growth > 0; else NULL.

    Reference: _compute_peg_ratio, transform_valuation.py:190-203.
    """
    r, pe, g = reported_peg, trailing_pe, earnings_growth
    return (
        f"CASE WHEN {r} > 0 THEN {r}"
        f" WHEN {pe} > 0 AND {g} > 0 THEN {pe} / ({_growth_pct(g)}) END"
    )


def peg_ratio_source(
    reported_peg: str, trailing_pe: str, earnings_growth: str
) -> str:
    """F5 (provenance) — 'reported' / 'derived' / 'missing', same guard order
    as :func:`peg_ratio`."""
    r, pe, g = reported_peg, trailing_pe, earnings_growth
    return (
        f"CASE WHEN {r} > 0 THEN 'reported'"
        f" WHEN {pe} > 0 AND {g} > 0 THEN 'derived' ELSE 'missing' END"
    )


def fair_value(
    graham: str,
    target_mean_price: str,
    trailing_eps: str,
    pe_median_used: str,
    forward_eps: str,
    fpe_median_used: str,
) -> str:
    """F7 (value) — fallback chain: graham → analyst target → trailing_eps ×
    sector/overall trailing-PE median → forward_eps × forward-PE median →
    NULL.

    ``pe_median_used`` / ``fpe_median_used`` must already be
    coalesce(sector_median, overall_median) — reference
    transform_valuation.py:164-167 and :172-175.

    Reference: _select_fair_value, transform_valuation.py:152-178.
    """
    return (
        f"CASE WHEN {graham} > 0 THEN {graham}"
        f" WHEN {target_mean_price} > 0 THEN {target_mean_price}"
        f" WHEN {trailing_eps} > 0 AND {pe_median_used} > 0"
        f" THEN {trailing_eps} * {pe_median_used}"
        f" WHEN {forward_eps} > 0 AND {fpe_median_used} > 0"
        f" THEN {forward_eps} * {fpe_median_used} END"
    )


def fair_value_source(
    graham: str,
    target_mean_price: str,
    trailing_eps: str,
    pe_median_used: str,
    forward_eps: str,
    fpe_median_used: str,
) -> str:
    """F7 (provenance) — mirrored guard chain of :func:`fair_value`."""
    return (
        f"CASE WHEN {graham} > 0 THEN 'graham_value'"
        f" WHEN {target_mean_price} > 0 THEN 'target_mean_price'"
        f" WHEN {trailing_eps} > 0 AND {pe_median_used} > 0"
        " THEN 'sector_median_trailing_pe'"
        f" WHEN {forward_eps} > 0 AND {fpe_median_used} > 0"
        " THEN 'sector_median_forward_pe' ELSE 'missing' END"
    )


def margin_of_safety(graham: str, price: str) -> str:
    """F6 — (graham - price) / graham iff graham > 0, else NULL. A NULL price
    propagates to NULL (reference np.where leaves NaN),
    transform_valuation.py:254-258."""
    return f"CASE WHEN {graham} > 0 THEN ({graham} - {price}) / {graham} END"


def tri_state(valid: str, condition: str) -> str:
    """F8 — 'unknown' when not valid, else 'pass'/'fail' on condition.

    Reference: _pass_fail_unknown, transform_valuation.py:206-210.
    ``condition`` is only consulted when ``valid`` is true, so a NULL
    condition under a valid guard yields 'fail' — matching the reference
    where valid implies the operands are non-null.
    """
    return (
        f"CASE WHEN NOT ({valid}) THEN 'unknown'"
        f" WHEN {condition} THEN 'pass' ELSE 'fail' END"
    )


def peg_pass(peg: str, thresholds: ValuationThresholds) -> str:
    """F8 application #1 — valid = peg non-null and > 0; pass when
    peg < peg_max. Reference: transform_valuation.py:260-264."""
    return tri_state(
        f"{peg} IS NOT NULL AND {peg} > 0",
        f"{peg} < {double_literal(thresholds.peg_max)}",
    )


def pe_vs_sector_pass(
    trailing_pe: str, pe_median_used: str, thresholds: ValuationThresholds
) -> str:
    """F8 application #2 — valid = both non-null; pass when
    pe <= median × mult. Reference: transform_valuation.py:266-273."""
    mult = double_literal(thresholds.pe_sector_max_mult)
    return tri_state(
        f"{trailing_pe} IS NOT NULL AND {pe_median_used} IS NOT NULL",
        f"{trailing_pe} <= {pe_median_used} * {mult}",
    )


def margin_of_safety_pass(mos: str, thresholds: ValuationThresholds) -> str:
    """F8 application #3 — valid = mos non-null; pass when mos >= min.
    Reference: transform_valuation.py:275-279."""
    return tri_state(
        f"{mos} IS NOT NULL",
        f"{mos} >= {double_literal(thresholds.margin_of_safety_min)}",
    )


def hunter_verdict(c1: str, c2: str, c3: str) -> str:
    """F9 — 3-way AND with unknown propagation: any 'unknown' → 'unknown';
    all 'pass' → 'pass'; else 'fail'.

    Reference: hunter_classify, transform_valuation.py:281-293.
    """
    return (
        f"CASE WHEN {c1} = 'unknown' OR {c2} = 'unknown' OR {c3} = 'unknown'"
        " THEN 'unknown'"
        f" WHEN {c1} = 'pass' AND {c2} = 'pass' AND {c3} = 'pass' THEN 'pass'"
        " ELSE 'fail' END"
    )


def valuation_class(price: str, fair: str, thresholds: ValuationThresholds) -> str:
    """F10 — threshold classification with inclusive bounds.

    Reference: classify, transform_valuation.py:295-304.
    """
    under = double_literal(thresholds.undervalued)
    over = double_literal(thresholds.overvalued)
    return (
        f"CASE WHEN {price} IS NULL OR {fair} IS NULL OR {fair} <= 0"
        " THEN 'unknown'"
        f" WHEN {price} <= {fair} * {under} THEN 'undervalued'"
        f" WHEN {price} >= {fair} * {over} THEN 'overvalued'"
        " ELSE 'fair' END"
    )


def pct_diff(price: str, fair: str) -> str:
    """F11 — (price - fair) / fair; NULL propagates (no guard, reference
    transform_valuation.py:307)."""
    return f"({price} - {fair}) / {fair}"
