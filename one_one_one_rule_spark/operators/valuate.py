"""Valuation stage — reference apply_valuation (transform_valuation.py:213-309)
as one lazy DataFrame plan.

Physical shape, chosen for 100 TB:
  - sector medians (A1) via groupBy().agg() — partial aggregation map-side,
    result is #sectors rows → broadcast joined back (J1). The fact table is
    NEVER shuffled for the attach; compare Window.partitionBy('sector'),
    which would shuffle every row into #sectors hot partitions.
  - overall medians (A2) via a 1-row agg, attached with a broadcast
    cross join (J2's fillna ≡ coalesce).
  - every per-row formula (F4-F11) is Spark SQL expression text from
    functions/valuation.py, one ``selectExpr`` per dependency layer; the
    whole post-join stage is one codegen'd projection.

The input is read three times (row path, A1, A2) and stays lazy here:
plans/declarative.py calls this inside an SDP dataset definition. The
daily pipeline materializes its cleansed input once, ahead of this stage
(plans/pipeline.py).

Medians are exact (median(), an interpolating percentile), which duckdb-oracle
parity requires (SURVEY §4); at extreme scale the swap is
percentile_approx(0.5), which is single-pass and mergeable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_THRESHOLDS, ValuationThresholds
from ..functions import valuation as V
from ..schemas import sql_name


def sector_median_stats(df: DataFrame) -> DataFrame:
    """A1 — per-sector exact medians of trailing/forward PE
    (transform_valuation.py:216-219)."""
    return df.groupBy("sector").agg(
        F.expr("median(trailing_pe) AS sector_median_pe"),
        F.expr("median(forward_pe) AS sector_median_fpe"),
    )


def overall_median_stats(df: DataFrame) -> DataFrame:
    """A2 — global medians (1-row DataFrame)."""
    return df.selectExpr(
        "median(trailing_pe) AS overall_median_pe",
        "median(forward_pe) AS overall_median_fpe",
    )


def apply_valuation(
    df: DataFrame,
    thresholds: ValuationThresholds = DEFAULT_THRESHOLDS,
) -> DataFrame:
    """Compute valuation metrics + classification labels on a cleansed
    fundamentals DataFrame. Adds the same columns as the reference:
    graham_value, peg_ratio (overwritten), peg_ratio_source, sector_median_pe,
    pe_median_used, fair_value, fair_value_source, margin_of_safety, the three
    tri-state checks, valuation_hunter, valuation, pct_diff.

    Each dependency layer of formulas is one ``selectExpr`` over the
    functions/valuation.py text.
    """
    sector_stats = sector_median_stats(df)
    overall = overall_median_stats(df)

    out = df.join(F.broadcast(sector_stats), on="sector", how="left").crossJoin(
        F.broadcast(overall)
    )

    # peg_ratio is replaced in place; peg_ratio_source, in the same
    # projection, still reads the reported value
    peg_args = ("peg_ratio", "trailing_pe", "earnings_growth")
    out = out.selectExpr(
        *[f"{V.peg_ratio(*peg_args)} AS peg_ratio" if c == "peg_ratio"
          else sql_name(c) for c in out.columns],
        f"{V.graham_value('trailing_eps', 'book_value_per_share')}"
        " AS graham_value",
        f"{V.peg_ratio_source(*peg_args)} AS peg_ratio_source",
        "coalesce(sector_median_pe, overall_median_pe) AS pe_median_used",
        "coalesce(sector_median_fpe, overall_median_fpe) AS fpe_median_used",
    )

    fair_args = (
        "graham_value",
        "target_mean_price",
        "trailing_eps",
        "pe_median_used",
        "forward_eps",
        "fpe_median_used",
    )
    out = out.selectExpr(
        "*",
        f"{V.fair_value(*fair_args)} AS fair_value",
        f"{V.fair_value_source(*fair_args)} AS fair_value_source",
        f"{V.margin_of_safety('graham_value', 'price')} AS margin_of_safety",
    )

    out = out.selectExpr(
        "*",
        f"{V.peg_pass('peg_ratio', thresholds)} AS peg_pass",
        f"{V.pe_vs_sector_pass('trailing_pe', 'pe_median_used', thresholds)}"
        " AS pe_vs_sector_pass",
        f"{V.margin_of_safety_pass('margin_of_safety', thresholds)}"
        " AS margin_of_safety_pass",
    )

    checks = ("peg_pass", "pe_vs_sector_pass", "margin_of_safety_pass")
    out = out.selectExpr(
        "*",
        f"{V.hunter_verdict(*checks)} AS valuation_hunter",
        f"{V.valuation_class('price', 'fair_value', thresholds)} AS valuation",
        f"{V.pct_diff('price', 'fair_value')} AS pct_diff",
    )

    return out.drop("overall_median_pe", "overall_median_fpe", "sector_median_fpe", "fpe_median_used")
