"""Dashboard calculated fields (the Looker Studio surface, README.md:252-292).

The reference documents these as downstream calculated fields; here they are
first-class, testable Column builders (F17) and aggregates (A3-A4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def mos_bucket(mos: Column) -> Column:
    """F17 — margin-of-safety bucketing (README.md:271-281)."""
    return (
        F.when(mos.isNull(), F.lit("unknown"))
        .when(mos >= 0.25, F.lit(">=25%"))
        .when(mos >= 0.10, F.lit("10-25%"))
        .when(mos >= 0, F.lit("0-10%"))
        .otherwise(F.lit("<0%"))
    )


def valuation_hunter_flag(verdict: Column) -> Column:
    """F17 — UPPER(valuation_hunter) (README.md:283-285)."""
    return F.upper(verdict)


def undervalued_count(valuation: Column) -> Column:
    """A3 — SUM(CASE WHEN valuation='undervalued' THEN 1 ELSE 0 END)
    (README.md:287-288)."""
    return F.sum(F.when(valuation == "undervalued", 1).otherwise(0)).cast("bigint")


def hunter_pass_rate(verdict: Column, ticker: Column) -> Column:
    """A4 — pass count / ticker count (README.md:290-291)."""
    return (
        F.sum(F.when(verdict == "pass", 1).otherwise(0)).cast("double")
        / F.count(ticker)
    )
