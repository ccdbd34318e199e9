"""Explicit schemas and canonical column orders.

Reference data model (SURVEY.md §1): one flat relational table; strings +
doubles only; missing numerics are NULL (the engine-wide normalization of the
reference's NaN-as-missing convention, transform_valuation.py:12-19).
"""

from __future__ import annotations

from pyspark.sql.types import DoubleType, StringType, StructField, StructType

#: 14-field per-ticker snapshot (transform_valuation.py:72-87).
SNAPSHOT_NUMERIC_COLS = [
    "price",
    "market_cap",
    "trailing_pe",
    "forward_pe",
    "trailing_eps",
    "forward_eps",
    "earnings_growth",
    "peg_ratio",
    "book_value_per_share",
    "target_mean_price",
]

SNAPSHOT_STRING_COLS = ["ticker", "company", "sector", "currency"]

SNAPSHOT_SCHEMA = StructType(
    [StructField("ticker", StringType(), False)]
    + [
        StructField(c, StringType(), True)
        for c in ("company", "sector", "currency")
    ]
    + [StructField(c, DoubleType(), True) for c in SNAPSHOT_NUMERIC_COLS]
)

#: Canonical ~29-column output preference order (pipeline_job.py:28-58).
#: Present columns are emitted in this order; unknown extras are appended
#: (pipeline_job.py:60-61).
OUTPUT_ORDER = [
    "as_of_date",
    "run_ts_utc",
    "ticker",
    "company",
    "sector",
    "price",
    "peg_ratio",
    "peg_ratio_source",
    "trailing_pe",
    "sector_median_pe",
    "pe_median_used",
    "forward_pe",
    "earnings_growth",
    "trailing_eps",
    "forward_eps",
    "book_value_per_share",
    "graham_value",
    "margin_of_safety",
    "peg_pass",
    "pe_vs_sector_pass",
    "margin_of_safety_pass",
    "valuation_hunter",
    "fair_value",
    "fair_value_source",
    "valuation",
    "pct_diff",
    "currency",
    "market_cap",
    "target_mean_price",
]


def ordered_projection(columns: list[str]) -> list[str]:
    """P2 — preference-order projection with passthrough of unknown extras
    (pipeline_job.py:60-61)."""
    ordered = [c for c in OUTPUT_ORDER if c in columns]
    extras = [c for c in columns if c not in OUTPUT_ORDER]
    return ordered + extras


def sql_name(column: str) -> str:
    """A column name quoted as a Spark SQL identifier, for expression
    text (``order`` is a keyword; names may hold dots or backticks)."""
    return "`" + column.replace("`", "``") + "`"
