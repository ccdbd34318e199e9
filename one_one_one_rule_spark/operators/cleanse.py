"""Cleanse stage — reference cleanse_fundamentals (transform_valuation.py:99-149)
as a single lazy DataFrame chain.

Pipeline: normalize ticker (F3) → drop null/empty (P3) → keep-first dedup
(D1, deterministic via explicit order column) → coerce numerics to double
with NaN/±inf→NULL (U6+P5) → non-positive price/market_cap→NULL (P4) →
sector fill (P6). Each projection is Spark SQL expression text
(functions/cleansing.py) applied with one ``selectExpr``.

Scale notes (100 TB): the only shuffle here is the dedup's hash partition by
ticker; everything else is a narrow projection that fuses into one
whole-stage-codegen pass over the scan. With AQE on, skewed ticker keys are
split automatically. If the source is already bucketed/partitioned by ticker
the shuffle is elided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.cleansing import (
    fill_unknown,
    normalize_symbol,
    null_if_nonpositive,
    to_clean_double,
)
from ..schemas import SNAPSHOT_NUMERIC_COLS, sql_name


def keep_first_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """D1 — deterministic keep-first dedup.

    pandas ``drop_duplicates(keep='first')`` (transform_valuation.py:113) is
    order-sensitive; Spark's ``dropDuplicates`` keeps an arbitrary row, so we
    pin the reference semantics with row_number over an explicit order column.
    One shuffle on ``keys``; map-side nothing to combine (row_number needs the
    full group), but groups are tiny (duplicate tickers), so this is safe at
    any scale.
    """
    by = ", ".join(sql_name(k) for k in keys)
    rn = f"row_number() OVER (PARTITION BY {by} ORDER BY {sql_name(order_col)} ASC)"
    return df.selectExpr("*", f"{rn} AS __rn").filter("__rn = 1").drop("__rn")


def _cleansed(column: str, numeric_cols: list[str]) -> str:
    """The cleanse projection of one column: numerics coerced (U6+P5),
    non-positive price/market_cap NULLed (P4), sector filled (P6)."""
    name = sql_name(column)
    expr = to_clean_double(name) if column in numeric_cols else name
    if column in ("price", "market_cap"):
        expr = null_if_nonpositive(expr)
    elif column == "sector":
        expr = fill_unknown(expr)
    return name if expr == name else f"{expr} AS {name}"


def cleanse_fundamentals(
    df: DataFrame,
    order_col: str | None = None,
    numeric_cols: list[str] | None = None,
) -> DataFrame:
    """Full cleanse stage over a raw fundamentals snapshot.

    ``order_col``: column defining "first" for the keep-first dedup (the
    reference's fetch order). When None, a monotonically increasing id is
    used — deterministic only for single-partition or already-ordered input,
    so callers that need oracle parity must pass a real key.
    """
    columns = df.columns
    numeric_cols = numeric_cols or [c for c in SNAPSHOT_NUMERIC_COLS if c in columns]

    normalized = [
        f"{normalize_symbol('ticker')} AS ticker" if c == "ticker" else sql_name(c)
        for c in columns
    ]
    if order_col is None:
        order_col = "__src_order"
        normalized.append(f"monotonically_increasing_id() AS {order_col}")
    df = df.selectExpr(*normalized).filter("ticker IS NOT NULL AND ticker <> ''")
    df = keep_first_dedup(df, ["ticker"], order_col)
    # the explicit projection also drops the synthetic order column
    return df.selectExpr(*[_cleansed(c, numeric_cols) for c in columns])
