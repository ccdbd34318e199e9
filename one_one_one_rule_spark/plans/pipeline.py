"""End-to-end valuation pipeline plan (reference pipeline_job.py:83-186).

One DataFrame chain: fundamentals source → cleanse → valuate → ordered
output. Every row-wise projection is Spark SQL expression text applied
with one ``selectExpr`` per dependency layer, so building the plan costs a
few hundred JVM calls rather than thousands of ``Column`` calls.

The cleansed snapshot is the one materialization: valuation reads it three
times (the row path, the sector medians and the overall medians), and
column pruning gives each reader a different scan, so no exchange is
shared. A lazy ``localCheckpoint`` plans the cleanse subtree once; with
AQE on, planning its execution runs the dedup shuffle (construction pays
that one job), and the first action fills the checkpoint that all three
readers then scan. Like the repo's other ``localCheckpoint`` sites, a
lost executor fails the run instead of recomputing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import (
    DEFAULT_THRESHOLDS,
    FIXED_AS_OF_DATE,
    FIXED_RUN_TS_UTC,
    ValuationThresholds,
)
from ..operators.cleanse import cleanse_fundamentals
from ..operators.output import build_output
from ..operators.valuate import apply_valuation
from ..schemas import OUTPUT_ORDER
from ..sources.fixtures import synthetic_fundamentals


def valuation_pipeline(
    fundamentals: DataFrame,
    order_col: str | None = None,
    thresholds: ValuationThresholds = DEFAULT_THRESHOLDS,
    as_of_date: str = FIXED_AS_OF_DATE,
    run_ts_utc: str = FIXED_RUN_TS_UTC,
) -> DataFrame:
    """cleanse → valuate → 29-column ordered output over any raw
    fundamentals snapshot DataFrame."""
    cleansed = cleanse_fundamentals(fundamentals, order_col=order_col)
    valued = apply_valuation(cleansed.localCheckpoint(eager=False), thresholds)
    out = build_output(valued, as_of_date, run_ts_utc)
    # Drop non-canonical passthrough extras (e.g. the fixture order column);
    # build_output put them last, so the canonical order is kept.
    return out.drop(*[c for c in out.columns if c not in OUTPUT_ORDER])


def run_fixture_pipeline(
    spark: SparkSession,
    sf_dir: str,
    thresholds: ValuationThresholds = DEFAULT_THRESHOLDS,
) -> DataFrame:
    """Flagship query: the full valuation screen over the deterministic
    fundamentals fixture derived from ``part``."""
    raw = synthetic_fundamentals(spark, sf_dir)
    return valuation_pipeline(raw, order_col="k", thresholds=thresholds)
