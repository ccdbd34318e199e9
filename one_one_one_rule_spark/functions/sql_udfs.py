"""SQL-surface registration of the valuation scalar functions.

The reference exposes its valuation math only through Python
(transform_valuation.py); its downstream SQL consumers (the Looker layer,
analyze_looker_studio.gs) re-implement the guarded ratios by hand. On
Spark the engine can hand SQL users the SAME definitions: Spark 4 SQL
scalar UDFs (``CREATE FUNCTION ... RETURNS ... RETURN <expr>``) compile
to ordinary Catalyst expressions — inlined into the plan, codegen'd,
pushdown-compatible — so there is no Python-worker or JVM-UDF penalty at
any scale. :func:`register_sql_udfs` installs temporary functions whose
bodies ARE the functions/valuation.py text, so the SQL surface and the
pipeline share one definition of each formula; tests assert they agree
row-for-row with apply_valuation's columns.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import valuation as V

#: name -> DOUBLE parameters, passed to the same-named valuation.py builder
_PARAMS: dict[str, tuple[str, ...]] = {
    "graham_value": ("trailing_eps", "bvps"),
    "margin_of_safety": ("graham", "price"),
    "peg_ratio": ("reported_peg", "trailing_pe", "growth"),
    "pct_diff": ("price", "fair"),
}

# name -> (signature, body)
SQL_UDFS: dict[str, tuple[str, str]] = {
    name: (
        "(" + ", ".join(f"{p} DOUBLE" for p in params) + ") RETURNS DOUBLE",
        getattr(V, name)(*params),
    )
    for name, params in _PARAMS.items()
}


def register_sql_udfs(spark: SparkSession) -> None:
    """Install the valuation scalar functions as session-scoped SQL UDFs."""
    for name, (sig, body) in SQL_UDFS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} RETURN {body}"
        )
