"""Output stage — P1 run-metadata prepend, P2 ordered projection, S7 CSV sink.

Reference: pipeline_job.py:21-61 (projection) and :130-142 (sink).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import ordered_projection, sql_name


def prepend_run_metadata(
    df: DataFrame, as_of_date: str, run_ts_utc: str
) -> DataFrame:
    """P1 — insert literal `as_of_date`, `run_ts_utc` at positions 0,1
    (pipeline_job.py:24-26). Callers pass a pinned clock for deterministic
    runs or current-date/timestamp strings for live runs (F12). Both are
    outside input, so they are bound as literals, never spliced into SQL
    text."""
    return df.select(
        F.lit(as_of_date).alias("as_of_date"),
        F.lit(run_ts_utc).alias("run_ts_utc"),
        "*",
    )


def build_output(df: DataFrame, as_of_date: str, run_ts_utc: str) -> DataFrame:
    """P1 + P2 — metadata prepend then preference-order projection with
    unknown-extras passthrough (pipeline_job.py:28-61)."""
    out = prepend_run_metadata(df, as_of_date, run_ts_utc)
    return out.selectExpr(*map(sql_name, ordered_projection(out.columns)))


def write_single_csv(df: DataFrame, path: str) -> str:
    """S7 — exact single-file CSV with header (pipeline_job.py:130-142).

    Spark writes a directory of part files; for the reference's
    one-file-contract we coalesce to a single partition and rename the part
    file. Only for final small outputs (the reference's output is ~101 rows);
    large results should use the partitioned parquet sink instead.
    """
    tmp = path + ".__tmp__"
    try:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
        parts = glob.glob(os.path.join(tmp, "part-*.csv"))
        if not parts:
            raise RuntimeError(
                f"CSV sink produced no part-*.csv under {tmp!r} — "
                "check writer options (e.g. compression) and task logs"
            )
        shutil.move(parts[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_dated_partition(df: DataFrame, base_dir: str, as_of_date: str) -> str:
    """The dated-copy convention (pipeline_job.py:137-142) generalized to a
    date-partitioned parquet table: downstream latest-file consumers (S11/D3)
    become max-partition pruning instead of filename regex scans."""
    out = df.withColumn("as_of_date", F.lit(as_of_date))
    out.write.mode("overwrite").partitionBy("as_of_date").parquet(base_dir)
    return base_dir
