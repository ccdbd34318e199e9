"""Deterministic fixture sources over the driver's parquet tables.

``synthetic_fundamentals`` derives a messy 14-column fundamentals snapshot
(FIXTURES.md §A2) from the ``part`` table with pure modular arithmetic — no
randomness — so the exact same rows can be reproduced by ANSI SQL in DuckDB
(see oracles.FUNDAMENTALS_CTES). Every branch below is mirrored 1:1, in the
same CASE order, by that SQL; change them together or oracle parity breaks.

The derivation deliberately injects every edge the reference's cleanse stage
must handle (transform_valuation.py:99-149): NULL/empty/whitespace/lowercase/
dotted tickers, duplicate tickers (every k ≡ 49 mod 50 clones k-1's symbol),
NULL/empty sectors, a sector whose members all lack trailing_pe (forces the
global-median fallback, transform_valuation.py:236), non-positive prices and
market caps, fraction vs percent earnings growth (the <=1 branch at :199),
and reported/derived/missing PEG inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table stores ``ts`` as parquet TIMESTAMP(MICROS) not
    adjusted to UTC (pyarrow: ``timestamp[us]``). How that surfaces depends
    on the Spark version and on how the file was written, so dispatch on
    the OBSERVED dtype rather than pinning a legacy conf (FIXTURES.md
    §Spark-version notes):

    - Spark 3.4+ (4.1 here): ``timestamp_ntz`` → one session-TZ-free cast
      to ``timestamp`` (session TZ is UTC here). A NANOS file also lands
      here, truncated to µs.
    - A NANOS file on Spark 3.x with
      ``spark.sql.legacy.parquet.nanosAsLong``: ``bigint`` nanos → rebuild
      µs timestamps with integer ``div 1000`` (stays in bigint; a double
      roundtrip would lose precision at ~1.7e18 ns).
    - Plain ``timestamp`` (Spark ≤3.3): passthrough.

    All three land on identical µs values; DuckDB oracles mirror this with
    CAST(ts AS TIMESTAMP)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif dtype != "timestamp":
        raise TypeError(f"events.ts: unexpected parquet dtype {dtype!r}")
    return df


def synthetic_fundamentals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the fundamentals_raw fixture from ``part`` (keeps ``k`` =
    p_partkey as the deterministic fetch-order column for keep-first dedup).

    One ``selectExpr`` of SQL text; double literals carry the ``D`` suffix
    (a bare ``10.0`` is DECIMAL and would change the divisions)."""
    k = "p_partkey"
    base = (
        f"concat('T', CAST(CASE WHEN {k} % 50 = 49 THEN {k} - 1 ELSE {k} END"
        " AS STRING))"
    )
    return load_table(spark, sf_dir, "part").selectExpr(
        f"{k} AS k",
        f"""CASE WHEN {k} % 103 = 0 THEN CAST(NULL AS STRING)
                 WHEN {k} % 101 = 0 THEN ''
                 WHEN {k} % 31 = 0 THEN concat('  ', lower({base}), ' ')
                 WHEN {k} % 41 = 0 THEN concat('T.', substr({base}, 2))
                 WHEN {k} % 3 = 0 THEN lower({base})
                 ELSE {base} END AS ticker""",
        "p_name AS company",
        f"""CASE WHEN {k} % 53 = 0 THEN 'NoPE'
                 WHEN {k} % 19 = 0 THEN CAST(NULL AS STRING)
                 WHEN {k} % 23 = 0 THEN ''
                 ELSE p_brand END AS sector""",
        f"""CAST(CASE WHEN {k} % 17 = 0 THEN NULL
                      WHEN {k} % 13 = 0 THEN -5.0D
                      WHEN {k} % 11 = 0 THEN 0.0D
                      ELSE p_retailprice / 10.0D END AS DOUBLE) AS price""",
        f"""CAST(CASE WHEN {k} % 7 = 0 THEN 0.0D
                      ELSE p_retailprice * 1000000.0D END AS DOUBLE) AS market_cap""",
        f"CASE WHEN {k} % 2 = 0 THEN 'USD' ELSE '' END AS currency",
        f"""CAST(CASE WHEN {k} % 53 = 0 THEN NULL
                      WHEN {k} % 5 = 0 THEN NULL
                      WHEN {k} % 29 = 0 THEN -3.0D
                      ELSE ({k} % 40) + p_size / 10.0D END AS DOUBLE) AS trailing_pe""",
        f"""CAST(CASE WHEN {k} % 6 = 0 THEN NULL
                      ELSE ({k} % 35) + 1.5D END AS DOUBLE) AS forward_pe""",
        f"CAST(({k} % 21) - 4.0D AS DOUBLE) AS trailing_eps",
        f"CAST((({k} % 15) - 3.0D) * 1.2D AS DOUBLE) AS forward_eps",
        f"""CAST(CASE WHEN {k} % 9 = 0 THEN NULL
                      WHEN {k} % 4 = 0 THEN 0.15D
                      WHEN {k} % 4 = 1 THEN 15.0D
                      WHEN {k} % 4 = 2 THEN 0.0D
                      ELSE -0.05D END AS DOUBLE) AS earnings_growth""",
        f"""CAST(CASE WHEN {k} % 8 = 0 THEN 1.2D
                      WHEN {k} % 8 = 1 THEN -0.5D
                      WHEN {k} % 8 = 2 THEN 0.0D
                      ELSE NULL END AS DOUBLE) AS peg_ratio""",
        f"CAST((({k} % 25) - 5.0D) * 2.0D AS DOUBLE) AS book_value_per_share",
        f"""CAST(CASE WHEN {k} % 10 = 0 THEN 50.0D
                      WHEN {k} % 10 = 1 THEN -10.0D
                      ELSE NULL END AS DOUBLE) AS target_mean_price""",
    )
