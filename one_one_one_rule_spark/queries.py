"""Query registry — every oracle-checked query (SURVEY.md §2 inventory).

Each entry is a pair: a Spark query function ``(spark, sf_dir) -> DataFrame``
and (for SQL-expressible ops) a DuckDB oracle string over the same parquet
tables. Column names/aliases match exactly between the two; numeric outputs
follow the determinism rules documented in oracles.py.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracles
from . import oracles_ann as _ora_ann
from .analytics import looker
from .config import DEFAULT_THRESHOLDS, FIXED_AS_OF_DATE, FIXED_RUN_TS_UTC
from .functions.cleansing import normalize_symbol
from .operators.cleanse import cleanse_fundamentals
from .operators.valuate import apply_valuation, sector_median_stats
from .plans.pipeline import run_fixture_pipeline
from .sources.fixtures import load_table, synthetic_fundamentals

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_session_tmp_root: str | None = None


def _session_tmp_dir(prefix: str) -> str:
    """Temp dir under a per-process root removed at interpreter exit.

    Gate queries that hand a directory to Spark (streaming sinks whose
    output must outlive the query function so the caller can collect it)
    allocate here instead of bare ``tempfile.mkdtemp`` — otherwise a full
    registry run leaks one sink directory per invocation."""
    global _session_tmp_root
    import atexit
    import shutil
    import tempfile

    if _session_tmp_root is None:
        _session_tmp_root = tempfile.mkdtemp(prefix="ooor_spark_gates_")
        atexit.register(shutil.rmtree, _session_tmp_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_session_tmp_root)


def _stage_slices(
    df: DataFrame, preds: list[str], root: str
) -> list[str | None]:
    """Stage the rows of ``df`` matching each SQL predicate in ``preds``
    as one parquet file per slice, ``{root}/{i:03d}.parquet``, with ONE
    Spark job: a slice-number column, one task and a partitioned write
    (the three-job form paid a job submit, scan and commit per slice).
    The write's own directory (``_SUCCESS``, the ``stage_slice=i/``
    folders and their ``.crc`` files) is removed once the files are
    moved up, so ``root`` holds only the slice files. The predicates
    should be disjoint: a row lands in the first slice it matches.
    Returns each slice's file path, or None for a slice with no rows."""
    import glob
    import shutil

    out = f"{root}/w"
    case = " ".join(f"WHEN {p} THEN {i}" for i, p in enumerate(preds))
    (
        df.withColumn("stage_slice", F.expr(f"CASE {case} END"))
        .filter("stage_slice IS NOT NULL")
        .coalesce(1)
        .write.partitionBy("stage_slice")
        .parquet(out)
    )
    staged: list[str | None] = []
    for i in range(len(preds)):
        path = next(iter(glob.glob(f"{out}/stage_slice={i}/*.parquet")), None)
        if path is not None:
            path = shutil.move(path, f"{root}/{i:03d}.parquet")
        staged.append(path)
    shutil.rmtree(out)
    return staged


def _stage_parquet_slices(
    df: DataFrame, preds: list[str], prefix: str
) -> str:
    """Stage the rows of ``df`` matching each SQL predicate in ``preds``
    as ONE parquet file per slice in a fresh staging dir (under the
    session temp root), mtimes in slice order, so a
    ``maxFilesPerTrigger=1`` file stream replays them as separate
    micro-batches — the dated-file delivery convention the reference's
    Drive folder implies. Shared by every multi-batch streaming gate
    (outer-join watermark flush, late-data drop, sketch merges) AND their
    mechanism tests, so the staging recipe cannot drift between a gate
    and the test that probes it.

    All slices are written by ONE Spark job (``_stage_slices``) straight
    into the returned dir as ``{i:03d}.parquet``. A slice with no rows
    stages no file and so gets no micro-batch; the later slices keep
    their order. The caller removes the dir once its stream is
    drained."""
    import os

    src = _session_tmp_dir(prefix)
    for i, path in enumerate(_stage_slices(df, preds, src)):
        if path is not None:
            os.utime(path, (1700000000 + i, 1700000000 + i))
    return src


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_drain_start_lock = threading.Lock()


def _drain(spark, writer, state_partitions: int = 4, *, process_all=False):
    """Start the configured ``DataStreamWriter`` and block until its
    stream is drained — the one way a gate runs a streaming query: the
    memory sink (``_drain_stream``), foreachBatch writers, and
    ``process_all=True`` (``processAllAvailable`` on the default trigger)
    for sources that availableNow cannot drain. Returns the stopped
    query, whose ``recentProgress`` stays readable.

    State partitions: a stateful operator keeps one state store per
    shuffle partition (two per side for stream-stream joins), and each
    store pays a fixed setup/commit cost every micro-batch (~40-55 ms
    per store instance in a round-13 sweep, not bytes-bound: it was
    mostly ``readlink``/``chmod`` process spawns in Hadoop's local
    filesystem, and the FileSystem checkpoint manager ``get_spark`` pins
    removed the ``readlink`` ones, taking the benchmark gates'
    ``stream.state_commit_ms`` from 671 to 45 ms per op on a 4-vCPU
    host), so the
    session default (32) is pure overhead at gate scale; 4 measured best
    for the JVM-stateful gates. The request is capped at the task slots
    (``defaultParallelism``): partitions past the slots only add task
    waves, and each Python task pays a fixed cost. That cost used to be
    ~0.25 s of Python CPU whatever the task's row count: PySpark
    invalidates the import caches at every task, and each zipimporter
    then re-read ``pyspark.zip``'s directory. The worker daemon that
    ``get_spark`` configures skips re-reads of unchanged archives; a
    traced ``stream_gates`` op of the applyInPandasWithState gate
    (``local[4]``, 4 vCPUs) went 0.99 → 0.38 s of Python-worker CPU.
    Results are partition-count-invariant. At
    production scale the count is sized to cluster cores x state volume;
    a checkpoint fixes it at first start.

    Conf: ``spark.sql.shuffle.partitions`` is set only across
    ``start()`` and restored at once. The query clones the session conf
    when it is created, so its partition count is fixed once ``start()``
    returns, and the caller's session never shows the pin while a batch
    runs. A lock keeps concurrent drains from restoring each other's
    value. ``spark.newSession()`` would avoid the window but is ruled
    out: a listener on the caller's session sees no events from a child
    session's queries."""
    if not process_all:
        writer = writer.trigger(availableNow=True)
    n = min(state_partitions, spark.sparkContext.defaultParallelism)
    with _drain_start_lock:
        old = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(n))
        try:
            q = writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, old)
    try:
        if process_all:
            q.processAllAvailable()
        else:
            q.awaitTermination()
    finally:
        # a default-trigger query runs until stopped; stop it even when
        # the drain raises, or it keeps polling its source
        q.stop()
    return q


def _drain_stream(
    spark: SparkSession, sdf: DataFrame, name: str, mode: str,
    state_partitions: int = 4, *, process_all: bool = False,
) -> DataFrame:
    """Drain ``sdf`` into a memory-sink table through ``_drain`` and
    return it."""
    _drain(
        spark,
        sdf.writeStream.format("memory").queryName(name).outputMode(mode),
        state_partitions,
        process_all=process_all,
    )
    out = spark.table(name)
    # The resolved DataFrame pins the memory-sink relation; dropping the
    # uuid-suffixed catalog entry immediately keeps a full registry run from
    # accumulating one stray temp view per drained gate.
    spark.catalog.dropTempView(name)
    return out


def _drain_foreach_batch(spark: SparkSession, sdf: DataFrame, fn) -> None:
    """Drain ``sdf`` through the foreachBatch callback ``fn`` (with its
    own checkpoint) via ``_drain``."""
    ckpt = _session_tmp_dir("fb_ckpt_")
    _drain(
        spark,
        sdf.writeStream.foreachBatch(fn).option("checkpointLocation", ckpt),
    )


# the events table as staged slice files store it (ts already cast)
_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint,"
    " event_type string, value double, props string"
)

# the three event-time slices the dated-file gates (outer joins, resume)
# and their mechanism tests stage, one file each; the fixture spans
# through 2024-01-30 at every SF
_TIME_SLICES = [
    "ts < TIMESTAMP '2024-01-27 00:00:00'",
    "ts >= TIMESTAMP '2024-01-27 00:00:00'"
    " AND ts < TIMESTAMP '2024-01-29 00:00:00'",
    "ts >= TIMESTAMP '2024-01-29 00:00:00'",
]


def _staged_stream(spark: SparkSession, src: str, schema: str) -> DataFrame:
    """File stream over ``_stage_parquet_slices`` output: one staged file
    per micro-batch, in slice order. The staged files hold every column
    of the staged frame; the declared ``schema`` reads only the columns
    the gate uses, so callers stage whole frames instead of projecting
    each slice."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )


def _write_batch_partial(df, store: str, batch_id: int) -> None:
    """Idempotent foreachBatch partial write: each micro-batch's output
    goes to a deterministic batchId-keyed subdir in OVERWRITE mode, so a
    retried micro-batch (foreachBatch is at-least-once) replaces its own
    partial instead of double-appending — a retry can no longer
    double-count sketch cells or duplicate sample rows. Read the store
    back with ``_read_batch_partials``."""
    df.write.mode("overwrite").parquet(f"{store}/batch-{batch_id:05d}")


def _read_batch_partials(spark, store: str):
    """Read every batch partial under ``store`` (recursive lookup — the
    subdirs are batchId-keyed, not partition key=value dirs)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(store)


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _cleansed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cleanse_fundamentals(
        synthetic_fundamentals(spark, sf_dir), order_col="k"
    )


def _valued(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_valuation(_cleansed(spark, sf_dir), DEFAULT_THRESHOLDS)


# ---------------------------------------------------------------------------
# Valuation suite (reference pipeline: cleanse → valuate → project)
# ---------------------------------------------------------------------------

_VALUATION_FULL_COLS = [
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


@register(
    "valuation_full",
    oracles.with_valued(
        f"""
SELECT '{FIXED_AS_OF_DATE}' AS as_of_date,
       '{FIXED_RUN_TS_UTC}' AS run_ts_utc,
       ticker, company, sector, price,
       peg_final AS peg_ratio, peg_ratio_source,
       trailing_pe, sector_median_pe, pe_median_used,
       forward_pe, earnings_growth, trailing_eps, forward_eps,
       book_value_per_share, graham_value, margin_of_safety,
       peg_pass, pe_vs_sector_pass, margin_of_safety_pass, valuation_hunter,
       fair_value, fair_value_source, valuation, pct_diff,
       currency, market_cap, target_mean_price
FROM valued
"""
    ),
)
def valuation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full 29-column valuation screen (pipeline_job.py:83-186)."""
    return run_fixture_pipeline(spark, sf_dir).select(*_VALUATION_FULL_COLS)


@register(
    "fundamentals_cleanse",
    oracles.with_cleansed(
        """
SELECT ticker, company, sector, price, market_cap, currency,
       trailing_pe, forward_pe, trailing_eps, forward_eps,
       earnings_growth, peg_ratio, book_value_per_share, target_mean_price
FROM cleansed
"""
    ),
)
def fundamentals_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleanse stage alone: F3/P3/D1/U6/P5/P4/P6
    (transform_valuation.py:99-149)."""
    return _cleansed(spark, sf_dir).drop("k")


@register(
    "fundamentals_fetch",
    """
WITH t AS (
  SELECT s_suppkey AS n,
         'T' || CAST(s_suppkey AS VARCHAR) AS ticker
  FROM supplier
)
SELECT
  ticker,
  CASE WHEN n % 11 = 0 THEN 'Long ' || CAST(n AS VARCHAR)
       ELSE 'Info ' || CAST(n AS VARCHAR) END AS company,
  CASE WHEN n % 17 = 0 THEN 'Unknown'
       ELSE 'SEC' || CAST(n % 7 AS VARCHAR) END AS sector,
  CASE WHEN n % 3 = 0 THEN CAST(n AS DOUBLE) / 10.0e0 + 0.25e0
       ELSE CAST(n AS DOUBLE) / 10.0e0 END AS price,
  CASE WHEN n % 4 = 0 THEN CAST(n AS DOUBLE) * 2000000.0e0
       ELSE CAST(n AS DOUBLE) * 1000000.0e0 END AS market_cap,
  CASE WHEN n % 2 = 0 THEN 'USD' ELSE '' END AS currency,
  CASE WHEN n % 5 = 0 THEN NULL
       ELSE CAST(n % 40 AS DOUBLE) + 0.5e0 END AS trailing_pe,
  CASE WHEN n % 6 = 0 THEN NULL
       ELSE CAST(n % 35 AS DOUBLE) + 1.5e0 END AS forward_pe,
  CAST(n % 21 AS DOUBLE) - 4.0e0 AS trailing_eps,
  (CAST(n % 15 AS DOUBLE) - 3.0e0) * 1.2e0 AS forward_eps,
  CASE WHEN n % 9 = 0 THEN NULL
       WHEN n % 4 = 0 THEN 0.15e0
       WHEN n % 4 = 1 THEN 15.0e0
       WHEN n % 4 = 2 THEN 0.0e0
       ELSE -0.05e0 END AS earnings_growth,
  CASE WHEN n % 8 = 0 THEN 1.2e0
       WHEN n % 8 = 1 THEN -0.5e0
       ELSE NULL END AS peg_ratio,
  (CAST(n % 25 AS DOUBLE) - 5.0e0) * 2.0e0 AS book_value_per_share,
  CASE WHEN n % 10 = 0 THEN 50.0e0 ELSE NULL END AS target_mean_price
FROM t
""",
)
def fundamentals_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/F2 gate — the distributed ``mapInPandas`` fetch path run
    end-to-end with the deterministic injected fetcher (the live yfinance
    call swapped for arithmetic the oracle reproduces; every per-field
    coalesce chain exercised). Reference: transform_valuation.py:42-96."""
    from .sources.yfinance_source import (
        fetch_fundamentals_distributed,
        fixture_fetch,
    )

    tickers = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("T"), F.col("s_suppkey").cast("string")).alias(
            "symbol"
        )
    )
    return fetch_fundamentals_distributed(
        tickers, fetch_fn=fixture_fetch, parallelism=8
    )


@register(
    "sector_medians",
    oracles.with_cleansed(
        """
SELECT sector,
       median(trailing_pe) AS sector_median_pe,
       median(forward_pe) AS sector_median_fpe
FROM cleansed GROUP BY sector
"""
    ),
)
def sector_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — exact interpolating per-sector medians
    (transform_valuation.py:216-219)."""
    return sector_median_stats(_cleansed(spark, sf_dir))


@register(
    "graham_peg",
    oracles.with_valued(
        """
SELECT ticker, graham_value, peg_final AS peg_ratio, peg_ratio_source
FROM valued
"""
    ),
)
def graham_peg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 + F5 — Graham number and provenance-tagged PEG
    (transform_valuation.py:181-203)."""
    return _valued(spark, sf_dir).select(
        "ticker", "graham_value", "peg_ratio", "peg_ratio_source"
    )


@register(
    "valuation_screen_stats",
    oracles.with_valued(
        """
SELECT sector,
       CAST(COUNT(*) AS BIGINT) AS n_tickers,
       CAST(SUM(CASE WHEN valuation = 'undervalued' THEN 1 ELSE 0 END) AS BIGINT) AS undervalued_count,
       CAST(SUM(CASE WHEN valuation_hunter = 'pass' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(ticker) AS hunter_pass_rate
FROM valued
GROUP BY sector
"""
    ),
)
def valuation_screen_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + A4 — Looker aggregate fields per sector (README.md:287-291)."""
    v = _valued(spark, sf_dir)
    return v.groupBy("sector").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tickers"),
        looker.undervalued_count(F.col("valuation")).alias("undervalued_count"),
        looker.hunter_pass_rate(F.col("valuation_hunter"), F.col("ticker")).alias(
            "hunter_pass_rate"
        ),
    )


@register(
    "looker_mos_buckets",
    oracles.with_valued(
        """
SELECT CASE WHEN margin_of_safety IS NULL THEN 'unknown'
            WHEN margin_of_safety >= 0.25 THEN '>=25%'
            WHEN margin_of_safety >= 0.10 THEN '10-25%'
            WHEN margin_of_safety >= 0 THEN '0-10%'
            ELSE '<0%' END AS mos_bucket,
       upper(valuation_hunter) AS valuation_hunter_flag,
       CAST(COUNT(*) AS BIGINT) AS n
FROM valued
GROUP BY 1, 2
"""
    ),
)
def looker_mos_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 — margin-of-safety bucketing + hunter flag, aggregated
    (README.md:271-285)."""
    v = _valued(spark, sf_dir)
    return (
        v.select(
            looker.mos_bucket(F.col("margin_of_safety")).alias("mos_bucket"),
            looker.valuation_hunter_flag(F.col("valuation_hunter")).alias(
                "valuation_hunter_flag"
            ),
        )
        .groupBy("mos_bucket", "valuation_hunter_flag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "tickers_normalized",
    oracles.with_fundamentals(
        """
SELECT DISTINCT replace(upper(trim(ticker)), '.', '-') AS symbol
FROM fundamentals
WHERE ticker IS NOT NULL AND replace(upper(trim(ticker)), '.', '-') <> ''
"""
    ),
)
def tickers_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 + D2 — normalized sorted-distinct ticker universe
    (extract_tickers.py:12-18,41)."""
    raw = synthetic_fundamentals(spark, sf_dir)
    sym = F.expr(normalize_symbol("ticker"))
    return (
        raw.filter(F.col("ticker").isNotNull())
        .select(sym.alias("symbol"))
        .filter(F.col("symbol") != "")
        .distinct()
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# General relational surface (SURVEY.md §2.4-§2.6, §2.8 over TPC-H-style tables)
# ---------------------------------------------------------------------------

from .functions.numeric import decimal_avg, decimal_sum, int_avg  # noqa: E402


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter pushdown + partial/final hash agg.
    All SUMs route through exact decimal so results are deterministic under
    any partitioning (functions/numeric.py)."""
    l = load_table(spark, sf_dir, "lineitem")
    ep, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum(F.col("l_quantity")).alias("sum_qty"),
            decimal_sum(ep).alias("sum_base_price"),
            decimal_sum(ep * (1 - disc)).alias("sum_disc_price"),
            decimal_sum(ep * (1 - disc) * (1 + tax)).alias("sum_charge"),
            decimal_avg(F.col("l_quantity")).alias("avg_qty"),
            decimal_avg(ep).alias("avg_price"),
            decimal_avg(disc).alias("avg_disc"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


@register(
    "q3_top_revenue_orders",
    """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-N.
    Deterministic top-N via (revenue DESC, l_orderkey) tiebreak. The
    segment-filtered customer side is NOT force-broadcast: it keeps ~1/5
    of an SF-linear table, so a hardcoded hint would OOM executors at
    100x scale. AQE picks broadcast at small SF from runtime stats and
    falls back to shuffle join when the side outgrows the threshold."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_nation_revenue",
    """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join — fixed-cardinality dims (region/nation)
    carry explicit broadcast hints; the SF-linear supplier side is left to
    AQE, which broadcasts it from runtime stats at every SF where it fits
    and degrades to a keyed shuffle beyond that."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # supplier is SF-linear (10k x SF): no forced hint — AQE picks
        # broadcast from runtime stats at every SF where it actually fits
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@register(
    "top_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
""",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking (§2.6 general surface): top-3 orders by value per
    customer, deterministic tiebreak on o_orderkey."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "latest_order_top1",
    """
SELECT o_orderkey, o_custkey, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders
ORDER BY o_orderdate DESC, o_orderkey
LIMIT 1
""",
)
def latest_order_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/S11 — latest-partition top-1 (analyze...gs:19-29 as
    orderBy(desc).limit(1)); with a date-partitioned table this becomes
    max-partition pruning."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(1)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@register(
    "customer_segment_setops",
    """
SELECT CAST(c_custkey AS BIGINT) AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_totalprice > 250000.0e0
UNION
SELECT CAST(c_custkey AS BIGINT) AS custkey FROM customer WHERE c_acctbal < -900.0e0
EXCEPT
SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_orderstatus = 'P'
""",
)
def customer_segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.8): INTERSECT/UNION/EXCEPT with SQL precedence
    (INTERSECT binds tighter; UNION/EXCEPT left-to-right)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").cast("bigint").alias("custkey")
    )
    big = o.filter(F.col("o_totalprice") > 250000.0).select(
        F.col("o_custkey").cast("bigint").alias("custkey")
    )
    negbal = c.filter(F.col("c_acctbal") < -900.0).select(
        F.col("c_custkey").cast("bigint").alias("custkey")
    )
    pending = o.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").cast("bigint").alias("custkey")
    )
    return (
        building.intersect(big).union(negbal).distinct().exceptAll(pending).distinct()
    )


# ---------------------------------------------------------------------------
# Events surface: windows with frames, time bucketing, JSON extraction
# ---------------------------------------------------------------------------


@register(
    "events_running_sum",
    """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_value
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) e
""",
)
def events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame (§2.6): per-user running total, exact-decimal accumulation
    so the result is order- and engine-deterministic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


@register(
    "events_hourly_rollup",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
         / COUNT(json_extract_string(props, '$.k')) AS avg_k
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) e
GROUP BY 1, 2
""",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup + semi-structured extraction (events.props JSON —
    the general capability behind the reference's yfinance-dict flattening,
    transform_valuation.py:72-87). Batch analog of the streaming
    tumbling-window aggregate."""
    return _hourly_rollup(load_table(spark, sf_dir, "events"))


def _hourly_rollup(e: DataFrame) -> DataFrame:
    """The hourly rollup aggregate over a batch or streaming events
    frame — one definition for the batch query and its streaming gates."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy(
        F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        decimal_sum(F.col("value")).alias("total_value"),
        F.sum(k).cast("bigint").alias("sum_k"),
        int_avg(k).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: text analysis, dedup, similarity search
# ---------------------------------------------------------------------------

from .functions import text as T  # noqa: E402
from .functions.vectors import (  # noqa: E402
    dot_chain_sql,
    norm_chain_sql,
)
from .functions.vectors import plane_dot_fold_sql, srp_planes  # noqa: E402
from .operators import dedup as D  # noqa: E402
from .operators.similarity import (  # noqa: E402
    EMBED_DIM,
    ann_topk_scalable,
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk,
)

_STOP_SQL = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)
_ES_SQL = ", ".join(f"'{w}'" for w in T.ES_MARKERS)

_DOCS_TOKEN_CTE = f"""
toks AS (
  SELECT doc_id, text, lang, source,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_ES_SQL}))) AS BIGINT) AS es_hits
  FROM documents
)
"""


@register(
    "docs_token_stats",
    f"""
WITH {_DOCS_TOKEN_CTE.strip()}
SELECT doc_id,
       n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(en_hits AS DOUBLE) / n_tokens AS stop_ratio,
       least(1.0e0, n_tokens / 100.0e0)
         * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS quality_score,
       md5(text) AS fingerprint
FROM toks
""",
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting, stopword/quality scoring, md5
    fingerprinting — per-document, all JVM-side expressions."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("w", T.tokens("text")).withColumn(
        "n_tokens", T.token_count(F.col("w"))
    )
    stop_ratio = T.hits(F.col("w"), T.EN_STOPWORDS).cast("double") / F.col(
        "n_tokens"
    )
    return d.select(
        "doc_id",
        "n_tokens",
        T.distinct_token_count(F.col("w")).alias("n_distinct_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.col("n_tokens")
        ).alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        T.quality_score(F.col("n_tokens"), stop_ratio).alias("quality_score"),
        T.fingerprint("text").alias("fingerprint"),
    )


@register(
    "docs_lang_id",
    f"""
WITH {_DOCS_TOKEN_CTE.strip()},
pred AS (
  SELECT lang,
         CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
              WHEN es_hits > 0 THEN 'es'
              ELSE 'und' END AS predicted_lang
  FROM toks
)
SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY lang, predicted_lang
""",
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-token evidence) vs labeled lang —
    confusion-matrix counts."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("w", T.tokens("text"))
    return (
        d.select("lang", T.predicted_lang(F.col("w")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "docs_dedup_prefix",
    """
SELECT md5(substr(text, 1, 40)) AS fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
""",
)
def docs_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by prefix fingerprint (keep-first = min doc_id); the
    hash-groupBy tier of the dedup stack."""
    return D.prefix_dup_groups(load_table(spark, sf_dir, "documents"), 40)


_SHINGLE_CTES = """
dtoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(len(w) - 2),
                     i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                ELSE CAST([] AS VARCHAR[]) END) AS shingle
  FROM dtoks
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

def _shingle_hash_ctes() -> str:
    """Hashed-feature CTEs (multiset shingles -> distinct hashes): mirrors
    the engine's hashed dedup tiers, where shingles are hashed map-side
    before any shuffle and feature sets are sets of longs
    (operators/dedup.py:doc_shingle_hashes)."""
    return f"""
dtoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shm AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(len(w) - 2),
                     i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                ELSE CAST([] AS VARCHAR[]) END) AS shingle
  FROM dtoks
),
hashed AS (
  SELECT DISTINCT doc_id, {T.md5_hash48_sql("shingle")} % {T.HASH_P} AS h
  FROM shm
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id)
"""


#: Stop-shingle document-frequency cap for the exact Jaccard tier. 5 is low
#: enough to actually drop shingles at the sf0.01 correctness gate (max df
#: there is 7) so the capped path is what gets hash-checked, and it is the
#: scale guard: per-shingle self-join fan-out is bounded at 10 pairs.
JACCARD_MAX_DF = 5

@register(
    "docs_jaccard_pairs",
    f"""
WITH {_SHINGLE_CTES.strip()},
hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {JACCARD_MAX_DF}
),
capped AS (
  SELECT sh.* FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)
),
csizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM inter
JOIN csizes sa ON doc_a = sa.doc_id
JOIN csizes sb ON doc_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.05e0
""",
)
def docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (inverted-index join tier) with
    the df-capped stop-shingle filter — Jaccard over the capped feature
    sets, identical cap in the oracle."""
    return jaccard_tier(load_table(spark, sf_dir, "documents"))


def jaccard_tier(docs: DataFrame) -> DataFrame:
    """THE registered exact-Jaccard tier (docs_jaccard_pairs's operator +
    parameters), over an arbitrary documents relation. Single-sourced so
    composing gates (docs_lsh_recall_eval) can share one scanned/
    checkpointed corpus without re-stating the tier's parameters."""
    return D.jaccard_pairs(docs, 3, 0.05, max_df=JACCARD_MAX_DF)


def _minhash_ctes() -> str:
    """Shared CTE chain ending in ``mh_pairs`` (the verified near-dup
    pairs) — used by the pair query and, as the edge set, by the
    duplicate-cluster oracle."""
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {T.HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(D.MINHASH_SEEDS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {j} AS band, m{2 * j} * {T.HASH_P} + m{2 * j + 1} AS key FROM sigs"
        for j in range(D.N_BANDS)
    )
    return f"""
{_shingle_hash_ctes().strip()},
sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
  GROUP BY 1, 2
),
mh_pairs AS (
  SELECT doc_a, doc_b,
         CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3e0
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes().strip()}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
"""


@register("docs_minhash_lsh_pairs", _minhash_sql())
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + banded LSH (8×2) near-dup pairs, verified with
    hash-set Jaccard (the resemblance MinHash estimates). Deterministic
    portable hashing makes even the LSH candidates oracle-checkable."""
    return minhash_tier(load_table(spark, sf_dir, "documents"))


def minhash_tier(docs: DataFrame) -> DataFrame:
    """THE registered MinHash-LSH tier (docs_minhash_lsh_pairs's operator +
    parameters), over an arbitrary documents relation — the single source
    of the tier's (n, threshold) for every composing gate
    (docs_dedup_clusters, docs_lsh_recall_eval)."""
    return D.minhash_lsh_pairs(docs, 3, 0.3)


@register(
    "docs_dedup_clusters",
    f"""
WITH RECURSIVE {_minhash_ctes().strip()},
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  UNION
  SELECT doc_b, doc_a FROM mh_pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
),
sz AS (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY cluster_id)
SELECT doc_id, lab.cluster_id,
       CAST(n AS BIGINT) AS cluster_size,
       doc_id = lab.cluster_id AS is_canonical
FROM lab JOIN sz ON lab.cluster_id = sz.cluster_id
""",
)
def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution over the MinHash-LSH near-dup graph:
    connected components by iterative min-label propagation
    (operators/dedup.py:dup_clusters), electing the min doc_id as the
    canonical survivor. The oracle computes the same components with a
    recursive reachability CTE — the iterative Spark algorithm is gated on
    exact cluster assignments, not just row counts."""
    return D.dup_clusters(minhash_tier(load_table(spark, sf_dir, "documents")))


def _ann_sql() -> str:
    dot = dot_chain_sql("e.embedding", "q.q_emb", EMBED_DIM)
    ne = norm_chain_sql("e.embedding", EMBED_DIM)
    nq = norm_chain_sql("q.q_emb", EMBED_DIM)
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.qid, e.vec_id,
         CASE WHEN {ne} > 0 AND {nq} > 0
              THEN ({dot}) / ({ne} * {nq}) END AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> q.qid
)
SELECT qid, vec_id, cosine, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) t
WHERE rn <= 5
"""


@register("ann_cosine_topk", _ann_sql())
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors {0..4}: broadcast query
    set, explicit-chain double arithmetic (bit-identical across engines)."""
    return brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5
    )


@register("ann_cosine_topk_scalable", _ann_sql())
def ann_cosine_topk_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as ann_cosine_topk via the 100 TB-shaped plan: an
    Arrow-batched per-partition partial top-k (mapInPandas) ahead of the
    global rank, so the shuffle carries <= partitions*queries*k rows."""
    return ann_topk_scalable(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5
    )


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(D.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{i} >= 0 THEN {1 << i} ELSE 0 END"
        for i in range(D.SIMHASH_BITS)
    )
    mask = (1 << D.SIMHASH_BAND_BITS) - 1
    return f"""
WITH {_shingle_hash_ctes().strip()},
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp} AS simhash FROM votes),
bands AS (
  SELECT doc_id, simhash, t.b AS band,
         (simhash >> ({D.SIMHASH_BAND_BITS} * t.b)) & {mask} AS key
  FROM fp, range({D.SIMHASH_BANDS}) t(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a
JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("docs_simhash_pairs", _simhash_sql())
def docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 28-bit shingle-feature fingerprint,
    exact Hamming<=3 retrieval via 4x7-bit pigeonhole band blocking."""
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), 3)


def _srp_sig_sql(n_planes: int, emb: str) -> str:
    """SRP signature as a SQL expression over column ``emb`` (DuckDB),
    fold form — mirrors plane_dot_fold term-for-term."""
    planes = srp_planes(n_planes, EMBED_DIM)
    return " + ".join(
        f"CASE WHEN {plane_dot_fold_sql(emb, p)} >= 0 THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )


def _neardup_ctes(
    band_bits: int | None = None, materialize_bands: bool = False
) -> str:
    """CTE chain ending in ``pairs(vec_a, vec_b, cosine)`` — shared by the
    pair query, the clusters oracle (which wraps it in a recursive CTE),
    and the corpus-scaled clusters oracle (which passes the
    band_bits_for_corpus value instead of the pinned fixture bits).

    ``materialize_bands`` pins DuckDB's evaluation strategy for the
    twice-referenced bands CTE: the clusters oracles want it MATERIALIZED
    (the signature chain would otherwise inline into both join sides —
    measured 5.8s -> 1.85s at sf0.1 for the 44-plane scaled variant),
    while the plain pair query is FASTER inlined (predicate pushdown into
    the scan beats materializing: 1.0s vs 1.7s). Values identical."""
    from .operators.similarity import (
        NEARDUP_COSINE,
        SRP_BAND_BITS,
        SRP_BANDS,
    )

    bits = SRP_BAND_BITS if band_bits is None else band_bits
    n_planes = SRP_BANDS * bits
    mask = (1 << bits) - 1
    dot = " + ".join(
        f"ea.e[{i + 1}] * eb.e[{i + 1}]" for i in range(EMBED_DIM)
    )
    bands_kw = "MATERIALIZED " if materialize_bands else ""
    return f"""sigs AS (
  SELECT vec_id, {_srp_sig_sql(n_planes, "embedding")} AS srp_sig
  FROM embeddings
),
bands AS {bands_kw}(
  SELECT vec_id, t.b AS band,
         (srp_sig >> ({bits} * t.b)) & {mask} AS key
  FROM sigs, range({SRP_BANDS}) t(b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
normed AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) / ({norm_chain_sql("embedding", EMBED_DIM)})) AS e
  FROM embeddings
),
pairs AS (
  SELECT vec_a, vec_b, ({dot}) AS cosine
  FROM cand
  JOIN normed ea ON vec_a = ea.vec_id
  JOIN normed eb ON vec_b = eb.vec_id
  WHERE ({dot}) >= {NEARDUP_COSINE}e0
)"""


def _neardup_sql() -> str:
    return f"""
WITH {_neardup_ctes()}
SELECT vec_a, vec_b, cosine FROM pairs
"""


@register("embeddings_neardup_lsh", _neardup_sql())
def embeddings_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-LSH sign-band blocking —
    the bucketed scale path that avoids the O(n^2) cross join. band_bits
    is PINNED at the fixture's 4 so the cross-engine oracle is fixed;
    production passes band_bits_for_corpus(N) (similarity.py) to keep
    bucket occupancy — and candidate volume — linear as N grows."""
    from .operators.similarity import SRP_BAND_BITS

    return cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), band_bits=SRP_BAND_BITS
    )


def _ivf_sql() -> str:
    from .operators.similarity import IVF_PLANES

    dot = dot_chain_sql("e.embedding", "q.q_emb", EMBED_DIM)
    ne = norm_chain_sql("e.embedding", EMBED_DIM)
    nq = norm_chain_sql("q.q_emb", EMBED_DIM)
    return f"""
WITH cells AS (
  SELECT vec_id, embedding, {_srp_sig_sql(IVF_PLANES, "embedding")} AS cell
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS q_emb, cell
  FROM cells WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.qid, e.vec_id,
         CASE WHEN {ne} > 0 AND {nq} > 0
              THEN ({dot}) / ({ne} * {nq}) END AS cosine
  FROM cells e JOIN q ON e.cell = q.cell
  WHERE e.vec_id <> q.qid
)
SELECT qid, vec_id, cosine, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) t
WHERE rn <= 5
"""


@register("ann_ivf_topk", _ivf_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse sign-bit cells (16), search only the query's
    cell — the partition-pruned inverted-file scale path."""
    return ivf_topk(load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5)


# ---------------------------------------------------------------------------
# Semi/anti joins, session windows, as-of join
# ---------------------------------------------------------------------------

from .operators.asof import asof_join_backward  # noqa: E402


@register(
    "q4_late_shipment_orders",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
  AND o.o_orderdate < TIMESTAMP '1999-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
""",
)
def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS as a LEFT SEMI join with a non-equi residual
    (shipped > 90 days after order date), priority-grouped counts. The date
    filter prunes the probe side before the join."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


@register(
    "customers_without_orders",
    """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a LEFT ANTI join, segment-grouped counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@register(
    "events_sessionization",
    """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
),
d AS (
  SELECT *,
         CASE WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, sid
""",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — F.session_window,
    the operator behind sessionized training-data/event analytics. The
    DuckDB oracle is the gaps-and-islands formulation of the same
    semantics."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_asof_purchase_click",
    """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events
),
clicks AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM e WHERE event_type = 'click'
  ) WHERE rn = 1
),
purchases AS (SELECT * FROM e WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       c.value AS click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase matched to the user's most
    recent click at-or-before it. Spark lacks ASOF JOIN natively; this is
    the union + keyed-window composition (operators/asof.py) checked
    against DuckDB's native ASOF LEFT JOIN."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    joined = asof_join_backward(
        purchases, clicks, key="user_id", ts="ts", payload_cols=["ts", "value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("asof_value").alias("click_value"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payload columns; decode stubbed, see
# operators/multimodal.py)
# ---------------------------------------------------------------------------

from .operators.multimodal import synthesize_media  # noqa: E402


@register(
    "media_kind_stats",
    """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(SUM(octet_length(encode(text))) AS DOUBLE) / COUNT(*) AS avg_bytes,
       CAST(MAX(16 + doc_id % 32) AS BIGINT) AS max_width
FROM documents
GROUP BY 1
""",
)
def media_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: synthesize media rows (binary
    payload + typed metadata struct) and aggregate byte/meta stats."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_media"),
        F.sum(F.octet_length("payload")).cast("bigint").alias("total_bytes"),
        (
            F.sum(F.octet_length("payload")).cast("double") / F.count(F.lit(1))
        ).alias("avg_bytes"),
        F.max(F.col("meta.width")).cast("bigint").alias("max_width"),
    )


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization, winnowing fingerprints, streaming gate
# ---------------------------------------------------------------------------

#: ASCII-only alternation — identical semantics in Java regex and RE2.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "docs_bpe_token_stats",
    f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha_runs,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_other
FROM documents
""",
)
def docs_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (alpha runs / digit runs / single
    non-alnum marks — the pre-tokenizer split shape used by BPE vocab
    builders), all JVM-side regexp_extract_all."""
    docs = load_table(spark, sf_dir, "documents")

    def n(pat: str) -> F.Column:
        return F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        ).cast("bigint")

    return docs.select(
        "doc_id",
        n(BPE_PATTERN).alias("n_bpe_tokens"),
        n("[A-Za-z]+").alias("n_alpha_runs"),
        n("[0-9]+").alias("n_digit_runs"),
        n("[^A-Za-z0-9 ]").alias("n_other"),
    )


_WINNOW_W = 4  # window size over the k-gram hash sequence


@register(
    "docs_winnow_fingerprints",
    f"""
WITH dtoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sha AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE CAST([] AS VARCHAR[]) END AS sh
  FROM dtoks
),
hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> {T.char_fold_hash_sql("s")}) AS h
  FROM sha
),
wins AS (
  SELECT doc_id,
         CASE WHEN len(h) >= {_WINNOW_W}
              THEN list_distinct(list_transform(range(len(h) - {_WINNOW_W} + 1),
                   i -> list_min(h[i+1:i+{_WINNOW_W}])))
              ELSE CAST([] AS BIGINT[]) END AS fps
  FROM hashed
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
FROM wins
""",
)
def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling char-fold hash over 3-gram
    shingles, window-min selection, w=4): the plagiarism/near-dup
    fingerprinting scheme — selection is position-robust, so shared
    passages yield shared fingerprints. Per-doc summary (count/min/max)
    keeps the oracle comparison compact."""
    docs = load_table(spark, sf_dir, "documents")
    w = _WINNOW_W
    # staged columns: h and fps are each evaluated ONCE per row — inlining
    # them textually would recompute the hash array per reference (9x).
    # CollapseProject keeps multi-referenced non-cheap aliases staged.
    d = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", T.shingles_expr("toks", 3).alias("sh"))
        .select(
            "doc_id",
            F.expr(
                f"transform(sh, s -> aggregate(transform(split(s, ''),"
                f" x -> cast(ascii(x) as bigint)), 0L,"
                f" (a,b) -> (a*131+b) % {T.HASH_P}))"
            ).alias("h"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(h) >= {w} THEN array_distinct("
                f"transform(sequence(0, size(h) - {w}),"
                f" i -> array_min(slice(h, i+1, {w}))))"
                f" ELSE array() END"
            ).alias("fps"),
        )
    )
    return d.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events table. The fixture stores
    ``ts`` as parquet TIMESTAMP(MICROS) not adjusted to UTC (pyarrow:
    ``timestamp[us]``), which Spark surfaces as ``timestamp_ntz``, so the
    stream schema declares ``timestamp_ntz`` and casts to session-TZ
    timestamp — the streaming twin of fixtures.load_events."""
    return (
        spark.readStream.schema(
            "event_id bigint, ts timestamp_ntz, user_id bigint,"
            " event_type string, value double, props string"
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


@register(
    "events_stream_hourly_rollup",
    ORACLES["events_hourly_rollup"],
)
def events_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup computed through Structured Streaming — file-source
    readStream, availableNow trigger, complete-mode memory sink — and
    checked against the SAME DuckDB oracle as the batch query. Batch and
    streaming share aggregate semantics; this is the convergence gate."""
    import uuid

    name = "stream_gate_" + uuid.uuid4().hex[:12]
    rolled = _hourly_rollup(_events_stream(spark, sf_dir))
    return _drain_stream(spark, rolled, name, "complete")


# ---------------------------------------------------------------------------
# Skew-resistant shapes and grouping sets
# ---------------------------------------------------------------------------

from .operators.skew import salted_topk_per_key  # noqa: E402


@register(
    "top_orders_per_customer_salted",
    ORACLES["top_orders_per_customer"],
)
def top_orders_per_customer_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as top_orders_per_customer via the hot-key-proof
    two-phase rank (operators/skew.py): per-partition top-k first, so the
    per-key shuffle is bounded by k x #partitions, not the key's row
    count. Checked against the same oracle as the naive window."""
    o = load_table(spark, sf_dir, "orders")
    return salted_topk_per_key(
        o,
        "o_custkey",
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


@register(
    "events_rollup_type_day",
    """
WITH e AS (
  SELECT event_type,
         strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
         value
  FROM events
)
SELECT event_type, day,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(day) AS BIGINT) AS g_day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM e
GROUP BY ROLLUP(event_type, day)
""",
)
def events_rollup_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (type, day) with grouping indicators — the
    multi-granularity aggregate shape (§2.5 general surface; Spark computes
    all grouping sets in one shuffle by expanding rows map-side)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "value",
    )
    return (
        e.rollup("event_type", "day")
        .agg(
            F.grouping("event_type").cast("bigint").alias("g_type"),
            F.grouping("day").cast("bigint").alias("g_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "event_type", "day", "g_type", "g_day", "n_events", "total_value"
        )
    )


@register(
    "top_balance_customer_per_nation",
    """
SELECT n.n_name, c.c_name, c.c_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal = (
  SELECT max(c2.c_acctbal) FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey
)
""",
)
def top_balance_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the spark.sql surface (inline
    parquet tables) — Catalyst decorrelates it into an aggregate + join;
    the oracle runs the identical SQL text in DuckDB."""
    return spark.sql(f"""
SELECT n.n_name, c.c_name, c.c_acctbal
FROM parquet.`{sf_dir}/customer.parquet` c
JOIN parquet.`{sf_dir}/nation.parquet` n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal = (
  SELECT max(c2.c_acctbal) FROM parquet.`{sf_dir}/customer.parquet` c2
  WHERE c2.c_nationkey = c.c_nationkey
)
""")


# ---------------------------------------------------------------------------
# Wider TPC-H-shaped relational surface (general capability hardening)
# ---------------------------------------------------------------------------


@register(
    "q6_revenue_delta",
    """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0
  AND l_quantity < 24e0
""",
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side conjunctive filter + global agg — all
    four predicates reach the parquet reader as PushedFilters, the agg is a
    partial/final pair with no groupBy shuffle (single exchange of one row
    per partition). The cheapest possible plan for this query at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            decimal_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


@register(
    "q10_returned_item_customers",
    """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter. Fact-fact
    join shuffles on orderkey once; nation dim broadcasts; deterministic
    top-20 via (revenue DESC, c_custkey)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue_pct",
    """
SELECT 1e2 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0e0 END
                   AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
""",
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact-dim join.
    part broadcasts (dim), so the filtered lineitem never shuffles; the two
    sums share one aggregate pass. Ratio computed double/double AFTER exact
    decimal sums so both engines hit identical IEEE ops."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        # NO forced broadcast: part is UNFILTERED here and SF-linear, so a
        # hardcoded hint OOMs at 100x (the customer-broadcast fix applied to
        # the part side). Static/AQE stats still pick a broadcast join
        # whenever the projected (p_partkey, p_type) side actually fits.
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * decimal_sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
                )
                / decimal_sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_orders",
    """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered semi-join (IN over a grouped
    subquery) then re-aggregate. The qualifying-orderkey set is grouped on
    a FACT key (l_orderkey) and therefore SF-linear before the HAVING gate
    prunes it, so no broadcast hint is forced — AQE converts the semi join
    to broadcast at runtime whenever the post-HAVING set actually fits;
    the quantity threshold compares in exact decimal in both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q"))
        .filter(F.col("q") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        l.join(
            big,
            l.l_orderkey == F.col("big_orderkey"),
            "left_semi",
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(decimal_sum(F.col("l_quantity")).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1e0 AND l_quantity <= 11e0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10e0 AND l_quantity <= 20e0)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20e0 AND l_quantity <= 30e0)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) mixed join/filter
    predicate. The part side pre-filters to the union of brand/size blocks
    (pushed to its scan) and joins un-hinted (SF-linear — AQE broadcasts
    it while it fits); per-block quantity ranges apply as the join
    residual — the standard decomposition that keeps the fact scan
    full-speed and the disjunction off the shuffle path."""
    p = load_table(spark, sf_dir, "part").filter(
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
        )
    )
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    block = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & (q >= 1.0)
            & (q <= 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & (q >= 10.0)
            & (q <= 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & (q >= 20.0)
            & (q <= 30.0)
        )
    )
    return (
        l.join(p, (l.l_partkey == p.p_partkey) & block)
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Stateful streaming inside the correctness gate
# ---------------------------------------------------------------------------


@register(
    "events_stateful_user_totals",
    """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 1e2) AS BIGINT)) AS DOUBLE) / 1e2 AS total_value
FROM events
GROUP BY user_id
""",
)
def events_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState per-user running totals operator
    (streaming/events.py:stateful_user_counts) drained with availableNow;
    the converged final state per user must equal the batch GROUP BY — the
    oracle is that batch SQL. Totals accumulate in integer micro-units so
    the running sum is exact and micro-batch-split invariant; the final
    micros/100.0 division is the identical IEEE op in both engines."""
    import uuid

    from .streaming.events import stateful_user_counts

    name = "stateful_gate_" + uuid.uuid4().hex[:12]
    stream = _events_stream(spark, sf_dir)
    # state_partitions=8, not the drain default 4: this is the one gate
    # whose per-batch work runs IN PYTHON (applyInPandasWithState), so
    # partitions are also the Python-worker parallelism — a 6-rep
    # interleaved A/B at local[32] measured 1.94 s (sp=8) vs 2.32 s
    # (sp=4). The drain caps it at the task slots, so on local[4] it runs
    # 4 partitions in one wave. Before that cap, 8 partitions ran in two
    # waves (allUpdatesTimeMs on 10k rows: 0.8 s at 1 partition, 3.6-4.0 s
    # at 8), at a fixed ~0.25 s of Python CPU per task whatever its rows.
    # That fixed cost was zipimport re-reading pyspark.zip at every task;
    # get_spark's worker daemon skips it, and a traced op of this gate
    # went 0.99 → 0.38 s of Python-worker CPU.
    drained = _drain_stream(
        spark, stateful_user_counts(stream), name, "update",
        state_partitions=8,
    )
    # last update per user == converged state (n_events is monotone)
    return (
        drained
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )


@register(
    "events_stream_purchase_click_join",
    """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events
),
c AS (SELECT event_id AS click_id, ts AS click_ts, user_id FROM e WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, ts AS purchase_ts, user_id FROM e WHERE event_type = 'purchase')
SELECT p.purchase_id, c.click_id, p.user_id,
       strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM p JOIN c ON p.user_id = c.user_id
  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
  AND c.click_ts <= p.purchase_ts
""",
)
def events_stream_purchase_click_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval join run THROUGH the streaming engine
    (streaming/events.py:purchase_click_join_stream): purchases joined to
    same-user clicks within the preceding hour, watermarks bounding state
    on both sides, drained with availableNow and hash-checked against the
    batch interval-join SQL."""
    import uuid

    from .streaming.events import purchase_click_join_stream

    name = "ssjoin_gate_" + uuid.uuid4().hex[:12]
    stream = _events_stream(spark, sf_dir)
    return _drain_stream(spark, purchase_click_join_stream(stream), name, "append")


@register(
    "events_lead_lag",
    """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
)
SELECT user_id, event_id,
       epoch_us(lead(ts) OVER w) - epoch_us(ts) AS us_to_next,
       CAST(CAST(value AS DECIMAL(18,2))
            - lag(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_delta
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def events_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window surface (§2.6): microseconds to the next event and
    value delta vs the previous event, per user in event-time order
    (event_id tiebreak for determinism under ts collisions). Gap arithmetic
    stays in integer microseconds; deltas in exact decimal."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    dec = F.col("value").cast("decimal(18,2)")
    return e.select(
        "user_id",
        "event_id",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias(
            "us_to_next"
        ),
        (dec - F.lag(dec).over(w)).cast("double").alias("value_delta"),
    )


@register(
    "events_value_quantiles",
    """
WITH e AS (
  SELECT event_type, CAST(round(value * 1e2) AS BIGINT) AS micros FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       quantile_cont(micros, 0.25e0) / 1e2 AS p25,
       quantile_cont(micros, 0.5e0) / 1e2 AS p50,
       quantile_cont(micros, 0.75e0) / 1e2 AS p75
FROM e
GROUP BY event_type
""",
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact interpolating quantiles (the distribution-profiling
    aggregate a quality-scoring pipeline runs per corpus slice). Computed
    over exact integer micro-units: with quarter-point fractions every
    interpolation term is exactly representable, so Spark's PERCENTILE and
    DuckDB's quantile_cont agree bit-for-bit regardless of their internal
    interpolation formula; the final /100 is the same IEEE divide. At scale
    the swap-in is percentile_approx (documented, not gated)."""
    e = load_table(spark, sf_dir, "events")
    micros = F.round(F.col("value") * 100).cast("bigint")
    pct = F.percentile(micros, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            pct.alias("pcts"),
        )
        .select(
            "event_type",
            "n_events",
            (F.col("pcts")[0] / 100).alias("p25"),
            (F.col("pcts")[1] / 100).alias("p50"),
            (F.col("pcts")[2] / 100).alias("p75"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H wide surface, part 3: correlated / nested-subquery shapes
# (reference has no relational engine — this is the general surface a user
# of the reference's downstream SQL dashboards expects, SURVEY.md §2.4-§2.5)
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
WITH cand AS (
  SELECT p_partkey, p_name, l_suppkey,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15
),
m AS (
  SELECT p_partkey AS mk, MIN(unit_price) AS min_unit_price
  FROM cand GROUP BY p_partkey
)
SELECT DISTINCT p_partkey, p_name, s_name, n_name, min_unit_price
FROM cand
JOIN m ON p_partkey = mk AND unit_price = min_unit_price
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-MIN subquery — for each part in a
    size slice, the supplier(s) offering the minimum observed unit price.
    Spark plan: aggregate-then-rejoin (the standard decorrelation). The
    per-part min table is grouped on a FACT key (p_partkey) so it is
    SF-linear even after the 2%-selectivity part filter; like part and
    supplier it carries no hint — every build-side choice here is AQE's,
    made from runtime sizes. Per-row
    float division is order-independent, so MIN and the equality rejoin are
    bit-deterministic across engines."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cand = l.join(p, l.l_partkey == p.p_partkey).select(
        "p_partkey",
        "p_name",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    m = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("unit_price").alias("min_unit_price")
    )
    return (
        cand.join(
            m,
            (cand.p_partkey == m.mk)
            & (cand.unit_price == m.min_unit_price),
        )
        .join(s, cand.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "min_unit_price")
        .distinct()
    )


@register(
    "q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between a nation pair by
    ship year. Both nation dims broadcast; the disjunctive pair predicate
    is applied post-join so Catalyst can still push each side's name filter
    into the broadcast build. Only lineitem⋈orders shuffles at scale."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(decimal_sum(F.col("volume")).alias("revenue"))
    )


@register(
    "q8_market_share",
    """
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0e0 END
                AS DECIMAL(38,6))) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
) all_nations
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional market volume per
    order year — conditional-sum / total-sum ratio of two exact-decimal
    aggregates over the same 7-table star join. Nation/region carry
    broadcast hints (fixed cardinality); part/supplier are SF-linear and
    left to AQE; both sums come out of a single grouped aggregate (one
    pass, no self-join)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("nk1"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("nk2"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (decimal_sum(target) / decimal_sum(F.col("volume"))).alias(
                "mkt_share"
            )
        )
    )


@register(
    "q9_product_profit",
    """
SELECT nation, o_year,
       CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year over a
    part-name slice (retail price standing in for ps_supplycost — the
    testdata has no partsupp table). The LIKE filter prunes part at the
    scan; part/supplier join sides are un-hinted (SF-linear — AQE sizes
    them), so lineitem⋈orders is the only unavoidable big shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(decimal_sum(F.col("amount")).alias("sum_profit"))
    )


@register(
    "q11_important_parts",
    """
WITH pv AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM pv
WHERE part_value > 6e-4 * (
  SELECT CAST(SUM(CAST(part_value AS DECIMAL(38,6))) AS DOUBLE) FROM pv
)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery over the same
    aggregation — parts whose traded value exceeds a fraction of the global
    total. Spark: one grouped aggregate, a 1-row re-aggregate of it, then a
    broadcast cross join carrying the scalar to the filter (no second scan
    of lineitem: the total is derived from the per-part aggregate, exactly
    as the oracle derives it)."""
    l = load_table(spark, sf_dir, "lineitem")
    pv = l.groupBy("l_partkey").agg(
        decimal_sum(F.col("l_extendedprice") * F.col("l_quantity")).alias(
            "part_value"
        )
    )
    total = pv.agg(decimal_sum(F.col("part_value")).alias("total_value"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("part_value") > 6e-4 * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


@register(
    "q13_order_count_distribution",
    """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers — LEFT OUTER join with a non-key
    predicate inside the join condition (NOT a post-filter: that would drop
    the NULL-extended rows), count of the nullable key, then a second
    aggregate over the counts. Two shuffles by construction; the second is
    over ~distinct-count-many rows, negligible at any scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey)
        & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue — a view
    aggregated twice (per-supplier revenue, then its max) with an equality
    filter back against the view. The max is a 1-row broadcast; exact-
    decimal revenue makes the float equality safe across engines."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_part_cnt",
    """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0e0)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_part_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute triple,
    excluding a NOT-IN supplier set (negative balance standing in for the
    complaints filter; lineitem standing in for partsupp). The exclusion
    set is an anti join (NOT IN on a non-nullable key is exactly anti-join
    semantics), un-hinted because the supplier slice is SF-linear."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    )
    excl = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        # excl is SF-linear (a supplier slice): no forced hint — AQE
        l.join(excl, l.l_suppkey == excl.s_suppkey, "left_anti")
        # no forced hint: the brand/size slice keeps ~15% of part — still
        # SF-linear, so the broadcast decision belongs to AQE runtime stats
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q17_small_qty_revenue",
    """
WITH pl AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
a AS (
  SELECT l_partkey AS ak,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
         / COUNT(l_quantity) AS avg_qty
  FROM pl GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7e0
       AS avg_yearly
FROM pl JOIN a ON l_partkey = ak
WHERE l_quantity < 0.2e0 * avg_qty
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20% of the part's average
    quantity — a correlated AVG subquery decorrelated into aggregate-then-
    rejoin. The per-part average relation is grouped on a FACT key
    (l_partkey) — an Aggregate, but an SF-LINEAR one (at the 100 TB design
    point it is tens of millions of rows), so it carries no broadcast hint;
    AQE picks broadcast from the runtime size whenever it fits, and can
    fall back to shuffle when it does not (a forced hint would remove that
    escape hatch). Exact-decimal average keeps the 0.2×avg comparison
    bit-identical across engines."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pl = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    a = pl.groupBy(F.col("l_partkey").alias("ak")).agg(
        decimal_avg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        pl.join(a, pl.l_partkey == a.ak)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (decimal_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q21_waiting_suppliers",
    """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone delayed a multi-supplier order
    (ship > order date + 60d standing in for receipt > commit — no
    commit/receipt dates in the testdata). The oracle keeps the literal
    EXISTS / NOT EXISTS correlation; the Spark plan decorrelates both into
    ONE per-order aggregate (distinct suppliers, distinct late suppliers)
    re-joined on orderkey — semantically: late(l1) ∧ nsupp>1 ∧ nlate=1.
    One lineitem⋈orders shuffle + one per-order aggregate instead of two
    correlated self-joins."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    L = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_order = L.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("nsupp"),
        F.count_distinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("nlate"),
    )
    return (
        L.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@register(
    "q22_idle_customers",
    """
SELECT c_nationkey, count(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(c_acctbal)
    FROM customer WHERE c_acctbal > 0e0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_nationkey
""",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-recently-inactive customers per
    nation (no order since 2000 — the testdata has no phone prefixes) — a
    scalar AVG subquery (positive balances only) gating the filter, plus a
    NOT EXISTS anti join against orders. The scalar broadcasts via cross
    join; the anti join shuffles on custkey (orders' natural key) and AQE
    converts it to broadcast when the filtered customer side is small."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate")
        >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        decimal_avg(F.col("c_acctbal")).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            decimal_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "customer_balance_ntiles",
    """
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(ntile(4) OVER w AS INTEGER) AS bal_quartile,
       percent_rank() OVER w AS bal_pct_rank,
       cume_dist() OVER w AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
)
def customer_balance_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (§2.6 general surface): ntile / percent_rank /
    cume_dist per nation with a unique (acctbal, custkey) sort so every
    rank-derived ratio is deterministic. percent_rank and cume_dist are
    exact integer ratios → bit-identical across engines."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("bal_quartile"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


@register(
    "events_stream_static_enrich",
    """
SELECT event_id, user_id, event_type, value, c_mktsegment, c_nationkey
FROM events JOIN customer ON user_id = c_custkey
""",
)
def events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment run THROUGH the streaming engine
    (streaming/events.py:enrich_stream): the events stream joined to the
    static customer dimension (stateless per micro-batch; un-hinted — the
    planner's size estimate picks broadcast while the snapshot fits),
    drained with availableNow and hash-checked against the batch join."""
    import uuid

    from .streaming.events import enrich_stream

    name = "enrich_gate_" + uuid.uuid4().hex[:12]
    stream = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    return _drain_stream(spark, enrich_stream(stream, dim), name, "append")


@register(
    "events_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup (streaming/events.py:
    dedup_within_watermark_stream): dropDuplicatesWithinWatermark on a
    subset key, output projected to the key so the surviving-row race
    never reaches the result — emitted set ≡ SELECT DISTINCT, and the
    state store stays bounded at scale (evicted as the watermark passes)."""
    import uuid

    from .streaming.events import dedup_within_watermark_stream

    name = "dedup_gate_" + uuid.uuid4().hex[:12]
    stream = _events_stream(spark, sf_dir)
    return _drain_stream(
        spark, dedup_within_watermark_stream(stream, ("user_id", "event_type")), name, "append"
    )


@register("ann_ivf_kmeans_topk", _ora_ann.ivf_kmeans_oracle_sql())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 through a learned IVF index (operators/similarity.py:
    ivf_kmeans_topk): deterministic k-means coarse quantizer (no RNG),
    nprobe-cell pruning, exact cosine re-rank of candidates only.

    Hash-gated since round 4 by a GENERATED oracle (oracles_ann.py): the
    deterministic trainer is re-run engine-independently (DuckDB sample +
    the shared numpy Lloyd core) and the centroids embedded as literals in
    SQL that re-executes assignment, probing, candidate restriction and
    re-rank — so the full distributed pipeline is value-checked, with only
    the shared model artifact outside the cross-engine comparison (recall
    bounds in tests/test_ann_kmeans.py cover the trainer). Falls back to
    rows-only if the gate table is absent at import."""
    from .operators.similarity import ivf_kmeans_topk

    return ivf_kmeans_topk(
        load_table(spark, sf_dir, "embeddings"),
        [0, 1, 2, 3, 4],
        k=5,
        n_cells=8,
        nprobe=2,
    )


@register(
    "events_sketch_profile",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_within_5sigma,
       TRUE AS p50_in_exact_iqr
FROM events
GROUP BY event_type
""",
)
def events_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the constant-memory profiling pass a 100 TB
    corpus gets instead of exact distincts: HyperLogLog++ distinct users
    (register-max merge: order-independent, mergeable across any
    partitioning) and approximate value percentiles per event type.

    Hash-gated since round 4 by asserting the sketch error bounds IN the
    oracle row (the sketch estimates themselves are engine-specific, so
    they feed boolean bound columns instead of the output): the oracle
    recomputes the exact side (COUNT DISTINCT, exact quartiles) and emits
    TRUE for each bound; the Spark row only hashes equal when the HLL
    estimate lands within 5σ of the exact distinct count AND the
    approximate median falls inside the exact p25..p75 envelope. The
    exact companions are gate-scale verification only — production
    profiling runs just the sketch aggregates (no COUNT DISTINCT
    shuffle); tests/test_sketches.py keeps the raw-estimate bounds."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.expr("percentile(value, array(0.25e0, 0.75e0))").alias("iqr"),
    )
    sigma = 0.02 * F.col("exact_users").cast("double")
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(
                F.col("approx_users").cast("double")
                - F.col("exact_users").cast("double")
            )
            <= F.greatest(F.lit(2.0), 5.0 * sigma)
        ).alias("hll_within_5sigma"),
        (
            (F.col("approx_p50") >= F.col("iqr")[0])
            & (F.col("approx_p50") <= F.col("iqr")[1])
        ).alias("p50_in_exact_iqr"),
    )


def _curation_sql() -> str:
    """End-to-end curation oracle: quality stages as plain CTEs, near-dup
    stage as the minhash CTE chain over all docs with the PAIR set filtered
    to survivors (pairwise generation+verification ⇒ identical to running
    LSH on the survivor subset), components via recursive reachability."""
    from .plans.curation import DEFAULT_MIN_QUALITY, DEFAULT_MIN_TOKENS

    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
csurv1 AS (SELECT doc_id, text FROM cs1 WHERE r1 IS NULL),
cpf AS (SELECT doc_id, md5(substr(text, 1, 400)) AS fp FROM csurv1),
ckeep AS (SELECT fp, MIN(doc_id) AS keeper FROM cpf GROUP BY fp),
cs2 AS (SELECT cpf.doc_id, keeper FROM cpf JOIN ckeep ON cpf.fp = ckeep.fp),
csurv2 AS (SELECT doc_id FROM cs2 WHERE doc_id = keeper),
{_minhash_ctes().strip()},
cedges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN csurv2 a ON doc_a = a.doc_id
  JOIN csurv2 b ON doc_b = b.doc_id
),
cedges AS MATERIALIZED (SELECT u, v FROM cedges0 UNION SELECT v, u FROM cedges0),
creach(u, v) AS (
  SELECT u, v FROM cedges
  UNION
  SELECT r.u, e.v FROM creach r JOIN cedges e ON r.v = e.u
),
clab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM creach GROUP BY u),
cfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN cs2.doc_id IS NOT NULL AND cs2.doc_id <> cs2.keeper
                   THEN 'exact_dup'
              WHEN clab.doc_id IS NOT NULL AND clab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN cs2 ON cs1.doc_id = cs2.doc_id
  LEFT JOIN clab ON cs1.doc_id = clab.doc_id
)
SELECT doc_id, drop_reason IS NULL AS kept, drop_reason FROM cfinal
"""


def _media_curation_sql() -> str:
    """Multimodal curation oracle — same skeleton as ``_curation_sql``
    (quality stages as plain CTEs, near-dup pairs filtered to survivors,
    components via recursive reachability) with the image stage spelled
    from the pixel FORMULA + floor-div resize convention (the
    media_image_resize_stats oracle's px logic): the oracle never decodes
    a PNG, so a hash match proves the engine's encode -> strict-decode ->
    resize -> threshold chain byte-exact inside the staged plan."""
    from .plans.curation import (
        DEFAULT_MIN_PIXEL_SUM,
        DEFAULT_MIN_QUALITY,
        DEFAULT_MIN_TOKENS,
    )

    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
msurv1 AS (SELECT doc_id, text FROM cs1 WHERE r1 IS NULL),
mdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*37 + ((ty.dy * (7 + d.doc_id % 6)) // 8) * 19
              + ((tx.dx * (9 + d.doc_id % 8)) // 8) * 11 + tc.c * 5) % 256)
           < {DEFAULT_MIN_PIXEL_SUM} AS is_dark
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(8)) AS dy) ty,
       LATERAL (SELECT unnest(range(8)) AS dx) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 0
  GROUP BY d.doc_id
),
msurv2 AS (
  SELECT m.doc_id FROM msurv1 m LEFT JOIN mdark k ON m.doc_id = k.doc_id
  WHERE NOT COALESCE(k.is_dark, FALSE)
),
{_minhash_ctes().strip()},
medges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN msurv2 a ON doc_a = a.doc_id
  JOIN msurv2 b ON doc_b = b.doc_id
),
medges AS MATERIALIZED (SELECT u, v FROM medges0 UNION SELECT v, u FROM medges0),
mreach(u, v) AS (
  SELECT u, v FROM medges
  UNION
  SELECT r.u, e.v FROM mreach r JOIN medges e ON r.v = e.u
),
mlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM mreach GROUP BY u),
mfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN mdark.is_dark THEN 'dark_image'
              WHEN mlab.doc_id IS NOT NULL AND mlab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN mdark ON cs1.doc_id = mdark.doc_id
  LEFT JOIN mlab ON cs1.doc_id = mlab.doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       drop_reason IS NULL AS kept, drop_reason
FROM mfinal
"""


#: one staged media fixture per (process, sf_dir): the payload parquet is
#: immutable test scaffolding (what storage would already hold in
#: production), so rebuilding it per gate invocation would bill the bench
#: for fixture synthesis instead of the pipeline under test
_media_fixture_paths: dict[str, str] = {}


def _media_fixture_cached(key: str) -> str | None:
    """Cached fixture path for ``key``, or None if it was never staged OR
    the backing directory is gone (e.g. the writing SparkSession's temp
    root was cleaned while the process lives on) — stale entries are
    evicted so the caller re-stages instead of scanning a dead path."""
    import os

    path = _media_fixture_paths.get(key)
    if path is not None and not os.path.isdir(path):
        del _media_fixture_paths[key]
        return None
    return path


def _media_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet fixture with a REAL binary payload column — one PNG row per
    image-kind doc (doc_id % 3 == 0), dimensions/pixels from the same
    deterministic formula the oracle mirrors (operators/multimodal.py:
    synthesize_png_images). Written once per process under the
    atexit-cleaned gate temp root, then SCANNED — so the curation plan's
    stage-3 input is payload bytes arriving from storage, column-pruned
    until the decode stage (the production shape), not bytes synthesized
    mid-plan."""
    path = _media_fixture_cached(sf_dir)
    if path is None:
        from .operators.multimodal import synthesize_png_images

        path = _session_tmp_dir("media_images_")
        synthesize_png_images(
            load_table(spark, sf_dir, "documents")
        ).write.mode("overwrite").parquet(path)
        _media_fixture_paths[sf_dir] = path
    return spark.read.parquet(path)


def _media_wav_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio sibling of ``_media_fixture``: one byte-valid RIFF/WAVE
    payload row per audio-kind doc (doc_id % 3 == 1), PCM signal from the
    formula the WAV oracles mirror (operators/multimodal.py:
    synthesize_wav), written once per process and then SCANNED."""
    key = sf_dir + "#wav"
    path = _media_fixture_cached(key)
    if path is None:
        from .operators.multimodal import synthesize_wav

        path = _session_tmp_dir("media_wavs_")
        synthesize_wav(
            load_table(spark, sf_dir, "documents")
        ).write.mode("overwrite").parquet(path)
        _media_fixture_paths[key] = path
    return spark.read.parquet(path)


def _media_curation_av_sql() -> str:
    """Oracle for the image+AUDIO curation plan — _media_curation_sql's
    skeleton with the loudness stage spelled from the PCM signal FORMULA
    (the media_wav_frame_energy oracle's sample logic): the oracle never
    parses a RIFF container, so a hash match proves the engine's
    zero-copy WAV parse (wav_media_stats_arrow) inside the staged plan,
    exactly as the image leg proves the PNG decode."""
    from .plans.curation import (
        DEFAULT_MIN_AVG_ENERGY,
        DEFAULT_MIN_PIXEL_SUM,
        DEFAULT_MIN_QUALITY,
        DEFAULT_MIN_TOKENS,
    )

    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
msurv1 AS (SELECT doc_id, text FROM cs1 WHERE r1 IS NULL),
mdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*37 + ((ty.dy * (7 + d.doc_id % 6)) // 8) * 19
              + ((tx.dx * (9 + d.doc_id % 8)) // 8) * 11 + tc.c * 5) % 256)
           < {DEFAULT_MIN_PIXEL_SUM} AS is_dark
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(8)) AS dy) ty,
       LATERAL (SELECT unnest(range(8)) AS dx) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 0
  GROUP BY d.doc_id
),
aquiet AS MATERIALIZED (
  SELECT doc_id,
         SUM(v * v) < CAST({DEFAULT_MIN_AVG_ENERGY} AS BIGINT)
                      * (64 + doc_id % 64) AS is_quiet
  FROM (
    SELECT d.doc_id,
           ((d.doc_id*31 + t.i*17) * 2654435761) % 65536 - 32768 AS v
    FROM msurv1 d,
         LATERAL (SELECT unnest(range(64 + d.doc_id % 64)) AS i) t
    WHERE d.doc_id % 3 = 1
  )
  GROUP BY doc_id
),
msurv2 AS (
  SELECT m.doc_id FROM msurv1 m
  LEFT JOIN mdark k ON m.doc_id = k.doc_id
  LEFT JOIN aquiet a ON m.doc_id = a.doc_id
  WHERE NOT COALESCE(k.is_dark, FALSE) AND NOT COALESCE(a.is_quiet, FALSE)
),
{_minhash_ctes().strip()},
medges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN msurv2 a ON doc_a = a.doc_id
  JOIN msurv2 b ON doc_b = b.doc_id
),
medges AS MATERIALIZED (SELECT u, v FROM medges0 UNION SELECT v, u FROM medges0),
mreach(u, v) AS (
  SELECT u, v FROM medges
  UNION
  SELECT r.u, e.v FROM mreach r JOIN medges e ON r.v = e.u
),
mlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM mreach GROUP BY u),
mfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN mdark.is_dark THEN 'dark_image'
              WHEN aquiet.is_quiet THEN 'quiet_audio'
              WHEN mlab.doc_id IS NOT NULL AND mlab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN mdark ON cs1.doc_id = mdark.doc_id
  LEFT JOIN aquiet ON cs1.doc_id = aquiet.doc_id
  LEFT JOIN mlab ON cs1.doc_id = mlab.doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       drop_reason IS NULL AS kept, drop_reason
FROM mfinal
"""


@register("media_curation", _media_curation_sql())
def media_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MULTIMODAL curation (plans/curation.py:
    curate_media_documents): too_short → low_quality → dark_image (real
    PNG strict-decode + integer 8x8 resize + brightness floor, run ONLY
    on image-kind text-survivors; an undecodable payload would be
    quarantined, not passed through) → near_dup (MinHash-LSH clusters
    over the remaining survivors, canonical survives). The
    staged-survivor pattern docs_curation proves for text, with a
    binary-column decode gate interleaved — the BASELINE north star's
    "multimodal columns" at the PLAN level, not just per-operator.
    Since round 11 the plan SCANS a staged parquet media fixture
    (_media_fixture: payload bytes from storage, survivor-id join bounds
    the decode) instead of synthesizing payloads mid-plan — the
    production scan shape, same hash. Gated against one recursive-CTE
    oracle that re-derives the image stage from the pixel formula (it
    never decodes a PNG), so the match proves the engine's decode path
    inside the composed pipeline."""
    from .plans.curation import curate_media_documents

    return curate_media_documents(
        load_table(spark, sf_dir, "documents"),
        media=_media_fixture(spark, sf_dir),
    )


#: one staged bucketed-table pair per (process, sf_dir) — same billing
#: rationale as _media_fixture_paths: the bucketed write is a one-time
#: storage-layout cost (in production it is the ingest job's final
#: shuffle), so re-paying it per gate invocation would bill the bench
#: for layout instead of the curation plan under test
_media_bucketed_tables_cache: dict[str, tuple[str, str]] = {}


def _media_bucketed_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Stage ``documents`` and the PNG payload fixture as HASH-BUCKETED,
    per-bucket SORTED warehouse tables on their id (``bucketBy(8,
    id).sortBy``), once per (process, sf_dir): the storage layout under
    which the curation plan's survivor-payload join is shuffle-free
    (both scans emit the join key's hash partitioning straight from the
    file layout — the 100 TB fix for the plan's one keyed shuffle). The
    media table is written FROM the staged parquet fixture, so it holds
    byte-identical payload rows to what ``media_curation`` scans.
    Tables are dropped at interpreter exit (warehouse dirs removed
    directly if the session is already gone)."""
    cached = _media_bucketed_tables_cache.get(sf_dir)
    if cached is not None:
        if all(spark.catalog.tableExists(t) for t in cached):
            return cached
        del _media_bucketed_tables_cache[sf_dir]
    import atexit
    import uuid

    suffix = uuid.uuid4().hex[:12]
    dt, mt = f"docs_bkt_{suffix}", f"media_bkt_{suffix}"
    (
        load_table(spark, sf_dir, "documents")
        .write.bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .mode("overwrite")
        .saveAsTable(dt)
    )
    (
        _media_fixture(spark, sf_dir)
        .write.bucketBy(8, "media_id")
        .sortBy("media_id")
        .mode("overwrite")
        .saveAsTable(mt)
    )

    # warehouse path resolved NOW (cwd-independent) so the exit-time
    # fallback can remove the table dirs even after the session is gone
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")

    def _drop(tables: tuple[str, str] = (dt, mt), wh: str = warehouse) -> None:
        import os
        import shutil

        from pyspark.sql import SparkSession as _S

        active = _S.getActiveSession()
        for t in tables:
            try:
                if active is not None:
                    active.sql(f"DROP TABLE IF EXISTS {t}")
                    continue
            except Exception:
                pass
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    atexit.register(_drop)
    _media_bucketed_tables_cache[sf_dir] = (dt, mt)
    return dt, mt


@register("media_curation_bucketed", _media_curation_sql())
def media_curation_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``media_curation``'s CO-BUCKETED storage-layout twin (round 12):
    the identical ``curate_media_documents`` plan over the identical
    payload bytes, but with ``documents`` and the media fixture read
    from hash-bucketed, per-bucket-sorted warehouse tables
    (``_media_bucketed_tables``) and the media side merge-hinted — so
    the survivor-payload join runs as a bucket-aligned SortMergeJoin
    with ZERO shuffle exchanges and zero broadcasts: bucketing
    propagates from the documents scan through the whole map-only text
    stage (Spark's alias-aware output partitioning carries doc_id →
    media_id), and the strict decode consumes joined payloads
    bucket-locally. Gated against the SAME oracle as ``media_curation``
    — bucketing is layout, not semantics — so the hash proves the
    zero-shuffle scan shape changes nothing, and
    tests/test_plan_shapes.py asserts the no-exchange property on this
    gate's actual staged tables. At 100 TB this is the production
    answer to the plan's one keyed shuffle: pay the bucketed write once
    at ingest, then every curation run's payload join is shuffle-free
    (the precedent is lineitem_bucketed_colocated_join)."""
    from .plans.curation import curate_media_documents

    dt, mt = _media_bucketed_tables(spark, sf_dir)
    return curate_media_documents(
        spark.table(dt),
        media=spark.table(mt).hint("merge"),
        bucketed_scan=True,
    )


@register("media_curation_av", _media_curation_av_sql())
def media_curation_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE+AUDIO curation — the staged-survivor plan with
    BOTH modality decode gates live (round 11):
    too_short → low_quality → [dark_image (strict PNG decode + integer
    8x8 resize + brightness floor) ∥ quiet_audio (strict zero-copy
    RIFF/WAVE parse + exact int64 mean-energy floor)] on each modality's
    text-survivors → near_dup over the remaining survivors. Both decode
    stages SCAN staged parquet payload fixtures (payload bytes from
    storage; survivor-id joins bound each decode to its modality's
    text-survivors), and each modality quarantines undecodable payloads
    rather than passing them. Hash-gated against ONE recursive-CTE
    oracle that re-derives both gates from the pixel and PCM FORMULAS —
    it never decodes a PNG nor parses a RIFF container, so the match
    proves both codec paths inside the composed pipeline. Scale shape:
    identical to media_curation plus one more map-only Arrow pass over
    audio-kind survivors; decode cost per modality scales with that
    modality's surviving bytes."""
    from .plans.curation import DEFAULT_MIN_AVG_ENERGY, curate_media_documents

    return curate_media_documents(
        load_table(spark, sf_dir, "documents"),
        media=_media_fixture(spark, sf_dir),
        audio_media=_media_wav_fixture(spark, sf_dir),
        min_avg_energy=DEFAULT_MIN_AVG_ENERGY,
    )


def _media_video_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video sibling of ``_media_fixture``: one byte-valid VID1
    container per video-kind doc (doc_id % 3 == 2), ragged 4-8 frame
    counts, every frame a REAL PNG of the formula the video oracle
    mirrors (operators/multimodal.py:synthesize_video), written once per
    process and then SCANNED."""
    key = sf_dir + "#vid"
    path = _media_fixture_cached(key)
    if path is None:
        from .operators.multimodal import synthesize_video

        path = _session_tmp_dir("media_vids_")
        synthesize_video(
            load_table(spark, sf_dir, "documents")
        ).write.mode("overwrite").parquet(path)
        _media_fixture_paths[key] = path
    return spark.read.parquet(path)


def _media_curation_full_sql() -> str:
    """Oracle for the FULL three-modality curation plan —
    _media_curation_av_sql plus the video stage spelled from the frame
    FORMULA with the every-2nd-frame sampling convention
    (media_video_frame_stats' oracle logic): the oracle never parses a
    container or decodes a PNG/WAV, so one hash match proves all three
    codec paths inside the staged plan."""
    from .plans.curation import (
        DEFAULT_MIN_AVG_ENERGY,
        DEFAULT_MIN_PIXEL_SUM,
        DEFAULT_MIN_QUALITY,
        DEFAULT_MIN_TOKENS,
        DEFAULT_MIN_VIDEO_PIXEL,
    )

    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
msurv1 AS (SELECT doc_id, text FROM cs1 WHERE r1 IS NULL),
mdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*37 + ((ty.dy * (7 + d.doc_id % 6)) // 8) * 19
              + ((tx.dx * (9 + d.doc_id % 8)) // 8) * 11 + tc.c * 5) % 256)
           < {DEFAULT_MIN_PIXEL_SUM} AS is_dark
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(8)) AS dy) ty,
       LATERAL (SELECT unnest(range(8)) AS dx) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 0
  GROUP BY d.doc_id
),
aquiet AS MATERIALIZED (
  SELECT doc_id,
         SUM(v * v) < CAST({DEFAULT_MIN_AVG_ENERGY} AS BIGINT)
                      * (64 + doc_id % 64) AS is_quiet
  FROM (
    SELECT d.doc_id,
           ((d.doc_id*31 + t.i*17) * 2654435761) % 65536 - 32768 AS v
    FROM msurv1 d,
         LATERAL (SELECT unnest(range(64 + d.doc_id % 64)) AS i) t
    WHERE d.doc_id % 3 = 1
  )
  GROUP BY doc_id
),
vdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*31 + fr.f*29 + ty.y*17 + tx.x*13 + tc.c*7) % 256)
           < CAST({DEFAULT_MIN_VIDEO_PIXEL} AS BIGINT) * COUNT(*)
           AS is_dark_video
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(4 + d.doc_id % 5)) AS f) fr,
       LATERAL (SELECT unnest(range(6 + d.doc_id % 3)) AS y) ty,
       LATERAL (SELECT unnest(range(8 + d.doc_id % 5)) AS x) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 2 AND fr.f % 2 = 0
  GROUP BY d.doc_id
),
msurv2 AS (
  SELECT m.doc_id FROM msurv1 m
  LEFT JOIN mdark k ON m.doc_id = k.doc_id
  LEFT JOIN aquiet a ON m.doc_id = a.doc_id
  LEFT JOIN vdark w ON m.doc_id = w.doc_id
  WHERE NOT COALESCE(k.is_dark, FALSE) AND NOT COALESCE(a.is_quiet, FALSE)
    AND NOT COALESCE(w.is_dark_video, FALSE)
),
{_minhash_ctes().strip()},
medges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN msurv2 a ON doc_a = a.doc_id
  JOIN msurv2 b ON doc_b = b.doc_id
),
medges AS MATERIALIZED (SELECT u, v FROM medges0 UNION SELECT v, u FROM medges0),
mreach(u, v) AS (
  SELECT u, v FROM medges
  UNION
  SELECT r.u, e.v FROM mreach r JOIN medges e ON r.v = e.u
),
mlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM mreach GROUP BY u),
mfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN mdark.is_dark THEN 'dark_image'
              WHEN aquiet.is_quiet THEN 'quiet_audio'
              WHEN vdark.is_dark_video THEN 'dark_video'
              WHEN mlab.doc_id IS NOT NULL AND mlab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN mdark ON cs1.doc_id = mdark.doc_id
  LEFT JOIN aquiet ON cs1.doc_id = aquiet.doc_id
  LEFT JOIN vdark ON cs1.doc_id = vdark.doc_id
  LEFT JOIN mlab ON cs1.doc_id = mlab.doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       drop_reason IS NULL AS kept, drop_reason
FROM mfinal
"""


@register("media_curation_full", _media_curation_full_sql())
def media_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation over the COMPLETE modality triple — the
    round-11 finish of the multimodal tier: too_short → low_quality →
    [dark_image (strict PNG decode + integer 8x8 resize + brightness
    floor) ∥ quiet_audio (strict zero-copy RIFF/WAVE parse + exact int64
    mean-energy floor) ∥ dark_video (strict VID1 container walk +
    every-2nd-frame REAL PNG decode + sampled-frame brightness floor)]
    → near_dup over the surviving set. All three decode stages SCAN
    staged parquet payload fixtures, survivor-id joins bound each decode
    to its modality's text-survivors, and each modality quarantines
    undecodable payloads. Hash-gated against ONE recursive-CTE oracle
    deriving all three gates from the pixel/PCM/frame FORMULAS — it
    never decodes any container, so the match proves all three codec
    paths inside the composed plan. Scale: image/audio stats are
    map-only; the per-frame video stats roll up through one tiny
    aggregate whose rows are sampled frames, never payload bytes."""
    from .plans.curation import (
        DEFAULT_MIN_AVG_ENERGY,
        DEFAULT_MIN_VIDEO_PIXEL,
        curate_media_documents,
    )

    return curate_media_documents(
        load_table(spark, sf_dir, "documents"),
        media=_media_fixture(spark, sf_dir),
        audio_media=_media_wav_fixture(spark, sf_dir),
        min_avg_energy=DEFAULT_MIN_AVG_ENERGY,
        video_media=_media_video_fixture(spark, sf_dir),
        min_avg_pixel=DEFAULT_MIN_VIDEO_PIXEL,
    )


#: Deterministic corruption rule for the quarantine gate: among media-kind
#: docs, ids ≡ 3 (mod 7) carry a TRUNCATED payload (strict decode must
#: reject) and ids ≡ 5 (mod 7) have NO payload row at all. The oracle
#: knows only this id rule — it never inspects a byte — so a hash match
#: proves the engine's strict decoders actually reject the corrupt bytes
#: and the plan routes both failure modes to the quarantine reasons.
_QUARANTINE_TRUNC_MOD = 3
_QUARANTINE_MISSING_MOD = 5


def _media_fixture_corrupt(
    spark: SparkSession, sf_dir: str, which: str
) -> DataFrame:
    """The staged payload fixtures with the deterministic corruption rule
    applied: ``which`` = 'png' (image fixture), 'wav' (audio fixture) or
    'vid' (video fixture). Truncation keeps the container magic but
    breaks the declared sizes — the video cut at 24 bytes preserves the
    VID1 magic, the full (n_frames, w, h) header AND the first frame's
    length prefix while severing the frame bytes it promises, so only a
    STRICT length-prefix walk rejects it."""
    key = f"{sf_dir}#{which}-corrupt"
    path = _media_fixture_cached(key)
    if path is None:
        from .operators.multimodal import (
            synthesize_png_images,
            synthesize_video,
            synthesize_wav,
        )

        synth, trunc_len = {
            "png": (synthesize_png_images, 20),
            "wav": (synthesize_wav, 16),
            "vid": (synthesize_video, 24),
        }[which]
        fixture = (
            synth(load_table(spark, sf_dir, "documents"))
            .filter(F.col("media_id") % 7 != _QUARANTINE_MISSING_MOD)
            .withColumn(
                "payload",
                F.when(
                    F.col("media_id") % 7 == _QUARANTINE_TRUNC_MOD,
                    F.expr(f"substring(payload, 1, {trunc_len})"),
                ).otherwise(F.col("payload")),
            )
        )
        path = _session_tmp_dir(f"media_{which}_corrupt_")
        fixture.write.mode("overwrite").parquet(path)
        _media_fixture_paths[key] = path
    return spark.read.parquet(path)


def _media_curation_quarantine_sql() -> str:
    """Oracle for the quarantine gate — _media_curation_av_sql with the
    corruption id-rule folded in: corrupted/missing-payload media docs are
    EXCLUDED from the formula-derived decode stages (the engine's strict
    parsers must reject them, so they never produce stats) and surface as
    ``undecodable_image`` / ``undecodable_audio`` among text survivors,
    leaving the near-dup stage too. The oracle never decodes a container
    OR inspects a payload byte: corruption is pure id arithmetic."""
    from .plans.curation import (
        DEFAULT_MIN_AVG_ENERGY,
        DEFAULT_MIN_PIXEL_SUM,
        DEFAULT_MIN_QUALITY,
        DEFAULT_MIN_TOKENS,
    )

    bad = f"({_QUARANTINE_TRUNC_MOD}, {_QUARANTINE_MISSING_MOD})"
    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
msurv1 AS (SELECT doc_id, text FROM cs1 WHERE r1 IS NULL),
mdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*37 + ((ty.dy * (7 + d.doc_id % 6)) // 8) * 19
              + ((tx.dx * (9 + d.doc_id % 8)) // 8) * 11 + tc.c * 5) % 256)
           < {DEFAULT_MIN_PIXEL_SUM} AS is_dark
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(8)) AS dy) ty,
       LATERAL (SELECT unnest(range(8)) AS dx) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 0 AND d.doc_id % 7 NOT IN {bad}
  GROUP BY d.doc_id
),
aquiet AS MATERIALIZED (
  SELECT doc_id,
         SUM(v * v) < CAST({DEFAULT_MIN_AVG_ENERGY} AS BIGINT)
                      * (64 + doc_id % 64) AS is_quiet
  FROM (
    SELECT d.doc_id,
           ((d.doc_id*31 + t.i*17) * 2654435761) % 65536 - 32768 AS v
    FROM msurv1 d,
         LATERAL (SELECT unnest(range(64 + d.doc_id % 64)) AS i) t
    WHERE d.doc_id % 3 = 1 AND d.doc_id % 7 NOT IN {bad}
  )
  GROUP BY doc_id
),
msurv2 AS (
  SELECT m.doc_id FROM msurv1 m
  LEFT JOIN mdark k ON m.doc_id = k.doc_id
  LEFT JOIN aquiet a ON m.doc_id = a.doc_id
  WHERE NOT COALESCE(k.is_dark, FALSE) AND NOT COALESCE(a.is_quiet, FALSE)
    AND NOT (m.doc_id % 3 IN (0, 1) AND m.doc_id % 7 IN {bad})
),
{_minhash_ctes().strip()},
medges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN msurv2 a ON doc_a = a.doc_id
  JOIN msurv2 b ON doc_b = b.doc_id
),
medges AS MATERIALIZED (SELECT u, v FROM medges0 UNION SELECT v, u FROM medges0),
mreach(u, v) AS (
  SELECT u, v FROM medges
  UNION
  SELECT r.u, e.v FROM mreach r JOIN medges e ON r.v = e.u
),
mlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM mreach GROUP BY u),
mfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN cs1.doc_id % 3 = 0 AND cs1.doc_id % 7 IN {bad}
                   THEN 'undecodable_image'
              WHEN mdark.is_dark THEN 'dark_image'
              WHEN cs1.doc_id % 3 = 1 AND cs1.doc_id % 7 IN {bad}
                   THEN 'undecodable_audio'
              WHEN aquiet.is_quiet THEN 'quiet_audio'
              WHEN mlab.doc_id IS NOT NULL AND mlab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN mdark ON cs1.doc_id = mdark.doc_id
  LEFT JOIN aquiet ON cs1.doc_id = aquiet.doc_id
  LEFT JOIN mlab ON cs1.doc_id = mlab.doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       drop_reason IS NULL AS kept, drop_reason
FROM mfinal
"""


@register("media_curation_quarantine", _media_curation_quarantine_sql())
def media_curation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REJECTION paths of the multimodal curation plan, hash-gated:
    the staged payload fixtures carry deterministic corruption (ids ≡ 3
    mod 7 truncated after the container magic; ids ≡ 5 mod 7 missing
    their payload row entirely), and the SAME curate_media_documents plan
    as media_curation_av must route every corrupted/missing image and
    audio survivor to ``undecodable_image`` / ``undecodable_audio`` —
    excluded from the brightness/loudness stats AND from the near-dup
    stage. The oracle models corruption as pure id arithmetic (it never
    inspects a byte), so the hash proves the engine's STRICT decoders
    reject truncated containers: a lenient parser that salvaged a
    truncated PNG/WAV would emit stats for it, flip the reason, and
    break the hash. This is the cross-engine gate for the quarantine
    contract the unit tests pin pointwise."""
    from .plans.curation import DEFAULT_MIN_AVG_ENERGY, curate_media_documents

    return curate_media_documents(
        load_table(spark, sf_dir, "documents"),
        media=_media_fixture_corrupt(spark, sf_dir, "png"),
        audio_media=_media_fixture_corrupt(spark, sf_dir, "wav"),
        min_avg_energy=DEFAULT_MIN_AVG_ENERGY,
    )


def _media_curation_quarantine_full_sql() -> str:
    """Oracle for the FULL-TRIPLE quarantine gate —
    _media_curation_full_sql with the corruption id-rule folded into all
    THREE modality stages: corrupted/missing media docs are EXCLUDED from
    every formula-derived decode CTE (the engine's strict parsers must
    reject them, so they never produce stats), surface as
    ``undecodable_image`` / ``undecodable_audio`` / ``undecodable_video``
    among text survivors, and leave the near-dup stage too. The oracle
    never parses a container or inspects a payload byte — corruption is
    pure id arithmetic — so a hash match proves the STRICT video
    length-prefix walk (operators/multimodal.py:decode_video) rejects a
    truncated container exactly like its image/audio siblings: a lenient
    walk that salvaged the frames preceding the cut would emit stats,
    flip the reason, and break the hash."""
    from .plans.curation import (
        DEFAULT_MIN_AVG_ENERGY,
        DEFAULT_MIN_PIXEL_SUM,
        DEFAULT_MIN_QUALITY,
        DEFAULT_MIN_TOKENS,
        DEFAULT_MIN_VIDEO_PIXEL,
    )

    bad = f"({_QUARANTINE_TRUNC_MOD}, {_QUARANTINE_MISSING_MOD})"
    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
msurv1 AS (SELECT doc_id, text FROM cs1 WHERE r1 IS NULL),
mdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*37 + ((ty.dy * (7 + d.doc_id % 6)) // 8) * 19
              + ((tx.dx * (9 + d.doc_id % 8)) // 8) * 11 + tc.c * 5) % 256)
           < {DEFAULT_MIN_PIXEL_SUM} AS is_dark
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(8)) AS dy) ty,
       LATERAL (SELECT unnest(range(8)) AS dx) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 0 AND d.doc_id % 7 NOT IN {bad}
  GROUP BY d.doc_id
),
aquiet AS MATERIALIZED (
  SELECT doc_id,
         SUM(v * v) < CAST({DEFAULT_MIN_AVG_ENERGY} AS BIGINT)
                      * (64 + doc_id % 64) AS is_quiet
  FROM (
    SELECT d.doc_id,
           ((d.doc_id*31 + t.i*17) * 2654435761) % 65536 - 32768 AS v
    FROM msurv1 d,
         LATERAL (SELECT unnest(range(64 + d.doc_id % 64)) AS i) t
    WHERE d.doc_id % 3 = 1 AND d.doc_id % 7 NOT IN {bad}
  )
  GROUP BY doc_id
),
vdark AS MATERIALIZED (
  SELECT d.doc_id,
         SUM((d.doc_id*31 + fr.f*29 + ty.y*17 + tx.x*13 + tc.c*7) % 256)
           < CAST({DEFAULT_MIN_VIDEO_PIXEL} AS BIGINT) * COUNT(*)
           AS is_dark_video
  FROM msurv1 d,
       LATERAL (SELECT unnest(range(4 + d.doc_id % 5)) AS f) fr,
       LATERAL (SELECT unnest(range(6 + d.doc_id % 3)) AS y) ty,
       LATERAL (SELECT unnest(range(8 + d.doc_id % 5)) AS x) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  WHERE d.doc_id % 3 = 2 AND fr.f % 2 = 0
    AND d.doc_id % 7 NOT IN {bad}
  GROUP BY d.doc_id
),
msurv2 AS (
  SELECT m.doc_id FROM msurv1 m
  LEFT JOIN mdark k ON m.doc_id = k.doc_id
  LEFT JOIN aquiet a ON m.doc_id = a.doc_id
  LEFT JOIN vdark w ON m.doc_id = w.doc_id
  WHERE NOT COALESCE(k.is_dark, FALSE) AND NOT COALESCE(a.is_quiet, FALSE)
    AND NOT COALESCE(w.is_dark_video, FALSE)
    AND m.doc_id % 7 NOT IN {bad}
),
{_minhash_ctes().strip()},
medges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN msurv2 a ON doc_a = a.doc_id
  JOIN msurv2 b ON doc_b = b.doc_id
),
medges AS MATERIALIZED (SELECT u, v FROM medges0 UNION SELECT v, u FROM medges0),
mreach(u, v) AS (
  SELECT u, v FROM medges
  UNION
  SELECT r.u, e.v FROM mreach r JOIN medges e ON r.v = e.u
),
mlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM mreach GROUP BY u),
mfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN cs1.doc_id % 3 = 0 AND cs1.doc_id % 7 IN {bad}
                   THEN 'undecodable_image'
              WHEN mdark.is_dark THEN 'dark_image'
              WHEN cs1.doc_id % 3 = 1 AND cs1.doc_id % 7 IN {bad}
                   THEN 'undecodable_audio'
              WHEN aquiet.is_quiet THEN 'quiet_audio'
              WHEN cs1.doc_id % 3 = 2 AND cs1.doc_id % 7 IN {bad}
                   THEN 'undecodable_video'
              WHEN vdark.is_dark_video THEN 'dark_video'
              WHEN mlab.doc_id IS NOT NULL AND mlab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN mdark ON cs1.doc_id = mdark.doc_id
  LEFT JOIN aquiet ON cs1.doc_id = aquiet.doc_id
  LEFT JOIN vdark ON cs1.doc_id = vdark.doc_id
  LEFT JOIN mlab ON cs1.doc_id = mlab.doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       drop_reason IS NULL AS kept, drop_reason
FROM mfinal
"""


@register(
    "media_curation_quarantine_full", _media_curation_quarantine_full_sql()
)
def media_curation_quarantine_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quarantine contract extended to the COMPLETE modality triple
    (round 12, closing the round-11 asymmetry): all three staged payload
    fixtures carry the deterministic corruption rule (ids ≡ 3 mod 7
    truncated after the container magic — the video cut keeps the VID1
    magic, header and first frame's length prefix; ids ≡ 5 mod 7 missing
    their payload row entirely), and the SAME curate_media_documents plan
    as media_curation_full must route every corrupted/missing survivor of
    EACH modality to its ``undecodable_*`` reason, excluded from that
    modality's stats gate AND from the near-dup stage. The oracle models
    corruption as pure id arithmetic, so this is the cross-engine proof
    of decode_video's strict rejection path
    (operators/multimodal.py:840-872 — length-prefix walk, per-frame PNG
    validation, trailing-junk check), which until round 12 was pinned
    only pointwise by unit test. Scale shape identical to
    media_curation_full: rejection is strictly cheaper than acceptance
    (the walk bails at the first out-of-bounds prefix, decoding
    nothing)."""
    from .plans.curation import (
        DEFAULT_MIN_AVG_ENERGY,
        DEFAULT_MIN_VIDEO_PIXEL,
        curate_media_documents,
    )

    return curate_media_documents(
        load_table(spark, sf_dir, "documents"),
        media=_media_fixture_corrupt(spark, sf_dir, "png"),
        audio_media=_media_fixture_corrupt(spark, sf_dir, "wav"),
        min_avg_energy=DEFAULT_MIN_AVG_ENERGY,
        video_media=_media_fixture_corrupt(spark, sf_dir, "vid"),
        min_avg_pixel=DEFAULT_MIN_VIDEO_PIXEL,
    )


@register("docs_curation", _curation_sql())
def docs_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (plans/curation.py): too_short →
    low_quality → exact_dup (long-prefix fingerprint, keep-first) → near_dup
    (MinHash-LSH clusters, canonical survives), each stage running only on
    the previous stage's survivors. The whole chain — including LSH
    candidate generation, Jaccard verification, and connected-component
    cluster election — is hash-gated against a single recursive-CTE
    oracle."""
    from .plans.curation import curate_documents

    return curate_documents(load_table(spark, sf_dir, "documents"))


def _incremental_state_paths(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Stage the PERSISTED curation state a previous full run would have
    written — the base survivors' long-prefix fingerprint set and their
    shingle-hash-set signature table (``doc_hash_sets`` output) — as
    parquet, once per (process, sf_dir). The incremental gate then SCANS
    these (the production shape: per-batch cost never re-reads or
    re-curates base text; at 100 TB both tables are bucketed by their
    probe key so the delta probe is a co-located join). Base =
    doc_id % 10 <> 0, the docs_incremental_dedup batch convention."""
    fkey, skey = f"{sf_dir}#incr-fps", f"{sf_dir}#incr-sets"
    fps_path = _media_fixture_cached(fkey)
    sets_path = _media_fixture_cached(skey)
    if fps_path is None or sets_path is None:
        from .plans.curation import DEFAULT_PREFIX_CHARS, curate_documents

        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        surv_ids = (
            curate_documents(base).filter(F.col("kept")).select("doc_id")
        )
        base_surv = base.join(surv_ids, "doc_id").select("doc_id", "text")
        fps_path = _session_tmp_dir("incr_base_fps_")
        (
            base_surv.select(
                F.md5(
                    F.substring("text", 1, DEFAULT_PREFIX_CHARS)
                ).alias("fp")
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(fps_path)
        )
        sets_path = _session_tmp_dir("incr_base_sets_")
        D.doc_hash_sets(base_surv, 3).write.mode("overwrite").parquet(
            sets_path
        )
        _media_fixture_paths[fkey] = fps_path
        _media_fixture_paths[skey] = sets_path
    return fps_path, sets_path


def _curation_incremental_sql() -> str:
    """Oracle for docs_curation_incremental: the FULL base curation chain
    (text gates, keep-first exact dedup, recursive near-dup components —
    the _curation_sql skeleton restricted to doc_id % 10 <> 0) derives
    the base survivor set the engine's persisted state represents, then
    the delta verdicts are spelled stage by stage: fingerprint-vs-base
    then keep-first-within-delta, LSH-verified match vs base survivors
    (mh_pairs in either orientation), then within-delta recursive
    components over the remaining survivors. Two recursive reachability
    CTEs (base clusters, delta clusters), both over MATERIALIZED edge
    sets."""
    from .plans.curation import DEFAULT_MIN_QUALITY, DEFAULT_MIN_TOKENS

    return f"""
WITH RECURSIVE
ctoks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS en_hits
  FROM documents
),
cscored AS (
  SELECT doc_id, text, n_tokens,
         least(1.0e0, n_tokens / 100.0e0)
           * (1.0e0 - 0.5e0 * (CAST(en_hits AS DOUBLE) / n_tokens)) AS q
  FROM ctoks
),
cs1 AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {DEFAULT_MIN_TOKENS} THEN 'too_short'
              WHEN q < {DEFAULT_MIN_QUALITY}e0 THEN 'low_quality' END AS r1
  FROM cscored
),
bsurv1 AS (SELECT doc_id, text FROM cs1
           WHERE r1 IS NULL AND doc_id % 10 <> 0),
bpf AS (SELECT doc_id, md5(substr(text, 1, 400)) AS fp FROM bsurv1),
bkeep AS (SELECT fp, MIN(doc_id) AS keeper FROM bpf GROUP BY fp),
bsurv2 AS (
  SELECT bpf.doc_id, bpf.fp FROM bpf
  JOIN bkeep ON bpf.fp = bkeep.fp WHERE bpf.doc_id = bkeep.keeper
),
{_minhash_ctes().strip()},
bedges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN bsurv2 a ON doc_a = a.doc_id
  JOIN bsurv2 b ON doc_b = b.doc_id
),
bedges AS MATERIALIZED (SELECT u, v FROM bedges0 UNION SELECT v, u FROM bedges0),
breach(u, v) AS (
  SELECT u, v FROM bedges
  UNION
  SELECT r.u, e.v FROM breach r JOIN bedges e ON r.v = e.u
),
blab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM breach GROUP BY u),
bsurv AS MATERIALIZED (
  SELECT s.doc_id, s.fp FROM bsurv2 s
  LEFT JOIN blab ON s.doc_id = blab.doc_id
  WHERE blab.doc_id IS NULL OR blab.cluster_id = s.doc_id
),
dsurv1 AS (SELECT doc_id, text FROM cs1
           WHERE r1 IS NULL AND doc_id % 10 = 0),
dpf AS (SELECT doc_id, md5(substr(text, 1, 400)) AS fp FROM dsurv1),
dhit AS (
  SELECT dpf.doc_id, dpf.fp,
         EXISTS (SELECT 1 FROM bsurv WHERE bsurv.fp = dpf.fp) AS base_hit
  FROM dpf
),
dkeep AS (
  SELECT fp, MIN(doc_id) AS keeper FROM dhit
  WHERE NOT base_hit GROUP BY fp
),
ds2 AS (
  SELECT dhit.doc_id, dhit.base_hit, dkeep.keeper
  FROM dhit LEFT JOIN dkeep ON dhit.fp = dkeep.fp
),
dsurv2 AS (
  SELECT doc_id FROM ds2 WHERE NOT base_hit AND doc_id = keeper
),
dvb AS MATERIALIZED (
  SELECT DISTINCT d FROM (
    SELECT doc_a AS d FROM mh_pairs
    JOIN dsurv2 ON doc_a = dsurv2.doc_id
    JOIN bsurv ON doc_b = bsurv.doc_id
    UNION ALL
    SELECT doc_b AS d FROM mh_pairs
    JOIN dsurv2 ON doc_b = dsurv2.doc_id
    JOIN bsurv ON doc_a = bsurv.doc_id
  )
),
dsurv3 AS (
  SELECT doc_id FROM dsurv2
  WHERE doc_id NOT IN (SELECT d FROM dvb)
),
dedges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  JOIN dsurv3 a ON doc_a = a.doc_id
  JOIN dsurv3 b ON doc_b = b.doc_id
),
dedges AS MATERIALIZED (SELECT u, v FROM dedges0 UNION SELECT v, u FROM dedges0),
dreach(u, v) AS (
  SELECT u, v FROM dedges
  UNION
  SELECT r.u, e.v FROM dreach r JOIN dedges e ON r.v = e.u
),
dlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM dreach GROUP BY u),
dfinal AS (
  SELECT cs1.doc_id,
         CASE WHEN r1 IS NOT NULL THEN r1
              WHEN ds2.doc_id IS NOT NULL
                   AND (ds2.base_hit OR ds2.doc_id <> ds2.keeper)
                   THEN 'exact_dup'
              WHEN dvb.d IS NOT NULL THEN 'near_dup'
              WHEN dlab.doc_id IS NOT NULL AND dlab.cluster_id <> cs1.doc_id
                   THEN 'near_dup' END AS drop_reason
  FROM cs1
  LEFT JOIN ds2 ON cs1.doc_id = ds2.doc_id
  LEFT JOIN dvb ON cs1.doc_id = dvb.d
  LEFT JOIN dlab ON cs1.doc_id = dlab.doc_id
  WHERE cs1.doc_id % 10 = 0
)
SELECT doc_id, drop_reason IS NULL AS kept, drop_reason FROM dfinal
"""


@register("docs_curation_incremental", _curation_incremental_sql())
def docs_curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL end-to-end curation (round 12 —
    plans/curation.py:curate_documents_incremental): the delta batch
    (doc_id % 10 = 0, the docs_incremental_dedup convention) is curated
    against PERSISTED state from the base corpus's previous full run —
    the survivor fingerprint set and the survivors' shingle-hash-set
    signature table, both staged as parquet and SCANNED
    (_incremental_state_paths), so base text is never re-read: too_short
    → low_quality → exact_dup (fingerprint vs base survivors, base wins;
    keep-first within the delta) → near_dup (banded probe of the base
    signature index at Jaccard ≥ 0.3, base wins; then within-delta
    clusters, canonical survives). Deliberately DIFFERENT semantics from
    re-running docs_curation on the full corpus: base docs are immutable
    and win every cross-set tie. Per-batch cost is O(|delta| + matched
    buckets) — this gate benches FASTER than docs_curation despite the
    richer semantics, which is the whole point of the incremental shape
    at 100 TB."""
    from .plans.curation import curate_documents_incremental

    fps_path, sets_path = _incremental_state_paths(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return curate_documents_incremental(
        delta,
        base_fps=spark.read.parquet(fps_path),
        base_sets=spark.read.parquet(sets_path),
    )


@register(
    "docs_top_ngrams",
    f"""
WITH {_SHINGLE_CTES.strip()}
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM sh
GROUP BY shingle
ORDER BY doc_freq DESC, shingle
LIMIT 20
""",
)
def docs_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram document frequencies (explode / lateral-view
    surface): per-doc DISTINCT 3-gram shingles exploded and counted, top 20
    with a full deterministic sort (doc_freq DESC, shingle ASC) so the
    LIMIT cutoff is stable. The explode is map-side; one count shuffle;
    at scale the final top-k is a partial top-k merge (takeOrdered), never
    a full global sort spill."""
    sh = D.doc_shingles(load_table(spark, sf_dir, "documents"), 3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_daily_type_pivot",
    f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       {", ".join(f"CAST(COUNT(*) FILTER (event_type = '{t}') AS BIGINT) AS {t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
""",
)
def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: daily event counts spread into one column per event
    type. The pivot values are DECLARED (no extra distinct-scan pass to
    discover them — the plan is a single grouped aggregate with conditional
    counts, same shape as the oracle's FILTER clauses)."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    out = (
        e.groupBy(day.alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)).cast("bigint"))
    )
    return out.na.fill(0, _EVENT_TYPES)


@register(
    "events_daily_gapfill",
    """
WITH span AS (
  SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
),
types AS (SELECT DISTINCT event_type FROM events),
actual AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(spine.day, '%Y-%m-%d') AS day, types.event_type,
       COALESCE(n, 0) AS n_events
FROM spine CROSS JOIN types
LEFT JOIN actual ON actual.day = spine.day
                AND actual.event_type = types.event_type
""",
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series (date-spine surface): a generated day spine
    (F.sequence over the observed min..max span, from a 1-row aggregate)
    cross-joined with the distinct type set, left-joined to actual counts
    with zero fill. The spine is tiny (days × types) and broadcast; the
    fact side aggregates before joining, so the join never sees raw
    events."""
    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = span.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    actual = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("aday"),
        F.col("event_type").alias("atype"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        F.broadcast(spine)
        .crossJoin(F.broadcast(types))
        .join(
            actual,
            (F.col("day") == F.col("aday"))
            & (F.col("event_type") == F.col("atype")),
            "left",
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
    )


@register(
    "q12_priority_by_year",
    """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY 1
""",
)
def q12_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts over slow shipments
    (ship > order date + 30d standing in for the commit/receipt lag). One
    fact-fact equi-join shuffle; both counts come from a single grouped
    pass of CASE aggregates."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@register(
    "q20_bulk_part_suppliers",
    """
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 55e0
)
""",
)
def q20_bulk_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi join against an aggregated-HAVING subquery —
    suppliers who moved > 55 units of one red part in 1996 (lineitem
    volume standing in for partsupp availqty). The qualifying set
    aggregates on FACT keys (l_suppkey, l_partkey) before the semi join,
    so although an Aggregate bounds it below lineitem it remains SF-linear
    — no broadcast hint is forced on it or on the raw part slice; AQE
    decides both build sides from runtime sizes."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    qualifying = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 55.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(
            qualifying,
            s.s_suppkey == qualifying.l_suppkey,
            "left_semi",
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "events_sliding_1h_sum",
    """
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 1e2 AS sliding_1h_value
FROM events
""",
)
def events_sliding_1h_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding window (§2.6 general surface): per-user rolling
    1-hour value sum over event-time — a true range frame (tie-inclusive,
    time-distance bounded), not a row frame. Summed in exact integer
    cents so the result is bit-deterministic under any partitioning; one
    shuffle on user_id. The range key is the exact MICROSECOND epoch
    (unix_micros / epoch_us) on both engines: every fixture timestamp
    carries sub-second precision, and a seconds-truncated key
    (unix_timestamp) both shifts the -1h boundary and creates same-second
    ORDER BY ties whose tie-inclusive frames pull in sub-second-FUTURE
    rows — invisible at sf0.01 density, a real mismatch at sf0.1 (caught
    by the round-5 sf0.1 full sweep)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        (F.sum(cents).over(w).cast("double") / 100).alias(
            "sliding_1h_value"
        ),
    )


@register(
    "docs_hash_sample",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (doc_id * 2654435761) % 100 < 10
""",
)
def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (the reproducible corpus-subsample
    every training run needs — TABLESAMPLE/rand() are seed- and
    partitioning-dependent, a multiplicative-hash residue is not). ~10%
    keep rate, exact same membership on any engine, any partitioning, any
    day — and the predicate pushes down to the scan."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter((F.col("doc_id") * 2654435761) % 100 < 10).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "docs_stratified_sample",
    """
SELECT doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * 2654435761) % 9973, doc_id
         ) AS rn
  FROM documents
) t
WHERE rn <= 20
""",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: a fixed-size quota per stratum (language),
    drawn in deterministic pseudo-random order (multiplicative-hash rank
    with doc_id tiebreak — no RNG, engine-portable). One shuffle on the
    stratum key; at scale with hot strata this takes the same two-phase
    salted form as top-k (operators/skew.py)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        ((F.col("doc_id") * 2654435761) % 9973).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "n_chars")
    )


def _media_feature_knn_sql() -> str:
    """Full-value oracle for the Pandas-UDF feature path: the stub
    decoder's feature[j] = mean of payload bytes at positions ≡ j (mod 8)
    / 255 is re-derived in pure SQL — the fixture text is ASCII (utf-8
    byte i == ord(char i), asserted empirically for every gate table), the
    byte sums are exact integers (numpy's pairwise float64 summation of
    integers ≤ 2^53 is exact, so summation order is moot), and the final
    mean/scale divisions are the same two IEEE ops numpy performs. The
    knn scoring then mirrors the Spark chains term-for-term."""
    feat = ",\n         ".join(
        f"(CAST(list_sum(list_transform(range(length(text)), i -> "
        f"CASE WHEN i % 8 = {j} THEN "
        f"ord(substring(text, CAST(i + 1 AS INT), 1)) ELSE 0 END)) "
        f"AS DOUBLE) / CAST((length(text) + 7) // 8 AS DOUBLE)) / 255.0e0"
        f" AS f{j}"
        for j in range(8)
    )
    dot = " + ".join(f"a.f{i} * q.f{i}" for i in range(8))
    nv = "sqrt(" + " + ".join(f"a.f{i} * a.f{i}" for i in range(8)) + ")"
    nq = "sqrt(" + " + ".join(f"q.f{i} * q.f{i}" for i in range(8)) + ")"
    return f"""
WITH feats AS (
  SELECT doc_id AS media_id,
         {feat}
  FROM documents
),
p AS (
  SELECT q.media_id AS qid, a.media_id,
         CASE WHEN {nv} > 0 AND {nq} > 0
              THEN ({dot}) / ({nv} * {nq}) END AS cosine
  FROM feats a CROSS JOIN feats q
  WHERE q.media_id < 5 AND a.media_id <> q.media_id
)
SELECT qid, media_id, cosine, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY cosine DESC, media_id) AS rn
  FROM p
) t
WHERE rn <= 3
"""


@register("media_feature_knn", _media_feature_knn_sql())
def media_feature_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed multimodal retrieval: binary payloads → Arrow-batched
    feature extraction (operators/multimodal.py:extract_features, decode
    stubbed / plumbing real) → brute-force cosine top-3 per query medium
    over the extracted dim-8 features. The expensive half (feature
    extraction) is a map-only mapInPandas pass; scoring broadcasts the
    5-row query side, so the plan is scan → Arrow batch → broadcast join →
    per-query top-k — the exact shape of an image-dedup or caption-match
    pass at 100 TB. HASH-GATED since round 4: the deterministic stub
    features are re-derived byte-arithmetically in the oracle
    (_media_feature_knn_sql), closing the last rows-only gate; run-to-run
    determinism is additionally asserted in
    tests/test_streaming_multimodal.py."""
    from pyspark.sql import Window

    from .operators.multimodal import extract_features, synthesize_media

    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media, dim=8).select("media_id", "feature")
    # explicit literal id set (not a range predicate): the query side is
    # bounded by construction, which the plan audit recognizes as a
    # legitimate broadcast build
    q = feats.filter(F.col("media_id").isin(0, 1, 2, 3, 4)).select(
        F.col("media_id").alias("qid"), F.col("feature").alias("q_feat")
    )
    pairs = feats.crossJoin(F.broadcast(q)).filter(
        F.col("media_id") != F.col("qid")
    )
    dot = F.expr(
        " + ".join(f"feature[{i}] * q_feat[{i}]" for i in range(8))
    )
    nv = F.sqrt(F.expr(" + ".join(f"feature[{i}] * feature[{i}]" for i in range(8))))
    nq = F.sqrt(F.expr(" + ".join(f"q_feat[{i}] * q_feat[{i}]" for i in range(8))))
    scored = pairs.select(
        "qid",
        "media_id",
        F.when((nv > 0) & (nq > 0), dot / (nv * nq)).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("media_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("qid", "media_id", "cosine", "rn")
    )


@register(
    "events_incremental_rollup",
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 1e2
         AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-merge aggregation: the daily rollup computed as two
    independent partial aggregates (an 'already ingested' half and a 'new
    arrivals' half, split mid-month) merged by key — counts add, exact
    integer micro-unit sums add — and hash-gated against the single-pass
    batch GROUP BY over everything. This is the mergeability contract that
    makes incremental ingestion sound at scale: state(t+1) = merge(
    state(t), agg(delta)) with no re-read of history. The merge itself is
    a full-outer join on the (low-cardinality) group key with coalesce-to-
    zero on each side."""
    e = load_table(spark, sf_dir, "events")
    micros = F.round(F.col("value") * 100).cast("bigint")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    split = F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")

    def part(df):
        return df.groupBy(day.alias("day"), "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(micros).alias("s"),
        )

    # NULL-complete split: a NULL ts makes both `split` and `~split` NULL,
    # which would silently drop the row from both halves while the
    # single-pass oracle still emits a NULL-day group. Route NULL ts into
    # the "new arrivals" half so every row lands in exactly one partial.
    old = part(e.filter(split)).withColumnsRenamed(
        {"n": "n_old", "s": "s_old"}
    )
    new = part(e.filter(F.coalesce(~split, F.lit(True)))).withColumnsRenamed(
        {"n": "n_new", "s": "s_new"}
    )
    merged = old.join(new, ["day", "event_type"], "full_outer")
    return merged.select(
        "day",
        "event_type",
        (
            F.coalesce(F.col("n_old"), F.lit(0))
            + F.coalesce(F.col("n_new"), F.lit(0))
        ).alias("n_events"),
        (
            (
                F.coalesce(F.col("s_old"), F.lit(0))
                + F.coalesce(F.col("s_new"), F.lit(0))
            ).cast("double")
            / 100
        ).alias("total_value"),
    )


@register(
    "order_priority_multiset_ops",
    """
SELECT custkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM (
  SELECT o_custkey AS custkey FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  EXCEPT ALL
  SELECT o_custkey AS custkey FROM orders
  WHERE o_orderstatus = 'F'
) t
GROUP BY custkey
""",
)
def order_priority_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (§2.8): EXCEPT ALL — bag difference keeps
    multiplicity (each 'F' order cancels ONE high-priority order of the
    same customer), which DISTINCT-based EXCEPT destroys. Result folded to
    (key, multiplicity) so the gate pins the bag counts exactly."""
    o = load_table(spark, sf_dir, "orders")
    high = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey").alias("custkey"))
    fstat = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return (
        high.exceptAll(fstat)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("multiplicity"))
    )


@register(
    "valuation_checks_unpivot",
    oracles.with_valued(
        """
SELECT ticker, 'peg_pass' AS check_name, peg_pass AS verdict FROM valued
UNION ALL
SELECT ticker, 'pe_vs_sector_pass', pe_vs_sector_pass FROM valued
UNION ALL
SELECT ticker, 'margin_of_safety_pass', margin_of_safety_pass FROM valued
"""
    ),
)
def valuation_checks_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): the three tri-state screen verdicts melted
    to (ticker, check_name, verdict) rows — the shape dashboards and
    per-check aggregations want. Spark's native unpivot/melt (no
    row-multiplying join; one pass, 3× rows out)."""
    return _valued(spark, sf_dir).unpivot(
        "ticker",
        ["peg_pass", "pe_vs_sector_pass", "margin_of_safety_pass"],
        "check_name",
        "verdict",
    )


# ---------------------------------------------------------------------------
# Round 2 additions: CUBE, binned range join, distribution windows,
# embedding dup clusters, streaming session windows
# ---------------------------------------------------------------------------


@register(
    "events_type_day_cube",
    """
WITH e AS (
  SELECT event_type,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         value
  FROM events
)
SELECT event_type, day,
       CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e
GROUP BY CUBE (event_type, day)
""",
)
def events_type_day_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional rollup via CUBE(event_type, day): all four
    grouping sets (type x day, type, day, grand total) in ONE pass with
    ``grouping_id`` disambiguating NULL-as-subtotal from NULL data — the
    OLAP cube shape. Spark expands the sets map-side and shares the
    single shuffle; at scale this beats four separate groupBys by 4x on
    scan + shuffle volume."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    return (
        e.cube("event_type", "day")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("total_value"),
        )
        .select("event_type", "day", "gid", "n_events", "total_value")
    )


#: Value-tier band dimension for the range join: (band, lo, hi), hi exclusive.
VALUE_BANDS = [
    ("micro", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("mid", 50.0, 100.0),
    ("large", 100.0, 1000.0),
]


@register(
    "events_value_band_join",
    f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', {lo:.1f}e0, {hi:.1f}e0)" for b, lo, hi in VALUE_BANDS)}
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
""",
)
def events_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (value -> containing [lo, hi) band) executed as the
    scale-safe bucketed equi-join (operators/rangejoin.py): band intervals
    exploded into coarse buckets, broadcast hash join on the bucket key,
    exact residual predicate — never the O(|fact| x |bands|) broadcast
    nested loop a raw theta join plans to. Oracle states the same join
    declaratively with BETWEEN semantics."""
    from .operators.rangejoin import bucketed_range_join

    e = load_table(spark, sf_dir, "events").select("value")
    bands = spark.createDataFrame(VALUE_BANDS, "band string, lo double, hi double")
    return (
        bucketed_range_join(e, bands, "value", width=10.0, max_bucket=10)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "customer_balance_distribution",
    """
SELECT c_custkey, c_mktsegment, c_acctbal,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
""",
)
def customer_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: percent_rank + cume_dist of account balance
    within market segment. Tie groups share ranks, so ordering by the
    value alone stays deterministic; both engines compute (rank-1)/(n-1)
    and peers/n in identical double arithmetic."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


def _neardup_clusters_sql(band_bits: int | None = None) -> str:
    # edges is MATERIALIZED: DuckDB inlines plain CTEs, so the recursive
    # reach step would otherwise re-evaluate the whole signature/band/
    # verify chain EVERY iteration (measured 120s -> 3.9s at sf0.01 for
    # the 36-plane scaled variant). Values are unchanged — this is purely
    # an evaluation-strategy hint.
    return f"""
WITH RECURSIVE {_neardup_ctes(band_bits, materialize_bands=True)},
edges AS MATERIALIZED (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (
  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
),
sz AS (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY cluster_id)
SELECT vec_id, lab.cluster_id,
       CAST(n AS BIGINT) AS cluster_size,
       vec_id = lab.cluster_id AS is_canonical
FROM lab JOIN sz ON lab.cluster_id = sz.cluster_id
"""


@register("embeddings_neardup_clusters", _neardup_clusters_sql())
def embeddings_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: connected components (iterative
    min-label propagation, operators/dedup.py:dup_clusters) over the
    SRP-LSH cosine pair graph, electing min vec_id as canonical — the
    actionable form of embedding dedup (keep one representative per
    cluster). Gated on exact cluster assignments via the recursive
    reachability oracle. band_bits pinned at the fixture's 4 (see
    embeddings_neardup_lsh — SCALING.md documents the fixed-bits
    quadratic and band_bits_for_corpus is the production knob)."""
    from .operators.similarity import SRP_BAND_BITS

    pairs = cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), band_bits=SRP_BAND_BITS
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return D.dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        "is_canonical",
    )


@register(
    "events_stream_sessionization",
    ORACLES["events_sessionization"],
)
def events_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap) computed THROUGH Structured
    Streaming — session_window merges partial sessions across micro-batches
    under the watermark — and checked against the same gaps-and-islands
    oracle as the batch query. State per (user, open session) is evicted
    once the watermark passes the session end, so the operator runs forever
    on an unbounded stream."""
    import uuid

    name = "stream_gate_" + uuid.uuid4().hex[:12]
    stream = _events_stream(spark, sf_dir)
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )
    return _drain_stream(spark, sessions, name, "complete")


# ---------------------------------------------------------------------------
# Round-2 surface: grouped sufficient-statistics ML primitives, ROLLUP
# hierarchy, TF-IDF term profiling, relational division, funnel analysis
# ---------------------------------------------------------------------------


@register(
    "part_brand_price_size_lm",
    """
WITH s AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM (SELECT p_brand,
               CAST(p_size AS BIGINT) AS x,
               CAST(round(p_retailprice * 1e2) AS BIGINT) AS y
        FROM part)
  GROUP BY p_brand
)
SELECT p_brand, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_size_price,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) / 1e2 AS slope_per_size,
       (CAST(sy AS DOUBLE) / n
        - CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE)
          * CAST(sx AS DOUBLE) / n) / 1e2 AS intercept
FROM s
""",
)
def part_brand_price_size_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation + OLS fit (slope/intercept) of retail
    price on size per brand, computed from EXACT integer sufficient
    statistics (n, Σx, Σy, Σx², Σy², Σxy over bigint micro-cents).

    This is the distributed-ML moment pattern: the six moments are one
    map-side-combinable aggregate (one shuffle of 6 longs per group — the
    same shape at 100 TB), and corr/slope/intercept are a handful of
    closed-form double ops on exactly-equal integers, so the result is
    bit-deterministic under any partitioning and across engines — unlike
    F.corr/F.covar_samp, whose float accumulation is merge-order-dependent.
    The same six moments back every normal-equation fit (y = a + bx).
    """
    p = load_table(spark, sf_dir, "part")
    base = p.select(
        "p_brand",
        F.col("p_size").cast("bigint").alias("x"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("y"),
    )
    s = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope_m = cov_n / var_x
    return s.select(
        "p_brand",
        "n",
        (cov_n / F.sqrt(var_x * var_y)).alias("corr_size_price"),
        (slope_m / F.lit(100.0)).alias("slope_per_size"),
        (
            (
                F.col("sy").cast("double") / F.col("n")
                - slope_m * (F.col("sx").cast("double") / F.col("n"))
            )
            / F.lit(100.0)
        ).alias("intercept"),
    )


@register(
    "region_nation_revenue_rollup",
    """
SELECT r_name, n_name,
       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def region_nation_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP(region, nation) revenue: nation detail, region
    subtotals, grand total in ONE shuffled aggregate (grouping_id
    disambiguates subtotal NULLs from data NULLs). Only the fixed-size
    geography dims (nation=25, region=5 rows at every SF) are hinted
    broadcast; customer is SF-linear so AQE decides its join strategy
    from runtime stats.

    Partial-aggregate PUSHDOWN below the join: per-order revenue/count
    aggregate first — groupBy(l_orderkey) hash-partitions on exactly the
    key the orders join needs, so the exchange is reused and everything
    downstream (orders/customer joins, the rollup's 3-way Expand) runs
    over orders-cardinality rows instead of lineitem-cardinality.
    Decimal partials re-sum exactly (associative), so results are
    bit-identical to the direct join (measured 0.6x wall at sf0.1).
    The rollup's three grouping sets still share one scan + exchange."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_order = l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,6)"
            )
        ).alias("rev_part"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.sum("n_items").cast("bigint").alias("n_lineitems"),
            F.sum("rev_part").cast("double").alias("revenue"),
        )
        .select("r_name", "n_name", "gid", "n_lineitems", "revenue")
    )


@register(
    "docs_tfidf_top_terms",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
idf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, idf.df,
         CAST(tf.tf * nd.n_docs AS DOUBLE) / idf.df AS tfidf
  FROM tf JOIN idf USING (term) CROSS JOIN nd
  WHERE tf.doc_id % 97 = 0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
""",
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (document-frequency statistics over
    the FULL corpus; scoring projected onto a deterministic doc subset to
    bound output).

    The idf factor is the LINEAR inverse n_docs/df, not log(n_docs/df):
    tf·N and df are exact integers, so one double divide is
    bit-deterministic across engines, while log() is libm-dependent in the
    last ulp (the log variant is a one-expression swap where cross-engine
    hashing isn't required). Plan shape: explode → two map-side-combined
    aggregates (term stats are corpus-wide, shuffled by term once, then by
    doc for the top-k window); the scalar n_docs attaches as a broadcast.
    At 100 TB the df relation is the only corpus-global state and it is
    vocabulary-sized, not corpus-sized. The (doc, term, tf) index is
    materialized once (localCheckpoint) and feeds BOTH the df aggregate
    and the scoring branch — without it each branch re-runs the
    corpus-wide explode+count; the scoring subset is tiny after its
    doc filter, so it broadcasts into the vocabulary-sized df join."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=True)
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        # plain keyed join on term: the scoring subset is corpus-linear
        # (1/97 of the (doc,term) index), so no forced broadcast — both
        # sides are already term-keyed and AQE sizes the build at runtime
        tf.filter(F.col("doc_id") % 97 == 0)
        .join(idf, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rn")
    )


@register(
    "suppliers_full_coverage",
    """
WITH probe AS (SELECT p_partkey FROM part WHERE p_partkey % 1000 = 0),
sp AS (
  SELECT DISTINCT l_suppkey, l_partkey
  FROM lineitem JOIN probe ON l_partkey = p_partkey
),
cov AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_covered
  FROM sp GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, n_covered
FROM cov JOIN supplier ON l_suppkey = s_suppkey
WHERE n_covered = (SELECT COUNT(*) FROM probe)
""",
)
def suppliers_full_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: suppliers that shipped EVERY part in a probe
    set (for-all semantics via count-matching — the standard decorrelated
    form: distinct supplier×probe-part hits, grouped, kept when the hit
    count equals the probe cardinality). The probe (part/1000 — still
    SF-linear) joins un-hinted into lineitem and re-aggregates to the
    1-row scalar for the final equality; AQE broadcasts it while it fits.
    No correlated subquery survives in the plan, so the shape holds at
    any fact-table scale."""
    part = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    probe = part.filter(F.col("p_partkey") % 1000 == 0).select("p_partkey")
    sp = (
        # probe is part/1000 — still SF-linear, so no forced hint; AQE
        # broadcasts it at every SF where it fits
        l.join(probe, l.l_partkey == probe.p_partkey)
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    cov = sp.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_covered")
    )
    total = probe.agg(F.count(F.lit(1)).alias("n_probe"))
    return (
        cov.crossJoin(F.broadcast(total))
        .filter(F.col("n_covered") == F.col("n_probe"))
        .join(s, cov.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "n_covered")
    )


@register(
    "events_funnel_daily",
    """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
c AS (
  SELECT user_id, ts,
         EXISTS (
           SELECT 1 FROM e p
           WHERE p.event_type = 'purchase' AND p.user_id = c0.user_id
             AND p.ts >= c0.ts AND p.ts <= c0.ts + INTERVAL 1 HOUR
         ) AS converted
  FROM e c0 WHERE event_type = 'click'
)
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_clickers,
       CAST(COUNT(DISTINCT CASE WHEN converted THEN user_id END) AS BIGINT)
         AS n_converted
FROM c GROUP BY 1
""",
)
def events_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click→purchase conversion funnel: per day, distinct clicking
    users and the subset whose click is followed by a purchase by the same
    user within 1 hour.

    The oracle states it as a correlated EXISTS; the Spark plan is the
    scale-safe sequence form — ONE window pass per user (min purchase
    timestamp over RANGE CURRENT ROW..UNBOUNDED FOLLOWING) instead of a
    time-range self-join. The RANGE frame (not ROWS) makes equal-timestamp
    purchase peers visible to the click regardless of intra-key sort
    order, so the result is tie-deterministic. One shuffle by user_id plus
    the final daily aggregate; no join, no fan-out — the funnel shape that
    survives 100 TB of events."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(0, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", us)
    ).over(w)
    clicks = (
        e.withColumn("np_us", next_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "user_id",
            (
                (F.col("np_us") - us) <= F.lit(3_600_000_000)
            ).alias("converted"),
        )
    )
    return clicks.groupBy("day").agg(
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_clickers"),
        F.count_distinct(
            F.when(F.col("converted"), F.col("user_id"))
        ).cast("bigint").alias("n_converted"),
    )


@register(
    "events_user_retention",
    """
WITH act AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events
),
coh AS (SELECT user_id, MIN(d) AS cd FROM act GROUP BY user_id)
SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', cd, d) AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT act.user_id) AS BIGINT) AS n_active
FROM act JOIN coh ON act.user_id = coh.user_id
WHERE datediff('day', cd, d) <= 13
GROUP BY 1, 2
""",
)
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen day; per cohort, the
    count of distinct users active at each day offset (0..13). Two
    aggregates over the same user-keyed relation — the distinct-activity
    set and its per-user min — joined back on user_id (both sides arrive
    hash-partitioned by user_id from their aggregates, so the join adds no
    third shuffle). The day_offset cap keeps the output cohort×14 sized
    regardless of corpus scale."""
    e = load_table(spark, sf_dir, "events")
    act = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    coh = act.groupBy("user_id").agg(F.min("d").alias("cd"))
    return (
        act.join(coh, "user_id")
        .select(
            F.date_format("cd", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cd").cast("bigint").alias("day_offset"),
            "user_id",
        )
        .filter(F.col("day_offset") <= 13)
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.count_distinct(F.col("user_id")).cast("bigint").alias("n_active")
        )
    )


def _contamination_sql(n: int = 4) -> str:
    from .functions import text as T

    concat = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(n))
    return f"""
WITH dtoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shm AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= {n}
                THEN list_transform(range(len(w) - {n - 1}), i -> {concat})
                ELSE CAST([] AS VARCHAR[]) END) AS shingle
  FROM dtoks
),
hashed AS (
  SELECT DISTINCT doc_id, {T.md5_hash48_sql("shingle")} % {T.HASH_P} AS h
  FROM shm
),
bench AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 101 = 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM hashed JOIN bench USING (h)
WHERE doc_id % 101 <> 0
GROUP BY doc_id
"""


@register("docs_contamination_check", _contamination_sql())
def docs_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (train/test overlap): corpus documents
    sharing at least one n-token shingle with a held-out benchmark set
    (here the deterministic doc_id%101 slice), with the shared-shingle
    count as evidence strength. n is a parameter; production contamination
    checks use 8-13-gram windows — the gate pins n=4, the smallest size
    that is non-vacuous (nonzero hits) on the fixture corpus.

    The decisive scale property: the benchmark side is SMALL by definition
    (eval suites are 10^4-10^6 items), so its distinct shingle-hash set
    broadcasts and the 100 TB corpus side streams map-side through the
    semi-join as a raw MULTISET — no corpus-wide distinct, no
    corpus-sized shuffle anywhere: the only exchange carries the matched
    hits, and the distinct-shared-shingle count dedups inside that tiny
    per-hit aggregate. The benchmark branch's doc_id filter pushes down
    to its scan, so it never reads the rest of the corpus. Shingles are
    hashed in the scan stage (8-byte longs, never strings,
    operators/dedup.py)."""
    from .operators.dedup import _shingle_hash_multiset

    docs = load_table(spark, sf_dir, "documents")
    shm = _shingle_hash_multiset(docs, n=4)
    is_bench = F.col("doc_id") % 101 == 0
    bench_h = shm.filter(is_bench).select("h").distinct()
    return (
        shm.filter(~is_bench)
        .join(F.broadcast(bench_h), "h")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("h")).cast("bigint").alias("n_shared"))
    )


@register(
    "orders_merge_upsert",
    """
WITH base AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
delta AS (
  SELECT o_orderkey, o_totalprice + 1 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN d.o_orderkey IS NOT NULL THEN 'delta' ELSE 'base' END AS src,
       COALESCE(d.o_totalprice, b.o_totalprice) AS o_totalprice
FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
""",
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / SCD-1 upsert semantics as a relational plan: delta
    rows win on key match, unmatched base rows survive, unmatched delta
    rows insert — the full-outer join + coalesce form (the same contract
    Delta/Iceberg MERGE compiles to). Provenance column marks the action
    taken per row. At table scale the physical twin is
    sources/layout.py:overwrite_partitions — join only the partitions the
    delta touches, rewrite exactly those — so the shuffle is bounded by
    delta-adjacent data, not table size."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("bk"), F.col("o_totalprice").alias("bp")
    )
    delta = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("dk"),
        (F.col("o_totalprice") + 1).alias("dp"),
    )
    return base.join(
        delta, base.bk == delta.dk, "full_outer"
    ).select(
        F.coalesce(F.col("dk"), F.col("bk")).alias("o_orderkey"),
        F.when(F.col("dk").isNotNull(), F.lit("delta"))
        .otherwise(F.lit("base"))
        .alias("src"),
        F.coalesce(F.col("dp"), F.col("bp")).alias("o_totalprice"),
    )


@register(
    "embeddings_label_centroids",
    """
WITH pos AS (SELECT CAST(range AS BIGINT) AS p FROM range(64)),
q AS (
  SELECT label, p,
         CAST(floor(CAST(embedding[p + 1] AS DOUBLE) * 1073741824e0)
              AS BIGINT) AS qv
  FROM embeddings CROSS JOIN pos
)
SELECT label, p AS pos,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 1073741824e0 AS centroid
FROM q GROUP BY label, p
""",
)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototypes / one k-means M-step),
    merge-order-invariant: each float component is widened to double
    (exact) and floor-quantized to a 2^-30 fixed-point grid, so the
    per-label accumulation is an EXACT integer sum — identical under any
    partitioning and in DuckDB — and the mean divides back out at the end.
    (Float summation order varies with partitioning; fixed-point is the
    standard determinism trick for distributed centroid updates. 2^-30 is
    below float32 resolution for unit-scale embeddings, so quantization
    error is dominated by the inputs' own rounding.) One posexplode + one
    map-side-combined aggregate: dims × labels output rows, no joins."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.floor(
        F.col("v").cast("double") * F.lit(1073741824.0)
    ).cast("bigint")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .select(F.col("label"), F.col("pos").cast("bigint").alias("pos"), qv.alias("qv"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            (
                F.sum("qv").cast("double")
                / F.count(F.lit(1))
                / F.lit(1073741824.0)
            ).alias("centroid"),
        )
    )


def _checksum_sql() -> str:
    from .functions import text as T

    return f"""
WITH rows_ AS (
  SELECT l_returnflag,
         concat_ws('|',
           CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),
           CAST(l_suppkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
           CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
           CAST(CAST(round(l_extendedprice * 1e2) AS BIGINT) AS VARCHAR),
           l_returnflag, l_linestatus,
           strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d')) AS rs
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST({T.md5_hash48_sql("rs")} AS DECIMAL(38,0)))
            AS DECIMAL(38,0)) AS checksum
FROM rows_ GROUP BY l_returnflag
"""


@register("lineitem_table_checksum", _checksum_sql())
def lineitem_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksum per return-flag slice: a canonical row string
    (keys, integerized measures, fixed-format date) hashed with the
    portable md5-prefix hash (one native JVM intrinsic per row — no
    per-character lambda) and summed exactly (decimal accumulator, so
    the sum cannot overflow at any table size and is identical under any
    partitioning/engine — addition is commutative, unlike float). The
    checksum STAYS decimal(38,0) end-to-end: a final cast to double is
    not engine-portable — Java rounds BigDecimal->double correctly,
    DuckDB converts hugeint->double via two half-word roundings, and at
    sf0.1 the R-slice sum landed between doubles where the two disagree
    by 1 ulp (caught by the round-5 sf0.1 full sweep).

    This is the cross-system integrity primitive: run the same fold on a
    replica / after a migration / before-and-after a rewrite
    (layout.py:overwrite_partitions) and compare 3 numbers instead of
    100 TB of rows. Plan: scan → map-side hash → one combinable aggregate;
    no shuffle beyond the 3-group exchange."""
    from .functions.text import md5_hash48

    l = load_table(spark, sf_dir, "lineitem")
    rs = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("bigint").cast("string"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    return (
        l.select("l_returnflag", rs.alias("rs"))
        .select("l_returnflag", md5_hash48("rs").alias("h"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Round-2 surface: semi-structured JSON extraction, Gopher-style repetition
# gates, chunk-level cross-doc dedup, vocabulary build + OOV encoding,
# token-stream sequence packing, SCD-2 history
# ---------------------------------------------------------------------------


@register(
    "events_json_props_stats",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
FROM (SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events)
GROUP BY event_type
""",
)
def events_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of a JSON string
    column (`props`) and aggregate it per event type.

    `get_json_object` evaluates JVM-side inside the scan stage (Jackson,
    no Python), so at 100 TB the JSON parse rides the same codegen pass as
    the filter/projection — the extracted bigint, not the raw JSON string,
    is all that reaches the aggregate's shuffle. The avg divides the exact
    integer SUM once at the end (merge-order-invariant). For hot paths with
    a stable schema, the scale upgrade is `from_json` into a struct column
    at ingestion (parse once, store columnar) — this query is the
    read-side form the reference's ad-hoc property probes take."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count("k").cast("bigint").alias("n_with_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
    )


@register(
    "docs_repetition_gates",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS g2
  FROM toks
),
b2 AS (
  SELECT doc_id, n_tokens,
         CAST(len(g2) AS BIGINT) AS n_2grams,
         CAST(len(list_distinct(g2)) AS BIGINT) AS nd_2grams
  FROM base
),
ex AS (SELECT doc_id, unnest(w) AS tok FROM toks),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2),
top AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_cnt,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
  FROM tc GROUP BY 1
)
SELECT b2.doc_id, n_tokens,
       CAST(top_cnt AS DOUBLE) / n_tokens AS top_token_frac,
       CASE WHEN n_2grams > 0
            THEN 1.0e0 - CAST(nd_2grams AS DOUBLE) / n_2grams
            ELSE 0.0e0 END AS dup_2gram_frac,
       CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS distinct_ratio,
       (CAST(top_cnt AS DOUBLE) / n_tokens > 0.2e0
        OR (CASE WHEN n_2grams > 0
                 THEN 1.0e0 - CAST(nd_2grams AS DOUBLE) / n_2grams
                 ELSE 0.0e0 END) > 0.6e0
        OR CAST(n_distinct_tokens AS DOUBLE) / n_tokens < 0.15e0)
         AS flag_repetitive
FROM b2 JOIN top ON b2.doc_id = top.doc_id
""",
)
def docs_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates: per document, the fraction of
    tokens taken by the single most frequent token, the duplicate-2-gram
    fraction, and the distinct-token ratio, plus the composite boolean gate
    a curation pipeline would filter on (thresholds are the tunable knobs;
    these are set to fire on the fixture's most repetitive docs).

    Scale shape: the 2-gram metrics are pure array expressions inside the
    scan stage (no shuffle); the top-token count is the one piece that
    needs an aggregate — explode to (doc_id, token), count with map-side
    combine, then max per doc. Both aggregates key on doc_id(+token), so
    the whole query is two combinable aggregates and one doc_id-keyed
    join — no corpus-wide wide rows, no driver participation, linear at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", T.tokens("text").alias("w"))
    g2 = T.shingles_expr("w", 2)
    base = d.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size(g2).cast("bigint").alias("n_2grams"),
        F.size(F.array_distinct(g2)).cast("bigint").alias("nd_2grams"),
    )
    ex = d.select("doc_id", F.explode("w").alias("tok"))
    top = (
        ex.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("bigint").alias("top_cnt"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        )
    )
    j = base.join(top, "doc_id")
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    dup2 = F.when(
        F.col("n_2grams") > 0,
        F.lit(1.0) - F.col("nd_2grams").cast("double") / F.col("n_2grams"),
    ).otherwise(F.lit(0.0))
    dratio = F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
    return j.select(
        "doc_id",
        "n_tokens",
        top_frac.alias("top_token_frac"),
        dup2.alias("dup_2gram_frac"),
        dratio.alias("distinct_ratio"),
        (
            (top_frac > 0.2) | (dup2 > 0.6) | (dratio < 0.15)
        ).alias("flag_repetitive"),
    )


def _chunk_dedup_sql(chunk: int = 20) -> str:
    from .functions import text as T

    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(
           range(CAST(ceil(len(w) / {chunk}.0e0) AS BIGINT)),
           i -> array_to_string(w[i*{chunk}+1 : i*{chunk}+{chunk}], ' ')
         )) AS chunk
  FROM toks
),
ch AS (SELECT doc_id, {T.md5_hash48_sql("chunk")} AS h FROM chunks),
dfreq AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_chunk_frac
FROM ch JOIN dfreq USING (h)
GROUP BY doc_id
"""


@register("docs_chunk_dedup", _chunk_dedup_sql())
def docs_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-analog) cross-document dedup: split each doc
    into fixed 20-token chunks (tail kept), hash each chunk, and report per
    doc how many of its chunks also appear verbatim in at least one OTHER
    document — the sub-document boilerplate signal that document-level
    exact dedup (fingerprint groupBy) cannot see.

    Scale shape: chunking is an array expression in the scan stage; the
    chunk relation carries (doc_id, 8-byte hash) only — never chunk text.
    Two combinable aggregates (per-hash distinct-doc count, per-doc
    rollup) and one hash-keyed join; a chunk shared by k docs fans out k
    rows, linear in real duplication mass, so no quadratic blowup. This is
    the same inverted-index shape as `docs_jaccard_pairs` but grouped back
    per doc instead of per pair (and so needs no max_df cap)."""
    from .functions.text import md5_hash48

    docs = load_table(spark, sf_dir, "documents")
    chunk = 20
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(w) / {chunk}.0) as int) - 1),"
        f" i -> concat_ws(' ', slice(w, i*{chunk}+1, {chunk})))"
    )
    ch = (
        docs.select("doc_id", T.tokens("text").alias("w"))
        .select("doc_id", F.explode(chunks).alias("chunk"))
        .select("doc_id", md5_hash48("chunk").alias("h"))
    )
    dfreq = ch.groupBy("h").agg(
        F.count_distinct(F.col("doc_id")).alias("ndocs")
    )
    is_dup = F.when(F.col("ndocs") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        ch.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(is_dup).cast("bigint").alias("n_dup_chunks"),
            (F.sum(is_dup).cast("double") / F.count(F.lit(1))).alias(
                "dup_chunk_frac"
            ),
        )
    )


@register(
    "docs_vocab_encode",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ex AS (SELECT doc_id, unnest(w) AS tok FROM toks),
tc AS (SELECT tok, COUNT(*) AS c FROM ex GROUP BY tok),
vocab AS (
  SELECT tok,
         CAST(row_number() OVER (ORDER BY c DESC, tok) - 1 AS BIGINT) AS id
  FROM tc ORDER BY c DESC, tok LIMIT 16
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) - COUNT(id) AS BIGINT) AS n_oov,
       CAST(COUNT(*) - COUNT(id) AS DOUBLE) / COUNT(*) AS oov_rate,
       CAST(SUM(COALESCE(id, 0)) AS BIGINT) AS id_checksum
FROM ex LEFT JOIN vocab USING (tok)
GROUP BY doc_id
""",
)
def docs_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style vocabulary build + encode: rank the corpus's top-16
    tokens by global frequency (ties broken lexically) into id 0..15, then
    encode every document against that vocab — per doc, the token count,
    out-of-vocabulary count/rate, and the exact integer checksum of the
    assigned ids (proves the encode join actually ran).

    Scale shape: the vocab build is one map-side-combined count over
    (token) plus a distributed TakeOrdered top-k (`orderBy().limit()`
    compiles to per-partition partial top-k, never a global sort); the
    vocab is tiny by construction, so the encode join BROADCASTS it and
    the corpus streams map-side — one doc_id-keyed aggregate is the only
    corpus-sized shuffle. Real BPE vocab builds are this same shape with
    merges iterated; the id_checksum discipline (exact ints) keeps the
    gate bit-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("tok")
    )
    tc = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql.window import Window

    vocab = (
        tc.orderBy(F.desc("c"), F.asc("tok"))
        .limit(16)
        .withColumn(
            "id",
            (
                F.row_number().over(
                    Window.orderBy(F.desc("c"), F.asc("tok"))
                )
                - 1
            ).cast("bigint"),
        )
        .select("tok", "id")
    )
    return (
        ex.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("id")).cast("bigint").alias("n_oov"),
            (
                (F.count(F.lit(1)) - F.count("id")).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
            F.sum(F.coalesce(F.col("id"), F.lit(0)))
            .cast("bigint")
            .alias("id_checksum"),
        )
    )


def _pack_sequences_sql(budget: int = 2048, shards: int = 8) -> str:
    from .functions import text as T

    h_doc = T.md5_hash48_sql("CAST(doc_id AS VARCHAR)")
    h_ord = T.md5_hash48_sql("'p|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {h_doc} % {shards} AS shard,
         {h_ord} AS hkey
  FROM documents
),
placed AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY hkey, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start_offset
  FROM d
)
SELECT shard,
       CAST(floor(start_offset / {budget}.0e0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
FROM placed
GROUP BY 1, 2
"""


@register("docs_pack_sequences", _pack_sequences_sql())
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch sequence packing: deterministically shuffle the
    corpus (order by a hash of doc_id — data-independent, reproducible,
    no RNG), concatenate token counts into a per-shard token stream, and
    cut the stream every 2048 tokens; report docs and tokens per bin.
    This is the GPT-style pack-then-chunk layout pass that turns a
    curated corpus into fixed-budget training sequences.

    Scale shape: the running token offset is a window cumsum PARTITIONED
    BY SHARD — never a global single-partition window. Each shard packs
    independently (shards = O(cluster cores) in production; 8 here), so
    the sort is per-shard and the whole pass is one hash-shuffle + one
    window + one combinable aggregate. The hash order also makes the
    result independent of input partitioning — the property that makes
    packed shards reproducible across re-runs and cluster sizes."""
    from pyspark.sql.window import Window

    from .functions.text import md5_hash48

    budget, shards = 2048, 8
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(T.tokens("text")).cast("bigint").alias("n_tokens"),
        (md5_hash48(F.col("doc_id").cast("string")) % shards).alias("shard"),
        md5_hash48(
            F.concat(F.lit("p|"), F.col("doc_id").cast("string"))
        ).alias("hkey"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = d.select(
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    )
    return (
        placed.select(
            "shard",
            F.floor(F.col("start_offset") / F.lit(float(budget)))
            .cast("bigint")
            .alias("bin_id"),
            "n_tokens",
        )
        .groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
        )
    )


@register(
    "orders_scd2_history",
    """
SELECT o_custkey,
       o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(
         lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ), '%Y-%m-%d') AS valid_to,
       o_totalprice,
       lead(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) IS NULL AS is_current
FROM orders
""",
)
def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 (slowly-changing-dimension) effective-range history: per
    customer, each order becomes a versioned row valid from its own date
    until the customer's next order (NULL = still current). The lead()
    window is the standard snapshot→interval transform every lakehouse
    dimension-history build uses (the write-side twin is
    layout.py:overwrite_partitions for restating closed ranges).

    One shuffle on the dimension key, one ordered window pass, no joins;
    ties (same customer, same date) are ordered by o_orderkey so the
    chain is deterministic in both engines."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        "o_totalprice",
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Report rendering (F19)
# ---------------------------------------------------------------------------

from .functions import report as R  # noqa: E402

_WRAP_PRE_SQL = R.WRAPPER_PREFIX.replace("'", "''")
_WRAP_SUF_SQL = R.WRAPPER_SUFFIX.replace("'", "''")

@register(
    "valuation_report_html",
    oracles.with_valued(
        r"""
SELECT sector, report_md,
       '"""
        + _WRAP_PRE_SQL
        + r"""' ||
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(report_md, '\*\*(.*?)\*\*', '<b>\1</b>', 'g'),
             '\n', '<br>', 'g'),
           '## (.*?)(<br>|$)', '<h3 style="color:#2c3e50;">\1</h3>', 'g'),
         '- ', '• ', 'g') ||
       '"""
        + _WRAP_SUF_SQL
        + r"""' AS report_html
FROM (
  SELECT sector,
         '## ' || sector || chr(10) ||
         '- tickers: ' || CAST(n_tickers AS VARCHAR) || chr(10) ||
         '- **hunter pass**: ' || CAST(n_hunter_pass AS VARCHAR) ||
         ' of ' || CAST(n_tickers AS VARCHAR) || chr(10) ||
         '- **undervalued**: ' || CAST(n_undervalued AS VARCHAR) ||
         ' of ' || CAST(n_tickers AS VARCHAR) AS report_md
  FROM (
    SELECT sector,
           CAST(COUNT(*) AS BIGINT) AS n_tickers,
           CAST(SUM(CASE WHEN valuation_hunter = 'pass' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hunter_pass,
           CAST(SUM(CASE WHEN valuation = 'undervalued' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_undervalued
    FROM valued
    GROUP BY sector
  )
)
"""
    ),
)
def valuation_report_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 — the reference's Markdown→HTML email rendering
    (analyze_nasdaq100_valuations_with_geminiAI.gs:138-146) as a native
    expression chain over a per-sector summary of the valuation output:
    heading + bulleted counts in Markdown, then the exact four-regex
    rewrite and styled wrapper div. Rendering happens in the projection
    of a 27-row aggregate here, but the expression is row-parallel — the
    same column renders N million per-document reports with zero Python
    and zero extra shuffles."""
    agg = R.sector_screen_agg(_valued(spark, sf_dir))
    md = R.sector_report_markdown(
        F.col("sector"),
        F.col("n_tickers"),
        F.col("n_hunter_pass"),
        F.col("n_undervalued"),
    )
    return agg.select(
        "sector",
        md.alias("report_md"),
        R.markdown_to_html(md).alias("report_html"),
    )


def _incremental_dedup_sql() -> str:
    """Oracle for docs_incremental_dedup: the minhash band/verify chain with
    the delta (doc_id % 10 = 0) probing only the base (doc_id % 10 <> 0)."""
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {T.HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(D.MINHASH_SEEDS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {j} AS band,"
        f" m{2 * j} * {T.HASH_P} + m{2 * j + 1} AS key FROM sigs"
        for j in range(D.N_BANDS)
    )
    return f"""
WITH {_shingle_hash_ctes().strip()},
sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
  FROM bands d JOIN bands b ON d.band = b.band AND d.key = b.key
  WHERE d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
),
ver AS (
  SELECT cand.delta_id, cand.base_id, COUNT(*) AS c
  FROM cand
  JOIN hashed a ON a.doc_id = cand.delta_id
  JOIN hashed b2 ON b2.doc_id = cand.base_id AND b2.h = a.h
  GROUP BY 1, 2
),
jac AS (
  SELECT delta_id, base_id,
         CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
  FROM ver
  JOIN sizes sa ON delta_id = sa.doc_id
  JOIN sizes sb ON base_id = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3e0
),
best AS (
  SELECT delta_id, base_id, jaccard,
         row_number() OVER (
           PARTITION BY delta_id ORDER BY jaccard DESC, base_id ASC
         ) AS rn
  FROM jac
)
SELECT d.doc_id,
       best.base_id IS NOT NULL AS is_dup,
       best.base_id AS match_doc_id,
       best.jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON d.doc_id = best.delta_id
"""


@register("docs_incremental_dedup", _incremental_dedup_sql())
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (operators/dedup.py:incremental_lsh_dedup):
    a new batch (doc_id % 10 = 0 stands in for today's ingest) is flagged
    against the existing corpus via the banded-LSH index — delta probes
    base, never base-vs-base, so per-batch cost is O(|delta| + matched
    buckets) instead of re-deduplicating the corpus. One row per delta doc
    with its best verified base match (ties to smallest base doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return D.incremental_lsh_dedup(base, delta, 3, 0.3)


@register(
    "docs_dedup_keep_best",
    """
WITH fp AS (
  SELECT doc_id, n_chars, md5(substr(text, 1, 40)) AS fingerprint
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars, fingerprint,
         row_number() OVER (
           PARTITION BY fingerprint ORDER BY n_chars DESC, doc_id ASC
         ) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_docs
  FROM fp
)
SELECT fingerprint, doc_id AS keep_doc_id, n_chars AS keep_n_chars, n_docs
FROM ranked WHERE rn = 1
""",
)
def docs_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each exact-dup group
    (prefix fingerprint), keep the highest-quality survivor (longest doc,
    ties to smallest doc_id) instead of keep-first — what a curation
    pipeline actually wants when near-identical crawls differ in
    truncation. Same one-shuffle shape as the keep-first tier (D1):
    row_number over the fingerprint partition; the group-size count rides
    the same window, so no second aggregate pass."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "n_chars",
        T.prefix_fingerprint("text", 40).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_docs",
            F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).cast("bigint"),
        )
        .filter("rn = 1")
        .select(
            "fingerprint",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_n_chars"),
            "n_docs",
        )
    )


@register("ann_pq_topk", _ora_ann.pq_rerank_oracle_sql())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via product quantization + exact re-rank
    (operators/similarity.py:pq_topk_rerank): deterministic per-subspace
    codebooks (no RNG), ADC scoring over compact codes for the shortlist,
    full-precision cosine only on shortlist rows.

    Hash-gated since round 4 by a GENERATED oracle (oracles_ann.py): the
    codebook trainer is re-run engine-independently (portable-hash sample
    via DuckDB + the shared numpy Lloyd core) and codebooks/ADC lookup
    tables embedded as literals in SQL that re-executes encode (first-min
    argmin), ADC scoring, the per-query shortlist and the exact re-rank.
    Only the shared model artifact sits outside the cross-engine check
    (trainer covered by recall bounds in tests/test_ann_kmeans.py). Falls
    back to rows-only if the gate table is absent at import."""
    from .operators.similarity import pq_topk_rerank

    return pq_topk_rerank(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5
    )


@register(
    "docs_pii_scrub",
    r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR) ||
         '@example.com or https://site.example/' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0
              THEN ' phone 555-867-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
           '\b(?:[0-9][ -]?){13,16}\b', '<CCNUM>', 'g') AS clean,
         CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT)
           AS n_urls,
         CAST(len(regexp_extract_all(text,
           '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones
  FROM seeded
)
SELECT doc_id, md5(clean) AS clean_md5, n_emails, n_urls, n_phones
FROM scrubbed
""",
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-stage PII redaction gate: every document (seeded with a
    deterministic doc_id-derived contact line, same fixture philosophy as
    synthetic_fundamentals — the corpus itself is clean word-soup) has
    emails/URLs/phones replaced by typed placeholders, with per-type match
    counts. The scrub chain and counts run entirely in the scan projection
    (regexp_replace / regexp_count — zero shuffles, zero Python); the
    oracle hash-gates the full scrubbed text via md5, so every byte of the
    redaction is checked, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://site.example/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" phone 555-867-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = [
        F.regexp_count("text", F.lit(pat)).cast("bigint").alias(alias)
        for pat, alias in [
            (T.PII_PATTERNS[0][0], "n_emails"),
            (T.PII_PATTERNS[1][0], "n_urls"),
            (T.PII_PATTERNS[2][0], "n_phones"),
        ]
    ]
    return seeded.select(
        "doc_id",
        F.md5(T.redact_pii("text").cast("binary")).alias("clean_md5"),
        *counts,
    )


@register(
    "events_stream_foreachbatch_sink",
    ORACLES["events_hourly_rollup"],
)
def events_stream_foreachbatch_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hourly rollup streamed into a PARQUET sink through foreachBatch
    (streaming/events.py:foreach_batch_overwrite_sink) and read back —
    the write-side streaming gate: memory-sink gates check operator
    semantics; this one checks the exactly-once sink pattern end-to-end
    (overwrite restatement = idempotent under batch replay) against the
    same batch oracle."""
    from .streaming.events import foreach_batch_overwrite_sink

    rolled = _hourly_rollup(_events_stream(spark, sf_dir))
    out_dir = _session_tmp_dir("fb_sink_")
    _drain(spark, foreach_batch_overwrite_sink(rolled, out_dir))
    return spark.read.parquet(out_dir)


@register(
    "docs_heavy_hitter_tokens",
    """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks)
SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
FROM toks, tot
GROUP BY tok, tot.n
HAVING COUNT(*) >= 0.002e0 * CAST(n AS DOUBLE)
""",
)
def docs_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens (operators/skew.py:exact_heavy_hitters):
    tokens covering ≥ 0.2% of all token occurrences, found WITHOUT
    shuffling the full vocabulary — partition-local candidate generation,
    broadcast semi-join, exact recount of candidates only. The shape that
    makes corpus-frequency gates (stop-lists, boilerplate detection)
    affordable on open vocabularies; result is provably identical to the
    naive GROUP BY ... HAVING, which is the oracle."""
    from .operators.skew import exact_heavy_hitters

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    return exact_heavy_hitters(toks, "tok", 0.002)


@register(
    "events_stream_click_purchase_leftouter",
    """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events
),
c AS (
  SELECT event_id AS click_id, ts AS click_ts, user_id FROM e
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-28 00:00:00'
),
p AS (
  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id FROM e
  WHERE event_type = 'purchase'
)
SELECT c.click_id, c.user_id,
       strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       p.purchase_id,
       strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM c LEFT JOIN p ON c.user_id = p.user_id
  AND p.purchase_ts >= c.click_ts
  AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
""",
)
def events_stream_click_purchase_leftouter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream interval join run through the streaming
    engine (streaming/events.py:click_purchase_leftouter_stream) and
    hash-checked against the batch LEFT JOIN — covering the NULL-emission
    path (unmatched rows released by watermark passage) that the inner
    interval-join gate can't exercise.

    Outer joins only release NULL rows in a batch whose APPLIED watermark
    has passed click_ts + horizon, and the applied watermark always lags
    one batch behind the data — a single-file availableNow run therefore
    never flushes the tail. So the gate streams the events table the way
    the reference's dated-file convention would deliver it: three
    time-sliced files, one micro-batch each (maxFilesPerTrigger=1), which
    makes the last batch apply a watermark ≥ 2024-01-28 22:00 — past
    cutoff + horizon, so every retained click (ts < 2024-01-28) is
    watermark-complete and emitted, matched or NULL. The fixture spans
    through 2024-01-30 at every SF."""
    import shutil
    import uuid

    from .streaming.events import click_purchase_leftouter_stream

    # Stage the dated-file layout: one parquet file per time slice, one
    # micro-batch each (shared staging helper).
    src = _stage_parquet_slices(
        load_table(spark, sf_dir, "events"), _TIME_SLICES, "lo_src_"
    )

    stream = _staged_stream(spark, src, _EVENTS_SCHEMA)
    name = "lojoin_gate_" + uuid.uuid4().hex[:12]
    try:
        return _drain_stream(
            spark,
            click_purchase_leftouter_stream(stream, "2024-01-28 00:00:00"),
            name,
            "append",
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


@register(
    "events_anomaly_zscore",
    """
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS sv,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sv2
  FROM events GROUP BY event_type
),
st AS (
  SELECT event_type,
         CAST(sv AS DOUBLE) / n AS mu,
         sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
              / (n - 1)) AS sigma
  FROM s
  WHERE n > 1
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - st.mu) / st.sigma AS zscore
FROM events e JOIN st USING (event_type)
WHERE st.sigma > 0e0
  AND abs((e.value - st.mu) / st.sigma) >= 1.5e0
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flagging from EXACT sufficient statistics:
    n, Σv, Σv² accumulate in decimal (merge-order-invariant, unlike float
    stddev's Welford merges, so the result is bit-identical across
    engines AND across partitionings), then one double-precision
    mean/stddev per type, broadcast back onto the stream — two passes over
    events, one tiny aggregate exchange, no window. The same shape
    extends to any moment-based quality gate (loss outliers, length
    outliers) at corpus scale; at 100 TB the decimal Σv² headroom is the
    knob to watch (rescale or widen precision before it saturates).

    Degenerate groups (n=1, or zero variance) are excluded in BOTH
    engines by construction: Spark's non-ANSI division would yield NULL
    (silently dropping the row) while DuckDB's IEEE float ops yield
    inf/nan and keep it — a latent cross-engine divergence unless the
    sigma > 0 guard is explicit on each side."""
    e = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).alias("sv"),
        F.sum(dec * dec).alias("sv2"),
    )
    sv = F.col("sv").cast("double")
    st = (
        s.filter(F.col("n") > 1)
        .select(
            "event_type",
            (sv / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("sv2").cast("double") - sv * sv / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
        .filter(F.col("sigma") > 0)
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(st), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) >= 1.5)
    )


@register(
    "events_props_variant_stats",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def events_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark 4):
    ``parse_json`` once in the scan stage, typed ``variant_get`` pulls —
    the modern engine path for open JSON columns. Unlike per-field
    ``get_json_object`` (which re-parses the string per extraction),
    VARIANT parses once into a binary-encoded tree and every subsequent
    path access is an O(log fields) binary probe — at 100 TB with many
    extracted fields that's the difference between N parses and one.
    Same aggregate oracle as the string-path queries, so the two
    extraction routes are verified to agree."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "orders_cdc_apply",
    """
WITH feed AS (
  SELECT o_orderkey,
         o_custkey,
         o_totalprice,
         (o_orderkey % 7) + 1 AS version,
         CASE WHEN o_orderkey % 11 = 0 THEN 'D'
              WHEN o_orderkey % 3 = 0 THEN 'U'
              ELSE 'I' END AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey,
         o_custkey,
         o_totalprice * 2 AS o_totalprice,
         (o_orderkey % 7) + 2 AS version,
         CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 2 = 0
),
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY version DESC, op DESC
  ) AS rn
  FROM feed
)
SELECT o_orderkey, o_custkey, o_totalprice, version, op AS last_op
FROM latest
WHERE rn = 1 AND op <> 'D'
""",
)
def orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply-changes: collapse an out-of-order insert/update/delete
    feed to the latest surviving row per key — the lakehouse MERGE-with-
    deletes every warehouse-to-lake replication pipeline runs. The feed is
    synthesized deterministically from orders (two overlapping change
    batches with versions and I/U/D ops); apply = one row_number window
    per key ordered by (version DESC, op DESC), keep rn=1, then drop keys
    whose latest op is a delete.

    Tie rule: at equal version, op DESC under binary string comparison
    ranks 'U' > 'I' > 'D', so an update beats a same-version insert or
    delete identically in both engines. One shuffle on the key (the window);
    at scale this is the standard snapshot-compaction shape — no join
    against the existing table until the final MERGE, which
    orders_merge_upsert / layout.overwrite_partitions cover."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    b1 = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        ((k % 7) + 1).alias("version"),
        F.when(k % 11 == 0, "D").when(k % 3 == 0, "U").otherwise("I").alias("op"),
    )
    b2 = (
        o.filter(k % 2 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            ((k % 7) + 2).alias("version"),
            F.when(k % 5 == 0, "D").otherwise("U").alias("op"),
        )
    )
    feed = b1.unionAll(b2)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.desc("version"), F.desc("op")
    )
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "version",
            F.col("op").alias("last_op"),
        )
    )


@register(
    "docs_train_val_test_split",
    """
WITH tagged AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN (doc_id * 2654435761) % 100 < 90 THEN 'train'
              WHEN (doc_id * 2654435761) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM tagged
GROUP BY split, lang
""",
)
def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by Knuth-hash bucket on
    doc_id — the assignment every corpus build needs to be (a) stable
    across reruns and engines (no RNG, no sampling order dependence),
    (b) computable at the scan with zero shuffles (the split column is a
    pure expression — add it as a partition column at write time and
    downstream readers prune to their split for free), and (c) disjoint
    by construction. Returns per-split/lang profile counts so the gate
    also checks the split's balance, not just membership."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", "lang", "n_chars", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_SUBSTR_L = 32
_SUBSTR_MIN_SHARED = 2
_SUBSTR_MAX_DF = 50
_SUBSTR_SAMPLE_MOD = 4


def _substring_dedup_sql() -> str:
    h = T.md5_hash48_sql(f"substring(text, CAST(i AS INTEGER), {_SUBSTR_L})")
    return f"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(1, length(text) - {_SUBSTR_L} + 2)) AS i
  FROM documents
  WHERE length(text) >= {_SUBSTR_L}
),
w AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, {h} % {T.HASH_P} AS h FROM pos
  ) t WHERE h % {_SUBSTR_SAMPLE_MOD} = 0
),
keptdf AS (
  SELECT h FROM w GROUP BY h HAVING COUNT(*) <= {_SUBSTR_MAX_DF}
),
kept AS (SELECT w.doc_id, w.h FROM w JOIN keptdf USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_SUBSTR_MIN_SHARED}
"""


@register("docs_substring_dedup", _substring_dedup_sql())
def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (operators/dedup.py:
    substring_dedup_pairs) — the remaining dedup tier beyond
    shingle/MinHash/SimHash, covering long verbatim overlap the
    set-similarity tiers under-weight (a 200-char quote inside two
    otherwise-different docs barely moves Jaccard but is exactly what
    suffix-array-style training-data dedup removes). Doc pairs sharing
    >= 2 selected 32-char stride-1 windows under 0-mod-4 content-defined
    window sampling (~40+ chars of verbatim overlap expected);
    inverted-index join over map-side window hashes with a stop-window
    document-frequency cap — banded, never all-pairs, one pair-aggregate
    shuffle, and the sampling cuts shuffle volume and join fan-in 4x
    (the production knob; sample_mod=1 is the exhaustive exact tier)."""
    from .operators.dedup import substring_dedup_pairs

    return substring_dedup_pairs(
        load_table(spark, sf_dir, "documents"),
        _SUBSTR_L,
        _SUBSTR_MIN_SHARED,
        _SUBSTR_MAX_DF,
        _SUBSTR_SAMPLE_MOD,
    )


@register(
    "events_stream_resume",
    ORACLES["events_hourly_rollup"],
)
def events_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume gate — proves exactly-once ACROSS A RESTART, the
    production property the single-run streaming gates skip.

    The three time-slices of the events table are staged with one job
    (``_stage_slices``). Phase 1 publishes only the first two and drains
    the hourly rollup (streaming/events.py:
    foreach_batch_overwrite_sink) with an EXPLICIT checkpoint. The query
    then stops. Phase 2 adds the final slice and starts a NEW query on
    the same source/checkpoint/sink. The restarted query reads ONLY the
    new file (the checkpoint's source log marks the first two as
    committed), so its complete-mode output can cover phase-1 events only
    by restoring the aggregation state store from the checkpoint — and
    the final table must hash-equal the batch oracle over ALL events.
    Double-processing (restart ignores source progress), state loss
    (restart ignores the store), or partial output would each break the
    hash. Sliced along event time like the dated-file convention the
    reference's Drive layout implies (load_drive.py's per-run files)."""
    import os
    import shutil

    from .streaming.events import foreach_batch_overwrite_sink

    src = _session_tmp_dir("resume_src_")
    ckpt = _session_tmp_dir("resume_ckpt_")
    out = _session_tmp_dir("resume_out_")
    stage = _session_tmp_dir("resume_stage_")
    staged = _stage_slices(
        load_table(spark, sf_dir, "events"), _TIME_SLICES, stage
    )

    def publish(i: int) -> None:
        if staged[i] is not None:
            shutil.move(staged[i], f"{src}/{i:03d}.parquet")

    def run_pipeline() -> None:
        stream = spark.readStream.schema(_EVENTS_SCHEMA).parquet(src)
        sink = foreach_batch_overwrite_sink(_hourly_rollup(stream), out, ckpt)
        _drain(spark, sink)

    publish(0)
    publish(1)
    run_pipeline()  # phase 1: first two slices, checkpoint written
    publish(2)
    os.rmdir(stage)  # every staged file is published
    run_pipeline()  # phase 2: resumes from checkpoint, reads ONLY slice 2
    shutil.rmtree(src)
    return spark.read.parquet(out)


_UDTF_CHUNK = 20


def _chunker_udtf_sql() -> str:
    c = _UDTF_CHUNK
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id, w,
         unnest(range(CAST(ceil(len(w) / {c}.0e0) AS BIGINT))) AS chunk_idx
  FROM toks
)
SELECT doc_id, chunk_idx,
       CAST(len(w[chunk_idx*{c}+1 : chunk_idx*{c}+{c}]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(w[chunk_idx*{c}+1 : chunk_idx*{c}+{c}], ' '))
         AS chunk_md5
FROM chunks
"""


@register("docs_chunker_udtf", _chunker_udtf_sql())
def docs_chunker_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunker as a Python UDTF (Spark 4 ``pyspark.sql.udtf``,
    Arrow-optimized) — the table-function shape for one-row-in /
    variable-rows-out operators that scalar UDFs can't express: each doc
    emits ceil(n_tokens/20) chunk rows (tail kept) with per-chunk token
    count and md5. Joins the lateral-UDTF surface to the VARIANT /
    Python-DataSource / transformWithState Spark-4 coverage.

    The UDTF is the INTENDED slow path here (per-doc python), registered
    to prove the API surface against the same chunk semantics the native
    expression pipeline uses (docs_chunk_dedup's transform/slice chunking,
    which remains the production scan-stage form); the oracle is the same
    chunk SQL. Arrow batching keeps transfer vectorized; per-doc output
    is bounded by doc length so no row explosion beyond corpus token
    count."""
    import hashlib
    import math

    from pyspark.sql.functions import udtf

    c = _UDTF_CHUNK

    class ChunkDocs:
        def eval(self, doc_id, text):
            w = ("" if text is None else text).split(" ")
            for i in range(math.ceil(len(w) / c)):
                chunk_toks = w[i * c : i * c + c]
                chunk = " ".join(chunk_toks)
                yield (
                    doc_id,
                    i,
                    len(chunk_toks),
                    hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                )

    chunker = udtf(
        ChunkDocs,
        returnType=(
            "doc_id bigint, chunk_idx bigint, n_tokens bigint,"
            " chunk_md5 string"
        ),
        useArrow=True,
    )
    spark.udtf.register("chunk_docs", chunker)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.chunk_md5 "
        "FROM _udtf_docs d, LATERAL chunk_docs(d.doc_id, d.text) c"
    )


def _has_tws_runtime() -> bool:
    """transformWithState's Python worker needs protobuf
    (pyspark/sql/streaming/proto/StateMessage_pb2) at runtime."""
    import importlib.util

    try:
        # find_spec on a dotted name imports the parent package, which
        # itself raises when the 'google' namespace is absent entirely
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


if _has_tws_runtime():

    @register(
        "events_stream_tws_user_totals",
        ORACLES["events_stateful_user_totals"],
    )
    def events_stream_tws_user_totals(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """transformWithState twin of events_stateful_user_totals
        (streaming/events.py:stateful_user_counts_tws): the same exact
        integer-micro-unit running totals on Spark 4's typed-state API,
        against the same batch oracle.

        CONDITIONALLY registered: TWS needs protobuf at runtime, absent
        in the build sandbox — this block self-registers the moment a
        future environment provides it (no code change needed), and
        tests/test_streaming_multimodal.py asserts registration tracks
        availability so the condition can't silently rot."""
        import uuid

        from .streaming.events import stateful_user_counts_tws

        name = "tws_gate_" + uuid.uuid4().hex[:12]
        stream = _events_stream(spark, sf_dir)
        drained = _drain_stream(
            spark, stateful_user_counts_tws(stream), name, "update"
        )
        return drained.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )


# ---------------------------------------------------------------------------
# registry extensions in sibling modules (import side effect = registration;
# placed at the bottom so `register` and the shared helpers exist first)
# ---------------------------------------------------------------------------

from . import queries_embeddings  # noqa: E402,F401
from . import queries_scaleops  # noqa: E402,F401
from . import queries_finance  # noqa: E402,F401
from . import queries_quality  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_temporal  # noqa: E402,F401
from . import queries_spatial  # noqa: E402,F401


# ---------------------------------------------------------------------------
# persisted IVF index (round 5): registered LAST so the driver-sampled
# first-50 registry prefix (tests/test_registry_order.py) stays fixed
# ---------------------------------------------------------------------------


@register("ann_ivf_partitioned_topk", _ivf_sql())
def ann_ivf_partitioned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a PERSISTED cell-partitioned parquet index: writes
    the inverted file once (operators/similarity.py:write_ivf_index —
    embeddings partitioned by their 4-plane sign cell under the
    atexit-cleaned gate temp root) and answers the same 5-query top-5 as
    ann_ivf_topk from it. The probe join triggers dynamic partition
    pruning (broadcast-reused subquery on the partition column), so only
    the query cells' directories are scanned — the durable, 100 TB form
    of the inverted file, where indexing cost is paid at write time and
    every search reads 1/2^planes of the corpus. Same oracle as
    ann_ivf_topk: the persisted path must be bit-identical to the
    in-memory one."""
    from .operators.similarity import ivf_topk_from_index, write_ivf_index

    path = _session_tmp_dir("ivf_index_")
    write_ivf_index(load_table(spark, sf_dir, "embeddings"), path)
    return ivf_topk_from_index(spark, path, [0, 1, 2, 3, 4], k=5)


@register("ann_ivf_stream_probe", _ivf_sql())
def ann_ivf_stream_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN serving against the persisted IVF index — the
    deployment shape of ann_ivf_partitioned_topk: query vectors arrive
    as a file stream (two staged micro-batches, ids {0,1} then
    {2,3,4}), and each micro-batch probes the cell-partitioned parquet
    index inside foreachBatch through the SAME partition-pruned lookup
    the batch query uses (ivf_topk_from_index — the probe join reuses
    the broadcast query side as a dynamic-partition-pruning subquery,
    so each batch reads only its query cells' directories). Per-batch
    top-k results land in the idempotent batchId-keyed store; since
    every query id appears in exactly one batch, the union of partials
    IS the batch answer, and the gate reuses ann_ivf_topk's oracle
    verbatim — a serving tier that drifted from the batch index by one
    rank breaks the hash.

    The per-batch id handoff is a driver-side collect of the probe IDS
    ONLY (8 bytes each — the query workload, not the corpus), and the
    lookup itself goes through ivf_topk_from_index_chunked: a batch
    larger than similarity.MAX_PROBE_IDS is split into bounded slices so
    the broadcast query side and the DPP IN-list never scale with
    whatever batch size the stream delivers. At 100 TB the index is the
    same partitioned parquet, batches carry thousands of probes, and
    each bounded slice still scans 1/2^planes of the data."""
    import shutil

    from .operators.similarity import write_ivf_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _session_tmp_dir("ivf_sidx_")
    write_ivf_index(e, path)
    src = _stage_parquet_slices(
        e.select("vec_id"), ["vec_id < 2", "vec_id >= 2 AND vec_id < 5"],
        "annprobe_src_",
    )
    store = _session_tmp_dir("annprobe_store_")

    def probe(bdf: DataFrame, batch_id: int) -> None:
        from .operators.similarity import ivf_topk_from_index_chunked

        ids = [int(r["vec_id"]) for r in bdf.collect()]  # ids only
        if not ids:
            return
        # chunked: one bounded broadcast+DPP lookup per MAX_PROBE_IDS
        # slice, unioned lazily into the single idempotent batch write
        out = ivf_topk_from_index_chunked(bdf.sparkSession, path, ids, k=5)
        _write_batch_partial(out, store, batch_id)

    _drain_foreach_batch(
        spark, _staged_stream(spark, src, "vec_id bigint"), probe
    )
    shutil.rmtree(src)
    return _read_batch_partials(spark, store)


def _minhash_eval_sql() -> str:
    n_perms = len(D.MINHASH_SEEDS)
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {T.HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(D.MINHASH_SEEDS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {j} AS band, m{2 * j} * {T.HASH_P} + m{2 * j + 1} AS key FROM sigs"
        for j in range(D.N_BANDS)
    )
    eqs = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
        for i in range(n_perms)
    )
    exact = (
        "CAST(COALESCE(inter.c, 0) AS DOUBLE)"
        " / (sa.n + sb.n - COALESCE(inter.c, 0))"
    )
    est = f"CAST(m.est_matches AS DOUBLE) / {n_perms}"
    return f"""
WITH {_shingle_hash_ctes().strip()},
sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
m AS (
  SELECT cand.doc_a, cand.doc_b, CAST({eqs} AS BIGINT) AS est_matches
  FROM cand
  JOIN sigs a ON cand.doc_a = a.doc_id
  JOIN sigs b ON cand.doc_b = b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
  GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b, m.est_matches,
       {est} AS est_jaccard,
       {exact} AS exact_jaccard,
       abs({est} - {exact}) AS abs_err,
       abs({est} - {exact}) <= 0.25e0 AS within_bound
FROM m
LEFT JOIN inter ON m.doc_a = inter.doc_a AND m.doc_b = inter.doc_b
JOIN sizes sa ON m.doc_a = sa.doc_id
JOIN sizes sb ON m.doc_b = sb.doc_id
"""


@register("docs_minhash_estimate_eval", _minhash_eval_sql())
def docs_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATION-ACCURACY audit — the companion to
    docs_lsh_recall_eval (which measures what banding finds, while this
    measures how well the signatures estimate resemblance): for every
    banded-LSH candidate pair, the signature-agreement estimate
    (matching components / 16) laid against the exact hash-set Jaccard,
    with per-pair absolute error and an in-tolerance flag (E|err| ~
    sqrt(j(1-j)/16) <= 0.125, so 0.25 is a 2-sigma bound).

    Measured, not assumed: dedup thresholds tuned on the estimate are
    only as good as the estimator, and this query makes its error
    distribution a queryable relation. Scale shape: candidates come from
    the same band join as the dedup tier (never all-pairs), the
    signature compare is one zip_with over two 16-long arrays per
    candidate, and the exact side reuses the set-intersect verify join —
    all cost is candidate-bounded. Determinism: est and exact are single
    divisions of exact integers (est's divisor 16 is a binary fraction),
    err is one fixed subtract+abs over those doubles — bit-identical
    cross-engine, so the whole error relation is hash-gated. Zero-overlap
    band collisions stay in the relation (exact_jaccard = 0) — they are
    precisely the estimator's false-positive tail."""
    docs = load_table(spark, sf_dir, "documents")
    n_perms = len(D.MINHASH_SEEDS)
    sets = (
        D._shingle_hash_multiset(docs, 3)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("s"))
        .localCheckpoint(eager=True)
    )
    bands = D.band_keys(sets)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    mins = [
        F.array_min(
            F.expr(f"transform(s, x -> ({aa} * x + {bb}) % {D.HASH_P})")
        ).alias(f"m{i}")
        for i, (aa, bb) in enumerate(D.MINHASH_SEEDS)
    ]
    sigs = sets.select(
        "doc_id",
        F.array(*mins).alias("sig"),
        F.col("s"),
        F.size("s").cast("bigint").alias("n"),
    )
    est_matches = F.expr(
        "size(filter(zip_with(sa.sig, sb.sig, (x, y) -> x = y), v -> v))"
    ).cast("bigint")
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))).cast(
        "bigint"
    )
    joined = (
        cand.join(sigs.alias("sa"), cand["doc_a"] == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), cand["doc_b"] == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            est_matches.alias("est_matches"),
            inter.alias("c"),
            F.col("sa.n").alias("na"),
            F.col("sb.n").alias("nb"),
        )
    )
    est = F.col("est_matches").cast("double") / n_perms
    exact = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    )
    err = F.abs(est - exact)
    return joined.select(
        "doc_a",
        "doc_b",
        "est_matches",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        err.alias("abs_err"),
        (err <= 0.25).alias("within_bound"),
    )


@register("ann_ivf_index_upsert", _ivf_sql())
def ann_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the persisted IVF index: the corpus
    arrives in two batches (vec_id % 5 != 0 as the base build, the rest
    as a later delta appended via
    operators/similarity.py:append_ivf_index — same fixed hyperplanes,
    plain partition-directory append, base index never read). The search
    over the appended index must be BIT-IDENTICAL to a full rebuild, so
    it shares ann_ivf_topk's oracle: any assignment drift, lost delta
    row, or double-counted base row breaks the hash. This is the daily-
    ingest production path — per-batch write cost, no rebuilds — and the
    query-id set deliberately spans both batches (0 is delta, 1-4 are
    base)."""
    from .operators.similarity import (
        append_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _session_tmp_dir("ivf_upsert_")
    write_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), path)
    append_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), path)
    return ivf_topk_from_index(spark, path, [0, 1, 2, 3, 4], k=5)


@register(
    "events_stream_click_purchase_fullouter",
    """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events
),
c AS (
  SELECT event_id AS click_id, ts AS click_ts, user_id FROM e
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-28 00:00:00'
),
p AS (
  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id FROM e
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-28 00:00:00'
)
SELECT c.click_id, COALESCE(c.user_id, p.user_id) AS user_id,
       strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       p.purchase_id,
       strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM c FULL JOIN p ON c.user_id = p.user_id
  AND p.purchase_ts >= c.click_ts
  AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
""",
)
def events_stream_click_purchase_fullouter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream interval join run through the streaming
    engine (streaming/events.py:click_purchase_fullouter_stream) and
    hash-checked against the batch FULL JOIN — BOTH null-emission paths
    in one gate (unmatched clicks AND unmatched purchases), completing
    the streaming join matrix next to the inner and LEFT OUTER gates.
    Same staged three-slice delivery as the LEFT OUTER gate so the final
    micro-batch's applied watermark passes cutoff + horizon and every
    retained row on either side is watermark-complete."""
    import shutil
    import uuid

    from .streaming.events import click_purchase_fullouter_stream

    src = _stage_parquet_slices(
        load_table(spark, sf_dir, "events"), _TIME_SLICES, "fo_src_"
    )
    stream = _staged_stream(spark, src, _EVENTS_SCHEMA)
    name = "fojoin_gate_" + uuid.uuid4().hex[:12]
    try:
        return _drain_stream(
            spark,
            click_purchase_fullouter_stream(stream, "2024-01-28 00:00:00"),
            name,
            "append",
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round 5b: audio codec tier + cogrouped-pandas attribution
# ---------------------------------------------------------------------------


@register(
    "media_wav_frame_energy",
    """
WITH au AS (
  SELECT doc_id AS media_id, 64 + doc_id % 64 AS n
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT media_id, t.i,
         ((media_id*31 + t.i*17) * 2654435761) % 65536 - 32768 AS v,
         t.i // 64 AS frame_idx
  FROM au, LATERAL (SELECT unnest(range(au.n)) AS i) t
)
SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(count(*) AS INTEGER) AS n_samples,
       CAST(sum(v*v) AS BIGINT) AS energy, 'stdlib' AS backend
FROM s
GROUP BY media_id, frame_idx
""",
)
def media_wav_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec tier: deterministic PCM16 mono WAV payloads are
    built executor-side (operators/multimodal.py:synthesize_wav — byte-
    valid RIFF/WAVE containers), then a SECOND Arrow-batched pass
    strict-parses the container back (decode_wav: magic, RIFF size, fmt
    fields, data length all verified) and emits per-frame Σs² energies
    as exact int64.

    The oracle knows only the signal FORMULA, not the codec — so a hash
    match proves the full encode→container→parse→frame pipeline is
    byte-correct, upgrading the audio leg of the multimodal tier from
    deterministic-fake to real stdlib codec exactly as the image leg
    (decode_image) was in round 5a. Shape: two map-only mapInPandas
    passes (the deliberate Arrow-batched slow-path exception the PLANS
    audit tracks), zero shuffles until the tiny frame aggregate; at
    100 TB the payloads never leave their partition."""
    from .operators.multimodal import synthesize_wav, wav_frame_energy

    d = load_table(spark, sf_dir, "documents")
    return wav_frame_energy(synthesize_wav(d), frame_len=64)


@register(
    "events_cogroup_attribution",
    """
WITH c AS (
  SELECT user_id, ts FROM events
  WHERE event_type = 'click' AND user_id % 5 = 0
),
p AS (
  SELECT user_id, ts FROM events
  WHERE event_type = 'purchase' AND user_id % 5 = 0
),
att AS (
  SELECT p.user_id, p.ts,
         (SELECT max(c.ts) FROM c
          WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS prior_click
  FROM p
),
pa AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(CASE WHEN prior_click IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_attributed,
         CAST(COALESCE(sum(
           CASE WHEN prior_click IS NOT NULL
                THEN epoch_us(ts) - epoch_us(prior_click) END), 0)
              AS BIGINT) AS gap_us_total
  FROM att GROUP BY user_id
),
ca AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks FROM c
  GROUP BY user_id
)
SELECT COALESCE(ca.user_id, pa.user_id) AS user_id,
       COALESCE(ca.n_clicks, 0) AS n_clicks,
       COALESCE(pa.n_purchases, 0) AS n_purchases,
       COALESCE(pa.n_attributed, 0) AS n_attributed,
       COALESCE(pa.gap_us_total, 0) AS gap_us_total
FROM ca FULL JOIN pa ON ca.user_id = pa.user_id
""",
)
def events_cogroup_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-click purchase attribution via COGROUPED ``applyInPandas`` —
    the one Spark pandas API the registry didn't yet exercise: the click
    and purchase streams are grouped on user_id independently and each
    user's two frames meet in ONE Arrow batch, where a vectorized
    searchsorted finds every purchase's latest prior click.

    This is the escape hatch for per-key merge logic that built-ins
    can't express; THIS particular metric can be (the oracle is the
    correlated-subquery formulation, and events_asof_purchase_click is
    the native as-of tier), which is exactly what makes it hash-gateable
    end-to-end: gap sums are exact integer microseconds, so the pandas
    path must agree with the SQL path to the bit. Scale shape: one
    co-partitioned shuffle on user_id, then purely partition-local
    pandas; state per task is one user's events, never the stream.

    The gate runs a deterministic 1/5 user cohort: cogrouped pandas
    pays a fixed Python-call cost PER KEY, which is exactly why the
    native as-of tier (events_asof_purchase_click) stays the
    full-corpus production path — the cohort keeps the API gate honest
    without billing that per-tiny-group overhead to the whole stream."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 5 == 0
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )

    def merge(key, cdf, pdf):
        import numpy as np
        import pandas as pd

        # normalize to exact integer MICROseconds whatever resolution
        # Arrow handed pandas (datetime64[ns] vs [us] differs by pandas
        # version; astype to [us] first makes the int64 unit explicit)
        c_us = np.sort(
            cdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        )
        p_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        n_att = 0
        gap_total = 0
        if len(p_us) and len(c_us):
            idx = np.searchsorted(c_us, p_us, side="right")
            mask = idx > 0
            n_att = int(mask.sum())
            gap_total = int(
                (p_us[mask] - c_us[idx[mask] - 1]).sum()
            )
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_clicks": [len(c_us)],
                "n_purchases": [len(p_us)],
                "n_attributed": [n_att],
                "gap_us_total": [gap_total],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id bigint, n_clicks bigint, n_purchases bigint,"
            " n_attributed bigint, gap_us_total bigint",
        )
    )


# ---------------------------------------------------------------------------
# Round 5c: zero-copy Arrow media path + the custom-aggregate API surface
# ---------------------------------------------------------------------------


@register(
    "media_arrow_wav_stats",
    """
WITH au AS (
  SELECT doc_id AS media_id, 64 + doc_id % 64 AS n
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT media_id,
         ((media_id*31 + t.i*17) * 2654435761) % 65536 - 32768 AS v
  FROM au, LATERAL (SELECT unnest(range(au.n)) AS i) t
)
SELECT media_id,
       CAST(count(*) AS INTEGER) AS n_samples,
       CAST(sum(v*v) AS BIGINT) AS energy,
       CAST(sum((v+65536)%65536 % 256 + ((v+65536)%65536)//256) AS BIGINT)
         AS byte_sum,
       'arrow' AS backend
FROM s
GROUP BY media_id
""",
)
def media_arrow_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ZERO-COPY media path: the same deterministic RIFF/WAVE payloads
    as ``media_wav_frame_energy``, but decoded through ``mapInArrow``
    (operators/multimodal.py:wav_media_stats_arrow) — raw
    ``pyarrow.RecordBatch`` in, RecordBatch out, no pandas conversion of
    the binary column on either side of the UDF boundary.

    The gate is strictly STRONGER than the frame-energy one: alongside
    Σs² it hashes the sum of the raw little-endian PCM payload bytes,
    whose oracle value DuckDB derives from the signal formula alone
    ((v+65536)%65536 split into low/high bytes) — so a hash match proves
    the container round trip is byte-exact, not merely sample-exact.
    Shape: one map-only Arrow pass, then a media_id aggregate over rows
    already unique per media (no pre-shuffle fan-out); payloads never
    cross a partition boundary at any SF."""
    from .operators.multimodal import synthesize_wav, wav_media_stats_arrow

    d = load_table(spark, sf_dir, "documents")
    return wav_media_stats_arrow(synthesize_wav(d))


@register(
    "orders_trimmed_mean_udaf",
    """
WITH l AS (
  SELECT l_orderkey, CAST(round(l_extendedprice*100) AS BIGINT) AS c
  FROM lineitem WHERE l_orderkey % 128 = 0
),
r AS (
  SELECT l_orderkey, c,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY c) AS rn,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM l
)
SELECT l_orderkey,
       CAST(any_value(n) AS BIGINT) AS n_items,
       CAST(any_value(n) - 2*(any_value(n)//4) AS BIGINT) AS n_kept,
       CAST(sum(c) AS BIGINT) AS trimmed_cents,
       CAST(sum(c) AS DOUBLE) / (any_value(n) - 2*(any_value(n)//4)) / 100.0
         AS trimmed_mean
FROM r
WHERE rn > n//4 AND rn <= n - n//4
GROUP BY l_orderkey
""",
)
def orders_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom vectorized AGGREGATE (grouped-agg ``pandas_udf``) — the one
    UDF family the engine had not yet exercised: per-order 25%-trimmed
    mean of line price, an order-statistic aggregate Spark has no
    built-in for (trim k=floor(n/4) from each end of the sorted values).

    The UDAF is the custom-aggregate escape hatch and it is used HERE
    because the group is cardinality-BOUNDED BY SCHEMA: TPC-H orders
    carry at most 7 lineitems, so the per-group series the executor
    materializes is O(1) at any SF — the precondition for grouped-agg
    pandas UDFs at 100 TB (for unbounded groups the right tools are
    native window functions or applyInPandasWithState, which never hold
    a whole group). Trimming by value keeps the selected MULTISET
    well-defined under ties, so np.sort here and the oracle's
    row_number() window select identical values; sums ride exact integer
    cents and the single float division sequence (cents / n_kept /
    100.0) is the identical IEEE op on both engines. Built-in aggregates
    cannot be mixed with grouped-agg pandas UDFs in one agg(), so the
    group size comes from a second one-liner UDAF — still one shuffle.
    Plan: partial=false hash aggregate keyed on l_orderkey (fact-linear
    shuffle, AQE-coalesced), then pure projections.

    The OTHER half of the scale contract, MEASURED on this box
    (local[32], sf0.1, 147,236 distinct orders / 600k rows): the
    two-UDAF grouped agg completes in 1.31 s vs 0.48 s for a native
    sum+count over identical groups — ~2.7x, ≈4.5 µs per group per UDAF
    (Spark 4 batches many small groups per Arrow round trip, so the
    dispatch constant is far better than one-RPC-per-group, but the
    Python stage still scales with group COUNT and forfeits partial
    aggregation: the full fact row set crosses the shuffle). Bounded
    group SIZE makes the memory safe; group count and the lost map-side
    combine set the bill — reach for this only when the aggregate is
    genuinely inexpressible natively (or push the trim into the
    window+filter form the oracle uses, which IS the native answer at
    fact scale). The gate runs the identical semantics over the
    deterministic 1-in-128 keyspace slice (l_orderkey % 128 = 0,
    mirrored in the oracle) — gate economy, not a scale necessity."""
    from .functions.udafs import group_count_udaf, trimmed_sum_udaf

    trimmed_cents_sum = trimmed_sum_udaf()
    group_n = group_count_udaf()

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 128 == 0
    )
    cents = li.select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    agg = cents.groupBy("l_orderkey").agg(
        trimmed_cents_sum("c").alias("trimmed_cents"),
        group_n("c").alias("n_items"),
    )
    return agg.select(
        "l_orderkey",
        "n_items",
        (F.col("n_items") - 2 * F.floor(F.col("n_items") / 4))
        .cast("bigint")
        .alias("n_kept"),
        "trimmed_cents",
    ).withColumn(
        "trimmed_mean",
        F.col("trimmed_cents").cast("double")
        / F.col("n_kept")
        / F.lit(100.0),
    )


@register(
    "orders_pipe_syntax_revenue",
    """
SELECT c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 1e2
         AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus <> 'P'
GROUP BY c_mktsegment, o_orderpriority
""",
)
def orders_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (`|>`): the same segment x priority revenue
    rollup expressed as a linear pipeline — FROM |> JOIN |> WHERE |>
    AGGREGATE ... GROUP BY |> EXTEND |> SELECT — the composable-SQL
    surface Spark 4.0 added for incremental query building. The oracle is
    the classic-SQL equivalent, so the gate proves the pipe form compiles
    to the identical relational semantics (Catalyst lowers each pipe
    stage into the same logical operators; the physical plan is the
    ordinary broadcast-or-shuffle join + partial/final hash aggregate —
    no new execution machinery, so every 100 TB property of the classic
    form carries over verbatim). Money rides exact integer cents; the
    one float division is the identical IEEE op on both engines."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"pipe_{t}_tmp")
    return spark.sql("""
FROM pipe_orders_tmp
|> JOIN pipe_customer_tmp ON o_custkey = c_custkey
|> WHERE o_orderstatus <> 'P'
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
   GROUP BY c_mktsegment, o_orderpriority
|> EXTEND CAST(cents AS DOUBLE) / 1e2 AS revenue
|> SELECT c_mktsegment, o_orderpriority, n_orders, cents, revenue
""")


@register(
    "customer_collation_ci_agg",
    """
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg_mixed,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
)
SELECT lower(seg_mixed) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_cents) AS BIGINT) AS bal_cents
FROM mixed
GROUP BY lower(seg_mixed)
""",
)
def customer_collation_ci_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string COLLATIONS: grouping under the ICU UNICODE_CI
    collation merges case variants AT THE COMPARISON LAYER — no
    normalizing rewrite of the data — which is the engine-native way to
    fold entity keys whose case is inconsistent at ingest (ticker
    symbols, language tags, source hostnames). The fixture mixes case
    deterministically (upper for even custkeys, lower for odd), groups on
    `seg_mixed COLLATE UNICODE_CI`, and emits lower(key) so the group
    representative — which collation-equal grouping legitimately leaves
    unspecified — is normalized before hashing; counts and exact
    integer-cent sums prove the CI equality classes match the oracle's
    lower() folding. Plan (measured): single scan, then SortAggregate —
    collation equality classes have no binary-stable hash, so Catalyst
    falls back from hash to sort aggregation — but the partial aggregate
    still runs map-side before the exchange, so the shuffle carries one
    row per (partition, equality class) and the fall-back costs a local
    sort, never a wider shuffle (tests/test_plan_shapes.py locks this
    in). At 100 TB prefer UTF8_LCASE over ICU when plain case folding
    suffices; the plan shape is the same."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "collation_customer_tmp"
    )
    return spark.sql("""
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg_mixed,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM collation_customer_tmp
)
SELECT lower(seg_ci) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_cents) AS BIGINT) AS bal_cents
FROM (SELECT seg_mixed COLLATE UNICODE_CI AS seg_ci, bal_cents FROM mixed)
GROUP BY seg_ci
""")


@register(
    "orders_parameterized_sql",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
GROUP BY o_orderpriority
""",
)
def orders_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+/4 named parameter markers): the
    filter literals arrive through ``spark.sql(query, args={...})`` as
    TYPED parameters, not string interpolation — the injection-safe
    templating surface for productionized SQL (the reference's Drive
    query builder string-escapes by hand, sources/sinks.py:escaping;
    parameter markers are the engine-native answer). Catalyst folds the
    bound literals before optimization, so pushdown/pruning see constants
    — the plan is byte-identical to the hand-written literal form the
    oracle runs. Single scan + map-side-combined aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "param_orders_tmp"
    )
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM param_orders_tmp
WHERE o_orderstatus = :status AND o_totalprice > :min_total
GROUP BY o_orderpriority
""",
        args={"status": "O", "min_total": 1000.0},
    )


# ---------------------------------------------------------------------------
# Round 6: video-container tier — the frame-sample leg of the multimodal
# design, now a REAL codec path end to end (container walk + stdlib PNG
# decode), completing the image (BMP/PPM/PNG) and audio (WAV) legs
# ---------------------------------------------------------------------------


@register(
    "media_video_frame_stats",
    """
WITH v AS (
  SELECT doc_id AS media_id,
         4 + doc_id % 5 AS n_frames,
         8 + doc_id % 5 AS w,
         6 + doc_id % 3 AS h
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT media_id, n_frames, w, h, t.f
  FROM v, LATERAL (SELECT unnest(range(v.n_frames)) AS f) t
  WHERE t.f % 2 = 0
),
px AS (
  SELECT fr.media_id, fr.f, fr.n_frames, fr.w, fr.h,
         SUM((fr.media_id*31 + fr.f*29 + ty.y*17 + tx.x*13 + tc.c*7) % 256)
           AS pixel_sum
  FROM fr,
       LATERAL (SELECT unnest(range(fr.h)) AS y) ty,
       LATERAL (SELECT unnest(range(fr.w)) AS x) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  GROUP BY 1, 2, 3, 4, 5
)
SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(pixel_sum AS BIGINT) AS pixel_sum, 'stdlib' AS backend
FROM px
""",
)
def media_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video tier: deterministic containers of length-prefixed PNG
    frames are built executor-side (operators/multimodal.py:
    synthesize_video — every frame a spec-valid PNG from encode_png),
    then a SECOND Arrow-batched pass strict-parses the container back
    (decode_video: magic, header, per-frame bounds, exact trailing byte)
    and REALLY decodes every 2nd frame through the stdlib PNG path
    (CRC-verified chunks, inflate, scanline unfilter), emitting exact
    int64 per-frame pixel sums.

    The oracle knows only the pixel FORMULA, not the codec — a hash match
    proves the encode→PNG→container→parse→decode→sample pipeline is
    byte-correct, upgrading the video leg of the multimodal tier from
    deterministic-fake to real codec exactly as the image (round 5a) and
    audio (round 5b) legs were. Shape: two map-only mapInPandas passes,
    zero shuffles — payloads never leave their partition, and frame
    sampling halves the decoded volume BEFORE any downstream consumer;
    at 100 TB this is the canonical decode/frame-sample ingest stage
    (the reference pipeline has no media surface at all — this tier is
    the training-data-pipeline extension SURVEY.md §6 specifies)."""
    from .operators.multimodal import synthesize_video, video_sampled_frame_stats

    d = load_table(spark, sf_dir, "documents")
    return video_sampled_frame_stats(synthesize_video(d), every=2)


@register(
    "media_image_resize_stats",
    """
WITH im AS (
  SELECT doc_id AS media_id,
         9 + doc_id % 8 AS w,
         7 + doc_id % 6 AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT im.media_id, im.w, im.h,
         SUM((im.media_id*37 + ((ty.dy * im.h) // 8) * 19
              + ((tx.dx * im.w) // 8) * 11 + tc.c * 5) % 256) AS pixel_sum
  FROM im,
       LATERAL (SELECT unnest(range(8)) AS dy) ty,
       LATERAL (SELECT unnest(range(8)) AS dx) tx,
       LATERAL (SELECT unnest(range(3)) AS c) tc
  GROUP BY 1, 2, 3
)
SELECT media_id, CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(8 AS INTEGER) AS dst_w, CAST(8 AS INTEGER) AS dst_h,
       CAST(pixel_sum AS BIGINT) AS pixel_sum, 'stdlib' AS backend
FROM px
""",
)
def media_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIZE leg of the multimodal design, completing the
    decode / feature-extract / resize / frame-sample quartet the module
    docstring specifies: deterministic REAL PNG payloads are built
    executor-side (operators/multimodal.py:synthesize_png_images), then a
    second Arrow-batched pass strict-decodes each one through the full
    PNG path (CRC chunk walk, bounded inflate, unfilter) and
    nearest-neighbor-resizes it to 8x8 with PURE INTEGER index mapping
    (out[y,x] = in[y*h//8, x*w//8]), emitting the exact int64 pixel sum
    of the RESIZED image.

    The oracle knows only the source-pixel formula and the floor-div
    index convention — a hash match proves encode -> PNG-decode ->
    resize end to end, including that the resizer picks exactly the
    spec'd source pixel for every destination coordinate on ragged
    (9-16 x 7-12) inputs. Shape: two map-only mapInPandas passes, zero
    shuffles; at 100 TB the resize bounds downstream feature volume to
    dst_w*dst_h*3 bytes per image whatever the source dimensions."""
    from .operators.multimodal import (
        resize_image_stats,
        synthesize_png_images,
    )

    d = load_table(spark, sf_dir, "documents")
    return resize_image_stats(synthesize_png_images(d), dst_w=8, dst_h=8)
