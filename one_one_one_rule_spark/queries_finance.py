"""Financial time-series indicator queries (registry extension).

The reference repo is a stock-valuation pipeline
(/root/reference/one_one_one_rule/transform_valuation.py computes
point-in-time fundamentals ratios); the natural engine extension for the
same user base is the rolling price-series toolkit — SMA/Bollinger, EMA/
MACD, RSI, drawdown, realized volatility — over an event stream, here the
``events`` table with ``user_id`` as the instrument key, ``ts`` as the
quote time and ``value`` as the price.

Every indicator is a pure window query: one shuffle on the instrument
key, then row-frame window aggregates inside the sorted partition — the
shape that scales linearly on a 1000-executor cluster (each instrument's
history is processed by exactly one task; no driver participation, no
cross-key traffic beyond the single hash partitioning).

Cross-engine bit-determinism (the hash gate requires Spark == DuckDB to
the last bit) follows the repo's oracles.py rules:

* Sums over floating-point are NEVER emitted raw: prices are quantized to
  integer cents (``round(value*100)``) and summed as BIGINT (exact,
  associative); returns are quantized to 1e-6 units and summed as
  DECIMAL(38,0) (exact at any corpus size). Variance is derived from the
  exact integer sums (``n*Σx² - (Σx)²``) and converted to DOUBLE with a
  single cast, so every engine performs the identical IEEE-754 ops.
* EMA weights are finite truncated kernels: the normalized weight vector
  is computed once in Python and embedded as identical double literals in
  BOTH the Spark expression tree and the oracle SQL; the weighted sum is
  a left-associated lag chain — a fixed expression tree, not an
  order-unspecified aggregate.
* No transcendental whose libm may differ across engines (no ln/pow at
  query time); sqrt is IEEE-exact and allowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import register
from .sources.fixtures import load_table

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _dlit(x: float) -> str:
    """Double literal DuckDB parses as DOUBLE (not DECIMAL)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "." not in s) else s + "e0"


def _ema_weights(span: int, k_lags: int) -> list[float]:
    """Truncated, re-normalized EMA kernel: w_j ∝ α(1-α)^j, j=0..K-1.

    Computed once driver-side; the SAME doubles are embedded in the Spark
    plan and the oracle SQL, so the kernel is a shared model artifact
    (like the ANN centroids in oracles_ann.py) and both engines evaluate
    the identical expression tree.
    """
    alpha = 2.0 / (span + 1.0)
    raw = [alpha * (1.0 - alpha) ** j for j in range(k_lags)]
    norm = sum(raw)  # fixed left-to-right python sum, done once
    return [w / norm for w in raw]


_EMA_LAGS = 30  # both EMA kernels truncate here; rows need 30 of history


def _ema_chain_sql(weights: list[float]) -> str:
    """Left-associated lag-chain SQL: ((w0*v + w1*lag(v,1)) + ...)."""
    acc = f"{_dlit(weights[0])} * value"
    for j, w in enumerate(weights[1:], start=1):
        acc = f"({acc} + {_dlit(w)} * lag(value, {j}) OVER w)"
    return acc


def _ema_chain_spark(weights: list[float], w: Window) -> F.Column:
    acc = F.lit(weights[0]) * F.col("value")
    for j, wt in enumerate(weights[1:], start=1):
        acc = acc + F.lit(wt) * F.lag("value", j).over(w)
    return acc


_TS_SQL = "strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str"


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _w(extra_order: bool = True) -> Window:
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


# ---------------------------------------------------------------------------
# SMA + Bollinger bands (20-period)
# ---------------------------------------------------------------------------


@register(
    "events_sma_bollinger",
    """
WITH q AS (
  SELECT event_id, user_id, ts, value,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
agg AS (
  SELECT event_id, user_id, ts, value,
         row_number() OVER w AS rn,
         SUM(cents) OVER f AS s1,
         SUM(cents * cents) OVER f AS s2
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, value,
       CAST(s1 AS DOUBLE) / 2000.0e0 AS sma20,
       CAST(s1 AS DOUBLE) / 2000.0e0
         + 2.0e0 * (sqrt(CAST(20 * s2 - s1 * s1 AS DOUBLE) / 380.0e0) / 100.0e0)
         AS band_upper,
       CAST(s1 AS DOUBLE) / 2000.0e0
         - 2.0e0 * (sqrt(CAST(20 * s2 - s1 * s1 AS DOUBLE) / 380.0e0) / 100.0e0)
         AS band_lower
FROM agg
WHERE rn >= 20
""",
)
def events_sma_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-period simple moving average + Bollinger bands (±2σ).

    Prices quantized to exact integer cents; the rolling mean and the
    sample variance come from the two exact BIGINT window sums (Σx, Σx²),
    so any partitioning/merge order yields identical bits. One shuffle on
    user_id; both window passes share the same sort.
    """
    e = _base(spark, sf_dir)
    w = _w()
    f = w.rowsBetween(-19, 0)
    cents = F.round(F.col("value") * 100).cast("bigint")
    q = e.select(
        "event_id", "user_id", "ts", "value", cents.alias("cents")
    )
    agg = q.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.row_number().over(w).alias("rn"),
        F.sum("cents").over(f).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(f).alias("s2"),
    )
    sd = (
        F.sqrt(
            (20 * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / 380.0
        )
        / 100.0
    )
    sma = F.col("s1").cast("double") / 2000.0
    return agg.filter(F.col("rn") >= 20).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "value",
        sma.alias("sma20"),
        (sma + 2.0 * sd).alias("band_upper"),
        (sma - 2.0 * sd).alias("band_lower"),
    )


# ---------------------------------------------------------------------------
# EMA(12) / EMA(26) / MACD — truncated normalized kernels as lag chains
# ---------------------------------------------------------------------------


def _ema_macd_sql() -> str:
    w12 = _ema_weights(12, _EMA_LAGS)
    w26 = _ema_weights(26, _EMA_LAGS)
    return f"""
WITH q AS (
  SELECT event_id, user_id, ts, value,
         row_number() OVER w AS rn,
         {_ema_chain_sql(w12)} AS ema12,
         {_ema_chain_sql(w26)} AS ema26
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, value,
       ema12, ema26, ema12 - ema26 AS macd
FROM q
WHERE rn >= {_EMA_LAGS}
"""


@register("events_ema_macd", _ema_macd_sql())
def events_ema_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA(12), EMA(26) and the MACD line as truncated normalized kernels.

    A streaming EMA is recursive state; the batch/oracle-portable form is
    the K-lag truncated kernel (K=30 ⇒ the dropped tail weight is
    (1-α)^30 ≈ 0.8% for span 26, 1e-2 relative — and both engines compute
    the SAME truncated definition, so the gate is exact). The kernel is a
    left-associated chain of 30 lag terms: a fixed expression tree whose
    IEEE evaluation order is identical in Spark and DuckDB — this is what
    makes a weighted float sum hash-gateable at all. One shuffle on
    user_id; all 60 lag reads share one sorted pass.
    """
    e = _base(spark, sf_dir)
    w = _w()
    w12 = _ema_weights(12, _EMA_LAGS)
    w26 = _ema_weights(26, _EMA_LAGS)
    q = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.row_number().over(w).alias("rn"),
        _ema_chain_spark(w12, w).alias("ema12"),
        _ema_chain_spark(w26, w).alias("ema26"),
    )
    return q.filter(F.col("rn") >= _EMA_LAGS).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "value",
        "ema12",
        "ema26",
        (F.col("ema12") - F.col("ema26")).alias("macd"),
    )


# ---------------------------------------------------------------------------
# RSI(14) — integer gain/loss sums, one final division
# ---------------------------------------------------------------------------


@register(
    "events_rsi14",
    """
WITH q AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT event_id, user_id, ts,
         row_number() OVER w AS rn,
         cents - lag(cents, 1) OVER w AS diff
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT event_id, user_id, ts, rn,
         SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER f AS gains,
         SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER f AS losses
  FROM d
  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       gains, losses,
       CASE WHEN losses = 0 THEN 100.0e0
            ELSE 100.0e0 - 100.0e0
                 / (1.0e0 + CAST(gains AS DOUBLE) / CAST(losses AS DOUBLE))
       END AS rsi14
FROM g
WHERE rn >= 15
""",
)
def events_rsi14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period RSI (simple-average Cutler's form — the recursive Wilder
    smoothing is the streaming variant; the windowed form is the
    batch-portable one). Gains/losses stay exact integer cents until the
    single final division, so the gate is bit-exact. One shuffle, one
    sorted pass for diff + rolling sums."""
    e = _base(spark, sf_dir)
    w = _w()
    cents = F.round(F.col("value") * 100).cast("bigint")
    q = e.select("event_id", "user_id", "ts", cents.alias("cents"))
    d = q.select(
        "event_id",
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        (F.col("cents") - F.lag("cents", 1).over(w)).alias("diff"),
    )
    f = w.rowsBetween(-13, 0)
    gains = F.sum(
        F.when(F.col("diff") > 0, F.col("diff")).otherwise(F.lit(0))
    ).over(f)
    losses = F.sum(
        F.when(F.col("diff") < 0, -F.col("diff")).otherwise(F.lit(0))
    ).over(f)
    g = d.select(
        "event_id",
        "user_id",
        "ts",
        "rn",
        gains.alias("gains"),
        losses.alias("losses"),
    )
    rsi = F.when(F.col("losses") == 0, F.lit(100.0)).otherwise(
        F.lit(100.0)
        - F.lit(100.0)
        / (
            F.lit(1.0)
            + F.col("gains").cast("double") / F.col("losses").cast("double")
        )
    )
    return g.filter(F.col("rn") >= 15).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "gains",
        "losses",
        rsi.alias("rsi14"),
    )


# ---------------------------------------------------------------------------
# drawdown: per-instrument running-peak summary
# ---------------------------------------------------------------------------


@register(
    "events_drawdown_summary",
    """
WITH q AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         MAX(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS peak_cents
  FROM events
),
dd AS (
  SELECT user_id, peak_cents,
         CASE WHEN peak_cents > 0
              THEN CAST(peak_cents - cents AS DOUBLE)
                   / CAST(peak_cents AS DOUBLE)
              ELSE 0.0e0 END AS drawdown
  FROM q
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(peak_cents) AS DOUBLE) / 100.0e0 AS peak_value,
       MAX(drawdown) AS max_drawdown
FROM dd
GROUP BY user_id
""",
)
def events_drawdown_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instrument maximum drawdown from the running peak.

    The running max is exact integer cents; each row's drawdown is one
    division of identical operands, and MAX over identical doubles picks
    identical bits — no float summation anywhere. Window + groupBy share
    the same user_id partitioning (one shuffle total).
    """
    e = _base(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    q = e.select(
        "user_id",
        "ts",
        "event_id",
        cents.alias("cents"),
    ).withColumn("peak_cents", F.max("cents").over(w))
    dd = q.select(
        "user_id",
        "peak_cents",
        F.when(
            F.col("peak_cents") > 0,
            (F.col("peak_cents") - F.col("cents")).cast("double")
            / F.col("peak_cents").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("drawdown"),
    )
    return dd.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("peak_cents").cast("double") / 100.0).alias("peak_value"),
        F.max("drawdown").alias("max_drawdown"),
    )


# ---------------------------------------------------------------------------
# realized volatility of simple returns (20-period)
# ---------------------------------------------------------------------------


@register(
    "events_returns_volatility",
    """
WITH q AS (
  SELECT event_id, user_id, ts, value,
         row_number() OVER w AS rn,
         lag(value, 1) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r AS (
  SELECT event_id, user_id, ts, rn,
         value / prev - 1.0e0 AS ret,
         CAST(round((value / prev - 1.0e0) * 10000.0e0) AS BIGINT) AS r4
  FROM q
  WHERE prev IS NOT NULL AND prev > 0
),
v AS (
  SELECT event_id, user_id, ts, rn, ret,
         SUM(r4) OVER f AS s1,
         SUM(r4 * r4) OVER f AS s2
  FROM r
  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, ret,
       sqrt((20.0e0 * CAST(s2 AS DOUBLE)
             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / 380.0e0)
         / 10000.0e0 AS vol20
FROM v
WHERE rn >= 21
""",
)
def events_returns_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-period realized volatility of simple returns.

    Returns r_t = p_t/p_{t-1} - 1 are one division + one subtraction of
    identical doubles (no ln: libm log may differ by 1 ulp across
    engines, which would break the hash gate — simple returns are pure
    IEEE arithmetic). For the rolling stddev the returns are quantized to
    1e-4 units and summed as BIGINT: exact AND within int64 even at the
    fixture's extreme ~5e4 ratios (20·(5e8)² ≈ 4.8e18 < 2^63), and the
    final BIGINT→DOUBLE casts are IEEE round-to-nearest in both engines —
    unlike DECIMAL(38,0)→DOUBLE, whose int128 conversion rounds
    differently in DuckDB vs the JVM by 1 ulp (observed; that's why the
    sums are NOT widened to decimal here). One shuffle on user_id, one
    sorted pass.
    """
    e = _base(spark, sf_dir)
    w = _w()
    q = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lag("value", 1).over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull() & (F.col("prev") > 0))
    ret = F.col("value") / F.col("prev") - 1.0
    r4 = F.round(ret * 10000.0).cast("bigint")
    r = q.select(
        "event_id",
        "user_id",
        "ts",
        "rn",
        ret.alias("ret"),
        r4.alias("r4"),
    )
    f = w.rowsBetween(-19, 0)
    v = r.select(
        "event_id",
        "user_id",
        "ts",
        "rn",
        "ret",
        F.sum("r4").over(f).alias("s1"),
        F.sum(F.col("r4") * F.col("r4")).over(f).alias("s2"),
    )
    vol = (
        F.sqrt(
            (
                F.lit(20.0) * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            / 380.0
        )
        / 10000.0
    )
    return v.filter(F.col("rn") >= 21).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "ret",
        vol.alias("vol20"),
    )


# ---------------------------------------------------------------------------
# hourly OHLC candles (bar aggregation)
# ---------------------------------------------------------------------------


@register(
    "events_ohlc_hourly",
    """
SELECT user_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
       arg_min(value, ts) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ts) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0e0
         AS turnover
FROM events
GROUP BY user_id, date_trunc('hour', ts)
""",
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candle bars per instrument — the standard downsampling
    every price-series store performs before charting/feature extraction.

    open/close are arg-min/arg-max by event time (ts is unique per
    instrument, so no tiebreak ambiguity); high/low are order-independent
    MIN/MAX on raw doubles; turnover sums exact integer cents. One
    combinable groupBy aggregate — partial aggregation happens map-side,
    the shuffle carries one row per (instrument, hour)."""
    e = _base(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            (F.sum(cents).cast("double") / 100.0).alias("turnover"),
        )
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_str"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "turnover",
        )
    )


# ---------------------------------------------------------------------------
# streaming OHLC candles (same oracle as the batch bars)
# ---------------------------------------------------------------------------


def _register_stream_ohlc() -> None:
    from .queries import ORACLES, _drain_stream, _events_stream

    @register("events_stream_ohlc", ORACLES["events_ohlc_hourly"])
    def events_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hourly OHLC bars computed THROUGH Structured Streaming
        (file-source readStream, availableNow, complete-mode memory sink)
        and checked against the SAME DuckDB oracle as the batch candle
        query — the bar-builder every live market feed runs, proven
        convergent with its batch twin. min_by/max_by are declarative
        aggregates, so open/close work inside streaming state exactly as
        in batch."""
        import uuid

        name = "stream_gate_" + uuid.uuid4().hex[:12]
        stream = _events_stream(spark, sf_dir)
        cents = F.round(F.col("value") * 100).cast("bigint")
        bars = (
            stream.groupBy(
                "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
            )
            .agg(
                F.min_by("value", "ts").alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", "ts").alias("close"),
                F.count(F.lit(1)).cast("bigint").alias("n_trades"),
                (F.sum(cents).cast("double") / 100.0).alias("turnover"),
            )
            .select(
                "user_id",
                F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias(
                    "hour_str"
                ),
                "open",
                "high",
                "low",
                "close",
                "n_trades",
                "turnover",
            )
        )
        return _drain_stream(spark, bars, name, "complete")


_register_stream_ohlc()


def _assert_moment_headroom(d: DataFrame) -> None:
    """Prove the pairwise-moment int64 budget BEFORE the pair fan-out.

    The correlation queries accumulate Σdc, Σdc² and Σ(da·db) per pair in
    BIGINT, and their variance-positivity filters compute n·Σdc² − (Σdc)².
    With D distinct days and M = max|dc|, every such quantity is bounded
    by (D·M)², so requiring 2·(D·M)² < 2⁶³ (i.e. D·M < ~2.1e9) makes
    silent int64 wrap IMPOSSIBLE — past the budget this raises loudly
    instead, which is the auditable alternative to 128-bit decimal
    accumulation (decimal(38,0) is exact but leaves Spark's long-backed
    Decimal fast path and measured ~5× slower over the n²·days pair rows;
    DuckDB's SUM(BIGINT)→HUGEINT never wraps, so the Spark-side guard is
    what keeps cross-engine parity honest).

    ``d`` is the bar-delta relation (instruments × days rows — compact
    at any event volume), so this 1-row aggregate is a bounded
    driver-side scalar check, same class as the convergence cutoff
    collects in operators/dedup.py. It runs as its own job ahead of the
    pair fan-out (one extra map-side-combinable pass over the bars —
    measured free at gate scale; a production pipeline could fold it
    into an ``observe()`` on a prior stage if the extra scan mattered).
    """
    row = d.agg(
        F.max(F.abs(F.col("dc"))).alias("m"),
        F.countDistinct("day").alias("days"),
    ).collect()[0]
    m, days = row["m"] or 0, row["days"] or 0
    if 2 * (days * m) ** 2 >= 2**63:
        raise ValueError(
            "pairwise-correlation int64 moment budget exceeded: "
            f"days({days}) * max|dc|({m}) = {days * m} >= ~2.1e9; "
            "re-block the universe or switch the moment sums to "
            "decimal(38,0) for this corpus"
        )


# ---------------------------------------------------------------------------
# pairwise co-movement correlation (hourly close deltas)
# ---------------------------------------------------------------------------


@register(
    "events_pairwise_correlation",
    """
WITH c AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         arg_max(CAST(round(value * 100) AS BIGINT), ts) AS close_cents
  FROM events
  GROUP BY user_id, date_trunc('day', ts)
),
d AS (
  SELECT user_id, day,
         close_cents - lag(close_cents, 1) OVER (
           PARTITION BY user_id ORDER BY day) AS dc
  FROM c
),
p AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         COUNT(*) AS n,
         SUM(a.dc) AS sa, SUM(b.dc) AS sb,
         SUM(a.dc * a.dc) AS saa,
         SUM(b.dc * b.dc) AS sbb,
         SUM(a.dc * b.dc) AS sab
  FROM d a JOIN d b ON a.day = b.day AND a.user_id < b.user_id
  WHERE a.dc IS NOT NULL AND b.dc IS NOT NULL
  GROUP BY a.user_id, b.user_id
)
SELECT user_a, user_b, CAST(n AS BIGINT) AS n_days,
       (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS corr
FROM p
WHERE n >= 20
  AND n * saa - sa * sa > 0
  AND n * sbb - sb * sb > 0
""",
)
def events_pairwise_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of daily close-price CHANGES between
    every instrument pair — the co-movement matrix behind portfolio
    construction and pairs-trading screens.

    All sufficient statistics (n, Σa, Σb, Σa², Σb², Σab) are exact BIGINT
    sums of integer cent deltas, so the merge order never matters; the
    closed-form correlation is a fixed double expression over the exact
    moments (same engine-determinism recipe as part_brand_price_size_lm).
    A pre-fan-out headroom guard (``_assert_moment_headroom``) proves the
    int64 budget holds and raises loudly otherwise — silent wrap is
    impossible.
    Degenerate pairs (zero variance, < 20 common days) are excluded by
    exact integer guards on BOTH engines.

    Scale shape: daily bars first (combinable groupBy — the stream
    shrinks from events to instrument×hours before anything quadratic),
    per-instrument delta (one window shuffle), then an in-place
    positional-explode pair fan-out over each day's sorted bar array
    (u < v ⇔ i < j — no self-join, no broadcast) whose volume is
    instruments²/2 per day — bounded by the universe size, not the
    event count; the pair aggregate is again combinable. This full
    cross is the SMALL-UNIVERSE baseline; for a
    universe too large for n² pairs the registered companion
    ``events_pairwise_correlation_blocked`` runs the same moments
    pipeline over a candidate-pair list (nation-blocked) instead."""
    e = _base(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max_by(cents, "ts").alias("close_cents"))
    wh = Window.partitionBy("user_id").orderBy("day")
    # the delta relation feeds BOTH self-join sides — but NO checkpoint:
    # a self-join over identical lineage gets a ReusedExchange (verified
    # in the executed plan), so the bar aggregate's shuffle files already
    # materialize once and serve both sides with executor-local reads.
    # The eager localCheckpoint this carried in round 5 was strictly
    # slower (measured +0.7s of its 7.3s at sf0.1): it added a
    # driver-coordinated materialization on top of the reuse Spark plans
    # anyway. The repo's checkpoint convention is for relations feeding
    # DIFFERENT-shaped consumers, where no common exchange exists.
    d = c.select(
        "user_id",
        "day",
        (
            F.col("close_cents") - F.lag("close_cents", 1).over(wh)
        ).alias("dc"),
    ).filter(F.col("dc").isNotNull())
    # The LAZY checkpoint rides the headroom guard's existing full pass:
    # the guard action materializes the bar deltas, so the pair fan-out
    # reads the compact materialized relation instead of re-deriving
    # bar+window from the scan a second time (one pipeline execution,
    # not two; the round-5 reuse-vs-checkpoint measurement only rejected
    # an EAGER checkpoint, which added a third materialization job).
    d = d.localCheckpoint(eager=False)
    _assert_moment_headroom(d)
    # Round-13 pair fan-out (guide §2.4/§5 — replaces the day-keyed
    # self-join): each day's bars collapse to ONE sorted (user_id, dc)
    # array (array_sort on structs orders by user_id — unique per day),
    # and the u < v pairs explode IN PLACE: element i (0-based) pairs
    # with the array's tail after it, ``slice(arr, i + 2, size(arr))``
    # (1-based start), so only n(n-1)/2 pair rows are made. vs the old
    # join: no broadcast build, no join hashing, and n²/2 pair rows
    # reach the moment aggregate instead of the join's n² probe matches.
    # An 8-rep interleaved A/B at local[32] measured the same median
    # with the worst case HALVED (16.2 → 7.7 s; the old shape's
    # allocation-bound GC spike — VERDICT r12 item 4). The per-day array
    # is bounded by the universe size — exactly the bound the docstring
    # already declares for this SMALL-UNIVERSE baseline (the blocked
    # companion is the 100 TB path). spread_small un-serializes the
    # day-grouped relation (bytes-tiny, CPU-quadratic downstream); at
    # production scale it is a size-gated no-op.
    from .operators.spread import spread_small

    g = d.groupBy("day").agg(
        F.array_sort(F.collect_list(F.struct("user_id", "dc"))).alias("arr")
    )
    g = spread_small(g)
    pairs = (
        g.select(F.posexplode("arr").alias("i", "a"), "arr")
        .select(
            "a",
            F.explode(
                F.slice("arr", F.col("i") + 2, F.size("arr"))
            ).alias("b"),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.dc").alias("da"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.dc").alias("db"),
        )
    )
    p = (
        pairs.groupBy("user_a", "user_b")
        .agg(
            # sums ride int64: _assert_moment_headroom PROVED above that
            # days·max|dc| < 2^31, so every sufficient statistic AND the
            # n·saa − sa² guard products below fit int64 with 2× slack —
            # silent wrap is impossible (the guard errors loudly first).
            # decimal(38,0) here would be exact too but falls off Spark's
            # long-backed Decimal fast path (precision > 18) and was
            # measured 5× slower over the n²·days pair rows.
            F.count(F.lit(1)).alias("n"),
            F.sum("da").alias("sa"),
            F.sum("db").alias("sb"),
            F.sum(F.col("da") * F.col("da")).alias("saa"),
            F.sum(F.col("db") * F.col("db")).alias("sbb"),
            F.sum(F.col("da") * F.col("db")).alias("sab"),
        )
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sab").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sb").cast("double")
    den = F.sqrt(
        n_d * F.col("saa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double")
    ) * F.sqrt(
        n_d * F.col("sbb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double")
    )
    return (
        p.filter(
            (F.col("n") >= 20)
            & (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa") > 0)
            & (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb") > 0)
        )
        .select(
            "user_a",
            "user_b",
            F.col("n").cast("bigint").alias("n_days"),
            (num / den).alias("corr"),
        )
    )


# ---------------------------------------------------------------------------
# blocked pairwise correlation (round 5 — the production-scale formulation)
# ---------------------------------------------------------------------------


@register(
    "events_pairwise_correlation_blocked",
    """
WITH c AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         arg_max(CAST(round(value * 100) AS BIGINT), ts) AS close_cents
  FROM events
  GROUP BY user_id, date_trunc('day', ts)
),
d AS (
  SELECT user_id, day,
         close_cents - lag(close_cents, 1) OVER (
           PARTITION BY user_id ORDER BY day) AS dc
  FROM c
),
db AS (
  SELECT d.user_id, d.day, d.dc, CAST(c_nationkey AS BIGINT) AS blk
  FROM d JOIN customer ON d.user_id = c_custkey
  WHERE d.dc IS NOT NULL
),
p AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, a.blk,
         COUNT(*) AS n,
         SUM(a.dc) AS sa, SUM(b.dc) AS sb,
         SUM(a.dc * a.dc) AS saa,
         SUM(b.dc * b.dc) AS sbb,
         SUM(a.dc * b.dc) AS sab
  FROM db a JOIN db b
    ON a.day = b.day AND a.blk = b.blk AND a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id, a.blk
)
SELECT user_a, user_b, blk AS block_key, CAST(n AS BIGINT) AS n_days,
       (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS corr
FROM p
WHERE n >= 20
  AND n * saa - sa * sa > 0
  AND n * sbb - sb * sb > 0
""",
)
def events_pairwise_correlation_blocked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Candidate-pair (BLOCKED) pairwise correlation — the production
    formulation of ``events_pairwise_correlation`` for a universe too
    large to cross: instead of the full n² day-keyed self-join, pairs
    are generated only WITHIN a blocking key, here the instrument's
    customer nation (user_id joins c_custkey — the same dimension
    attachment the stream-static join uses), standing in for the
    sector/industry blocking a real pairs-trading screen applies.

    Identical exact-moments pipeline (integer-cent deltas, BIGINT
    sufficient statistics, one closed-form double expression), so the
    two variants share determinism properties; only candidate
    generation changes. Scale shape: fan-out drops from universe²/2 per
    day to Σ block_size² — bounded by the largest block, which the
    blocking key is CHOSEN to bound; the join key (day, blk) also
    spreads hot days across reducers, removing the day-only hot-key
    hazard the full cross carries. The dimension attach happens on the
    compact bar-delta relation (instruments × days), never on raw
    events. The full-cross variant stays registered as the
    small-universe baseline; this one is the 100 TB path."""
    e = _base(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").cast("bigint").alias("blk"),
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max_by(cents, "ts").alias("close_cents"))
    wh = Window.partitionBy("user_id").orderBy("day")
    # the blocked delta relation feeds both self-join sides — like the
    # unblocked variant, NO checkpoint: the self-join over identical
    # lineage reuses the exchange, which beats an eager localCheckpoint
    # (measured; see events_pairwise_correlation)
    d = (
        c.select(
            "user_id",
            "day",
            (
                F.col("close_cents") - F.lag("close_cents", 1).over(wh)
            ).alias("dc"),
        )
        .filter(F.col("dc").isNotNull())
        .join(cust, "user_id")
    )
    # Lazy checkpoint on the guard pass, same as the full-cross variant —
    # but NO spread_small here (round-13, VERDICT r12 item 1): the
    # blocked fan-out is Σ block_size² ≈ n²/#blocks per day, small enough
    # at gate scale that a 32-way spread of the bytes-tiny delta relation
    # only buys per-task overhead — the committed round-12 bench measured
    # the spread arm 2.0× slower at local[32] in the shared session, and
    # a 5-rep interleaved A/B this round confirmed spread-off is fastest
    # at BOTH 32 cores (1.10 vs 1.24 s median) and 8 cores (flat). At
    # production scale the join's own (day, blk) exchange spreads the
    # fan-out; locally the relation is one partition of milliseconds of
    # work per block.
    d = d.localCheckpoint(eager=False)
    _assert_moment_headroom(d)
    a = d.select(
        F.col("user_id").alias("user_a"), "day", "blk", F.col("dc").alias("da")
    )
    b = d.select(
        F.col("user_id").alias("user_b"), "day", "blk", F.col("dc").alias("db")
    )
    p = (
        a.join(b, ["day", "blk"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b", "blk")
        .agg(
            # int64 sums under the same proved headroom guard as the
            # full-cross variant (see _assert_moment_headroom): silent
            # wrap is impossible, and the long-backed path is ~5× faster
            # than decimal(38,0) over the pair fan-out.
            F.count(F.lit(1)).alias("n"),
            F.sum("da").alias("sa"),
            F.sum("db").alias("sb"),
            F.sum(F.col("da") * F.col("da")).alias("saa"),
            F.sum(F.col("db") * F.col("db")).alias("sbb"),
            F.sum(F.col("da") * F.col("db")).alias("sab"),
        )
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sab").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sb").cast("double")
    den = F.sqrt(
        n_d * F.col("saa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double")
    ) * F.sqrt(
        n_d * F.col("sbb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double")
    )
    return (
        p.filter(
            (F.col("n") >= 20)
            & (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa") > 0)
            & (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb") > 0)
        )
        .select(
            "user_a",
            "user_b",
            F.col("blk").alias("block_key"),
            F.col("n").cast("bigint").alias("n_days"),
            (num / den).alias("corr"),
        )
    )


# ---------------------------------------------------------------------------
# the streaming Python Data Source inside the correctness gate
# ---------------------------------------------------------------------------

_QUOTES_TICKS = 48
_QUOTES_TPB = 16


def _quotes_ohlc_oracle_sql() -> str:
    """Constant generated oracle: the quote stream is a PURE integer
    function of (symbol, tick) — sources/quote_stream_datasource.py:
    quote_price_cents — so the oracle simply re-evaluates that function in
    Python, embeds the 192 quotes as VALUES, and aggregates the same OHLC
    in SQL. No table dependence: identical at every sf_dir."""
    from .sources.quote_stream_datasource import (
        DEFAULT_SYMBOLS,
        quote_price_cents,
    )

    symbols = DEFAULT_SYMBOLS.split(",")
    rows = ", ".join(
        f"({t}, '{s}', {quote_price_cents(i, t)})"
        for t in range(_QUOTES_TICKS)
        for i, s in enumerate(symbols)
    )
    return f"""
WITH q(tick, symbol, price_cents) AS (VALUES {rows})
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(arg_min(price_cents, tick) AS BIGINT) AS open_cents,
       CAST(MAX(price_cents) AS BIGINT) AS high_cents,
       CAST(MIN(price_cents) AS BIGINT) AS low_cents,
       CAST(arg_max(price_cents, tick) AS BIGINT) AS close_cents
FROM q GROUP BY symbol
"""


@register("quotes_stream_ohlc", _quotes_ohlc_oracle_sql())
def quotes_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles computed THROUGH the custom streaming Python Data
    Source (sources/quote_stream_datasource.py) — the source-side twin of
    the file-stream gates: 48 deterministic ticks arrive over 3
    micro-batches (ticks_per_batch=16) and the complete-mode aggregate
    must equal the oracle's closed-form OHLC over the same pure price
    function. Drained with processAllAvailable because availableNow
    snapshots only the simple stream reader's PREFETCHED first batch —
    the finite source (max_ticks) makes full drain deterministic.
    sf_dir is unused by construction: the source is synthetic, so the
    gate checks the streaming DataSource path itself (offset management,
    batch planning, replay), not table ingestion."""
    import uuid

    from .queries import _drain_stream
    from .sources.quote_stream_datasource import QuoteStreamDataSource

    spark.dataSource.register(QuoteStreamDataSource)
    name = "quotes_ohlc_" + uuid.uuid4().hex[:12]
    df = (
        spark.readStream.format("ticker_quotes_stream")
        .option("ticks_per_batch", str(_QUOTES_TPB))
        .option("max_ticks", str(_QUOTES_TICKS))
        .load()
    )
    ohlc = df.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        F.min_by("price_cents", "tick").cast("bigint").alias("open_cents"),
        F.max("price_cents").cast("bigint").alias("high_cents"),
        F.min("price_cents").cast("bigint").alias("low_cents"),
        F.max_by("price_cents", "tick").cast("bigint").alias("close_cents"),
    )
    return _drain_stream(
        spark, ohlc, name, "complete", process_all=True
    ).localCheckpoint(eager=True)


@register(
    "events_histogram_drift",
    """
WITH binned AS (
  SELECT CAST(floor(value / 32) AS BIGINT) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END
           AS w
  FROM events
),
tot AS (
  SELECT CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned
)
SELECT b.bin,
       CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b,
       CAST(abs(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) * t.n_b
                - sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) * t.n_a)
            AS BIGINT) AS drift_term
FROM binned b, tot t
GROUP BY b.bin, t.n_a, t.n_b
""",
)
def events_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two time windows of the value
    stream — the PSI-class check a model-serving pipeline runs before
    trusting this week's features against last week's training
    distribution, reported as per-bin L1 drift terms.

    Exactness: bin edges are the binary fraction value/32 (one exact
    IEEE divide by a power of two + floor — identical bits on both
    engines); the drift statistic avoids per-bin proportions (c_a/n_a
    would be an engine-ordered float) by cross-multiplying to the
    common denominator: |c_a·n_b − c_b·n_a| is an exact BIGINT, and
    Σterm/(n_a·n_b) — the actual L1 distance — is one final divide the
    consumer applies (the classic log-based PSI is a one-expression
    swap where cross-engine hashing isn't needed). Shape: ONE fact
    scan — the totals are derived FROM the per-bin aggregate (Σc_a /
    Σc_b over ≤16 bin rows), never from a second pass over events — so
    the only relation that is checkpointed for its two consumers is the
    bin-cardinality aggregate itself, O(bins) rows at any SF.
    (Checkpointing the raw two-int projection instead would materialize
    the whole fact table into executor storage to save a cheap columnar
    re-scan, and a lost executor could not recompute it — the exact
    inversion of what helps at 100 TB.)"""
    e = load_table(spark, sf_dir, "events")
    binned = e.select(
        F.floor(F.col("value") / 32).cast("bigint").alias("bin"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("w"),
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    ).localCheckpoint(eager=True)  # O(bins) rows; feeds totals AND output
    tot = g.agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "bin",
        "c_a",
        "c_b",
        F.abs(
            F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")
        )
        .cast("bigint")
        .alias("drift_term"),
    )
