"""Hand-asserted golden tests for the tricky reference semantics
(SURVEY.md §5.2-5.3): provenance tags, tri-state logic, unit-normalized PEG,
keep-first dedup, NaN/NULL discipline, threshold boundaries.

Rows are built directly (not from fixtures) so every expected value is
verifiable by eye against transform_valuation.py.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from one_one_one_rule_spark.config import ValuationThresholds
from one_one_one_rule_spark.operators.cleanse import cleanse_fundamentals
from one_one_one_rule_spark.operators.valuate import apply_valuation

T = ValuationThresholds()  # reference defaults 0.90/1.10/1.0/1.0/0.0


def make_row(i, **kw):
    base = dict(
        order=i,
        ticker=f"X{i}",
        company="c",
        sector="Tech",
        price=100.0,
        market_cap=1e9,
        currency="USD",
        trailing_pe=None,
        forward_pe=None,
        trailing_eps=None,
        forward_eps=None,
        earnings_growth=None,
        peg_ratio=None,
        book_value_per_share=None,
        target_mean_price=None,
    )
    base.update(kw)
    return Row(**base)


SCHEMA = StructType(
    [StructField("order", LongType())]
    + [
        StructField(c, StringType())
        for c in ("ticker", "company", "sector", "currency")
    ]
    + [
        StructField(c, DoubleType())
        for c in (
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
        )
    ]
)


def run(spark, rows, thresholds=T):
    data = [
        tuple(r[f] if f in r.asDict() else None for f in SCHEMA.fieldNames())
        for r in rows
    ]
    df = spark.createDataFrame(data, SCHEMA)
    cleansed = cleanse_fundamentals(df, order_col="order")
    return {
        r["ticker"]: r.asDict() for r in apply_valuation(cleansed, thresholds).collect()
    }


def test_cleanse_normalization_and_keep_first(spark):
    rows = [
        make_row(1, ticker=" brk.b "),
        make_row(2, ticker="AAPL", price=10.0),
        make_row(3, ticker="aapl", price=20.0),  # dup after normalization
        make_row(4, ticker=""),
        make_row(5, ticker=None),
        make_row(6, ticker="NEG", price=-5.0, market_cap=0.0, sector=""),
    ]
    out = run(spark, rows)
    assert "BRK-B" in out
    assert out["AAPL"]["price"] == 10.0  # keep-first: order 2 wins
    assert len(out) == 3  # empty + null dropped
    assert out["NEG"]["price"] is None  # price<=0 → NULL
    assert out["NEG"]["market_cap"] is None
    assert out["NEG"]["sector"] == "Unknown"


def test_graham_and_margin_of_safety(spark):
    rows = [
        make_row(1, ticker="G1", trailing_eps=4.0, book_value_per_share=10.0, price=20.0),
        make_row(2, ticker="G2", trailing_eps=-1.0, book_value_per_share=10.0),
        make_row(3, ticker="G3", trailing_eps=4.0, book_value_per_share=0.0),
    ]
    out = run(spark, rows)
    assert out["G1"]["graham_value"] == pytest.approx((22.5 * 4 * 10) ** 0.5)
    g = out["G1"]["graham_value"]
    assert out["G1"]["margin_of_safety"] == pytest.approx((g - 20.0) / g)
    assert out["G1"]["fair_value_source"] == "graham_value"
    assert out["G2"]["graham_value"] is None
    assert out["G3"]["graham_value"] is None
    assert out["G2"]["margin_of_safety"] is None
    assert out["G2"]["margin_of_safety_pass"] == "unknown"


def test_peg_unit_normalization_and_provenance(spark):
    rows = [
        make_row(1, ticker="P1", peg_ratio=1.5),  # reported
        # fraction growth: 0.25 → ×100 → 25% → peg = 20/25
        make_row(2, ticker="P2", trailing_pe=20.0, earnings_growth=0.25),
        # percent growth: 25.0 stays → peg = 20/25
        make_row(3, ticker="P3", trailing_pe=20.0, earnings_growth=25.0),
        # growth exactly 1 → fraction branch (<=1) → 100% → peg = 20/100
        make_row(4, ticker="P4", trailing_pe=20.0, earnings_growth=1.0),
        make_row(5, ticker="P5", peg_ratio=-2.0, trailing_pe=-1.0, earnings_growth=0.5),
        make_row(6, ticker="P6", peg_ratio=0.0),  # 0 is not >0 → not reported
    ]
    out = run(spark, rows)
    assert (out["P1"]["peg_ratio"], out["P1"]["peg_ratio_source"]) == (1.5, "reported")
    assert out["P2"]["peg_ratio"] == pytest.approx(0.8)
    assert out["P2"]["peg_ratio_source"] == "derived"
    assert out["P3"]["peg_ratio"] == pytest.approx(0.8)
    assert out["P4"]["peg_ratio"] == pytest.approx(0.2)
    assert (out["P5"]["peg_ratio"], out["P5"]["peg_ratio_source"]) == (None, "missing")
    assert out["P6"]["peg_ratio_source"] == "missing"
    assert out["P6"]["peg_pass"] == "unknown"


def test_fair_value_fallback_chain(spark):
    rows = [
        # graham wins even when target also present
        make_row(1, ticker="F1", trailing_eps=4.0, book_value_per_share=10.0,
                 target_mean_price=50.0),
        # no graham → target
        make_row(2, ticker="F2", trailing_eps=-1.0, target_mean_price=50.0),
        # no graham/target → trailing_eps × sector median trailing PE
        make_row(3, ticker="F3", trailing_eps=2.0, trailing_pe=10.0),
        make_row(4, ticker="F4", trailing_eps=-1.0, forward_eps=3.0,
                 trailing_pe=20.0, forward_pe=8.0),
        # nothing → missing
        make_row(5, ticker="F5", trailing_eps=-1.0, forward_eps=-1.0),
    ]
    out = run(spark, rows)
    assert out["F1"]["fair_value_source"] == "graham_value"
    assert out["F2"]["fair_value_source"] == "target_mean_price"
    assert out["F2"]["fair_value"] == 50.0
    # sector medians over Tech: trailing_pe values [10, 20] → median 15
    assert out["F3"]["fair_value_source"] == "sector_median_trailing_pe"
    assert out["F3"]["fair_value"] == pytest.approx(2.0 * 15.0)
    assert out["F4"]["fair_value_source"] == "sector_median_forward_pe"
    assert out["F4"]["fair_value"] == pytest.approx(3.0 * 8.0)
    assert out["F5"]["fair_value_source"] == "missing"
    assert out["F5"]["fair_value"] is None
    assert out["F5"]["valuation"] == "unknown"


def test_sector_median_fallback_to_global(spark):
    rows = [
        make_row(1, ticker="A1", sector="HasPE", trailing_pe=10.0),
        make_row(2, ticker="A2", sector="HasPE", trailing_pe=20.0),
        make_row(3, ticker="A3", sector="NoPE", trailing_pe=None),
    ]
    out = run(spark, rows)
    assert out["A1"]["sector_median_pe"] == 15.0
    assert out["A3"]["sector_median_pe"] is None
    assert out["A3"]["pe_median_used"] == 15.0  # global fallback
    assert out["A3"]["pe_vs_sector_pass"] == "unknown"  # trailing_pe null


def test_hunter_verdict_unknown_propagation(spark):
    # two passes + one unknown → unknown (transform_valuation.py:287-291)
    rows = [
        make_row(
            1,
            ticker="H1",
            peg_ratio=0.5,          # peg_pass = pass (0.5 < 1.0)
            trailing_pe=10.0,       # pe median = 10 → pe <= 10*1.0 → pass
            trailing_eps=-1.0,      # no graham → mos unknown
        ),
    ]
    out = run(spark, rows)
    assert out["H1"]["peg_pass"] == "pass"
    assert out["H1"]["pe_vs_sector_pass"] == "pass"
    assert out["H1"]["margin_of_safety_pass"] == "unknown"
    assert out["H1"]["valuation_hunter"] == "unknown"


def test_valuation_threshold_boundaries_inclusive(spark):
    # fair_value = 50 (target); thresholds 0.90/1.10 inclusive. Boundary
    # prices are the exact double products (50*1.1 != 55.0 in IEEE-754 —
    # the pandas reference has identical behavior).
    rows = [
        make_row(1, ticker="V1", target_mean_price=50.0, trailing_eps=-1.0,
                 price=50.0 * 0.90),
        make_row(2, ticker="V2", target_mean_price=50.0, trailing_eps=-1.0,
                 price=50.0 * 1.10),
        make_row(3, ticker="V3", target_mean_price=50.0, trailing_eps=-1.0, price=50.0),
        make_row(4, ticker="V4", target_mean_price=50.0, trailing_eps=-1.0, price=None),
    ]
    out = run(spark, rows)
    assert out["V1"]["valuation"] == "undervalued"  # price == fair*0.90 → <=
    assert out["V2"]["valuation"] == "overvalued"   # price == fair*1.10 → >=
    assert out["V3"]["valuation"] == "fair"
    assert out["V4"]["valuation"] == "unknown"
    assert out["V3"]["pct_diff"] == pytest.approx(0.0)
    assert out["V4"]["pct_diff"] is None


def test_nan_inf_scrubbed_to_null(spark):
    rows = [
        make_row(1, ticker="N1", trailing_pe=float("inf"), forward_pe=float("nan")),
    ]
    out = run(spark, rows)
    assert out["N1"]["trailing_pe"] is None
    assert out["N1"]["forward_pe"] is None


THRESHOLD_ENV = (
    "UNDERVALUED_THRESHOLD",
    "OVERVALUED_THRESHOLD",
    "PEG_MAX",
    "PE_SECTOR_MAX_MULT",
    "MARGIN_OF_SAFETY_MIN",
)


@pytest.mark.parametrize("raw", ["nan", "NaN", "inf", "-inf", "Infinity", "x"])
def test_thresholds_from_env_reject_non_finite(monkeypatch, raw):
    """float() parses nan/inf; like an unparsable value they fall back to
    the defaults (NaN orders above every double in Spark)."""
    for name in THRESHOLD_ENV:
        monkeypatch.setenv(name, raw)
    assert ValuationThresholds.from_env() == T


def test_peg_max_nan_does_not_pass_every_peg(spark, monkeypatch):
    monkeypatch.setenv("PEG_MAX", "nan")
    rows = [make_row(1, ticker="Q1", peg_ratio=5.0)]
    out = run(spark, rows, ValuationThresholds.from_env())
    assert out["Q1"]["peg_pass"] == "fail"  # 5.0 < default 1.0 is false


def test_markdown_to_html_matches_reference_rewrites(spark):
    """F19 (analyze...gs:138-146): bold, newline, heading, bullet — in the
    reference's order, wrapped in its styled div."""
    from pyspark.sql import functions as F

    from one_one_one_rule_spark.functions import report as R

    md = "## Summary\n- **bold** item\n- plain item\ntail ## not-a-heading"
    got = (
        spark.range(1)
        .select(R.markdown_to_html(F.lit(md)).alias("h"))
        .collect()[0]
        .h
    )
    assert got.startswith(R.WRAPPER_PREFIX) and got.endswith(R.WRAPPER_SUFFIX)
    body = got[len(R.WRAPPER_PREFIX):-len(R.WRAPPER_SUFFIX)]
    assert '<h3 style="color:#2c3e50;">Summary</h3>' in body
    assert "<b>bold</b>" in body
    assert "\n" not in body and "<br>" in body
    assert "• <b>bold</b> item" in body and "• plain item" in body
    # mid-line "## " is NOT a heading start in the reference's regex either:
    # the pattern anchors on the replace order, not line starts — parity
    # means we reproduce that quirk, not fix it.
    assert body.count("<h3") == 2  # reference quirk: mid-text ## also fires


# ---------------------------------------------------------------------------
# SQL UDF surface (functions/sql_udfs.py)
# ---------------------------------------------------------------------------


def test_sql_udfs_match_column_functions(spark, sf_dir):
    """The Spark 4 SQL scalar UDFs are built from the same
    functions/valuation.py text the pipeline applies, so they must agree
    row-for-row with apply_valuation's columns — and being
    RETURN-expression UDFs they inline into the plan (no PythonUDF /
    ScalaUDF node)."""
    from one_one_one_rule_spark.functions.sql_udfs import register_sql_udfs
    from one_one_one_rule_spark.sources.fixtures import synthetic_fundamentals

    register_sql_udfs(spark)
    d = cleanse_fundamentals(
        synthetic_fundamentals(spark, sf_dir), order_col="k"
    )
    d.createOrReplaceTempView("f_sqludf")
    apply_valuation(d).createOrReplaceTempView("v_sqludf")

    cols = ("graham_value", "peg_ratio", "margin_of_safety", "pct_diff")
    col_side = spark.table("v_sqludf").select("ticker", *cols)
    # the UDFs read the cleansed inputs (peg_ratio is the reported one);
    # fair_value comes from the valued row
    sql_side = spark.sql(
        """
        SELECT f.ticker,
               graham_value(f.trailing_eps, f.book_value_per_share)
                 AS graham_value,
               peg_ratio(f.peg_ratio, f.trailing_pe, f.earnings_growth)
                 AS peg_ratio,
               margin_of_safety(
                 graham_value(f.trailing_eps, f.book_value_per_share), f.price
               ) AS margin_of_safety,
               pct_diff(f.price, v.fair_value) AS pct_diff
        FROM f_sqludf f JOIN v_sqludf v ON f.ticker = v.ticker
        """
    )
    a = {r["ticker"]: tuple(r[c] for c in cols) for r in col_side.collect()}
    b = {r["ticker"]: tuple(r[c] for c in cols) for r in sql_side.collect()}
    assert a == b and len(a) > 0
    # every formula has both NULL and non-NULL rows in the fixture
    for i, c in enumerate(cols):
        values = [t[i] for t in a.values()]
        assert None in values and any(v is not None for v in values), c

    # scalar SQL UDFs inline: no black-box UDF node survives in the plan
    plan = sql_side._jdf.queryExecution().optimizedPlan().toString()
    assert "UDF" not in plan or "ScalaUDF" not in plan
    assert "PythonUDF" not in plan
