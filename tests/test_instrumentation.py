"""U7 — perf instrumentation (reference perf.py:23-52) and plan metrics."""

import logging

from one_one_one_rule_spark.instrumentation import log_perf, plan_metrics
from one_one_one_rule_spark.queries import QUERIES


def test_log_perf_emits_reference_format(spark, sf_dir, caplog):
    @log_perf
    def count_region():
        return QUERIES["q5_region_nation_revenue"](spark, sf_dir).count()

    with caplog.at_level(logging.INFO, logger="one_one_one_rule_spark.perf"):
        n = count_region()
    assert n > 0
    [rec] = [r for r in caplog.records if r.name == "one_one_one_rule_spark.perf"]
    msg = rec.getMessage()
    assert msg.startswith("perf count_region wall_ms=")
    for field in ("cpu_ms=", "rss_mb=", "delta_rss_mb="):
        assert field in msg


def test_plan_metrics_counts_shuffles(spark, sf_dir):
    m = plan_metrics(QUERIES["events_running_sum"](spark, sf_dir))
    assert m["exchanges"] == 1
    assert m["python_evals"] == 0
    assert m["scans"] == 1

    m5 = plan_metrics(QUERIES["q5_region_nation_revenue"](spark, sf_dir))
    assert m5["broadcasts"] >= 5
    assert m5["exchanges"] <= 2


def test_observed_metrics_ride_the_action(spark, sf_dir):
    """observe() metrics (instrumentation.observed) are computed inside
    the consuming action — values must equal an independent aggregate,
    with no extra job for the metrics themselves."""
    from pyspark.sql import functions as F

    from one_one_one_rule_spark.instrumentation import observed
    from one_one_one_rule_spark.sources.fixtures import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 25
    )
    df, fetch = observed(
        li,
        "cleanse_stage",
        n_rows=F.count(F.lit(1)),
        null_ship=F.sum(
            F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)
        ),
        qty_sum=F.sum(F.col("l_quantity").cast("bigint")),
    )
    n_consumed = df.count()  # the action the metrics piggyback on
    got = fetch()
    exp = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("s"),
    ).collect()[0]
    assert got["n_rows"] == n_consumed == exp.n
    assert got["qty_sum"] == exp.s
    assert got["null_ship"] == 0


def test_valuation_plan_construction_is_cheap(spark, sf_dir):
    """Building the daily valuation plan is SQL text applied with one
    selectExpr per layer, so it costs a few hundred py4j gateway calls
    (every ``F.*``/``Column`` call costs several, plus call-site capture).
    A box-independent guard: the count does not depend on machine speed.
    py4j's garbage-collection notices ('m' commands) are left out — they
    release proxies dropped earlier, whenever Python's GC runs.

    The pipeline checkpoints the cleansed snapshot, so its own plan shows
    only the valuation tail; the cleanse subtree's shape is pinned on its
    own."""
    from one_one_one_rule_spark.operators.cleanse import cleanse_fundamentals
    from one_one_one_rule_spark.plans.pipeline import valuation_pipeline
    from one_one_one_rule_spark.sources.fixtures import synthetic_fundamentals

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            calls.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        df = valuation_pipeline(
            synthetic_fundamentals(spark, sf_dir), order_col="k"
        )
    finally:
        del client.send_command  # back to the class method
    assert 0 < len(calls) <= 400, len(calls)

    keys = ("exchanges", "broadcasts", "scans", "python_evals")
    m = plan_metrics(df)
    # tail over the checkpoint: the sector-median shuffle and the two
    # broadcast median attaches, no file scan
    assert tuple(m[k] for k in keys) == (1, 2, 0, 0)
    m = plan_metrics(
        cleanse_fundamentals(synthetic_fundamentals(spark, sf_dir), order_col="k")
    )
    # one scan of part, the keep-first dedup shuffle
    assert tuple(m[k] for k in keys) == (1, 0, 1, 0)
