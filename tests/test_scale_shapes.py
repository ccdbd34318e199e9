"""Scale-shape proofs: bucketed co-located joins, partition pruning, and
approximate aggregates — the physical behaviors the 100 TB design leans on,
asserted on real plans and data (not just documented)."""

import pytest
from pyspark.sql import functions as F

from one_one_one_rule_spark.operators.output import write_dated_partition
from one_one_one_rule_spark.sources.fixtures import load_table


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Pre-bucketing both join sides on the key removes the per-query
    shuffle entirely — the plan for bucketed ⋈ bucketed has NO exchange.
    This is the co-located-join strategy for repeated 100 TB fact joins."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").option(
        "path", str(tmp_path / "orders_b")
    ).mode("overwrite").saveAsTable("orders_b")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey").option(
        "path", str(tmp_path / "customer_b")
    ).mode("overwrite").saveAsTable("customer_b")
    # disable auto-broadcast so the join would normally shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        n = joined.count()
        plain = orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        ).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_dated_partition_sink_prunes_on_read(spark, sf_dir, tmp_path):
    """S11/D3 at scale: the dated-copy convention as a date-partitioned
    table — a reader filtering on as_of_date must scan ONLY that partition
    (PartitionFilters in the plan, one file read)."""
    base = str(tmp_path / "valuations")
    df = load_table(spark, sf_dir, "orders").limit(100)
    for day in ("2026-01-01", "2026-01-02", "2026-01-03"):
        out = df.withColumn("as_of_date", F.lit(day))
        out.write.mode("append").partitionBy("as_of_date").parquet(base)

    table = spark.read.parquet(base)
    latest = table.filter(F.col("as_of_date") == "2026-01-03")
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(as_of_date" in plan
    assert latest.count() == 100
    # max-partition discovery itself touches only partition metadata
    days = [str(r[0]) for r in table.select("as_of_date").distinct().collect()]
    assert max(days) == "2026-01-03"


def test_write_dated_partition_roundtrip(spark, sf_dir, tmp_path):
    base = write_dated_partition(
        load_table(spark, sf_dir, "region"), str(tmp_path / "t"), "2026-02-03"
    )
    back = spark.read.parquet(base)
    assert back.filter(F.col("as_of_date") == "2026-02-03").count() == 5


def test_approx_aggregates_track_exact(spark, sf_dir):
    """The 100 TB substitutes: approx_count_distinct (HLL) within 5% of
    exact, percentile_approx within the value range of the exact median.
    These are the forms the engine swaps in when exactness stops being
    affordable (percentile_approx is valuate.py's median swap at scale)."""
    e = load_table(spark, sf_dir, "events")
    row = e.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("p50_approx"),
        F.expr("median(value)").alias("p50_exact"),
    ).collect()[0]
    assert abs(row.approx_users - row.exact_users) <= 0.05 * row.exact_users
    lo, hi = sorted([row.p50_exact * 0.9, row.p50_exact * 1.1])
    assert lo <= row.p50_approx <= hi


@pytest.mark.parametrize("n_parts", [1, 4, 13])
def test_decimal_sum_partition_invariant(spark, sf_dir, n_parts):
    """The determinism contract behind every SUM in the engine: exact-
    decimal routing makes aggregate results identical under ANY
    partitioning (functions/numeric.py) — double summation would drift."""
    from one_one_one_rule_spark.functions.numeric import decimal_sum

    l = load_table(spark, sf_dir, "lineitem").repartition(n_parts)
    v = l.agg(
        decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("s")
    ).collect()[0]["s"]
    # pinned value computed once at sf0.01 — any partitioning must match
    ref = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
        decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("s")
    ).collect()[0]["s"]
    assert v == ref


def test_band_bits_knob_restores_linear_candidate_volume(spark):
    """Round-7 verdict item 7: SCALING.md documents the SRP near-dup tier
    as quadratic AT FIXED band bits and names growing bits ~log2(N) as
    the production knob — this proves the knob exists in code and works.
    On pseudo-random vectors at N and 4N: with bits pinned at the
    fixture's 4, candidate pairs grow ~N^2 (x16); with
    band_bits_for_corpus(N), per-bucket occupancy is pinned and growth
    collapses to ~N."""
    from one_one_one_rule_spark.operators.similarity import (
        band_bits_for_corpus,
        srp_candidate_pairs,
    )

    # enough ambient dimensions that 40-64 deterministic hyperplanes stay
    # reasonably independent (in 8-d they'd be forced-correlated and
    # bucket skew would swamp the occupancy math)
    dim = 32

    def vectors(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (
                        (F.hash(F.col("id"), F.lit(j)) % 1000) / F.lit(500.0)
                    ).cast("double")
                    for j in range(dim)
                ]
            ).alias("embedding"),
        )

    n_small, n_big = 1000, 4000
    fixed = [
        srp_candidate_pairs(vectors(n), dim, band_bits=4).count()
        for n in (n_small, n_big)
    ]
    scaled = [
        srp_candidate_pairs(
            vectors(n), dim, band_bits=band_bits_for_corpus(n)
        ).count()
        for n in (n_small, n_big)
    ]
    fixed_ratio = fixed[1] / max(fixed[0], 1)
    scaled_ratio = scaled[1] / max(scaled[0], 1)
    # fixed bits: ~ (4x)^2 = 16x; derived bits: ~4x (linear). The gap is
    # an order of magnitude — generous cuts so hash-sign skew can't flake.
    assert fixed_ratio > 9, (fixed, fixed_ratio)
    assert scaled_ratio < 7, (scaled, scaled_ratio)
    assert scaled_ratio < fixed_ratio / 2
    # the derivation itself: monotone, floored at the gate's 4 bits,
    # capped at 15 (4 x 15 = 60 planes — the most a SIGNED bigint
    # signature can hold; bit 63 would need the long-overflowing 2^63)
    assert band_bits_for_corpus(10) == 4
    assert band_bits_for_corpus(1000) == 10
    assert band_bits_for_corpus(1 << 40) == 15
    # the ceiling value is buildable end-to-end, not just computable
    assert srp_candidate_pairs(vectors(40), dim, band_bits=15).count() >= 0
    # and the signed-bigint limit fails loudly, never as a py4j overflow
    from one_one_one_rule_spark.operators.similarity import srp_signature

    with pytest.raises(ValueError, match="n_planes"):
        srp_signature(vectors(4), 64, dim)
