"""operators/spread.py — the scale-adaptive small-relation spread.

The helper exists so CPU-heavy map stages (shingle explode+hash, window
md5, pair fan-outs) parallelize even when their input is bytes-small
(one scan split / one AQE-coalesced partition). These tests pin the two
contract halves: it SPREADS relations whose plan-estimated size is under
the threshold, and it is an IDENTITY above the threshold — so no new
exchange can appear in a production-scale plan.
"""

from pyspark.sql import functions as F

from one_one_one_rule_spark.operators import spread
from one_one_one_rule_spark.operators.spread import (
    DEFAULT_SPREAD_MAX_BYTES,
    spread_small,
)


def test_small_relation_is_spread_to_default_parallelism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = spread_small(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # a round-robin exchange was inserted (never hash/range — the plan
    # ratchet's shuffle counts are deliberately untouched)
    assert "roundrobinpartitioning" in plan.lower(), plan[:1500]
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # row multiset unchanged
    assert out.count() == docs.count()


def test_large_estimate_is_identity(spark, sf_dir, monkeypatch):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    monkeypatch.setattr(spread, "DEFAULT_SPREAD_MAX_BYTES", 1)  # all "big"
    assert spread_small(docs) is docs  # identity — not even a new plan node


def test_checkpointed_relation_carries_real_stats(spark):
    """The spread decision keeps working downstream of localCheckpoint:
    Spark preserves size stats on the checkpointed LogicalRDD, so a
    small checkpointed relation still spreads (this is what lets the
    dedup tiers spread post-checkpoint subtrees)."""
    ck = spark.range(1000).select(
        F.col("id").alias("doc_id")
    ).localCheckpoint(eager=True)
    size = int(
        ck._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert 0 < size < DEFAULT_SPREAD_MAX_BYTES
    out = spread_small(ck)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
