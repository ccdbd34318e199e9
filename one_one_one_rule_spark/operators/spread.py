"""Scale-adaptive physical-layout helpers.

``spread_small`` exists because compute cost and byte count are different
resources: a relation of a few MB can still carry seconds of downstream
CPU work per row (shingle explode + hashing, per-vector SRP products,
pair fan-outs). Spark sizes BOTH scan splits and AQE-coalesced shuffle
partitions by bytes, so a small-but-compute-heavy relation collapses to
one or two partitions and the expensive stage serializes on a single
core however many the cluster has — the guide's input-layout hazard
(spark_optimization_guide.md §2.5 "input skew", §6 split sizing) in its
degenerate form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Upper bound (bytes, plan-estimated) under which a relation counts as
#: "small" and is round-robin-spread to the session's default parallelism.
#: 64 MB = half a default scan split: any relation this small would plan
#: at most one split anyway, so spreading it costs one tiny local exchange
#: and buys full-cluster parallelism for the CPU-bound stage it feeds.
DEFAULT_SPREAD_MAX_BYTES = 64 << 20


def spread_small(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when its
    plan-estimated size is below ``DEFAULT_SPREAD_MAX_BYTES``; identity
    otherwise.

    Use immediately before a CPU-heavy per-row stage (hash explodes,
    decode passes, pair fan-outs). Scale behavior: the decision reads the
    OPTIMIZER's size estimate, which is derived from file sizes at the
    scan and propagated through operators — at production scale the
    estimate exceeds the threshold (the scan already has more splits than
    cores) and the call is a no-op, so no new exchange appears in the
    100 TB plan. Locally (single-row-group fixtures measured in MB) it
    inserts one round-robin exchange of a few MB and un-serializes the
    downstream stage. Where per-partition work is milliseconds, task
    overhead swamps the parallelism win (the round-12 bench measured the
    BLOCKED correlation's bytes-tiny delta relation 2x SLOWER spread
    32-ways), so such callers do not spread at all.

    Correctness: round-robin repartition never changes row multiset, and
    every caller feeds partitioning-insensitive consumers (exact
    aggregates / joins), so results are bit-identical — the repartition
    uses Spark's deterministic sort-before-repartition path (on by
    default) so task retries reproduce the same placement.
    """
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df  # no estimate — leave the plan alone
    if size > DEFAULT_SPREAD_MAX_BYTES:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
