"""Scale-technique operators as first-class gated queries.

Currently: Bloom-filter semi-join reduction (operators/bloomjoin.py) —
runtime filtering of a fact-table scan by a compact filter built from a
runtime-filtered dimension, the manual form of the pre-shuffle join
reduction a 100 TB join pipeline leans on when the optimizer can't inject
it (cross-source joins, pre-aggregated build sides).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import decimal_sum
from .queries import register
from .sources.fixtures import load_table


@register(
    "lineitem_bloom_semijoin",
    """
WITH picked AS (
  SELECT o_orderkey, o_orderpriority FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN picked ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def lineitem_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by priority over lineitems of urgent/high orders, with the
    lineitem side Bloom-reduced BEFORE the join shuffle
    (operators/bloomjoin.py:bloom_semi_reduced_join).

    The oracle is the PLAIN join — the Bloom filter is semantics-free by
    construction (no false negatives; false positives die in the real
    join), so the hash gate proves the reduction preserves the result
    exactly. Plan shape: distributed 8 KB bitmap build (bounded driver
    collect of <=1024 words), probe-side membership test inside the scan
    stage, then the usual shuffled join + combinable aggregate on the
    ~2/5-selectivity survivor stream."""
    l = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )
    from .operators.bloomjoin import bloom_semi_reduced_join

    j = bloom_semi_reduced_join(l, "l_orderkey", o, "o_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
    )


@register(
    "events_hll_partitioned_rollup",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS two_level_equals_one_level,
       TRUE AS hll_within_5sigma
FROM events
GROUP BY event_type
""",
)
def events_hll_partitioned_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable-sketch rollup ALGEBRA — the property that makes sketch
    cubes materializable: per-day HyperLogLog sketches union to exactly
    the sketch of the whole (register-wise max commutes with any
    partitioning), so a 100 TB pipeline can keep daily sketch rollups
    and answer month/quarter/all-time distincts by UNIONING sketches —
    never rescanning the fact table.

    Gated in the events_sketch_profile style: the estimates are
    engine-specific, so the hashed row carries booleans — (a) the
    two-level estimate (daily hll_sketch_agg -> hll_union_agg) EQUALS the
    one-level estimate over the raw stream, which is the merge-exactness
    property itself, and (b) the estimate lands within 5 sigma of the
    exact distinct count (exact side is gate-scale verification only;
    production keeps just the sketch path)."""
    e = load_table(spark, sf_dir, "events")
    lgk = F.lit(14)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id", lgk).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    two = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("two_level"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    one = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lgk)).alias(
            "one_level"
        ),
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
    )
    sigma = 0.02 * F.col("exact_users").cast("double")
    return (
        two.join(one, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (F.col("two_level") == F.col("one_level")).alias(
                "two_level_equals_one_level"
            ),
            (
                F.abs(
                    F.col("two_level").cast("double")
                    - F.col("exact_users").cast("double")
                )
                <= F.greatest(F.lit(2.0), 5.0 * sigma)
            ).alias("hll_within_5sigma"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional clustering layout
# ---------------------------------------------------------------------------

_Z_PRED = "bd BETWEEN 4 AND 7 AND bp BETWEEN 8 AND 11"


def _zorder_sql() -> str:
    morton = " + ".join(
        f"((bd // {1 << i}) % 2) * {1 << (2 * i + 1)}"
        f" + ((bp // {1 << i}) % 2) * {1 << (2 * i)}"
        for i in range(4)
    )
    return f"""
WITH li AS (
  SELECT datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS d,
         l_partkey AS p
  FROM lineitem
),
b AS (
  SELECT MIN(d) AS dmin, MAX(d) AS dmax, MIN(p) AS pmin, MAX(p) AS pmax FROM li
),
g AS (
  SELECT ((d - dmin) * 16) // (dmax - dmin + 1) AS bd,
         ((p - pmin) * 16) // (pmax - pmin + 1) AS bp
  FROM li, b
),
cells AS (SELECT bd, bp, ({morton}) AS z FROM g),
zf AS (
  SELECT z // 4 AS file_id, COUNT(*) AS n,
         SUM(CASE WHEN {_Z_PRED} THEN 1 ELSE 0 END) AS m
  FROM cells GROUP BY 1
),
lf AS (
  SELECT bd AS file_id, COUNT(*) AS n,
         SUM(CASE WHEN {_Z_PRED} THEN 1 ELSE 0 END) AS m
  FROM cells GROUP BY 1
)
SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS files_total,
       CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       CAST(SUM(CASE WHEN m > 0 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(SUM(m) AS BIGINT) AS rows_matched
FROM zf
UNION ALL
SELECT 'date_linear', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN m > 0 THEN n ELSE 0 END) AS BIGINT),
       CAST(SUM(m) AS BIGINT)
FROM lf
"""


@register("lineitem_zorder_layout", _zorder_sql())
def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering layout planner + pruning audit —
    the multi-dimensional file-clustering technique (Delta OPTIMIZE
    ZORDER / Iceberg sort orders) that makes min-max file skipping work
    for predicates on MORE THAN ONE column at 100 TB.

    Buckets (l_shipdate day-number, l_partkey) into a 16x16 grid using a
    1-row min/max aggregate (broadcast), interleaves the two 4-bit bucket
    ids into a Morton code with pure integer arithmetic (bit math is
    engine-portable via div/mod), and assigns each row to a "file" of 4
    adjacent z-cells (a 2x2 block of the grid — 64 files total). The
    audit compares, for one 4x4 2-D predicate box, how many files (and
    rows) a min-max-pruning scan would touch under the z-order layout vs
    a single-dimension date-sorted layout: z-order touches the 4 files
    covering the box; the date-linear layout touches 4x fewer files but
    each holds a full partkey stripe, so it SCANS ~4x the rows. The
    whole query is two scans + bounded aggregates — the planner itself
    is the thing a writer would run before `write.partitionBy`."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("d"),
        F.col("l_partkey").alias("p"),
    )
    b = li.groupBy().agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax"),
        F.min("p").alias("pmin"), F.max("p").alias("pmax"),
    )
    g = li.crossJoin(F.broadcast(b)).select(
        F.expr("((d - dmin) * 16) div (dmax - dmin + 1)").alias("bd"),
        F.expr("((p - pmin) * 16) div (pmax - pmin + 1)").alias("bp"),
    )
    morton = F.expr(
        " + ".join(
            f"((bd div {1 << i}) % 2) * {1 << (2 * i + 1)}"
            f" + ((bp div {1 << i}) % 2) * {1 << (2 * i)}"
            for i in range(4)
        )
    )
    cells = g.select("bd", "bp", morton.alias("z"))
    pred = (
        (F.col("bd") >= 4) & (F.col("bd") <= 7)
        & (F.col("bp") >= 8) & (F.col("bp") <= 11)
    )

    def roll(files: DataFrame, layout: str) -> DataFrame:
        return files.groupBy().agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("files_total"),
            F.sum((F.col("m") > 0).cast("bigint")).alias("files_touched"),
            F.sum(
                F.when(F.col("m") > 0, F.col("n")).otherwise(F.lit(0))
            ).alias("rows_scanned"),
            F.sum("m").alias("rows_matched"),
        )

    zfiles = cells.withColumn("file_id", F.expr("z div 4")).groupBy(
        "file_id"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(pred.cast("bigint")).alias("m"))
    lfiles = cells.withColumn("file_id", F.col("bd")).groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(pred.cast("bigint")).alias("m")
    )
    return roll(zfiles, "zorder").unionByName(roll(lfiles, "date_linear"))


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters
# ---------------------------------------------------------------------------


def _cms_sql() -> str:
    from .operators.skew import CMS_P, CMS_SEEDS

    w = 512
    hashes = [
        f"((({a} * ((user_id % {CMS_P} + {CMS_P}) % {CMS_P}) + {b})"
        f" % {CMS_P}) % {w})"
        for a, b in CMS_SEEDS
    ]
    rows_union = "\nUNION ALL\n".join(
        f"SELECT {r} AS r, {hashes[r]} AS cell FROM events"
        for r in range(len(CMS_SEEDS))
    )
    cells = ", ".join(
        f"{hashes[r]} AS cell{r}" for r in range(len(CMS_SEEDS))
    )
    joins = "\n".join(
        f"JOIN sketch s{r} ON s{r}.r = {r} AND s{r}.cell = k.cell{r}"
        for r in range(len(CMS_SEEDS))
    )
    least = ", ".join(f"s{r}.cnt" for r in range(len(CMS_SEEDS)))
    return f"""
WITH hashed AS ({rows_union}),
sketch AS (SELECT r, cell, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM hashed GROUP BY r, cell),
k AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt, {cells}
      FROM events GROUP BY user_id)
SELECT k.user_id, k.exact_cnt, LEAST({least}) AS cms_est,
       LEAST({least}) >= k.exact_cnt AS overestimates
FROM k
{joins}
ORDER BY cms_est DESC, exact_cnt DESC, user_id ASC
LIMIT 20
"""


@register("events_cms_heavy_hitters", _cms_sql())
def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch top-20 heavy users (operators/skew.py:cms_build).

    The MERGEABLE alternative to the exact two-phase heavy hitters
    (docs_heavy_hitter_tokens): the sketch is a fixed d x 512 grid built
    by one map-combinable aggregate, so per-day / per-partition sketches
    sum cell-wise into the global sketch — a 100 TB stream keeps O(KB)
    state per window and never revisits raw events. The gate joins the
    estimate back to the exact per-key counts (gate-scale verification
    only) and hash-checks both the estimates and the CMS overestimate
    invariant (est >= exact, collisions only add). Top-20 selection is
    made deterministic by the (est desc, exact desc, user_id) total
    order; the candidate-keys relation here is the exact groupBy (at
    production scale it is the previous window's heavy-hitter list)."""
    from .operators.skew import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id", width=512)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    est = cms_estimate(sketch, exact, "user_id", width=512)
    return (
        est.withColumn(
            "overestimates", F.col("cms_est") >= F.col("exact_cnt")
        )
        .select("user_id", "exact_cnt", "cms_est", "overestimates")
        .orderBy(
            F.desc("cms_est"), F.desc("exact_cnt"), F.asc("user_id")
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PPJoin prefix-filtered set-similarity join
# ---------------------------------------------------------------------------


def _ppjoin_sql() -> str:
    from .functions import text as T
    from .queries import _shingle_hash_ctes

    t_num, t_den = 1, 2
    return f"""
WITH {_shingle_hash_ctes().strip()},
dfreq AS (SELECT h, COUNT(*) AS df FROM hashed GROUP BY h),
ranked AS (
  SELECT hashed.doc_id, hashed.h, sizes.n,
         ROW_NUMBER() OVER (PARTITION BY hashed.doc_id
                            ORDER BY df ASC, hashed.h ASC) AS rk
  FROM hashed JOIN dfreq USING (h) JOIN sizes USING (doc_id)
),
prefix AS (
  SELECT doc_id, h, n FROM ranked
  WHERE rk <= n - ((n * {t_num} + {t_den} - 1) // {t_den}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE b.n * {t_den} >= a.n * {t_num}
    AND a.n * {t_den} >= b.n * {t_num}
),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cand
  JOIN hashed fa ON fa.doc_id = cand.doc_a
  JOIN hashed fb ON fb.doc_id = cand.doc_b AND fb.h = fa.h
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE c * {t_den + t_num} >= (sa.n + sb.n) * {t_num}
"""


@register("docs_ppjoin_pairs", _ppjoin_sql())
def docs_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join at Jaccard >= 1/2
    (operators/dedup.py:ppjoin_pairs) — the hot-key-immune exact tier:
    rarest-first global ordering puts boilerplate shingles at the END of
    every doc's list, so they never enter the indexed prefixes and the
    quadratic hot-shingle fan-out of the plain inverted index vanishes
    with NO approximation (tests assert equality with the brute-force
    threshold join)."""
    from .operators.dedup import ppjoin_pairs

    return ppjoin_pairs(
        load_table(spark, sf_dir, "documents"), 3, t_num=1, t_den=2
    )


# ---------------------------------------------------------------------------
# streaming incremental dedup against a persisted signature index
# ---------------------------------------------------------------------------


def _register_stream_incremental_dedup() -> None:
    from .queries import _incremental_dedup_sql

    @register("docs_stream_incremental_dedup", _incremental_dedup_sql())
    def docs_stream_incremental_dedup(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The continuously-ingesting form of docs_incremental_dedup: new
        documents arrive as a FILE STREAM (two staged micro-batches) and
        each batch is probed, inside foreachBatch, against the PERSISTED
        MinHash signature index (operators/dedup.py:doc_hash_sets written
        once to parquet) — the corpus text is never re-read, the probe is
        a banded join against the index, and verdicts append to the sink
        per batch. Because every batch probes the same base snapshot,
        the union of per-batch verdicts is batch-order-independent and
        must hash-equal the BATCH incremental-dedup oracle — the
        streaming/batch convergence gate for the dedup surface. At 100 TB
        the index parquet is bucketed by (band, key) and the accepted
        deltas compact into it on a cadence (small-files compactor),
        keeping per-batch cost O(|delta| + matched buckets)."""
        from .operators.dedup import doc_hash_sets, incremental_lsh_dedup
        from .queries import (
            _drain_foreach_batch,
            _read_batch_partials,
            _session_tmp_dir,
            _stage_parquet_slices,
            _staged_stream,
            _write_batch_partial,
        )

        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)

        idx_dir = _session_tmp_dir("incdedup_idx_")
        doc_hash_sets(base, 3).write.mode("overwrite").parquet(idx_dir)

        src = _stage_parquet_slices(
            delta, ["doc_id % 20 = 0", "doc_id % 20 != 0"], "incdedup_src_"
        )
        out = _session_tmp_dir("incdedup_out_")

        def probe(bdf: DataFrame, batch_id: int) -> None:
            base_sets = bdf.sparkSession.read.parquet(idx_dir)
            verdicts = incremental_lsh_dedup(
                None, bdf, 3, 0.3, base_sets=base_sets
            )
            _write_batch_partial(verdicts, out, batch_id)

        schema = (
            "doc_id bigint, text string, lang string,"
            " source string, n_chars bigint"
        )
        _drain_foreach_batch(
            spark, _staged_stream(spark, src, schema), probe
        )
        shutil.rmtree(src)
        return _read_batch_partials(spark, out)


_register_stream_incremental_dedup()


@register(
    "events_hll_set_ops",
    """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS click_users,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS purchase_users,
       CAST((SELECT COUNT(*) FROM c JOIN p USING (user_id)) AS BIGINT)
         AS both_exact,
       TRUE AS union_within_2pct,
       TRUE AS intersection_within_5pct
""",
)
def events_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA beyond union: HLL supports union natively
    (register-wise max), and intersection falls out of
    inclusion-exclusion — |A∩B| ~= est(A) + est(B) - est(A∪B) — the
    audience-overlap computation every marketing/cohort pipeline runs.
    At 100 TB both operand sketches come from the same per-day rollup
    tables (events_hll_partitioned_rollup), so overlap questions across
    ANY pair of segments cost two KB-sized sketch unions, not a fact
    self-join.

    Gated in the events_sketch_profile style: estimates are
    engine-specific, so the hashed row carries exact operand/intersection
    counts plus booleans asserting (a) the unioned-sketch estimate is
    within 2% of the exact union and (b) the inclusion-exclusion
    intersection estimate is within 5% of the exact intersection
    (inclusion-exclusion compounds the error of three estimates — the
    documented reason theta sketches replace HLL when intersections
    dominate). Exact sides are gate-scale verification only."""
    e = load_table(spark, sf_dir, "events")
    lgk = F.lit(14)
    c = e.filter(F.col("event_type") == "click")
    p = e.filter(F.col("event_type") == "purchase")
    sketches = (
        c.select(F.lit(0).alias("side"), "user_id")
        .unionByName(p.select(F.lit(1).alias("side"), "user_id"))
        .groupBy("side")
        .agg(F.hll_sketch_agg("user_id", lgk).alias("sk"))
    )
    ests = sketches.groupBy().agg(
        F.hll_sketch_estimate(F.max(F.when(F.col("side") == 0, F.col("sk")))).alias("est_c"),
        F.hll_sketch_estimate(F.max(F.when(F.col("side") == 1, F.col("sk")))).alias("est_p"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_u"),
    )
    exact = (
        c.select("user_id").distinct().withColumn("in_c", F.lit(1))
        .join(
            p.select("user_id").distinct().withColumn("in_p", F.lit(1)),
            "user_id",
            "full",
        )
        .groupBy()
        .agg(
            F.sum(F.coalesce(F.col("in_c"), F.lit(0))).cast("bigint").alias("click_users"),
            F.sum(F.coalesce(F.col("in_p"), F.lit(0))).cast("bigint").alias("purchase_users"),
            F.sum(
                (F.col("in_c").isNotNull() & F.col("in_p").isNotNull()).cast("bigint")
            ).cast("bigint").alias("both_exact"),
            F.count(F.lit(1)).cast("bigint").alias("union_exact"),
        )
    )
    j = exact.crossJoin(F.broadcast(ests))
    est_inter = F.col("est_c") + F.col("est_p") - F.col("est_u")
    return j.select(
        "click_users",
        "purchase_users",
        "both_exact",
        (
            F.abs(F.col("est_u").cast("double") - F.col("union_exact"))
            <= F.greatest(F.lit(2.0), 0.02 * F.col("union_exact"))
        ).alias("union_within_2pct"),
        (
            F.abs(est_inter.cast("double") - F.col("both_exact"))
            <= F.greatest(F.lit(4.0), 0.05 * F.col("both_exact"))
        ).alias("intersection_within_5pct"),
    )


# the two event-id parity slices the sketch and sample merge gates
# stage, one micro-batch each
_EVEN_ODD_IDS = ["event_id % 2 = 0", "event_id % 2 = 1"]


@register("events_stream_cms_heavy_hitters", _cms_sql())
def events_stream_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min sketch built INCREMENTALLY over a two-batch event
    stream — the production deployment shape of
    events_cms_heavy_hitters: each micro-batch emits its own d x 512
    partial sketch inside foreachBatch (bounded KBs regardless of batch
    size), partial sketches append to the sketch store, and the final
    estimate reads the store and sums cell-wise. Because CMS cells are
    counters, per-batch sketches merged by + EQUAL the single-pass
    sketch over the union — so this query is gated by the SAME oracle as
    the batch CMS query: any drift in the streaming merge breaks the
    hash. The exact per-key counts joined for the gate come from the
    batch table (gate-scale verification; production keeps only the
    sketch store and the previous window's candidate list)."""
    from .operators.skew import cms_build, cms_estimate
    from .queries import (
        _drain_foreach_batch,
        _read_batch_partials,
        _session_tmp_dir,
        _stage_parquet_slices,
        _staged_stream,
        _write_batch_partial,
    )

    e = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    src = _stage_parquet_slices(e, _EVEN_ODD_IDS, "cms_src_")
    store = _session_tmp_dir("cms_store_")

    def sketch_batch(bdf: DataFrame, batch_id: int) -> None:
        _write_batch_partial(
            cms_build(bdf, "user_id", width=512), store, batch_id
        )

    _drain_foreach_batch(
        spark, _staged_stream(spark, src, "user_id bigint"), sketch_batch
    )
    shutil.rmtree(src)

    sketch = (
        _read_batch_partials(spark, store)
        .groupBy("r", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    est = cms_estimate(sketch, exact, "user_id", width=512)
    return (
        est.withColumn(
            "overestimates", F.col("cms_est") >= F.col("exact_cnt")
        )
        .select("user_id", "exact_cnt", "cms_est", "overestimates")
        .orderBy(F.desc("cms_est"), F.desc("exact_cnt"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "orders_sql_script_threshold",
    """
WITH tot AS (SELECT count(*) AS total FROM orders),
cand AS (SELECT 50000*g AS t FROM generate_series(1, 100) s(g)),
cnt AS (
  SELECT c.t,
         (SELECT count(*) FROM orders o WHERE o.o_totalprice > c.t)
           AS n_above
  FROM cand c
)
SELECT t AS threshold, n_above, (SELECT total FROM tot) AS total
FROM cnt, tot WHERE n_above * 10 < total ORDER BY t LIMIT 1
""",
)
def orders_sql_script_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE/SET) as a first-class
    gated surface: an iterative threshold search — raise a price cutoff
    in fixed steps until fewer than 10% of orders exceed it — written as
    a procedural script whose loop runs on the COORDINATOR while every
    per-step probe is a distributed aggregate (the same
    control-at-driver / data-on-cluster split as the PageRank and BPE
    convergence loops, here expressed in pure SQL).

    The 10%-of-total test is the integer cross-multiplication
    ``n_above * 10 >= total`` — no float fraction, so the loop exit is
    engine-exact; the oracle re-derives the fixpoint declaratively
    (first step value whose count drops below total/10). ~9 iterations
    of a 1-row count aggregate at any SF — coordinator state is three
    scalars, never data, and the loop is HARD-BOUNDED: it stops at the
    same 5,000,000 cap as the oracle's candidate range and the final
    SELECT emits a row only when the fixpoint was actually found, so an
    empty table (or a distribution whose cutoff exceeds the cap) yields
    0 rows on both engines instead of an unbounded driver loop. The view is the CHECKPOINTED single-column
    projection, so every loop probe scans the materialized column once
    in memory instead of re-reading the parquet table per iteration —
    the driver-loop re-scan trap a 100 TB run cannot afford."""
    o = load_table(spark, sf_dir, "orders")
    view = "v_orders_sql_script"
    prices = o.select("o_totalprice").localCheckpoint(eager=True)
    prices.createOrReplaceTempView(view)
    try:
        out = spark.sql(f"""
BEGIN
  DECLARE t BIGINT DEFAULT 0;
  DECLARE n_above BIGINT;
  DECLARE total BIGINT;
  SET total = (SELECT count(*) FROM {view});
  SET n_above = total;
  WHILE total > 0 AND n_above * 10 >= total AND t < 5000000 DO
    SET t = t + 50000;
    SET n_above = (SELECT count(*) FROM {view}
                   WHERE o_totalprice > t);
  END WHILE;
  SELECT t AS threshold, n_above, total
  WHERE n_above * 10 < total;
END
""")
        return out.localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(view)


#: Shared oracle for the batch AND streaming quantile-sketch gates: bucket
#: counts are additive, so per-batch sketches merged by + EQUAL the
#: single-pass sketch over the union — the streaming twin is gated by the
#: same SQL, and any drift in the streaming merge breaks its hash.
_QSKETCH_SQL = """
WITH e AS (
  SELECT event_type, CAST(round(value * 1e2) AS BIGINT) AS cents FROM events
),
r AS (
  SELECT event_type, cents,
         CASE WHEN cents <= 0 THEN 0
              ELSE length(printf('%b', cents)) END AS bucket
  FROM e
),
sk AS (
  SELECT event_type, bucket, COUNT(*) AS cnt FROM r GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM sk
),
qs AS (SELECT unnest(range(1, 4)) AS q4),
est AS (
  SELECT event_type, q4, MIN(bucket) AS bucket
  FROM cum, qs WHERE cum * 4 >= n * q4
  GROUP BY 1, 2
),
exact AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(round(quantile_cont(cents, 0.25e0) * 4) AS BIGINT) AS e1,
         CAST(round(quantile_cont(cents, 0.5e0) * 4) AS BIGINT) AS e2,
         CAST(round(quantile_cont(cents, 0.75e0) * 4) AS BIGINT) AS e3
  FROM e GROUP BY 1
),
ex AS (
  SELECT event_type, n, 1 AS q4, e1 AS exact_x4 FROM exact
  UNION ALL SELECT event_type, n, 2, e2 FROM exact
  UNION ALL SELECT event_type, n, 3, e3 FROM exact
)
SELECT est.event_type, CAST(est.q4 AS BIGINT) AS q4, ex.n,
       CAST(est.bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN est.bucket <= 0 THEN 0
                 ELSE 1 << (est.bucket - 1) END AS BIGINT) AS est_lo_cents,
       CAST((1 << est.bucket) - 1 AS BIGINT) AS est_hi_cents,
       ex.exact_x4,
       (CASE WHEN est.bucket <= 0 THEN 0 ELSE 1 << (est.bucket - 1) END) * 4
         <= ex.exact_x4
       AND ex.exact_x4 <= ((1 << est.bucket) - 1) * 4 AS exact_in_bucket
FROM est JOIN ex ON est.event_type = ex.event_type AND est.q4 = ex.q4
"""


def _qsketch_rows(e: DataFrame) -> DataFrame:
    """(event_type, bucket) per event: bucket = bit length of the integer
    cents (floor-log2 + 1) — exact integer arithmetic, no transcendental."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    return e.select(
        "event_type",
        F.when(cents <= 0, F.lit(0))
        .otherwise(F.length(F.bin(cents)))
        .cast("int")
        .alias("bucket"),
    )


def _qsketch_report(spark: SparkSession, e: DataFrame, sketch: DataFrame) -> DataFrame:
    """Estimate + accuracy audit over a (event_type, bucket, cnt) sketch:
    per-quartile bucket pick on the CUMULATED SKETCH (~40 rows per group),
    joined against the exact binary-fraction percentiles of ``e``."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket")
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    qs = spark.range(1, 4).select(F.col("id").cast("int").alias("q4"))
    est = (
        cum.crossJoin(qs)
        .filter(F.col("cum") * 4 >= F.col("n") * F.col("q4"))
        .groupBy("event_type", "q4")
        .agg(F.min("bucket").alias("bucket"))
    )
    exact = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.percentile(
                F.round(F.col("value") * 100).cast("bigint"),
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            ).alias("p"),
        )
        .select(
            "event_type",
            "n",
            F.posexplode(F.col("p")).alias("pos", "pv"),
        )
        .select(
            "event_type",
            "n",
            (F.col("pos") + 1).cast("int").alias("q4"),
            F.round(F.col("pv") * 4).cast("bigint").alias("exact_x4"),
        )
    )
    j = est.join(exact, ["event_type", "q4"])
    lo = F.expr(
        "CASE WHEN bucket <= 0 THEN CAST(0 AS BIGINT)"
        " ELSE shiftleft(CAST(1 AS BIGINT), bucket - 1) END"
    )
    hi = F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")
    return j.select(
        "event_type",
        F.col("q4").cast("bigint").alias("q4"),
        "n",
        F.col("bucket").cast("bigint").alias("bucket"),
        lo.cast("bigint").alias("est_lo_cents"),
        hi.cast("bigint").alias("est_hi_cents"),
        "exact_x4",
        (
            (lo * 4 <= F.col("exact_x4")) & (F.col("exact_x4") <= hi * 4)
        ).alias("exact_in_bucket"),
    )


@register("events_quantile_sketch_eval", _QSKETCH_SQL)
def events_quantile_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable dyadic quantile sketch + in-engine accuracy audit — the
    sketch leg the CMS (frequency) and HLL (cardinality) tiers lacked.

    Sketch: per (event_type, floor-log2 bucket of integer cents) counts —
    bit-length buckets are EXACT integer arithmetic (length of the binary
    rendering), so unlike log2() there is no transcendental to drift
    across engines. The sketch is trivially mergeable (counts add), is
    bounded at ~40 rows per group whatever the SF, and the quantile
    estimate for q is the smallest bucket whose cumulative count reaches
    ceil(n*q) (pure integer compare: cum*4 >= n*q4) — i.e. the true
    quantile's bucket, giving a guaranteed 2x-relative-error envelope
    [2^(b-1), 2^b).

    Audit: the exact interpolated quantile (binary-fraction percentiles
    over integer cents — the events_value_quantiles bit-determinism
    recipe, carried as exact_x4 = 4x the quantile so it stays integer)
    joined against the sketch estimate, with an exact_in_bucket flag.

    Scale shape: ONE combinable groupBy builds the sketch (map-side
    partials; ~40 rows x groups survive the shuffle); the window + the
    quantile-target cross join run on the SKETCH, not the facts. The
    exact side is the audit's baseline and the only full-sort cost — a
    production pipeline ships the sketch alone and drops that branch, or
    keeps it on a sampled slice."""
    e = load_table(spark, sf_dir, "events")
    sketch = _qsketch_rows(e).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return _qsketch_report(spark, e, sketch)


@register("events_stream_quantile_sketch", _QSKETCH_SQL)
def events_stream_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quantile sketch built INCREMENTALLY over a two-batch event
    stream — the production deployment shape of
    events_quantile_sketch_eval, mirroring the streaming CMS gate: each
    micro-batch emits its own per-(event_type, bucket) count sketch
    inside foreachBatch (~40 rows per group regardless of batch size),
    partials append to the sketch store, and the final estimate reads
    the store and sums cell-wise. Bucket counts are additive, so the
    merged streaming sketch EQUALS the single-pass batch sketch and the
    gate reuses the batch oracle verbatim — any drift in the streaming
    merge breaks the hash. The exact-percentile audit side comes from
    the batch table (gate-scale verification; production keeps only the
    sketch store)."""
    from .queries import (
        _drain_foreach_batch,
        _read_batch_partials,
        _session_tmp_dir,
        _stage_parquet_slices,
        _staged_stream,
        _write_batch_partial,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src = _stage_parquet_slices(e, _EVEN_ODD_IDS, "qsk_src_")
    store = _session_tmp_dir("qsk_store_")

    def sketch_batch(bdf: DataFrame, batch_id: int) -> None:
        partial = _qsketch_rows(bdf).groupBy("event_type", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        _write_batch_partial(partial, store, batch_id)

    stream = _staged_stream(spark, src, "event_type string, value double")
    _drain_foreach_batch(spark, stream, sketch_batch)
    shutil.rmtree(src)

    sketch = (
        _read_batch_partials(spark, store)
        .groupBy("event_type", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _qsketch_report(spark, load_table(spark, sf_dir, "events"), sketch)


#: bottom-k sample size and the hash modulus (2^31 - 1): event_id *
#: Knuth's multiplier mod a Mersenne prime gives a deterministic,
#: collision-sparse pseudo-rank both engines compute identically in
#: exact int64 (max event_id * 2654435761 stays far under 2^63).
_BOTTOMK_K = 16
_BOTTOMK_MOD = 2147483647


#: Shared oracle for the batch AND streaming bottom-k gates: bottom-k of
#: a union equals bottom-k of concatenated partial bottom-k's, so the
#: streaming twin (per-micro-batch partials) is gated by the same SQL.
_BOTTOMK_SQL = f"""
WITH r AS (
  SELECT event_type, event_id,
         (event_id * 2654435761) % {_BOTTOMK_MOD} AS h
  FROM events
),
direct AS (
  SELECT event_type, event_id, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
  FROM r
),
shard AS (
  SELECT event_type, event_id, h,
         row_number() OVER (PARTITION BY event_type, event_id % 8
                            ORDER BY h, event_id) AS srn
  FROM r
),
merged AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
  FROM shard WHERE srn <= {_BOTTOMK_K}
)
SELECT d.event_type, CAST(d.rn AS BIGINT) AS rank, d.event_id, d.h,
       d.event_id = m.event_id AS merge_agrees
FROM direct d JOIN merged m ON d.event_type = m.event_type AND d.rn = m.rn
WHERE d.rn <= {_BOTTOMK_K}
"""


@register("events_bottomk_sample_merge", _BOTTOMK_SQL)
def events_bottomk_sample_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic bottom-k sample per group + in-engine MERGEABILITY
    audit — the distributed form of reservoir sampling: keep the k rows
    with the smallest hash pseudo-rank per event_type. Unlike a seeded
    reservoir, the bottom-k sketch is (a) deterministic (re-runs and
    engines agree bit-for-bit — it is gated by value hash, which no RNG
    sampler could be), (b) MERGEABLE: bottom-k of a union equals
    bottom-k of the concatenated shard-level bottom-k's, so shards /
    partitions / days sample independently and a coordinator merges
    (the property the audit proves in-engine), and (c) uniform over any
    fixed dataset slice in the same sense as a hash sample.

    The audit computes the sample twice — directly, and via 8
    event_id-sharded bottom-k's merged and re-ranked — and emits
    merge_agrees per rank (all true by the sketch property; hash-gated
    so a broken merge cannot pass).

    Scale shape: rank<=k over a window compiles to Spark's map-side
    WindowGroupLimit (each task keeps k rows per group BEFORE the
    exchange, so the shuffle carries k*groups rows, not the fact
    table); the shard variant adds one more bounded pass. At 100 TB
    this is the sampling primitive under docs_hash_sample-style
    curation when a FIXED sample size per stratum is required rather
    than a fixed rate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    h = (F.col("event_id") * F.lit(2654435761)) % F.lit(_BOTTOMK_MOD)
    rows = e.select("event_type", "event_id", h.alias("h"))
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    direct = (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BOTTOMK_K)
        .select("event_type", "event_id", "h", "rn")
    )
    shard_w = Window.partitionBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(8))
    ).orderBy("h", "event_id")
    shard_topk = (
        rows.withColumn("srn", F.row_number().over(shard_w))
        .filter(F.col("srn") <= _BOTTOMK_K)
        .select("event_type", "event_id", "h")
    )
    merged = (
        shard_topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BOTTOMK_K)
        .select(
            F.col("event_type").alias("m_event_type"),
            F.col("event_id").alias("m_event_id"),
            F.col("rn").alias("m_rn"),
        )
    )
    return direct.join(
        merged,
        (F.col("event_type") == F.col("m_event_type"))
        & (F.col("rn") == F.col("m_rn")),
    ).select(
        "event_type",
        F.col("rn").cast("bigint").alias("rank"),
        "event_id",
        "h",
        (F.col("event_id") == F.col("m_event_id")).alias("merge_agrees"),
    )


@register(
    "lineitem_bucketed_colocated_join",
    """
SELECT o.o_orderpriority, l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o.o_orderpriority, l.l_returnflag
""",
)
def lineitem_bucketed_colocated_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bucketed-table CO-LOCATED join — the storage-layout half of the
    repo's shuffle-elimination toolkit (the runtime half is the Bloom
    semi-join above): both sides are written as HASH-BUCKETED, per-bucket
    SORTED tables on the join key (``bucketBy(8, orderkey).sortBy``), so
    Spark's scan emits the join key's hash partitioning directly from the
    file layout and the SortMergeJoin runs with ZERO shuffle exchanges —
    the no-shuffle property tests/test_plan_shapes.py asserts on the
    executed plan with broadcast disabled.

    The oracle is the PLAIN join over the raw parquet: bucketing is
    layout, not semantics, so the hash gate proves the bucketed write +
    bucket-aligned read + co-located join changes nothing. At 100 TB
    this is THE technique for a fact-fact join both of whose sides are
    too big to broadcast and reused across many joins: pay the bucketed
    write once (a one-time shuffle into bucket files), then every
    subsequent orderkey join on either table is shuffle-free, and the
    per-bucket sort makes it merge-join-ready without a sort stage.
    Gate-scale note: the bucketed tables are written per invocation into
    unique warehouse names and dropped in ``finally`` after the result
    is checkpointed (same lifecycle as orders_sql_script_threshold)."""
    import uuid

    suffix = uuid.uuid4().hex[:12]
    lt, ot = f"li_bkt_{suffix}", f"ord_bkt_{suffix}"
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )
    try:
        (
            l.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(lt)
        )
        (
            o.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(ot)
        )
        lb, ob = spark.table(lt), spark.table(ot)
        out = (
            lb.join(ob, lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderpriority", "l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                ).cast("bigint").alias("price_cents"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {ot}")


@register("events_stream_bottomk_sample", _BOTTOMK_SQL)
def events_stream_bottomk_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bottom-k sample maintained INCREMENTALLY over a two-batch
    event stream — the third streaming twin in the sketch tier (CMS,
    quantile sketch, now bottom-k): each micro-batch emits its own
    per-event_type bottom-k partial inside foreachBatch (k rows per
    group regardless of batch size), partials append to the sample
    store, and the final sample re-ranks the union and keeps k. Bottom-k
    is a mergeable sketch — bottom-k(union) == bottom-k(concat of
    partial bottom-k's) — so the streamed sample must equal the direct
    one computed over the batch table, and the gate reuses the batch
    oracle verbatim (merge_agrees compares the streamed sample against
    the direct ranks; any drift in the incremental maintenance breaks
    the hash). Production shape: the store IS the sample (k*groups rows
    per batch appended, compacted by the final re-rank); the direct side
    exists for gate-scale verification only."""
    from pyspark.sql import Window

    from .queries import (
        _drain_foreach_batch,
        _read_batch_partials,
        _session_tmp_dir,
        _stage_parquet_slices,
        _staged_stream,
        _write_batch_partial,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    src = _stage_parquet_slices(e, _EVEN_ODD_IDS, "bk_src_")
    store = _session_tmp_dir("bk_store_")
    h = (F.col("event_id") * F.lit(2654435761)) % F.lit(_BOTTOMK_MOD)
    w = Window.partitionBy("event_type").orderBy("h", "event_id")

    def sample_batch(bdf: DataFrame, batch_id: int) -> None:
        partial = (
            bdf.select("event_type", "event_id", h.alias("h"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _BOTTOMK_K)
            .select("event_type", "event_id", "h")
        )
        _write_batch_partial(partial, store, batch_id)

    stream = _staged_stream(spark, src, "event_type string, event_id bigint")
    _drain_foreach_batch(spark, stream, sample_batch)
    shutil.rmtree(src)

    merged = (
        _read_batch_partials(spark, store)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BOTTOMK_K)
        .select(
            F.col("event_type").alias("m_event_type"),
            F.col("event_id").alias("m_event_id"),
            F.col("rn").alias("m_rn"),
        )
    )
    direct = (
        e.select("event_type", "event_id", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BOTTOMK_K)
        .select("event_type", "event_id", "h", "rn")
    )
    return direct.join(
        merged,
        (F.col("event_type") == F.col("m_event_type"))
        & (F.col("rn") == F.col("m_rn")),
    ).select(
        "event_type",
        F.col("rn").cast("bigint").alias("rank"),
        "event_id",
        "h",
        (F.col("event_id") == F.col("m_event_id")).alias("merge_agrees"),
    )


from .queries import _has_tws_runtime as _tws_ok  # noqa: E402

if _tws_ok():

    @register("events_tws_bottomk_sample", _BOTTOMK_SQL)
    def events_tws_bottomk_sample(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The bottom-k sample on transformWithState's TYPED-STATE API —
        the state-store-backed port of events_stream_bottomk_sample's
        foreachBatch choreography (streaming/events.py:
        make_bottomk_processor): exactly k ListState rows per group ARE
        the sketch, no external store directory, no per-batch parquet
        appends. Update-mode emissions are tagged with the running row
        count, so the drain selects each key's FINAL sample (max n_seen),
        re-ranks it, and the gate joins it against the direct batch
        bottom-k under the SAME oracle as the foreachBatch twin — any
        drift in the typed-state merge breaks the hash.

        CONDITIONALLY registered: TWS's Python worker needs protobuf
        (absent in the build sandbox); the processor's merge semantics
        and the plan construction are tested unconditionally in
        tests/test_streaming_multimodal.py, and this gate self-activates
        the moment an environment provides the runtime."""
        import uuid

        from pyspark.sql import Window

        from .queries import (
            _drain_stream,
            _stage_parquet_slices,
            _staged_stream,
        )
        from .streaming.events import stateful_bottomk_tws

        e = load_table(spark, sf_dir, "events").select(
            "event_type", "event_id"
        )
        src = _stage_parquet_slices(e, _EVEN_ODD_IDS, "twsbk_src_")
        stream = _staged_stream(
            spark, src, "event_type string, event_id bigint"
        )
        drained = _drain_stream(
            spark,
            stateful_bottomk_tws(stream, _BOTTOMK_K, _BOTTOMK_MOD),
            "twsbk_" + uuid.uuid4().hex[:12],
            "update",
        )
        shutil.rmtree(src)
        latest = Window.partitionBy("event_type")
        w = Window.partitionBy("event_type").orderBy("h", "event_id")
        merged = (
            drained.withColumn("mx", F.max("n_seen").over(latest))
            .filter(F.col("n_seen") == F.col("mx"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _BOTTOMK_K)
            .select(
                F.col("event_type").alias("m_event_type"),
                F.col("event_id").alias("m_event_id"),
                F.col("rn").alias("m_rn"),
            )
        )
        h = (F.col("event_id") * F.lit(2654435761)) % F.lit(_BOTTOMK_MOD)
        direct = (
            e.select("event_type", "event_id", h.alias("h"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _BOTTOMK_K)
            .select("event_type", "event_id", "h", "rn")
        )
        return direct.join(
            merged,
            (F.col("event_type") == F.col("m_event_type"))
            & (F.col("rn") == F.col("m_rn")),
        ).select(
            "event_type",
            F.col("rn").cast("bigint").alias("rank"),
            "event_id",
            "h",
            (F.col("event_id") == F.col("m_event_id")).alias("merge_agrees"),
        )
