"""Data-quality, entity-resolution, and graph-profiling queries
(registry extension).

The reference pipeline trusts its upstream blindly: the pandas flow in
/root/reference/one_one_one_rule/transform_valuation.py:42-87 drops bad
rows ad hoc and has no corpus-level quality gate. A production engine
feeding a 100 TB training-data or analytics store needs the opposite —
declarative, one-pass quality checks, fuzzy entity resolution for dirty
dimension tables, and cheap graph-shaped profiling. This module adds
those as first-class oracle-gated operators:

* ``orders_dq_suite``    — Deequ-style constraint suite (uniqueness,
  completeness, referential integrity, domain and range checks) as ONE
  result relation.
* ``part_entity_resolution`` — blocked fuzzy-match canonicalization
  (edit-distance join inside blocking keys), the dirty-dimension dedup
  every warehouse eventually needs.
* ``events_grouping_sets`` — multi-grain rollup in one shuffle via
  GROUPING SETS (the general form of the existing cube/rollup queries).
* ``docs_char_diversity`` — per-document Simpson-diversity gibberish
  detector: a pure-projection quality score with NO transcendentals, so
  it is bit-deterministic across engines (the Shannon-entropy variant is
  a one-expression swap where cross-engine hashing is not required).
* ``parts_copurchase_triangles`` — triangle census over the market-
  basket co-purchase graph: the canonical distributed graph-analytics
  kernel (edge build → two-path join → closing-edge join).
* ``events_winsorized_stats``  — robust feature scaling: per-key
  winsorization at exact binary-fraction percentiles (1/16, 15/16).
* ``events_stream_session_window`` — the NATIVE streaming session
  window operator drained against the batch gaps-and-islands oracle.

Determinism follows oracles.py: exact integer/decimal sufficient
statistics everywhere; doubles only as a final fixed expression tree
over exact inputs (single divide / sqrt), never as order-unspecified
float aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import decimal_sum
from .operators.dedup import dup_clusters
from .queries import register
from .sources.fixtures import load_table

# ---------------------------------------------------------------------------
# data-quality constraint suite (Deequ-style)
# ---------------------------------------------------------------------------


@register(
    "orders_dq_suite",
    """
WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders
),
ri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphans
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
  WHERE c_custkey IS NULL
),
l AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
         CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty
  FROM lineitem
),
lri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS l_orphans
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderkey IS NULL
)
SELECT * FROM (
  SELECT 'orders.o_orderkey.unique' AS check_name, dup_keys AS n_violations, n_rows FROM o
  UNION ALL SELECT 'orders.o_custkey.complete', null_cust, n_rows FROM o
  UNION ALL SELECT 'orders.o_custkey.references_customer', orphans, (SELECT n_rows FROM o) FROM ri
  UNION ALL SELECT 'orders.o_totalprice.positive', bad_price, n_rows FROM o
  UNION ALL SELECT 'orders.o_orderstatus.in_domain', bad_status, n_rows FROM o
  UNION ALL SELECT 'lineitem.l_orderkey.references_orders', l_orphans, (SELECT n_rows FROM l) FROM lri
  UNION ALL SELECT 'lineitem.l_discount.in_unit_range', bad_disc, n_rows FROM l
  UNION ALL SELECT 'lineitem.l_quantity.positive', bad_qty, n_rows FROM l
)
""",
)
def orders_dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite over orders + lineitem
    (uniqueness, completeness, referential integrity, value domains) —
    the pre-ingest gate the reference's pandera schema
    (/root/reference/one_one_one_rule/transform_valuation.py, schema
    block) hand-rolls row-by-row, generalized to table-level constraints
    computed in a fixed number of passes.

    Plan shape: one conditional-aggregate scan per table (all per-row
    checks fused into a single map-side-combined Aggregate — adding a
    check adds an expression, not a pass), plus one LEFT ANTI join per
    referential constraint. The per-table scalar results are 1-row
    relations that cross-join by broadcast and unpivot via ``stack`` —
    the driver never sees row-level data, so the suite costs O(scan)
    regardless of how many constraints are registered. At 100 TB the
    anti joins are the only shuffles, and the customer side of the first
    one broadcasts under AQE when it fits."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    os_ = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("dup_keys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_cust"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bad_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_status"),
    )
    # no forced hint on the customer side: customer is SF-linear, so the
    # broadcast decision belongs to AQE runtime stats (the projected
    # single-column key side broadcasts whenever it actually fits)
    orphans = o.join(
        c.select("c_custkey"),
        o.o_custkey == c.c_custkey,
        "left_anti",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
    ls = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("l_n_rows"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_disc"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bad_qty"),
    )
    l_orphans = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_orphans"))
    )
    wide = (
        os_.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(ls))
        .crossJoin(F.broadcast(l_orphans))
    )
    return wide.selectExpr(
        """stack(8,
          'orders.o_orderkey.unique', dup_keys, n_rows,
          'orders.o_custkey.complete', null_cust, n_rows,
          'orders.o_custkey.references_customer', orphans, n_rows,
          'orders.o_totalprice.positive', bad_price, n_rows,
          'orders.o_orderstatus.in_domain', bad_status, n_rows,
          'lineitem.l_orderkey.references_orders', l_orphans, l_n_rows,
          'lineitem.l_discount.in_unit_range', bad_disc, l_n_rows,
          'lineitem.l_quantity.positive', bad_qty, l_n_rows
        ) AS (check_name, n_violations, n_rows)"""
    )


# ---------------------------------------------------------------------------
# fuzzy entity resolution (blocked edit-distance canonicalization)
# ---------------------------------------------------------------------------


@register(
    "part_entity_resolution",
    """
WITH pairs AS (
  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 1
)
SELECT kb AS p_partkey, MIN(ka) AS canonical_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(dist) AS BIGINT) AS min_dist
FROM pairs GROUP BY kb
""",
)
def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution over a dirty dimension: parts whose names
    are within edit distance 1 inside a (brand, type) block are mapped
    to the smallest-key canonical record — the blocked-match-canonicalize
    shape every MDM / dimension-dedup pipeline runs (the string-metric
    sibling of the shingle/MinHash document tiers in operators/dedup.py).

    ONE-HOP semantics, by design: each record maps to the smallest key it
    DIRECTLY matched, so with a chain A~B, B~C, A!~C the row for C can
    point at B while B itself points at A — the mapping is a match
    report, not a transitive closure. The closure (true cluster-min
    canonicals via connected components) is the companion query
    ``part_entity_resolution_closed``, which feeds these same pairs
    through operators/dedup.py:dup_clusters min-label propagation.

    Scale design: the quadratic comparison NEVER runs corpus-wide — the
    equi-join on the blocking key (brand, type) confines it to blocks,
    so cost is sum-of-block-sizes², the standard ER blocking contract;
    a cheap length-band filter (|len(a)-len(b)| <= 1, implied by edit
    distance <= 1) prunes comparisons before the levenshtein kernel
    runs, and the final keep-smallest aggregate is one map-side-combined
    groupBy. ``levenshtein`` is JVM whole-stage-codegen (no Python) and
    agrees exactly with DuckDB's, so the gate is a full hash match. For
    heavily skewed block sizes the block key gains a salt on the
    build of candidate pairs (same recipe as operators/skew.py)."""
    pairs = _er_match_pairs(spark, sf_dir)
    return pairs.groupBy(F.col("kb").alias("p_partkey")).agg(
        F.min("ka").alias("canonical_partkey"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min("dist").cast("bigint").alias("min_dist"),
    )


def _er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE blocked edit-distance-1 match-pair generator — single source of
    truth shared by the one-hop report (part_entity_resolution) and its
    transitive closure (part_entity_resolution_closed), so a tuning of
    the match predicate can never make the two disagree about which
    records match. Returns (ka, kb, dist) with ka < kb."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_name"
    )
    a = p.select(
        F.col("p_partkey").alias("ka"),
        "p_brand",
        "p_type",
        F.col("p_name").alias("name_a"),
        F.length("p_name").alias("len_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("kb"),
        "p_brand",
        "p_type",
        F.col("p_name").alias("name_b"),
        F.length("p_name").alias("len_b"),
    )
    return (
        a.join(b, ["p_brand", "p_type"])
        .filter(
            (F.col("ka") < F.col("kb"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 1)
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select("ka", "kb", "dist")
    )


# ---------------------------------------------------------------------------
# multi-grain rollup via GROUPING SETS
# ---------------------------------------------------------------------------


@register(
    "events_grouping_sets",
    """
WITH e AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END
         AS event_type_g,
       CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day_g,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(cents) AS total_cents
FROM e
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
""",
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general multi-grain rollup of which
    the registry's cube (events_type_day_cube) and rollup
    (region_nation_revenue_rollup) queries are special cases: all four
    grains (type×day, type, day, grand total) in ONE shuffled aggregate
    with map-side partials, instead of four scans + union. Grain markers
    come from GROUPING() on both engines — NOT from COALESCE on the value
    — so a genuine NULL event_type/day in the data stays distinguishable
    from the rollup grain (ADVICE r4); both engines collapse the marker
    to the same 'ALL' sentinel. Value sums ride as exact integer cents
    (associative — engine/partitioning independent)."""
    import uuid

    e = load_table(spark, sf_dir, "events")
    # uuid-suffixed view name: a fixed name would race if two gate queries
    # build plans concurrently in one session (same convention as the
    # streaming memory-sink names)
    view = "gs_events_" + uuid.uuid4().hex[:12]
    e.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).createOrReplaceTempView(view)
    out = spark.sql(
        f"""
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END
         AS event_type_g,
       CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day_g,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(cents) AS total_cents
FROM {view}
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
"""
    )
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# char-diversity quality score (Simpson index; transcendental-free)
# ---------------------------------------------------------------------------

_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _diversity_sql() -> str:
    terms = []
    for ch in _ALPHABET:
        lit = "' '" if ch == " " else f"'{ch}'"
        terms.append(f"(length(text) - length(replace(text, {lit}, '')))")
    counts = ", ".join(
        f"CAST({t} AS BIGINT) AS c{i}" for i, t in enumerate(terms)
    )
    sumsq = " + ".join(f"c{i}*c{i}" for i in range(len(_ALPHABET)))
    sumc = " + ".join(f"c{i}" for i in range(len(_ALPHABET)))
    return f"""
WITH h AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, {counts}
  FROM documents
)
SELECT doc_id, n_chars,
       CAST(n_chars - ({sumc}) AS BIGINT) AS n_other,
       CAST(({sumsq}) + (n_chars - ({sumc})) * (n_chars - ({sumc})) AS BIGINT) AS sum_sq,
       CAST(n_chars * n_chars - (({sumsq}) + (n_chars - ({sumc})) * (n_chars - ({sumc}))) AS DOUBLE)
         / (n_chars * n_chars) AS simpson_diversity,
       CAST(c26 AS DOUBLE) / n_chars AS space_frac
FROM h
WHERE n_chars > 0
"""


@register("docs_char_diversity", _diversity_sql())
def docs_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-diversity quality score — the cheap
    gibberish/binary-junk detector a corpus-curation pipeline runs before
    anything tokenizes (low diversity = repeated-char spam; abnormal
    space fraction = non-text payload). Companion to the token-level
    gates (docs_repetition_gates, docs_token_stats).

    The score is the Simpson diversity index 1 - Σ(c_i/N)² computed from
    an exact per-row histogram: each alphabet count is
    ``length(text) - length(replace(text, ch, ''))`` — 27 fused
    string-kernel expressions inside ONE whole-stage-codegen projection,
    no explode, no shuffle, no Python. Unlike Shannon entropy there is
    no log() call, so the double output is a fixed expression over exact
    integers and both engines produce identical bits (the oracles.py
    no-transcendentals rule; the entropy variant is a drop-in swap where
    cross-engine hashing is not required). Cost at 100 TB: exactly the
    text-column scan, embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("bigint")
    cs = [
        (n - F.length(F.replace(F.col("text"), F.lit(ch)))).alias(f"c{i}")
        for i, ch in enumerate(_ALPHABET)
    ]
    h = d.select("doc_id", n.alias("n_chars"), *cs).filter(
        F.col("n_chars") > 0
    )
    sumc = None
    sumsq = None
    for i in range(len(_ALPHABET)):
        c = F.col(f"c{i}")
        sumc = c if sumc is None else sumc + c
        sumsq = c * c if sumsq is None else sumsq + c * c
    other = F.col("n_chars") - sumc
    total_sq = sumsq + other * other
    nn = F.col("n_chars") * F.col("n_chars")
    return h.select(
        "doc_id",
        "n_chars",
        other.cast("bigint").alias("n_other"),
        total_sq.cast("bigint").alias("sum_sq"),
        ((nn - total_sq).cast("double") / nn).alias("simpson_diversity"),
        (
            F.col(f"c{len(_ALPHABET) - 1}").cast("double") / F.col("n_chars")
        ).alias("space_frac"),
    )


# ---------------------------------------------------------------------------
# triangle census on the co-purchase graph
# ---------------------------------------------------------------------------

_TRI_MIN_COPURCHASES = 2


def _copurchase_edges(
    li: DataFrame, min_co: int, keep_weight: bool = False
) -> DataFrame:
    """Undirected edge list (u < v) of the part co-purchase graph:
    parts co-occurring in >= ``min_co`` orders. Shared by the triangle
    census, PageRank, rules and SSSP so the graph definition cannot
    drift between them (same single-source rule as dedup.band_keys).
    Candidate-pair volume is Σ (order width choose 2) — linear in the
    fact table; the result is eagerly checkpointed because every caller
    fans it into multiple join branches. ``keep_weight`` retains the
    co-purchase count column for the weighted consumers.

    Round-12 shape (guide §1.2/§2.4 — two shuffles, no self-join): ONE
    combinable groupBy collapses each order to its sorted distinct part
    array (``collect_set`` dedupes in the partial aggregate, so the old
    separate pair-DISTINCT exchange is gone), the within-order pairs
    explode IN PLACE from the array (posexplode + tail slice of a sorted
    array gives exactly the u < v pairs — no order-keyed self-join, no
    second scan of the distinct relation), and the pair aggregate is the
    same map-combinable groupBy as before. Identical edge set and
    weights: count per (u, v) = number of orders whose part set contains
    both, exactly the old self-join count. Basket width is bounded, so
    per-order arrays and the O(width²) in-place fan-out stay constant at
    any corpus scale."""
    orders = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = orders.select(
        F.posexplode("ps").alias("i", "u"), "ps"
    ).select(
        "u",
        F.explode(
            F.slice("ps", F.col("i") + F.lit(2), F.size("ps"))
        ).alias("v"),
    )
    agg = (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_copurchases"))
        .filter(F.col("n_copurchases") >= min_co)
    )
    cols = ["u", "v"] + (["n_copurchases"] if keep_weight else [])
    return agg.select(*cols).localCheckpoint(eager=True)


@register(
    "parts_copurchase_triangles",
    f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_TRI_MIN_COPURCHASES}
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT COUNT(DISTINCT l_partkey) FROM op) AS BIGINT) AS n_vertices,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
""",
)
def parts_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the market-basket co-purchase graph (parts
    co-occurring in >= 2 orders) — the canonical distributed
    graph-analytics kernel (clustering-coefficient numerator, community
    seeding), built entirely from relational operators.

    Scale design: the edge list derives from a WITHIN-ORDER self-join,
    so candidate-pair volume is Σ (order width choose 2) — LINEAR in the
    fact table (order width is bounded), never |parts|² — the same
    bounded-block principle as the ER and LSH tiers. Edges are
    oriented u < v once, which makes each triangle counted exactly once
    and halves the two-path fan-out; the closing-edge check is an
    equi-join against the same edge relation. The edge list is
    localCheckpoint-shared across its three join roles (computed once).
    The three census counts ride one plan via broadcast cross-joins of
    1-row aggregates — no driver-side collect. For power-law graphs the
    two-path join keys gain the degree-ordering optimization (orient
    edges low-degree → high-degree) — noted, not needed for bounded
    basket widths."""
    li = load_table(spark, sf_dir, "lineitem")
    e = _copurchase_edges(li, _TRI_MIN_COPURCHASES)
    e2 = e.select(F.col("u").alias("v2u"), F.col("v").alias("w"))
    e3 = e.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    tri = e.join(e2, e.v == e2.v2u).join(
        e3, (e.u == e3.u3) & (F.col("w") == F.col("w3"))
    )
    # vertex census straight off the fact scan: countDistinct does its own
    # partial dedup map-side — rebuilding the (order, part) distinct
    # relation just to count parts would be a second full pair-distinct
    # shuffle for a single number
    nv = li.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_vertices")
    )
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nt = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return nv.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(nt))


# ---------------------------------------------------------------------------
# PageRank (integer arithmetic, fixed iterations) on the co-purchase graph
# ---------------------------------------------------------------------------

_PR_UNIT = 10**12
_PR_ITERS = 3
_PR_TOPK = 20
# teleport term, folded driver-side so both engines share one exact literal
_PR_BASE = _PR_UNIT * 15 // 100


def _pagerank_sql() -> str:
    # All score arithmetic rides 128-bit integers (DuckDB: SUM(BIGINT) and
    # any HUGEINT operand promote to HUGEINT; Spark side mirrors with
    # decimal(38,0)): a hub vertex's accumulated contribution is bounded
    # only by total mass N·UNIT, which overflows BIGINT beyond ~9e6
    # vertices — and Spark's non-ANSI arithmetic would wrap silently while
    # DuckDB errors, the worst kind of cross-engine divergence.
    def step(prev: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT deg.u,
         CAST({_PR_BASE} AS HUGEINT) + 85 * COALESCE(c.contrib, CAST(0 AS HUGEINT)) // 100 AS s
  FROM deg LEFT JOIN (
    SELECT e.v AS u, SUM({prev}.s // deg.d) AS contrib
    FROM e JOIN {prev} ON e.u = {prev}.u JOIN deg ON e.u = deg.u
    GROUP BY e.v
  ) c ON deg.u = c.u
)"""

    return f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
und AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_TRI_MIN_COPURCHASES}
),
e AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
),
deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u
),
s0 AS (
  SELECT u, CAST({_PR_UNIT} AS HUGEINT) AS s FROM deg
),{step("s0", "s1")},{step("s1", "s2")},{step("s2", "s3")}
SELECT u AS p_partkey, CAST(s AS DECIMAL(38,0)) AS pagerank_units
FROM s3
ORDER BY s DESC, u ASC
LIMIT {_PR_TOPK}
"""


def _pr_floordiv(x, d, dec: str = "decimal(38,0)"):
    """Exact integer floor division on decimal(38,0): the dividend is made
    exactly divisible first, so the decimal divide carries no
    scale-rounding ambiguity (positive values: floor ≡ truncate)."""
    return ((x - x % d) / d).cast(dec)


def _pr_round(e: DataFrame, s: DataFrame) -> DataFrame:
    """ONE damped PageRank update: s' = base + floor(0.85 · Σ floor(s/d))
    over 128-bit-safe decimal(38,0) — the per-round relation shared by
    the fixed-round and converged gates AND pinned by
    tests/test_plan_shapes.py (the iterative loops checkpoint each
    round, so the registry-wide plan ratchet only sees their tails;
    this builder is what lets the per-round plan be asserted
    directly). Un-checkpointed: callers decide lineage truncation.

    Round-12 restructure (guide §1.2/§2.4 — same arithmetic, fewer
    joins/jobs per round):

    * ``s`` is the merged VERTEX STATE (u, d, s): the constant degree
      rides the score relation instead of joining a separate ``deg`` in
      twice per round, so a round is ONE edge⋈state join + one
      combinable aggregate + one state alignment join (was two deg
      joins + one score join — two broadcast builds fewer per round).
    * Output (u, d, s, s_prev) carries the previous score beside the
      update, so the converged gate's L1-delta Σ|s − s_prev| is a plain
      aggregate over this relation — no separate cur⋈prev alignment
      join per round.

    Callers that don't need s_prev project it away and Catalyst prunes
    the column for free (the fixed-round gate)."""
    dec = "decimal(38,0)"
    contrib = (
        e.join(s.select("u", "d", "s"), "u")
        .select(
            F.col("v").alias("cu"),
            _pr_floordiv(F.col("s"), F.col("d")).alias("share"),
        )
        .groupBy("cu")
        .agg(F.sum("share").alias("contrib"))
    )
    damped = _pr_floordiv(
        F.coalesce(F.col("contrib"), F.lit(0).cast(dec)) * 85,
        F.lit(100),
    )
    return s.select("u", "d", "s").join(
        contrib, F.col("u") == F.col("cu"), "left"
    ).select(
        "u",
        "d",
        (F.lit(_PR_BASE).cast(dec) + damped).cast(dec).alias("s"),
        F.col("s").alias("s_prev"),
    )


@register("parts_copurchase_pagerank", _pagerank_sql())
def parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph — the iterative graph-
    analytics workhorse (influence/importance ranking), expressed as a
    Spark-first join-aggregate loop and — unusually — HASH-GATED, because
    the scores are computed in exact integer arithmetic: scores live in
    10^-12 units, each round is floor-divisions and bigint sums
    (s' = floor(0.15·U) + floor(0.85·Σ floor(s_u/deg_u))), so there is
    no float accumulation order to diverge between engines or
    partitionings. Accumulators are 128-bit-safe — Spark decimal(38,0)
    mirroring DuckDB's HUGEINT — because a hub vertex's contribution is
    bounded only by total mass N·UNIT, which overflows int64 beyond ~9e6
    vertices (where Spark would wrap silently and DuckDB would error);
    floor division is phrased as (x − x % d)/d so the exactly-divisible
    decimal divide carries no scale-rounding ambiguity. All values are
    positive, so floor ≡ truncate on both engines. The DuckDB oracle
    unrolls the same three rounds as a CTE chain.

    Scale design: edges derive from the within-order self-join (linear
    in the fact table, same as the triangle census); per-round cost is
    one edge⋈labels shuffle + one combinable contribution aggregate —
    the textbook distributed PageRank shape. Degrees and labels are
    vertex-sized, never collected; ``localCheckpoint`` truncates lineage
    per round so round k doesn't re-plan rounds 1..k-1. Fixed-iteration
    (3 rounds) rather than convergence-tested — the deterministic
    variant a production ranking pipeline schedules; top-k output with a
    total-order tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    und = _copurchase_edges(li, _TRI_MIN_COPURCHASES)
    e = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    # scores ride decimal(38,0) (mirroring the oracle's HUGEINT): a hub's
    # contribution is bounded only by total mass N·UNIT, which exceeds
    # BIGINT beyond ~9e6 vertices — Spark's non-ANSI int64 would wrap
    # silently while DuckDB errors. Floor division is expressed as
    # (x - x % d) / d: the dividend is exactly divisible, so the decimal
    # divide is exact and no scale-rounding ambiguity can creep in.
    dec = "decimal(38,0)"
    s = deg.select("u", "d", F.lit(_PR_UNIT).cast(dec).alias("s"))
    for _ in range(_PR_ITERS):
        # fixed-round gate: s_prev is not consumed — project it away so
        # the lazy checkpoint stores the (u, d, s) state only
        s = _pr_round(e, s).select("u", "d", "s").localCheckpoint(
            eager=False
        )
    return (
        s.orderBy(F.desc("s"), F.asc("u"))
        .limit(_PR_TOPK)
        .select(
            F.col("u").alias("p_partkey"),
            F.col("s").alias("pagerank_units"),
        )
    )


#: Hard cap for the CONVERGED PageRank loop. The L1 delta contracts by
#: the damping factor (~0.85/round); measured fixture depths (DuckDB
#: replay of the identical integer iteration, threshold = 5% of total
#: mass): sf0.001 -> 2 rounds, sf0.01 -> 5, sf0.1 -> 10 — all under 16.
#: The Spark loop raises if the cap is hit without convergence (silent
#: truncation would break both the fixpoint contract and the oracle
#: equivalence).
_PRC_MAX = 16
#: Convergence when L1(s_t, s_{t-1}) * 20 < n_vertices * UNIT — i.e. the
#: total score movement drops below 5% of total mass. Phrased as an
#: integer cross-multiplication so both engines compare exactly.
_PRC_EPS_DEN = 20


def _pagerank_conv_sql() -> str:
    """Unrolled oracle for the CONVERGED PageRank: run the identical
    integer iteration for ``_PRC_MAX`` rounds, compute each round's
    1-row L1 delta, pick the FIRST round whose delta clears the
    threshold, and emit that round's top-k. Unlike the k-core peel,
    rounds past convergence are NOT no-ops — so the oracle selects by
    the same data-dependent stopping rule the Spark loop applies, rather
    than relying on idempotent tails. All CTEs materialized (round-5
    ENOSPC lesson: non-hinted chains re-expand per reference)."""

    def step(prev: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT deg.u,
         CAST({_PR_BASE} AS HUGEINT) + 85 * COALESCE(c.contrib, CAST(0 AS HUGEINT)) // 100 AS s
  FROM deg LEFT JOIN (
    SELECT e.v AS u, SUM({prev}.s // deg.d) AS contrib
    FROM e JOIN {prev} ON e.u = {prev}.u JOIN deg ON e.u = deg.u
    GROUP BY e.v
  ) c ON deg.u = c.u
)"""

    ctes = [
        """op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)""",
        f"""und AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_TRI_MIN_COPURCHASES}
)""",
        "e AS (\n  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und\n)",
        "deg AS (\n  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u\n)",
        f"s0 AS (\n  SELECT u, CAST({_PR_UNIT} AS HUGEINT) AS s FROM deg\n)",
    ]
    for r in range(1, _PRC_MAX + 1):
        ctes.append(step(f"s{r - 1}", f"s{r}").strip())
        ctes.append(
            f"""d{r} AS (
  SELECT CAST({r} AS BIGINT) AS r, SUM(ABS(a.s - b.s)) AS dl
  FROM s{r} a JOIN s{r - 1} b ON a.u = b.u
)"""
        )
    deltas = "\nUNION ALL\n".join(
        f"SELECT r, dl FROM d{r}" for r in range(1, _PRC_MAX + 1)
    )
    scores = "\nUNION ALL\n".join(
        f"SELECT u, s, CAST({r} AS BIGINT) AS r FROM s{r}"
        for r in range(1, _PRC_MAX + 1)
    )
    ctes.append(
        f"""conv AS (
  SELECT MIN(r) AS r FROM ({deltas})
  WHERE dl * {_PRC_EPS_DEN} < (SELECT COUNT(*) FROM deg) * CAST({_PR_UNIT} AS HUGEINT)
)"""
    )
    joined = ",\n".join(ctes).replace(" AS (", " AS MATERIALIZED (")
    return f"""
WITH {joined}
SELECT u AS p_partkey, CAST(s AS DECIMAL(38,0)) AS pagerank_units,
       allr.r AS rounds
FROM ({scores}) allr JOIN conv ON allr.r = conv.r
ORDER BY s DESC, u ASC
LIMIT {_PR_TOPK}
"""


@register("parts_copurchase_pagerank_converged", _pagerank_conv_sql())
def parts_copurchase_pagerank_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PageRank iterated TO AN L1-DELTA FIXPOINT (production contract)
    rather than a fixed round count — completing the converged-loop trio
    (k-core peel shrinks a set, SSSP lowers a bound, PageRank contracts
    a measure): each round runs the exact integer damped update of
    parts_copurchase_pagerank, then a 1-row L1-delta aggregate
    Σ|s_t − s_{t−1}| decides termination. The loop exits at the first
    round whose total score movement falls below 1/``_PRC_EPS_DEN`` of
    total mass (an exact integer cross-multiplication — no float
    tolerance to drift between engines), and RAISES if ``_PRC_MAX``
    rounds don't get there, so the oracle equivalence can never silently
    truncate. The only driver-side values per round are two scalars (the
    vertex count, computed once, and the delta) — no data is collected.

    Oracle equivalence: the generated unrolled oracle runs the SAME
    iteration for ``_PRC_MAX`` rounds, computes every round's 1-row
    delta, and selects the FIRST round clearing the threshold — the
    identical stopping rule, applied post-hoc (PageRank rounds past
    convergence are not no-ops, so unlike the k-core oracle the unroll
    must re-apply the rule, not rely on idempotent tails). The ``rounds``
    output column pins the stopping depth itself into the hash gate.

    Scale shape: per round, the same edge⋈score shuffle + combinable
    contribution aggregate as the fixed-round query, plus one
    vertex-sized join-aggregate for the delta (both sides checkpointed,
    flat lineage); the delta is a single row, the scores never leave
    the cluster. Measured depth at the bench scale is 10 rounds."""
    li = load_table(spark, sf_dir, "lineitem")
    und = _copurchase_edges(li, _TRI_MIN_COPURCHASES)
    e = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    deg = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    n_vertices = deg.count()  # bounded: one scalar, computed once
    dec = "decimal(38,0)"
    prev = deg.select("u", "d", F.lit(_PR_UNIT).cast(dec).alias("s"))
    rounds = None
    for t in range(1, _PRC_MAX + 1):
        # ONE action per round (round-12, guide §1.2 "the distributed
        # algorithm"): the round relation carries s_prev, so the L1
        # delta is a plain aggregate over it — and the LAZY checkpoint
        # is materialized BY that aggregate action (the dup_clusters
        # convention), replacing the former eager-checkpoint job +
        # separate cur⋈prev delta job. Lineage stays flat: `cur` below
        # is the checkpointed relation.
        cur = _pr_round(e, prev).localCheckpoint(eager=False)
        delta = (
            cur.agg(
                F.sum(F.abs(F.col("s") - F.col("s_prev")))
                .cast(dec)
                .alias("dl")
            )
            .first()["dl"]
        )
        prev = cur.select("u", "d", "s")
        if int(delta) * _PRC_EPS_DEN < n_vertices * _PR_UNIT:
            rounds = t
            break
    if rounds is None:
        raise RuntimeError(
            f"PageRank did not converge within {_PRC_MAX} rounds — "
            "raise _PRC_MAX (and regenerate the oracle) rather than "
            "truncating silently"
        )
    return (
        prev.orderBy(F.desc("s"), F.asc("u"))
        .limit(_PR_TOPK)
        .select(
            F.col("u").alias("p_partkey"),
            F.col("s").alias("pagerank_units"),
            F.lit(rounds).cast("bigint").alias("rounds"),
        )
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over user event sequences
# ---------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    """
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
t AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS row_total FROM t GROUP BY event_type
)
SELECT t.event_type, t.next_type, t.n, tot.row_total,
       CAST(t.n AS DOUBLE) / tot.row_total AS prob
FROM t JOIN tot USING (event_type)
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral model behind next-action prediction and
    anomalous-session scoring. One window shuffle on the user key (each
    user's history sorted once, in one task), then a combinable
    transition count; row totals are a states²-bounded relation that
    broadcasts back for the probability normalization (one exact-integer
    divide per cell). No self-join on time — the lead() window is the
    linear-cost sequencing primitive."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    # the transition-count relation feeds BOTH the row-total aggregate and
    # the join: checkpoint it (states² rows — tiny) so the events scan and
    # the user-keyed window run once, not once per branch
    t = (
        s.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = t.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return t.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "next_type",
        "n",
        "row_total",
        (F.col("n").cast("double") / F.col("row_total")).alias("prob"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation via value quartiles (no global sort)
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    """
WITH rfm AS (
  SELECT o_custkey AS custkey,
         CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS recency_s,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT quantile_cont(recency_s, 0.25e0) AS r1, quantile_cont(recency_s, 0.5e0) AS r2,
         quantile_cont(recency_s, 0.75e0) AS r3,
         quantile_cont(frequency, 0.25e0) AS f1, quantile_cont(frequency, 0.5e0) AS f2,
         quantile_cont(frequency, 0.75e0) AS f3,
         quantile_cont(monetary_cents, 0.25e0) AS m1, quantile_cont(monetary_cents, 0.5e0) AS m2,
         quantile_cont(monetary_cents, 0.75e0) AS m3
  FROM rfm
),
scored AS (
  SELECT custkey,
         CASE WHEN recency_s <= q.r1 THEN 1 WHEN recency_s <= q.r2 THEN 2
              WHEN recency_s <= q.r3 THEN 3 ELSE 4 END AS r_q,
         CASE WHEN frequency <= q.f1 THEN 1 WHEN frequency <= q.f2 THEN 2
              WHEN frequency <= q.f3 THEN 3 ELSE 4 END AS f_q,
         CASE WHEN monetary_cents <= q.m1 THEN 1 WHEN monetary_cents <= q.m2 THEN 2
              WHEN monetary_cents <= q.m3 THEN 3 ELSE 4 END AS m_q
  FROM rfm CROSS JOIN q
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q, CAST(m_q AS BIGINT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       MIN(custkey) AS sample_custkey
FROM scored
GROUP BY r_q, f_q, m_q
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    standard marketing-analytics cube, built WITHOUT the global ntile
    window the naive formulation uses: a partition-less ntile funnels
    every customer through ONE task (the classic scale trap), so
    quartiles are instead assigned by VALUE against exact quarter-point
    percentiles (the events_value_quantiles bit-determinism recipe —
    binary fractions over exact integers interpolate identically on
    both engines), computed in one combinable aggregate and broadcast
    back. Plan: customer-keyed aggregate → 1-row threshold relation →
    broadcast cross-join → segment rollup; fully distributed at any
    customer count. Ties land in the same bucket (value binning), the
    semantics a segmentation dashboard actually wants."""
    o = load_table(spark, sf_dir, "orders")
    rfm_ = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.unix_timestamp(F.max("o_orderdate"))
        .cast("bigint")
        .alias("recency_s"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    qs = [F.lit(0.25), F.lit(0.5), F.lit(0.75)]
    q = rfm_.agg(
        F.percentile("recency_s", F.array(*qs)).alias("rq"),
        F.percentile("frequency", F.array(*qs)).alias("fq"),
        F.percentile("monetary_cents", F.array(*qs)).alias("mq"),
    )

    def bucket(metric: str, arr: str):
        return (
            F.when(F.col(metric) <= F.col(arr)[0], 1)
            .when(F.col(metric) <= F.col(arr)[1], 2)
            .when(F.col(metric) <= F.col(arr)[2], 3)
            .otherwise(4)
            .cast("bigint")
        )

    scored = rfm_.crossJoin(F.broadcast(q)).select(
        "custkey",
        bucket("recency_s", "rq").alias("r_q"),
        bucket("frequency", "fq").alias("f_q"),
        bucket("monetary_cents", "mq").alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min("custkey").alias("sample_custkey"),
    )


# ---------------------------------------------------------------------------
# column profiler (schema-drift / ingest QA)
# ---------------------------------------------------------------------------


@register(
    "orders_column_profile",
    """
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name,
         CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
         MIN(o_orderpriority), MAX(o_orderpriority)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice_cents', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
         CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR),
         CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
         strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
  FROM orders
)
""",
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler — null counts, exact distinct
    cardinality, and min/max per column as one narrow relation: the
    ingest-QA / schema-drift snapshot a pipeline records per load (the
    table-level generalization of the per-check dq_suite; companion to
    the sketch-based events_sketch_profile, which is the constant-memory
    form of the same pass at 100 TB).

    Spark plan: one INDEPENDENT aggregate per profiled column, unioned —
    not a single multi-distinct Aggregate. Fusing N exact COUNT(DISTINCT)s
    into one pass forces Spark's Expand operator (N+1 copies of every row
    through one shuffle: measured 4x slower at sf0.1); per-column branches
    instead each read ONLY their column (columnar parquet makes the extra
    "scans" nearly free), keep partial-aggregate dedup effective, and run
    as parallel stages of one job. Same union-of-scalar-aggregates shape
    as the oracle. The documented swap at extreme scale is
    approx_count_distinct, which collapses the whole profile back into
    one non-expanding pass. Doubles are profiled in exact integer cents
    and timestamps as formatted strings so every value hash-matches
    across engines."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    n = F.count(F.lit(1))
    specs = [
        (
            "o_orderkey",
            F.col("o_orderkey"),
            F.min("o_orderkey").cast("string"),
            F.max("o_orderkey").cast("string"),
        ),
        (
            "o_custkey",
            F.col("o_custkey"),
            F.min("o_custkey").cast("string"),
            F.max("o_custkey").cast("string"),
        ),
        (
            "o_orderstatus",
            F.col("o_orderstatus"),
            F.min("o_orderstatus"),
            F.max("o_orderstatus"),
        ),
        (
            "o_orderpriority",
            F.col("o_orderpriority"),
            F.min("o_orderpriority"),
            F.max("o_orderpriority"),
        ),
        (
            "o_totalprice_cents",
            cents,
            F.min(cents).cast("string"),
            F.max(cents).cast("string"),
        ),
        (
            "o_orderdate",
            F.col("o_orderdate"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
        ),
    ]
    out = None
    for name, expr, mn, mx in specs:
        part = o.agg(
            F.lit(name).alias("column_name"),
            (n - F.count(expr)).cast("bigint").alias("n_nulls"),
            F.countDistinct(expr).cast("bigint").alias("n_distinct"),
            mn.alias("min_value"),
            mx.alias("max_value"),
        )
        out = part if out is None else out.union(part)
    return out


# ---------------------------------------------------------------------------
# winsorized robust statistics (exact binary-fraction percentiles)
# ---------------------------------------------------------------------------


@register(
    "events_winsorized_stats",
    """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
q AS (
  SELECT event_type,
         quantile_cont(cents, 0.0625e0) AS lo_c,
         quantile_cont(cents, 0.9375e0) AS hi_c
  FROM e GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(q.lo_c) / 1e2 AS lo,
       MIN(q.hi_c) / 1e2 AS hi,
       CAST(SUM(CASE WHEN e.cents < q.lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(SUM(CASE WHEN e.cents > q.hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       SUM(CAST(LEAST(GREATEST(CAST(e.cents AS DOUBLE), q.lo_c), q.hi_c) AS DECIMAL(38,6)))
         / COUNT(*) / 1e2 AS winsorized_mean
FROM e JOIN q USING (event_type)
GROUP BY e.event_type
""",
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key winsorization — the robust feature-scaling step a
    training pipeline applies to heavy-tailed numerics before
    normalization (outliers clipped to the [1/16, 15/16] percentile
    band, then a trimmed mean).

    The percentile fractions are EXACT binary fractions (1/16, 15/16)
    over integer cents, so every interpolation term — (n-1)·p, its
    fractional part, and the lerp between two integers — is exactly
    representable in a double REGARDLESS of the engines' internal
    interpolation formula (the events_value_quantiles recipe extended to
    non-quartile points). The clipped mean is an exact decimal sum of
    clipped cents. Plan: one grouped percentile pass (5 keys → tiny),
    broadcast back onto the stream, one combinable final aggregate —
    events are scanned twice but shuffled only by the 5-key group. At
    100 TB the exact percentile swaps for percentile_approx with the
    same broadcast-back shape."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    q = (
        e.groupBy("event_type")
        .agg(
            F.percentile(
                "cents", F.array(F.lit(0.0625), F.lit(0.9375))
            ).alias("p")
        )
        .select(
            "event_type",
            F.col("p")[0].alias("lo_c"),
            F.col("p")[1].alias("hi_c"),
        )
    )
    j = e.join(F.broadcast(q), "event_type")
    clipped = F.least(
        F.greatest(F.col("cents").cast("double"), F.col("lo_c")),
        F.col("hi_c"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.min("lo_c") / 100).alias("lo"),
        (F.min("hi_c") / 100).alias("hi"),
        F.sum(F.when(F.col("cents") < F.col("lo_c"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_lo"),
        F.sum(F.when(F.col("cents") > F.col("hi_c"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_hi"),
        (
            F.sum(clipped.cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
            / 100
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift / changepoint detection
# ---------------------------------------------------------------------------


@register(
    "events_cusum_drift",
    """
WITH e AS (
  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(cents) AS total
  FROM e GROUP BY event_type
),
c AS (
  SELECT e.event_type, e.ts, e.event_id, t.n, t.total,
         SUM(e.cents) OVER w AS run_sum,
         CAST(row_number() OVER w AS BIGINT) AS i
  FROM e JOIN tot t USING (event_type)
  WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, ts, event_id, n,
         abs(CAST(n AS HUGEINT) * run_sum - CAST(i AS HUGEINT) * total)
           AS absdev
  FROM c
),
m AS (
  SELECT event_type, MAX(absdev) AS max_absdev FROM s GROUP BY event_type
),
arg AS (
  SELECT s.event_type, MIN(s.ts) AS change_ts
  FROM s JOIN m ON s.event_type = m.event_type AND s.absdev = m.max_absdev
  GROUP BY s.event_type
)
SELECT m.event_type,
       CAST((SELECT n FROM tot WHERE tot.event_type = m.event_type) AS BIGINT) AS n_events,
       CAST(m.max_absdev AS DOUBLE)
         / (SELECT n FROM tot WHERE tot.event_type = m.event_type) / 1e2 AS max_cusum,
       strftime(arg.change_ts, '%Y-%m-%d %H:%M:%S') AS changepoint_ts
FROM m JOIN arg USING (event_type)
""",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift / changepoint detection per metric stream — the
    monitoring primitive that catches a persistent mean SHIFT the
    pointwise outlier gates (z-score, MAD) cannot see: the cumulative
    sum of deviations from the stream mean peaks at the changepoint.

    Exactness trick: CUSUM_i = Σ_{j≤i}(x_j − mean) involves a
    non-representable mean, so the statistic is scaled by n —
    S_i = n·run_sum_i − i·total — keeping every intermediate an EXACT
    BIGINT (associative, engine-independent); only the final
    max|S|/n/100 normalization is a double. Plan: one window shuffle on
    the stream key (the finance-indicator shape), a per-key max, and an
    argmax recovered by equality join with a deterministic earliest-ts
    tie-break — no driver participation. The scaled statistic n·run_sum
    − i·total is computed in 128-bit decimal(38,0) (HUGEINT on the
    oracle) exactly as parts_copurchase_pagerank does: plain int64 would
    wrap silently in Spark's non-ANSI mode past n·Σ|x| ≈ 1e18, the exact
    divergence class the PageRank query guards against (ADVICE r4)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    tot = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "ts",
        "n",
        "total",
        F.sum("cents").over(w).alias("run_sum"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    s = c.select(
        "event_type",
        "ts",
        "n",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("run_sum")
            - F.col("i").cast("decimal(38,0)") * F.col("total")
        ).alias("absdev"),
    )
    m = s.groupBy("event_type").agg(
        F.max("absdev").alias("max_absdev"),
        F.min("n").alias("n_events"),
    )
    arg = (
        s.join(
            F.broadcast(m.select("event_type", "max_absdev")), "event_type"
        )
        .filter(F.col("absdev") == F.col("max_absdev"))
        .groupBy("event_type")
        .agg(F.min("ts").alias("change_ts"))
    )
    return m.join(arg, "event_type").select(
        "event_type",
        F.col("n_events"),
        (
            F.col("max_absdev").cast("double") / F.col("n_events") / 100
        ).alias("max_cusum"),
        F.date_format("change_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "changepoint_ts"
        ),
    )


# ---------------------------------------------------------------------------
# inter-order gap statistics (purchase-cadence profile)
# ---------------------------------------------------------------------------


@register(
    "customer_order_gap_stats",
    """
WITH s AS (
  SELECT o_custkey AS custkey, CAST(o_orderdate AS TIMESTAMP) AS ts,
         lag(CAST(o_orderdate AS TIMESTAMP)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_ts
  FROM orders
),
g AS (
  SELECT custkey,
         CAST(date_diff('day', prev_ts, ts) AS BIGINT) AS gap_days
  FROM s WHERE prev_ts IS NOT NULL
),
pm AS (
  SELECT custkey, median(gap_days) AS med_gap FROM g GROUP BY custkey
)
SELECT CAST(floor(med_gap / 30e0) AS BIGINT) AS gap_bucket_months,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       MIN(med_gap) AS min_med_gap,
       MAX(med_gap) AS max_med_gap
FROM pm
GROUP BY 1
""",
)
def customer_order_gap_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase-cadence profile: each customer's MEDIAN inter-order gap
    (lag window per customer — one shuffle, linear), bucketed into a
    corpus-wide cadence histogram — the two-level median-then-distribute
    aggregation (per-entity robust statistic, then population profile)
    that churn models and re-engagement triggers consume. Gap medians
    over integer day counts interpolate only at .5 (exact double);
    bucket edges are integer-over-30 floors, identical on both
    engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    s = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.lag("o_orderdate").over(w).alias("prev_ts"),
    ).filter(F.col("prev_ts").isNotNull())
    g = s.select(
        "custkey",
        F.datediff("ts", "prev_ts").cast("bigint").alias("gap_days"),
    )
    pm = g.groupBy("custkey").agg(F.median("gap_days").alias("med_gap"))
    return pm.groupBy(
        F.floor(F.col("med_gap") / 30.0)
        .cast("bigint")
        .alias("gap_bucket_months")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min("med_gap").alias("min_med_gap"),
        F.max("med_gap").alias("max_med_gap"),
    )


# ---------------------------------------------------------------------------
# in-engine dedup-tier evaluation (LSH recall/precision vs exact tier)
# ---------------------------------------------------------------------------

_EVAL_TAU = 0.3


def _lsh_eval_sql() -> str:
    from .queries import ORACLES

    return f"""
WITH lsh AS (
  SELECT doc_a, doc_b FROM ({ORACLES["docs_minhash_lsh_pairs"]}) t
),
ex AS (
  SELECT doc_a, doc_b FROM ({ORACLES["docs_jaccard_pairs"]}) t
  WHERE jaccard >= {_EVAL_TAU}e0
),
j AS (
  SELECT COALESCE(l.doc_a, e.doc_a) AS doc_a,
         CASE WHEN l.doc_a IS NOT NULL AND e.doc_a IS NOT NULL THEN 'tp'
              WHEN l.doc_a IS NOT NULL THEN 'fp' ELSE 'fn' END AS cls
  FROM lsh l FULL OUTER JOIN ex e
    ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
)
SELECT CAST(SUM(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN cls = 'fp' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN cls = 'fn' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS DOUBLE)
         / NULLIF(SUM(CASE WHEN cls IN ('tp','fn') THEN 1 ELSE 0 END), 0) AS recall,
       CAST(SUM(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS DOUBLE)
         / NULLIF(SUM(CASE WHEN cls IN ('tp','fp') THEN 1 ELSE 0 END), 0) AS precision
FROM j
"""


def _register_lsh_eval() -> None:
    @register("docs_lsh_recall_eval", _lsh_eval_sql())
    def docs_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """In-engine evaluation of the MinHash-LSH tier against the exact
        Jaccard tier AT THE SAME THRESHOLD — the recall/precision audit a
        production dedup pipeline schedules on a sampled slice before
        trusting the banded index at full scale. Composes the two
        REGISTERED operators (their registry entries, so the eval can
        never drift from what ships) with one full-outer pair join and a
        confusion-count aggregate; the oracle composes the same two
        oracle subqueries. Because the LSH tier verifies exact Jaccard
        on its banded candidates, precision is 1.0 by construction —
        this gate PROVES that property cross-engine, and measures the
        banding's recall (candidate misses) instead of assuming it. The
        pytest recall bounds in tests/test_ann_kmeans.py cover the ANN
        tiers; this covers the text tier.

        Round-13 plumbing (guide §1.2): both tiers used to re-scan the
        documents parquet independently; the eval now scans it ONCE into
        a lazy localCheckpoint (materialized by the first tier's eager
        shingle checkpoint — no extra job) and feeds the SAME relation
        into both tiers. The tiers themselves stay the single-sourced
        registered operators (queries.py:minhash_tier / jaccard_tier —
        the exact functions the registry entries call), so the no-drift
        guarantee is intact; only the corpus scan is shared."""
        from .queries import jaccard_tier, load_table, minhash_tier

        docs = load_table(spark, sf_dir, "documents").localCheckpoint(
            eager=False
        )
        lsh = minhash_tier(docs).select("doc_a", "doc_b")
        ex = (
            jaccard_tier(docs)
            .filter(F.col("jaccard") >= _EVAL_TAU)
            .select(
                F.col("doc_a").alias("ea"), F.col("doc_b").alias("eb")
            )
        )
        j = lsh.join(
            ex,
            (lsh.doc_a == F.col("ea")) & (lsh.doc_b == F.col("eb")),
            "full_outer",
        )
        cls = (
            F.when(
                F.col("doc_a").isNotNull() & F.col("ea").isNotNull(), "tp"
            )
            .when(F.col("doc_a").isNotNull(), "fp")
            .otherwise("fn")
        )
        c = j.select(cls.alias("cls"))
        tp = F.sum(F.when(F.col("cls") == "tp", 1).otherwise(0))
        fp = F.sum(F.when(F.col("cls") == "fp", 1).otherwise(0))
        fn = F.sum(F.when(F.col("cls") == "fn", 1).otherwise(0))
        return c.agg(
            tp.cast("bigint").alias("tp"),
            fp.cast("bigint").alias("fp"),
            fn.cast("bigint").alias("fn"),
            (
                tp.cast("double")
                / F.nullif((tp + fn).cast("bigint"), F.lit(0))
            ).alias("recall"),
            (
                tp.cast("double")
                / F.nullif((tp + fp).cast("bigint"), F.lit(0))
            ).alias("precision"),
        )


_register_lsh_eval()


# ---------------------------------------------------------------------------
# composed numeric feature pipeline
# ---------------------------------------------------------------------------


@register(
    "events_feature_pipeline",
    """
WITH e AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
med AS (SELECT event_type, median(cents) AS med FROM e GROUP BY event_type),
dev AS (
  SELECT e.*, m.med, abs(CAST(e.cents AS DOUBLE) - m.med) AS adev
  FROM e JOIN med m USING (event_type)
),
mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type),
kept AS (
  SELECT d.event_id, d.event_type, d.cents, d.med, m.mad
  FROM dev d JOIN mad m USING (event_type)
  WHERE m.mad <= 0e0
     OR abs(CAST(d.cents AS DOUBLE) - d.med) <= 5e0 * 1.4826e0 * m.mad
),
q AS (
  SELECT event_type,
         quantile_cont(cents, 0.0625e0) AS lo_c,
         quantile_cont(cents, 0.9375e0) AS hi_c
  FROM kept GROUP BY event_type
),
clipped AS (
  SELECT k.event_id, k.event_type, k.cents, k.med, k.mad,
         LEAST(GREATEST(CAST(k.cents AS DOUBLE), q.lo_c), q.hi_c) AS wv
  FROM kept k JOIN q USING (event_type)
)
SELECT event_id, event_type, cents AS raw_cents, wv AS winsorized_cents,
       CASE WHEN mad > 0e0 THEN (wv - med) / (1.4826e0 * mad) ELSE 0e0 END AS robust_z
FROM clipped
""",
)
def events_feature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed numeric feature-engineering pipeline — the events-side
    sibling of docs_curation: (1) hard-outlier REMOVAL at 5·1.4826·MAD,
    (2) winsorization of survivors at the exact [1/16, 15/16] band,
    (3) robust z-scaling against median/MAD — each stage computed on the
    previous stage's survivors, hash-gated end-to-end as ONE relation.
    This staging matters and is easy to get wrong: the winsorize
    percentiles must come from the post-filter distribution, which is
    why the composed gate exists on top of the standalone operators
    (events_mad_outliers, events_winsorized_stats).

    Plan: two grouped exact medians + one grouped exact percentile, each
    a tiny per-type relation broadcast back; the survivor stream is
    localCheckpoint-shared between the percentile pass and the final
    projection (without it the MAD cascade re-runs per branch). All
    thresholds transcendental-free; at 100 TB the exact order statistics
    swap for their approx forms with unchanged shape."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    med = e.groupBy("event_type").agg(F.median("cents").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    madt = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    kept = (
        dev.join(F.broadcast(madt), "event_type")
        .filter(
            (F.col("mad") <= 0.0)
            | (
                F.abs(F.col("cents").cast("double") - F.col("med"))
                <= 5.0 * 1.4826 * F.col("mad")
            )
        )
        .select("event_id", "event_type", "cents", "med", "mad")
        .localCheckpoint(eager=True)
    )
    q = (
        kept.groupBy("event_type")
        .agg(
            F.percentile(
                "cents", F.array(F.lit(0.0625), F.lit(0.9375))
            ).alias("p")
        )
        .select(
            "event_type",
            F.col("p")[0].alias("lo_c"),
            F.col("p")[1].alias("hi_c"),
        )
    )
    clipped = kept.join(F.broadcast(q), "event_type").withColumn(
        "wv",
        F.least(
            F.greatest(F.col("cents").cast("double"), F.col("lo_c")),
            F.col("hi_c"),
        ),
    )
    return clipped.select(
        "event_id",
        "event_type",
        F.col("cents").alias("raw_cents"),
        F.col("wv").alias("winsorized_cents"),
        F.when(
            F.col("mad") > 0.0,
            (F.col("wv") - F.col("med")) / (1.4826 * F.col("mad")),
        )
        .otherwise(F.lit(0.0))
        .alias("robust_z"),
    )


# ---------------------------------------------------------------------------
# cohort lifetime value
# ---------------------------------------------------------------------------


@register(
    "customer_cohort_ltv",
    """
WITH firsts AS (
  SELECT o_custkey AS custkey,
         date_trunc('month', MIN(o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey
),
rev AS (
  SELECT f.cohort_month,
         CAST((year(date_trunc('month', o.o_orderdate)) - year(f.cohort_month)) * 12
              + (month(date_trunc('month', o.o_orderdate)) - month(f.cohort_month)) AS BIGINT) AS offset_m,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.custkey
),
agg AS (
  SELECT cohort_month, offset_m,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(cents) AS rev_cents
  FROM rev GROUP BY cohort_month, offset_m
)
SELECT strftime(cohort_month, '%Y-%m') AS cohort,
       offset_m, n_orders, rev_cents,
       SUM(rev_cents) OVER (PARTITION BY cohort_month ORDER BY offset_m
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_cents
FROM agg
""",
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — cumulative revenue per
    first-order-month cohort by month offset, the monetary extension of
    events_user_retention (which counts activity; this sums value). The
    per-customer first-month aggregate re-joins the fact table on its
    own key (both sides hash-partitioned by custkey — one co-located
    shuffle), the (cohort × offset) rollup is combinable with exact
    cents, and the cumulative window partitions by cohort month — a
    calendar-bounded key (dozens of partitions at any SF), so no
    global-sort trap. Month offsets computed in integer year/month
    arithmetic, identical on both engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    j = o.join(firsts, o.o_custkey == firsts.custkey)
    om = F.date_trunc("month", F.col("o_orderdate"))
    offset = (
        (F.year(om) - F.year("cohort_month")) * 12
        + (F.month(om) - F.month("cohort_month"))
    ).cast("bigint")
    agg = j.groupBy("cohort_month", offset.alias("offset_m")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        ),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
        "offset_m",
        "n_orders",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_rev_cents"),
    )


# ---------------------------------------------------------------------------
# join-key skew profile
# ---------------------------------------------------------------------------


@register(
    "lineitem_skew_profile",
    """
WITH counts AS (
  SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(n) AS BIGINT) AS max_key_rows,
         SUM(n * n) AS sum_sq
  FROM counts
),
topk AS (
  SELECT CAST(SUM(n) AS BIGINT) AS top10_rows FROM (
    SELECT n FROM counts ORDER BY n DESC, key ASC LIMIT 10
  )
)
SELECT t.total_rows, t.n_keys, t.max_key_rows,
       CAST(t.max_key_rows AS DOUBLE) / t.total_rows AS max_key_share,
       CAST(k.top10_rows AS DOUBLE) / t.total_rows AS top10_share,
       CAST(t.sum_sq AS DOUBLE) * t.n_keys / (CAST(t.total_rows AS DOUBLE) * t.total_rows) AS skew_factor
FROM tot t CROSS JOIN topk k
""",
)
def lineitem_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the profiling pass that decides whether
    a planned join needs the salted two-phase form (operators/skew.py)
    or AQE skew splitting: per-key counts (one combinable aggregate),
    then concentration statistics — max-key share, top-10 share, and a
    normalized second-moment skew factor (E[n²]·k/N² = 1 for perfectly
    uniform keys, grows with concentration) — from exact integer sums.
    The top-10 is a TakeOrdered (per-partition partial top-k merged at
    the coordinator), never a full sort; output is one row of bounded
    scalars regardless of key-space size."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(
        F.sum("n").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    topk = (
        counts.orderBy(F.desc("n"), F.asc("key"))
        .limit(10)
        .agg(F.sum("n").cast("bigint").alias("top10_rows"))
    )
    j = tot.crossJoin(F.broadcast(topk))
    return j.select(
        "total_rows",
        "n_keys",
        "max_key_rows",
        (
            F.col("max_key_rows").cast("double") / F.col("total_rows")
        ).alias("max_key_share"),
        (F.col("top10_rows").cast("double") / F.col("total_rows")).alias(
            "top10_share"
        ),
        (
            F.col("sum_sq").cast("double")
            * F.col("n_keys")
            / (F.col("total_rows").cast("double") * F.col("total_rows"))
        ).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# seasonality profile (dow x hour matrix)
# ---------------------------------------------------------------------------


@register(
    "events_seasonality_matrix",
    """
SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
       CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(CAST(round(value * 100) AS BIGINT)) AS total_cents,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e2 AS mean_value
FROM events
GROUP BY 1, 2, 3
""",
)
def events_seasonality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day seasonality matrix per event type — the
    periodicity profile behind anomaly baselines and capacity planning
    (the calendar-shaped companion to the rolling indicators in
    queries_finance.py). One combinable groupBy over a bounded 7×24×types
    key space: map-side partials do all the work, the shuffle carries
    ~hundreds of rows per partition at any corpus size. Means derive
    from exact integer-cent sums (one shared final divide). Note the
    calendar-function parity trap handled here: Spark's dayofweek is
    1=Sunday..7, DuckDB's 0=Sunday..6 — the Spark side shifts by one so
    both engines emit the same encoding."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    dow = (F.dayofweek("ts") - 1).cast("bigint")
    return (
        e.groupBy(
            dow.alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "dow",
            "hod",
            "event_type",
            "n_events",
            "total_cents",
            (
                F.col("total_cents").cast("double")
                / F.col("n_events")
                / 100
            ).alias("mean_value"),
        )
    )


# ---------------------------------------------------------------------------
# MAD-based robust outlier detection
# ---------------------------------------------------------------------------


@register(
    "events_mad_outliers",
    """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
med AS (
  SELECT event_type, median(cents) AS med FROM e GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.cents, m.med, abs(CAST(e.cents AS DOUBLE) - m.med) AS adev
  FROM e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(d.med) / 1e2 AS median_value,
       MIN(m.mad) / 1e2 AS mad_value,
       CAST(SUM(CASE WHEN m.mad > 0e0
                      AND abs(CAST(d.cents AS DOUBLE) - d.med) > 3e0 * 1.4826e0 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection — the ROBUST sibling
    of events_anomaly_zscore: mean/std move with the outliers they're
    supposed to flag (50% breakdown point for MAD vs 0% for std), so
    heavy-tailed quality metrics get gated on 3·1.4826·MAD instead. Two
    grouped exact medians (per-type, tiny group count) each broadcast
    back onto the stream — the same aggregate→broadcast-attach shape as
    the sector medians; the degenerate-scale guard (mad > 0) is applied
    identically on both engines (the events_anomaly_zscore sigma rule).
    Medians over integer cents interpolate only at .5 — exactly
    representable — so the doubles agree bit-for-bit. At 100 TB the
    exact medians swap for approx_percentile with unchanged shape."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    med = e.groupBy("event_type").agg(F.median("cents").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    madt = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    j = dev.join(F.broadcast(madt), "event_type")
    is_out = (F.col("mad") > 0.0) & (
        F.abs(F.col("cents").cast("double") - F.col("med"))
        > 3.0 * 1.4826 * F.col("mad")
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.min("med") / 100).alias("median_value"),
        (F.min("mad") / 100).alias("mad_value"),
        F.sum(F.when(is_out, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# first-touch attribution
# ---------------------------------------------------------------------------


@register(
    "events_attribution_first_touch",
    """
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts, value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
m AS (
  SELECT p.event_id, p.user_id,
         strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         MIN(c.cts) AS first_click
  FROM p LEFT JOIN c
    ON p.user_id = c.user_id
   AND c.cts <= p.pts AND c.cts > p.pts - INTERVAL 24 HOUR
  GROUP BY p.event_id, p.user_id, p.pts
)
SELECT event_id, user_id, purchase_ts,
       strftime(first_click, '%Y-%m-%d %H:%M:%S') AS first_click_ts
FROM m
""",
)
def events_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIRST-touch attribution: each purchase credited to the user's
    EARLIEST click inside a 24-hour lookback — the complement of the
    as-of join (events_asof_purchase_click), which is last-touch by
    construction; together they bracket the attribution models a
    marketing pipeline runs. Plan: equi-join on the user key with the
    time band as a residual predicate (per-user fan-out bounded by the
    lookback window), then a combinable MIN per purchase. LEFT join
    semantics keep click-less purchases with a NULL first touch. At
    extreme per-user event counts the band join swaps to the bucketed
    interval machinery in operators/rangejoin.py — same result, bounded
    bucket fan-out."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    j = p.join(
        c,
        (p.user_id == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 24 HOURS")),
        "left",
    )
    return (
        j.groupBy("event_id", "user_id", "pts")
        .agg(F.min("cts").alias("first_click"))
        .select(
            "event_id",
            "user_id",
            F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias(
                "purchase_ts"
            ),
            F.date_format("first_click", "yyyy-MM-dd HH:mm:ss").alias(
                "first_click_ts"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Pareto contribution analysis
# ---------------------------------------------------------------------------


@register(
    "brand_revenue_pareto",
    """
WITH rev AS (
  SELECT p.p_brand,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
tot AS (SELECT SUM(cents) AS t FROM rev),
ranked AS (
  SELECT r.p_brand, r.cents,
         SUM(r.cents) OVER (ORDER BY r.cents DESC, r.p_brand ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
         tot.t
  FROM rev r CROSS JOIN tot
)
SELECT p_brand, cents AS revenue_cents,
       CAST(cents AS DOUBLE) / t AS revenue_share,
       CAST(cum_cents AS DOUBLE) / t AS cumulative_share,
       CAST(cum_cents AS DOUBLE) / t <= 0.8e0 AS in_top80
FROM ranked
""",
)
def brand_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) contribution analysis of revenue by brand —
    cumulative-share ranking, the classic concentration diagnostic. The
    global cumulative window here is over the BRAND aggregate — a
    dimension-bounded relation (25 brands at every SF), not the
    SF-linear trap customer_rfm_segments avoids; ranking 25 rows in one
    task is correct, and the heavy lifting (fact join + revenue rollup)
    is all combinable aggregates with exact integer cents. Shares are
    single divides against a broadcast 1-row total."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rev = (
        li.join(
            pt.select("p_partkey", "p_brand"), li.l_partkey == pt.p_partkey
        )
        .groupBy("p_brand")
        .agg(F.sum(cents).alias("cents"))
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    w = Window.orderBy(F.desc("cents"), F.asc("p_brand")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.crossJoin(F.broadcast(tot)).withColumn(
        "cum_cents", F.sum("cents").over(w)
    )
    return ranked.select(
        "p_brand",
        F.col("cents").alias("revenue_cents"),
        (F.col("cents").cast("double") / F.col("t")).alias("revenue_share"),
        (F.col("cum_cents").cast("double") / F.col("t")).alias(
            "cumulative_share"
        ),
        ((F.col("cum_cents").cast("double") / F.col("t")) <= 0.8).alias(
            "in_top80"
        ),
    )


# ---------------------------------------------------------------------------
# top-k string-similarity search (query -> dirty dimension)
# ---------------------------------------------------------------------------

_SEARCH_QUERIES = [
    "red widgit",
    "smal ring",
    "blue blt",
    "grean gear",
    "stel pipe",
]
_SEARCH_MAX_DIST = 3
_SEARCH_TOPK = 5


def _search_sql() -> str:
    qvals = ", ".join(f"('{q}')" for q in _SEARCH_QUERIES)
    return f"""
WITH q(qs) AS (VALUES {qvals}),
names AS (SELECT DISTINCT p_name FROM part),
scored AS (
  SELECT q.qs, n.p_name,
         CAST(levenshtein(q.qs, n.p_name) AS BIGINT) AS dist
  FROM q CROSS JOIN names n
  WHERE abs(length(q.qs) - length(n.p_name)) <= {_SEARCH_MAX_DIST}
    AND levenshtein(q.qs, n.p_name) <= {_SEARCH_MAX_DIST}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY qs ORDER BY dist ASC, p_name ASC) AS rn
  FROM scored
)
SELECT qs AS query, p_name AS match, dist, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_SEARCH_TOPK}
"""


@register("part_name_similarity_search", _search_sql())
def part_name_similarity_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-k string-similarity SEARCH — misspelled query strings matched
    to their closest dimension values (the lookup sibling of the
    part_entity_resolution JOIN; cf. the compressed-index string
    similarity search line of work, ICDE 2022, in PAPERS.md). The query
    side is a handful of literals that broadcasts; every corpus name is
    screened by the free length-band bound (|len(q)−len(s)| ≤ d implies
    nothing is lost below edit distance d) before the JVM levenshtein
    kernel, and per-query top-k is one window over the tiny survivor
    set. Corpus side: one column-pruned scan + partial-combined
    distinct; no shuffle carries more than the candidate matches. At
    larger query batches the same plan holds — queries broadcast, corpus
    streams; for massive query sets the block key flips to q-gram
    inverted-index buckets (the docs_jaccard_pairs machinery)."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    q = spark.createDataFrame(
        [(s,) for s in _SEARCH_QUERIES], "qs string"
    )
    scored = (
        names.join(F.broadcast(q))
        .filter(
            F.abs(F.length("qs") - F.length("p_name")) <= _SEARCH_MAX_DIST
        )
        .withColumn("dist", F.levenshtein("qs", "p_name").cast("bigint"))
        .filter(F.col("dist") <= _SEARCH_MAX_DIST)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qs").orderBy(F.asc("dist"), F.asc("p_name"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _SEARCH_TOPK)
        .select(
            F.col("qs").alias("query"),
            F.col("p_name").alias("match"),
            "dist",
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# lexicon polarity scoring (sentiment-style text classification)
# ---------------------------------------------------------------------------

_POS_WORDS = ["fast", "small", "value", "key", "spark"]
_NEG_WORDS = ["slow", "filter", "the", "row", "batch"]


def _polarity_sql() -> str:
    pos = ", ".join(f"'{w}'" for w in _POS_WORDS)
    neg = ", ".join(f"'{w}'" for w in _NEG_WORDS)
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({pos}))) AS BIGINT) AS n_pos,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({neg}))) AS BIGINT) AS n_neg,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, n_pos, n_neg, n_tokens,
       CASE WHEN n_pos + n_neg > 0
            THEN CAST(n_pos - n_neg AS DOUBLE) / (n_pos + n_neg)
            ELSE 0e0 END AS polarity,
       CASE WHEN n_pos > n_neg THEN 'positive'
            WHEN n_neg > n_pos THEN 'negative'
            ELSE 'neutral' END AS label
FROM t
"""


@register("docs_lexicon_polarity", _polarity_sql())
def docs_lexicon_polarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based polarity scoring — the classic distributed
    sentiment pass (cf. the Spark Twitter sentiment line of work, EDBT
    2016, in PAPERS.md) and, for a training-data pipeline, the template
    for ANY wordlist-driven classifier (toxicity lists, domain filters):
    per-document positive/negative lexicon hits via higher-order array
    functions (split → filter → size — JVM-side on Spark, list_filter
    on DuckDB; no explode, no shuffle, no Python), polarity as a single
    exact-integer-ratio divide, and a deterministic three-way label.
    Pure scan projection: cost is the text scan, embarrassingly
    parallel; lexicons ship as literals (in production, a broadcast
    array from a config table)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pos_arr = F.array(*[F.lit(w) for w in _POS_WORDS])
    neg_arr = F.array(*[F.lit(w) for w in _NEG_WORDS])
    n_pos = F.size(
        F.filter(toks, lambda x: F.array_contains(pos_arr, x))
    ).cast("bigint")
    n_neg = F.size(
        F.filter(toks, lambda x: F.array_contains(neg_arr, x))
    ).cast("bigint")
    t = d.select(
        "doc_id",
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    total = F.col("n_pos") + F.col("n_neg")
    return t.select(
        "doc_id",
        "n_pos",
        "n_neg",
        "n_tokens",
        F.when(
            total > 0,
            (F.col("n_pos") - F.col("n_neg")).cast("double") / total,
        )
        .otherwise(F.lit(0.0))
        .alias("polarity"),
        F.when(F.col("n_pos") > F.col("n_neg"), "positive")
        .when(F.col("n_neg") > F.col("n_pos"), "negative")
        .otherwise("neutral")
        .alias("label"),
    )


# ---------------------------------------------------------------------------
# snapshot diff (data-versioning primitive)
# ---------------------------------------------------------------------------


@register(
    "orders_snapshot_diff",
    """
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 97 = 0 THEN 'F' ELSE o_orderstatus END AS status,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END AS price_cents
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders WHERE o_orderkey % 103 = 0
),
d AS (
  SELECT COALESCE(n.k, o.k) AS k,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN n.status <> o.status OR n.price_cents <> o.price_cents THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                   AND n.status <> o.status THEN 1 ELSE 0 END AS status_changed,
         CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                   AND n.price_cents <> o.price_cents THEN 1 ELSE 0 END AS price_changed
  FROM new n FULL OUTER JOIN old o ON n.k = o.k
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(status_changed) AS BIGINT) AS n_status_changes,
       CAST(SUM(price_changed) AS BIGINT) AS n_price_changes,
       MIN(k) AS min_key, MAX(k) AS max_key
FROM d GROUP BY change_type
""",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the data-versioning primitive behind table-format
    time travel audits and CDC backfills: given two versions of a keyed
    table, classify every key as added / removed / changed / unchanged
    and attribute which columns drove each change. (The second snapshot
    is derived from the first by deterministic key-modular edits so the
    gate is self-contained; in production the two sides are two table
    versions.) Complements the row-feed CDC operators (orders_cdc_apply,
    orders_merge_upsert), which apply a change stream — this one
    RECOVERS the change set from two materialized states.

    Plan: one FULL OUTER join keyed on the primary key (both sides
    shuffle once on k — at 100 TB both snapshots are bucketed/sorted by
    key on disk, making this a zero-shuffle sort-merge), then a
    combinable classification rollup. Values compared in exact integer
    cents so equality is engine-independent."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    old = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("price_cents"),
    )
    new = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 97 == 0, "F")
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            (
                cents
                + F.when(F.col("o_orderkey") % 89 == 0, 100).otherwise(0)
            ).alias("price_cents"),
        )
        .union(
            o.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("k"),
                F.col("o_orderstatus").alias("status"),
                cents.alias("price_cents"),
            )
        )
    )
    n = new.alias("n")
    ol = old.alias("o")
    j = n.join(ol, F.col("n.k") == F.col("o.k"), "full_outer")
    both = F.col("n.k").isNotNull() & F.col("o.k").isNotNull()
    d = j.select(
        F.coalesce(F.col("n.k"), F.col("o.k")).alias("k"),
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(
            (F.col("n.status") != F.col("o.status"))
            | (F.col("n.price_cents") != F.col("o.price_cents")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_type"),
        F.when(both & (F.col("n.status") != F.col("o.status")), 1)
        .otherwise(0)
        .alias("status_changed"),
        F.when(both & (F.col("n.price_cents") != F.col("o.price_cents")), 1)
        .otherwise(0)
        .alias("price_changed"),
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("status_changed").cast("bigint").alias("n_status_changes"),
        F.sum("price_changed").cast("bigint").alias("n_price_changes"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# native streaming session window (deferred registration: needs helpers
# defined later in queries.py)
# ---------------------------------------------------------------------------


_LATE_DELAY_H = 6


def late_data_slices(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[str]]:
    """The 3-slice late-data staging plan as ``(events, predicates)`` for
    ``_stage_parquet_slices``: (1) even-id rows — advance the watermark
    to max(even ts) − delay; (2) odd-id rows at/after that cutoff — on
    time; (3) odd-id rows before it — genuinely late once batch 2 has
    closed their windows. The data-derived cutoff enters the predicate
    text as a ``TIMESTAMP '…'`` literal. Shared by the gate query and
    the mechanism test (tests/test_quality_ops.py) so the slicing cannot
    drift between them. The 1-row cutoff collect is the bounded-collect
    convention (same class as the quantizer training samples)."""
    e = load_table(spark, sf_dir, "events")
    cut = (
        e.filter("event_id % 2 = 0")
        .agg(
            (F.max("ts") - F.expr(f"INTERVAL {_LATE_DELAY_H} HOURS")).alias(
                "c"
            )
        )
        .collect()[0]["c"]
    )
    cut_lit = f"TIMESTAMP '{cut.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    return e, [
        "event_id % 2 = 0",
        f"event_id % 2 = 1 AND ts >= {cut_lit}",
        f"event_id % 2 = 1 AND ts < {cut_lit}",
    ]


def _register_stream_late_data() -> None:
    from .queries import (
        _EVENTS_SCHEMA,
        _drain_stream,
        _stage_parquet_slices,
        _staged_stream,
    )

    @register(
        "events_stream_late_data",
        f"""
WITH cuts AS (
  SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL {_LATE_DELAY_H} HOUR AS cut
  FROM events WHERE event_id % 2 = 0
),
wm AS (
  SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL {_LATE_DELAY_H} HOUR AS w
  FROM events
),
ontime AS (
  SELECT e.* FROM events e CROSS JOIN cuts
  WHERE e.event_id % 2 = 0
     OR CAST(e.ts AS TIMESTAMP) >= cuts.cut
)
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ontime CROSS JOIN wm
WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
""",
    )
    def events_stream_late_data(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Late-data drop gate — the watermark semantics the other
        streaming gates can't prove: rows arriving AFTER their event-time
        window has been finalized must neither crash the query nor
        corrupt already-emitted windows.

        Staging: three files / three micro-batches — (1) even-id rows
        (advance the watermark to max(even ts) − 6h), (2) odd-id rows
        newer than that cutoff (on time), (3) odd-id rows older than it
        (genuinely late: their windows were closed and emitted at the end
        of batch 2). In append mode the late rows are either dropped by
        the watermark filter or land in never-emitted open windows, so
        the final emitted set is EXACTLY the closed-window rollup of the
        on-time rows — which is what the DuckDB oracle computes from the
        same two data-derived cutoffs. (A same-batch arrival would be
        merged before eviction — that's why the late slice must be its
        own batch; tests/test_quality_ops.py asserts the engine actually
        reported numRowsDroppedByWatermark > 0.) Update-mode caveat
        documented there too: Spark only guarantees dropping in
        append/window paths, which is what production pipelines rely on."""
        import uuid

        src = _stage_parquet_slices(
            *late_data_slices(spark, sf_dir), "late3_"
        )
        stream = _staged_stream(spark, src, _EVENTS_SCHEMA)
        agg = (
            stream.withWatermark("ts", f"{_LATE_DELAY_H} hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(
                F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "hour"
                ),
                "event_type",
                "n_events",
            )
        )
        name = "late_gate_" + uuid.uuid4().hex[:12]
        return _drain_stream(spark, agg, name, "append")


_register_stream_late_data()


def _register_stream_session_window() -> None:
    from .queries import ORACLES, _drain_stream, _events_stream

    @register(
        "events_stream_session_window", ORACLES["events_sessionization"]
    )
    def events_stream_session_window(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Sessionization through Structured Streaming using the NATIVE
        ``session_window`` aggregate (merging session state inside the
        streaming state store) — drained availableNow into a complete-
        mode memory sink and checked against the SAME gaps-and-islands
        DuckDB oracle as the batch query (events_sessionization), proving
        batch/stream convergence for the third stateful-operator family
        alongside the applyInPandasWithState sessionizer
        (events_stream_sessionization) and the windowed rollups. In
        production the sink runs append-mode with a watermark so closed
        sessions emit incrementally; the state-merge semantics gated
        here are identical."""
        import uuid

        name = "stream_gate_" + uuid.uuid4().hex[:12]
        stream = _events_stream(spark, sf_dir)
        agg = (
            stream.groupBy(
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
        return _drain_stream(spark, agg, name, "complete")


_register_stream_session_window()


# ---------------------------------------------------------------------------
# transitively-closed entity resolution (round 5 — ADVICE r4 finding 1)
# ---------------------------------------------------------------------------


@register(
    "part_entity_resolution_closed",
    """
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS ka, b.p_partkey AS kb
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
   AND a.p_partkey < b.p_partkey
  WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
    AND levenshtein(a.p_name, b.p_name) <= 1
),
edges AS MATERIALIZED (
  SELECT ka AS u, kb AS v FROM pairs
  UNION
  SELECT kb AS u, ka AS v FROM pairs
),
reach(u, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u, MIN(lbl) AS cluster FROM reach GROUP BY u),
sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY cluster)
SELECT cc.u AS p_partkey, cc.cluster AS canonical_partkey,
       sizes.cluster_size, cc.u = cc.cluster AS is_canonical
FROM cc JOIN sizes ON cc.cluster = sizes.cluster
""",
)
def part_entity_resolution_closed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transitively CLOSED entity resolution: the same blocked
    edit-distance-1 match pairs as ``part_entity_resolution``, resolved
    into connected components so every record maps to its true
    cluster-minimum canonical (with A~B, B~C, A!~C, all three map to A —
    the one-hop query would leave C pointing at the non-canonical B).

    Composition, not new machinery: the pair generator is the identical
    blocked equi-join (cost confined to (brand,type) blocks, never
    corpus-wide) and the closure is operators/dedup.py:dup_clusters —
    distributed min-label propagation whose driver traffic is one scalar
    changed-count per round, converging in O(component diameter) rounds
    (edit-distance chains are short, so 2-3 in practice). The oracle
    re-derives the closure engine-independently with a recursive CTE
    (DuckDB WITH RECURSIVE reachability + min-label group), so the gate
    is a full value-hash match on (member, canonical, cluster_size,
    is_canonical)."""
    pairs = _er_match_pairs(spark, sf_dir).select(
        F.col("ka").alias("doc_a"), F.col("kb").alias("doc_b")
    )
    cc = dup_clusters(pairs)
    return cc.select(
        F.col("doc_id").alias("p_partkey"),
        F.col("cluster_id").alias("canonical_partkey"),
        "cluster_size",
        "is_canonical",
    )


@register(
    "parts_copurchase_reachability",
    """
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
eu AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
),
e AS MATERIALIZED (
  SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu
),
walk(part, depth) AS (
  SELECT l_partkey AS part, 0 AS depth
  FROM (SELECT DISTINCT l_partkey FROM lineitem) s
  WHERE l_partkey % 100 = 0
  UNION ALL
  SELECT e.v AS part, walk.depth + 1 AS depth
  FROM walk JOIN e ON walk.part = e.u
  WHERE walk.depth < 3
)
SELECT part, CAST(MIN(depth) AS BIGINT) AS hops,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM walk GROUP BY part
""",
)
def parts_copurchase_reachability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-depth BFS over the co-purchase graph from a seed part set
    — "customers who bought X eventually buy Y" market-basket reach,
    expressed with Spark 4's native ``WITH RECURSIVE`` (the recursive-CTE
    execution surface, exercised nowhere else in the registry). Returns
    every part within 3 hops of a seed with its minimum hop distance and
    the exact ≤3-hop walk count.

    Scale shape: the graph (shared ``_copurchase_edges`` rule, min 2
    co-orders — the same single-source edge definition as the triangle
    census and PageRank) and the seed set are built ONCE as DataFrames
    and ``localCheckpoint``-ed before the recursion, so each of the 3
    recursive steps is a keyed join against a materialized edge relation
    — without this, Spark re-evaluates every non-recursive CTE (the full
    fact-table distinct + pair self-join) once per iteration, measured
    3x slower at sf0.1. Recursion depth is a hard bound, so frontier
    growth is capped at seeds x avg_degree^3 — the sparsified (min 2
    co-orders) graph keeps that polynomial small at any SF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    eu = _copurchase_edges(li, _TRI_MIN_COPURCHASES)
    e = eu.union(
        eu.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    seeds = (
        li.select("l_partkey")
        .distinct()
        .filter(F.col("l_partkey") % 100 == 0)
        .localCheckpoint(eager=True)
    )
    e.createOrReplaceTempView("copurchase_reach_e_tmp")
    seeds.createOrReplaceTempView("copurchase_reach_seeds_tmp")
    return spark.sql(
        """
WITH RECURSIVE walk(part, depth) AS (
  SELECT l_partkey AS part, 0 AS depth FROM copurchase_reach_seeds_tmp
  UNION ALL
  SELECT e.v AS part, walk.depth + 1 AS depth
  FROM walk JOIN copurchase_reach_e_tmp e ON walk.part = e.u
  WHERE walk.depth < 3
)
SELECT part, CAST(MIN(depth) AS BIGINT) AS hops,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM walk GROUP BY part
"""
    )


_LATERAL_TOP2_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n JOIN LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t ON TRUE
"""


@register("nation_top2_customers_lateral", _LATERAL_TOP2_SQL)
def nation_top2_customers_lateral(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-nation top-2 customers via a correlated LATERAL subquery with
    ORDER BY ... LIMIT — the lateral-join surface of Spark 4's SQL
    dialect, exercised nowhere else in the registry. The SQL text is
    byte-identical on both engines (``JOIN LATERAL ... ON TRUE``).

    Scale shape (verified via .explain): Catalyst decorrelates the
    lateral limit into WindowGroupLimit — a map-side PARTIAL top-2 per
    partition before the single exchange, then the final per-key top-2
    and a broadcast join of the fixed-25-row nation dim. No per-outer-row
    re-execution, no nested loop: the plan is the same shape a
    hand-written two-phase top-k (operators/skew.py) produces, derived
    automatically from the declarative form. Tie-break (c_acctbal DESC,
    c_name) is total, so the row set is deterministic on both engines.
    """
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(
            f"lateral_{t}_tmp"
        )
    return spark.sql(
        _LATERAL_TOP2_SQL.replace("FROM nation n", "FROM lateral_nation_tmp n")
        .replace("FROM customer c", "FROM lateral_customer_tmp c")
    )


@register(
    "schema_fk_inference",
    """
WITH cand AS (
  SELECT 'lineitem.l_orderkey' AS child_col, 'orders.o_orderkey' AS parent_col,
         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_child,
         (SELECT COUNT(DISTINCT l.l_orderkey) FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey) AS n_contained
  UNION ALL
  SELECT 'orders.o_custkey', 'customer.c_custkey',
         (SELECT COUNT(DISTINCT o_custkey) FROM orders),
         (SELECT COUNT(DISTINCT o.o_custkey) FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey)
  UNION ALL
  SELECT 'customer.c_nationkey', 'nation.n_nationkey',
         (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
         (SELECT COUNT(DISTINCT c.c_nationkey) FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
  UNION ALL
  SELECT 'lineitem.l_partkey', 'part.p_partkey',
         (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
         (SELECT COUNT(DISTINCT l.l_partkey) FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey)
  UNION ALL
  SELECT 'orders.o_orderkey', 'customer.c_custkey',
         (SELECT COUNT(DISTINCT o_orderkey) FROM orders),
         (SELECT COUNT(DISTINCT o.o_orderkey) FROM orders o
            JOIN customer c ON o.o_orderkey = c.c_custkey)
)
SELECT child_col, parent_col,
       CAST(n_child AS BIGINT) AS n_child_distinct,
       CAST(n_contained AS BIGINT) AS n_contained,
       CAST(n_contained AS DOUBLE) / CAST(n_child AS DOUBLE)
         AS containment,
       n_contained = n_child AS is_fk_candidate
FROM cand
""",
)
def schema_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key discovery by containment profiling — the metadata-
    inference pass a catalog runs over an undocumented lake: for each
    candidate (child column, parent column) pair, what fraction of the
    child's distinct values exists in the parent. Containment 1.0 marks
    an FK candidate; the deliberately-wrong pair (o_orderkey vs
    c_custkey) shows the discriminating low score.

    Scale shape: per candidate, a distinct-projection of each side (map-
    side combinable) and one keyed semi-join between the two distinct
    sets — the join operates on deduplicated key relations, never the
    raw fact tables; candidates are independent branches unioned into
    one plan, so Spark schedules them concurrently. Exact integer counts
    and an exact ratio; no sampling (the sketch-based swap at extreme
    scale is approx_count_distinct + a Bloom membership probe)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")

    def containment(label, child_df, child_col, parent_label, parent_df,
                    parent_col):
        ch = child_df.select(F.col(child_col).alias("k")).distinct()
        pa = parent_df.select(F.col(parent_col).alias("k")).distinct()
        return (
            ch.join(pa, "k", "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_contained"))
            .crossJoin(
                ch.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_child")
                )
            )
            .select(
                F.lit(label).alias("child_col"),
                F.lit(parent_label).alias("parent_col"),
                F.col("n_child").alias("n_child_distinct"),
                "n_contained",
                (
                    F.col("n_contained").cast("double")
                    / F.col("n_child").cast("double")
                ).alias("containment"),
                (F.col("n_contained") == F.col("n_child")).alias(
                    "is_fk_candidate"
                ),
            )
        )

    cands = [
        containment("lineitem.l_orderkey", li, "l_orderkey",
                    "orders.o_orderkey", o, "o_orderkey"),
        containment("orders.o_custkey", o, "o_custkey",
                    "customer.c_custkey", c, "c_custkey"),
        containment("customer.c_nationkey", c, "c_nationkey",
                    "nation.n_nationkey", n, "n_nationkey"),
        containment("lineitem.l_partkey", li, "l_partkey",
                    "part.p_partkey", p, "p_partkey"),
        containment("orders.o_orderkey", o, "o_orderkey",
                    "customer.c_custkey", c, "c_custkey"),
    ]
    out = cands[0]
    for df in cands[1:]:
        out = out.union(df)
    return out


@register(
    "events_path_trigrams",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS e1, e2, e3,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY event_type, e2, e3
""",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 behavioral sequence mining: counts of every consecutive
    3-step event-type path per user timeline — the raw material for
    funnel discovery and next-action models (the order-2 generalization
    of events_markov_transitions' order-1 matrix).

    One user-keyed window shuffle produces both lookaheads (two lead()
    calls share the frame, Spark evaluates them in a single Window
    node); the trigram count is a combinable aggregate over a key space
    bounded by |event_types|^3, so the shuffle after the window carries
    at most that many rows per partition. Tie-break (ts, event_id) makes
    the per-user ordering total on both engines."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
    )


# ---------------------------------------------------------------------------
# k-anonymity risk audit (data governance)
# ---------------------------------------------------------------------------

K_ANON = 5


@register(
    "customer_k_anonymity",
    f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT) AS rows_below_k,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS DOUBLE)
         / SUM(n) AS at_risk_fraction
FROM g
""",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (c_nationkey, c_mktsegment)
    quasi-identifier set — the release-gate check a pipeline runs before
    publishing a table containing person-level rows: every equivalence
    class of quasi-identifier values must hold >= k individuals, else
    those rows are re-identifiable by linkage. One map-combinable groupBy
    (the class histogram) + a 1-row rollup; at 100 TB the class count is
    bounded by the quasi-identifier domain, not the row count, so the
    second aggregate is trivially small. Reports the class-size floor,
    the violating class/row counts, and the at-risk row fraction (single
    final divide)."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return g.groupBy().agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("n").cast("bigint").alias("min_class_size"),
        F.sum((F.col("n") < K_ANON).cast("bigint"))
        .cast("bigint")
        .alias("classes_below_k"),
        F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_below_k"),
        (
            F.sum(
                F.when(F.col("n") < K_ANON, F.col("n")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("n")
        ).alias("at_risk_fraction"),
    )


# ---------------------------------------------------------------------------
# association rules (market-basket confidence / lift)
# ---------------------------------------------------------------------------


@register(
    "parts_copurchase_rules",
    f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY 1
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRI_MIN_COPURCHASES}
),
dir AS (
  SELECT u AS antecedent, v AS consequent, c FROM e
  UNION ALL
  SELECT v AS antecedent, u AS consequent, c FROM e
)
SELECT d.antecedent, d.consequent, d.c AS n_co,
       ia.n_item AS n_antecedent, ic.n_item AS n_consequent,
       CAST(d.c AS DOUBLE) / ia.n_item AS confidence,
       CAST(d.c * n.n_orders AS DOUBLE) / (ia.n_item * ic.n_item) AS lift
FROM dir d
JOIN item ia ON d.antecedent = ia.l_partkey
JOIN item ic ON d.consequent = ic.l_partkey
CROSS JOIN n
""",
)
def parts_copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over the co-purchase graph (the A-priori
    second pass): every directed rule antecedent -> consequent with pair
    support >= 2 orders, scored with exact-integer sufficient statistics
    — confidence = c/n(antecedent), lift = c*N / (n(a)*n(c)) — each a
    SINGLE final divide over exact ints, so the gate is value-level.

    Scale shape: pair supports come from the same within-order self-join
    as every co-purchase consumer (fact-linear, basket-width-bounded);
    item supports are one map-combinable groupBy; the rule join is two
    keyed joins of the pair relation against the item-support relation
    plus a broadcast 1-row total. This is the full frequent-PAIR rule
    surface; longer itemsets iterate the same join pattern with the
    support filter pruning the lattice (A-priori monotonicity)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=True
    )
    n = op.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    item = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    e = _copurchase_edges(li, _TRI_MIN_COPURCHASES, keep_weight=True).select(
        "u", "v", F.col("n_copurchases").cast("bigint").alias("c")
    )
    direct = e.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "c"
    ).unionByName(
        e.select(
            F.col("v").alias("antecedent"),
            F.col("u").alias("consequent"),
            "c",
        )
    )
    return (
        direct.join(
            item.withColumnsRenamed(
                {"l_partkey": "antecedent", "n_item": "n_antecedent"}
            ),
            "antecedent",
        )
        .join(
            item.withColumnsRenamed(
                {"l_partkey": "consequent", "n_item": "n_consequent"}
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("c").alias("n_co"),
            "n_antecedent",
            "n_consequent",
            (F.col("c").cast("double") / F.col("n_antecedent")).alias(
                "confidence"
            ),
            (
                (F.col("c") * F.col("n_orders")).cast("double")
                / (F.col("n_antecedent") * F.col("n_consequent"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# bounded-hop weighted shortest path (min-plus semiring)
# ---------------------------------------------------------------------------


@register(
    "parts_copurchase_sssp",
    f"""
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
eu AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRI_MIN_COPURCHASES}
),
e AS MATERIALIZED (
  SELECT u, v, greatest(1, 10 - c) AS w FROM eu
  UNION ALL
  SELECT v AS u, u AS v, greatest(1, 10 - c) AS w FROM eu
),
walk(part, dist, depth) AS (
  SELECT l_partkey AS part, CAST(0 AS BIGINT) AS dist, 0 AS depth
  FROM (SELECT DISTINCT l_partkey FROM lineitem) s
  WHERE l_partkey % 100 = 0
  UNION ALL
  SELECT e.v AS part, walk.dist + e.w AS dist, walk.depth + 1 AS depth
  FROM walk JOIN e ON walk.part = e.u
  WHERE walk.depth < 3
)
SELECT part, CAST(MIN(dist) AS BIGINT) AS min_dist
FROM walk GROUP BY part
""",
)
def parts_copurchase_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest path, bounded at 3 hops, over the
    co-purchase graph — the MIN-PLUS semiring Pregel kernel, completing
    the set next to reachability (boolean OR) and PageRank (sum-times).
    Edge weight = max(1, 10 - co-purchase count): stronger co-purchase,
    shorter distance — the "related products" ranking signal.

    Spark side runs 3 rounds of distributed relaxation: frontier ⋈ edges
    -> (neighbor, dist + w), union with the standing distances, then one
    combinable MIN aggregate per round; each round's result is
    localCheckpoint-ed so lineage stays flat and the edge relation is
    reused checkpointed across rounds. Per-round traffic is frontier x
    avg-degree — no whole-graph materialization beyond the distance table.
    The oracle re-derives the identical relaxation with a recursive CTE
    accumulating path weights and taking MIN per vertex; distances are
    exact integers, so the gate is a full value match."""
    li = load_table(spark, sf_dir, "lineitem")
    eu = _copurchase_edges(li, _TRI_MIN_COPURCHASES, keep_weight=True)
    w = F.greatest(F.lit(1), F.lit(10) - F.col("n_copurchases")).cast(
        "bigint"
    )
    e = (
        eu.select("u", "v", w.alias("w"))
        .unionByName(
            eu.select(
                F.col("v").alias("u"), F.col("u").alias("v"), w.alias("w")
            )
        )
        .localCheckpoint(eager=True)
    )
    dist = (
        li.select("l_partkey")
        .distinct()
        .filter(F.col("l_partkey") % 100 == 0)
        .select(
            F.col("l_partkey").alias("part"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(3):
        # Round-12 (guide §1.2/§2.4): the relax join + per-vertex MIN is
        # computed ONCE per round (lazy checkpoint, shared by the merge
        # and the next round's frontier — the old shape re-ran the
        # frontier⋈edges join for both eager materializations), and the
        # min-merge is one vertex-keyed full-outer join instead of
        # re-shuffling the standing distance table through a union-agg.
        # All checkpoints are lazy: the fixed 3-round chain materializes
        # inside the query's single action, zero per-round driver jobs.
        relaxed_min = (
            frontier.join(e, frontier["part"] == e["u"])
            .select(
                F.col("v").alias("part"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("part")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        dist = (
            dist.withColumnsRenamed({"dist": "odist"})
            .join(
                relaxed_min.withColumnsRenamed({"dist": "rdist"}),
                "part",
                "full_outer",
            )
            .select(
                "part",
                F.least(
                    F.coalesce(F.col("odist"), F.col("rdist")),
                    F.coalesce(F.col("rdist"), F.col("odist")),
                ).alias("dist"),
            )
            .localCheckpoint(eager=False)
        )
        frontier = relaxed_min
    return dist.select("part", F.col("dist").alias("min_dist"))


#: Hard cap for the CONVERGED Bellman-Ford relaxation. Measured fixture
#: convergence depth (DuckDB replay of the identical relaxation,
#: including the final no-op round): sf0.001 -> 4, sf0.01 -> 8,
#: sf0.1 -> 6 — all well under 16. The Spark loop raises if the cap is
#: hit without convergence (same contract as the converged k-core).
_SSSP_CONV_MAX = 16


def _sssp_conv_sql(rounds: int) -> str:
    """Generated unrolled oracle for the CONVERGED SSSP: `rounds`
    materialized relaxation rounds d0..dN, each taking the element-wise
    MIN of the previous distance table and its one-hop relaxation.
    Rounds past convergence are no-ops (MIN of an unchanged table), so
    the unroll equals the fixpoint whenever convergence happens within
    `rounds` — and the Spark side raises if it does not. Every CTE is
    MATERIALIZED: DuckDB inlines plain CTEs per reference and an
    unrolled iterative chain re-expands exponentially (the round-5
    kcore-oracle ENOSPC lesson)."""
    parts = [
        f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
eu AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRI_MIN_COPURCHASES}
),
e AS MATERIALIZED (
  SELECT u, v, greatest(1, 10 - c) AS w FROM eu
  UNION ALL
  SELECT v AS u, u AS v, greatest(1, 10 - c) AS w FROM eu
),
d0 AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS part, CAST(0 AS BIGINT) AS dist
  FROM lineitem WHERE l_partkey % 100 = 0
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT part, MIN(dist) AS dist FROM (
    SELECT part, dist FROM d{r - 1}
    UNION ALL
    SELECT e.v AS part, d{r - 1}.dist + e.w AS dist
    FROM d{r - 1} JOIN e ON d{r - 1}.part = e.u
  ) GROUP BY part
)"""
        )
    parts.append(
        f"\nSELECT part, CAST(dist AS BIGINT) AS min_dist FROM d{rounds}"
    )
    return "".join(parts)


@register(
    "parts_copurchase_sssp_converged",
    _sssp_conv_sql(rounds=_SSSP_CONV_MAX),
)
def parts_copurchase_sssp_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted shortest paths relaxed TO A FIXPOINT (true Bellman-Ford
    termination, the production contract) rather than a fixed hop bound:
    each round relaxes the improved frontier, and the loop exits when a
    round improves NO vertex's distance. The only driver-side check per
    round is a scalar ``improved.isEmpty()`` on a checkpointed relation
    — no data is collected; everything stays distributed.

    Oracle equivalence: the generated unrolled oracle runs the SAME
    relaxation for ``_SSSP_CONV_MAX`` rounds over the FULL distance
    table; frontier-based relaxation reaches the identical fixpoint
    (relaxing non-improved vertices only re-derives dominated
    candidates), rounds past convergence are no-ops, and the Spark side
    RAISES if convergence does not happen within the cap — so the
    equivalence can never silently drift. Together with
    parts_copurchase_kcore_converged this proves the fixpoint-loop
    machinery on BOTH monotone directions (peeling shrinks a set;
    relaxation lowers a bound).

    Scale shape: identical per-round plan to parts_copurchase_sssp
    (frontier ⋈ edges, combinable MIN merges, checkpointed frontiers for
    flat lineage) plus one isEmpty() job per round on the improved set —
    which SHRINKS monotonically toward empty; at 100 TB this is
    standard Pregel-style synchronous relaxation with driver-side
    convergence testing on a scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    eu = _copurchase_edges(li, _TRI_MIN_COPURCHASES, keep_weight=True)
    w = F.greatest(F.lit(1), F.lit(10) - F.col("n_copurchases")).cast(
        "bigint"
    )
    e = (
        eu.select("u", "v", w.alias("w"))
        .unionByName(
            eu.select(
                F.col("v").alias("u"), F.col("u").alias("v"), w.alias("w")
            )
        )
        .localCheckpoint(eager=True)
    )
    dist = (
        li.select("l_partkey")
        .distinct()
        .filter(F.col("l_partkey") % 100 == 0)
        .select(
            F.col("l_partkey").alias("part"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    dist = _sssp_relax_loop(dist, dist, e, "converged")
    return dist.select("part", F.col("dist").alias("min_dist"))


def _sssp_round(dist, frontier, e):
    """ONE Bellman-Ford relaxation step: frontier ⋈ edges, min-merge
    into the distance table, strictly-improved rows become the next
    frontier. Un-checkpointed — shared by the fixpoint loop below AND
    pinned directly by tests/test_plan_shapes.py (the loop checkpoints
    each round, so the registry plan ratchet only sees its tail).
    Returns the merged STATE relation (part, dist, improved): the new
    distance table with the strictly-improved frontier flag inline.

    Round-12 restructure (guide §1.2/§2.3): the relaxation candidates
    are MIN-aggregated per vertex first (combinable — the shuffle
    carries one row per vertex touched, exactly as before), then merged
    into the standing distances with ONE vertex-keyed FULL OUTER join
    that produces the new distance AND the strictly-improved flag in
    the same relation. The old shape (union → groupBy min, then a
    second new⋈old left join to find improvements) re-shuffled the
    standing distance table every round and aligned old-vs-new in a
    separate join; least(old, relaxed_min) over the outer join is the
    identical min-merge, and ``improved`` ⟺ (old IS NULL OR relaxed_min
    < old) is the identical frontier predicate — same fixpoint
    trajectory round by round, one relation instead of two."""
    relaxed = frontier.join(e, frontier["part"] == e["u"]).select(
        F.col("v").alias("part"),
        (F.col("dist") + F.col("w")).alias("dist"),
    )
    rmin = relaxed.groupBy("part").agg(F.min("dist").alias("rdist"))
    merged = (
        dist.withColumnsRenamed({"dist": "odist"})
        .join(rmin, "part", "full_outer")
        .select(
            "part",
            F.least(
                F.coalesce(F.col("odist"), F.col("rdist")),
                F.coalesce(F.col("rdist"), F.col("odist")),
            ).alias("dist"),
            F.coalesce(
                F.col("odist").isNull()
                | (F.col("rdist") < F.col("odist")),
                F.lit(False),
            ).alias("improved"),
        )
    )
    return merged


def _sssp_relax_loop(dist, frontier, e, what: str):
    """Frontier-based Bellman-Ford relaxation to a fixpoint (shared by
    the converged and incremental SSSP gates): relax the frontier over
    ``e``, min-merge into ``dist``, continue from the strictly-improved
    rows; raise past ``_SSSP_CONV_MAX`` rounds (silent truncation would
    break the fixpoint contract AND the oracle equivalence).

    ONE action per round (round-12, guide §1.2): the round's merged
    state relation carries the improved flag, its LAZY checkpoint is
    materialized by the round's single convergence aggregate (the
    dup_clusters convention), and the next round's dist/frontier are
    projections/filters over the checkpointed state — flat lineage with
    no per-round eager-checkpoint jobs and no separate isEmpty() job
    (the old shape paid 3 driver actions per round). The trajectory is
    unchanged: `improved` here equals the old strictly-improved
    predicate row for row, and the loop exits on the first round that
    improves nothing — the same round count as the old loop's
    trailing isEmpty() detection."""
    for _ in range(_SSSP_CONV_MAX):
        merged = _sssp_round(dist, frontier, e).localCheckpoint(
            eager=False
        )
        n_improved = merged.agg(
            F.coalesce(
                F.sum(F.col("improved").cast("bigint")), F.lit(0)
            )
        ).first()[0]
        dist = merged.select("part", "dist")
        if n_improved == 0:
            return dist
        frontier = merged.filter(F.col("improved")).select("part", "dist")
    raise RuntimeError(
        f"SSSP ({what}) did not converge within {_SSSP_CONV_MAX} "
        "rounds — raise _SSSP_CONV_MAX (the unrolled oracle must "
        "cover the fixture's true convergence depth)"
    )


@register(
    "parts_copurchase_sssp_incremental",
    _sssp_conv_sql(rounds=_SSSP_CONV_MAX),
)
def parts_copurchase_sssp_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL shortest-path maintenance — the arriving-edges form of
    parts_copurchase_sssp_converged, and the 100 TB reason iterative
    results are kept as tables at all: when a delta of edges lands, a
    production pipeline must NOT re-relax the whole graph from scratch;
    it relaxes the delta edges against the existing distance table and
    propagates only from the vertices that actually improved (the
    affected region), which is tiny when the delta is.

    Mechanics: the fixture's edge set splits deterministically into a
    base graph (~80%, (u+v) % 5 != 0) and a delta (~20%). Phase 1
    converges distances on the base graph; phase 2 relaxes ONLY the
    delta edges against the warm distances, seeds the frontier with the
    strictly-improved rows, and re-enters the same fixpoint loop over
    the MERGED edge set. Min-plus relaxation from any valid upper bound
    reaches the true fixpoint, and every improvement chain on the merged
    graph begins with a delta edge (base-only chains are already at
    fixpoint), so the warm-started result EQUALS the full-graph fixpoint
    — which is exactly what the gate asserts: the oracle is the SAME
    unrolled full-graph relaxation the converged query uses, so any
    incremental shortcut that loses an improvement path breaks the hash.

    Scale shape: phase-2 cost is proportional to the delta's affected
    region (frontier-sized joins), not the graph; both phases share the
    checkpointed-frontier, scalar-isEmpty loop of the converged gate."""
    li = load_table(spark, sf_dir, "lineitem")
    eu = _copurchase_edges(li, _TRI_MIN_COPURCHASES, keep_weight=True)
    w = F.greatest(F.lit(1), F.lit(10) - F.col("n_copurchases")).cast(
        "bigint"
    )
    e_all = (
        eu.select("u", "v", w.alias("w"))
        .unionByName(
            eu.select(
                F.col("v").alias("u"), F.col("u").alias("v"), w.alias("w")
            )
        )
        .localCheckpoint(eager=True)
    )
    is_delta = (F.col("u") + F.col("v")) % 5 == 0  # symmetric in (u, v)
    e_base = e_all.filter(~is_delta).localCheckpoint(eager=True)
    e_delta = e_all.filter(is_delta).localCheckpoint(eager=True)
    sources = (
        li.select("l_partkey")
        .distinct()
        .filter(F.col("l_partkey") % 100 == 0)
        .select(
            F.col("l_partkey").alias("part"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    dist = _sssp_relax_loop(sources, sources, e_base, "base")
    # delta arrival: one relaxation of the delta edges alone against the
    # warm distance table; the strictly-improved rows seed the frontier.
    # The merged state carries both in one checkpointed relation (one
    # materialization, not two — the round-12 loop convention).
    md = _sssp_round(dist, dist, e_delta).localCheckpoint(eager=True)
    new_dist = md.select("part", "dist")
    seed = md.filter(F.col("improved")).select("part", "dist")
    final = _sssp_relax_loop(new_dist, seed, e_all, "incremental")
    return final.select("part", F.col("dist").alias("min_dist"))


# ---------------------------------------------------------------------------
# Compliance / metadata ops (round 5b): GDPR deletion cascade, functional-
# dependency discovery, sampling-based join-cardinality estimation
# ---------------------------------------------------------------------------


@register(
    "customer_deletion_cascade",
    """
WITH del_c AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 97 = 0
),
del_o AS (
  SELECT o.o_orderkey, d.c_nationkey
  FROM orders o JOIN del_c d ON o.o_custkey = d.c_custkey
),
del_l AS (
  SELECT o.c_nationkey,
         CAST(count(*) AS BIGINT) AS n_lineitems,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
           AS revenue_e4
  FROM lineitem l JOIN del_o o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.c_nationkey
)
SELECT n.n_name,
       CAST(cnt.n_customers AS BIGINT) AS n_customers,
       CAST(COALESCE(oc.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(dl.n_lineitems, 0) AS BIGINT) AS n_lineitems,
       CAST(COALESCE(dl.revenue_e4, 0) AS BIGINT) AS revenue_removed_e4
FROM (SELECT c_nationkey, count(*) AS n_customers
      FROM del_c GROUP BY c_nationkey) cnt
JOIN nation n ON n.n_nationkey = cnt.c_nationkey
LEFT JOIN (SELECT c_nationkey, count(*) AS n_orders
           FROM del_o GROUP BY c_nationkey) oc
  ON oc.c_nationkey = cnt.c_nationkey
LEFT JOIN del_l dl ON dl.c_nationkey = cnt.c_nationkey
""",
)
def customer_deletion_cascade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) impact report: given a deletion
    list of customers (deterministic 1/97 keyset standing in for the
    request table), count the full referential cascade — orders, line
    items — and the exact revenue the erasure removes, grouped by the
    deleted customers' nation.

    Production shape for a 100 TB store: the deletion list is
    request-bounded but treated as SF-linear here (no broadcast hint —
    every hop is a plain keyed join AQE sizes at runtime). customer →
    orders joins on custkey, orders → lineitem on orderkey; both
    aggregates are combinable counts/sums of exact integer cents
    (cents × discount-cents = 1e-4 units, the repo's cross-engine
    convention), so the cascade costs two fact-linear shuffles and the
    final per-nation rollup is dimension-bounded (25 rows). del_c and
    del_o each feed multiple join branches, so both are checkpointed
    (the repo's multi-consumer convention) — without that the customer
    scan runs three times and the orders⋈del_c join twice. The same
    plan with the counts replaced by DELETE writes is the actual
    erasure job; the report IS its dry-run audit."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")

    del_c = (
        c.filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey", "c_nationkey")
        .localCheckpoint(eager=True)
    )
    del_o = (
        o.join(del_c, o.o_custkey == del_c.c_custkey)
        .select("o_orderkey", "c_nationkey")
        .localCheckpoint(eager=True)
    )
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast(
        "bigint"
    ) * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
    del_l = (
        li.join(del_o, li.l_orderkey == del_o.o_orderkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum(rev_e4).alias("revenue_e4"),
        )
    )
    cnt = del_c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    oc = del_o.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    return (
        cnt.join(n, cnt.c_nationkey == n.n_nationkey)
        .join(oc, "c_nationkey", "left")
        .join(del_l, "c_nationkey", "left")
        .select(
            "n_name",
            "n_customers",
            F.coalesce(F.col("n_orders"), F.lit(0))
            .cast("bigint")
            .alias("n_orders"),
            F.coalesce(F.col("n_lineitems"), F.lit(0))
            .cast("bigint")
            .alias("n_lineitems"),
            F.coalesce(F.col("revenue_e4"), F.lit(0))
            .cast("bigint")
            .alias("revenue_removed_e4"),
        )
    )


@register(
    "customer_scd2_merge",
    """
WITH cust AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
d AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS add_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
)
SELECT c.c_custkey, CAST(1 AS BIGINT) AS version,
       c.cents AS acctbal_cents,
       '1995-01-01' AS valid_from, '1997-01-01' AS valid_to,
       FALSE AS is_current
FROM cust c JOIN d ON c.c_custkey = d.o_custkey
UNION ALL
SELECT c.c_custkey, CAST(2 AS BIGINT), c.cents + d.add_cents,
       '1997-01-01', CAST(NULL AS VARCHAR), TRUE
FROM cust c JOIN d ON c.c_custkey = d.o_custkey
UNION ALL
SELECT c.c_custkey, CAST(1 AS BIGINT), c.cents,
       '1995-01-01', CAST(NULL AS VARCHAR), TRUE
FROM cust c
WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.o_custkey = c.c_custkey)
""",
)
def customer_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: apply a change batch to a
    dimension snapshot, emitting the full versioned history — closed-out
    prior versions (valid_to = effective date, is_current = false), new
    current versions, and untouched rows passing through as current. The
    change batch is derived deterministically from the fact table
    (per-customer 1997 order totals, exact integer cents) so the merge is
    oracle-checkable without a mutable-state fixture; in production the
    batch is the CDC feed and the output overwrites the dimension's
    history partition.

    Scale shape: ONE aggregation over the SF-linear change source and
    ONE customer⋈delta equi-join computed once and checkpointed (it
    feeds both the close-out branch and the new-version branch — the
    repo's multi-consumer convention), plus an anti join for the
    pass-through rows. No broadcast hints: the delta is order-book-sized
    and AQE decides every build side at runtime. All three branches are
    column-projections of the shared join — the merge costs two shuffles
    (delta aggregate, join) at any SF."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cust = c.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    ).localCheckpoint(eager=True)
    delta = (
        o.filter(
            (F.col("o_orderdate")
             >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("add_cents")
        )
    )
    upd = cust.join(
        delta, cust.c_custkey == delta.o_custkey
    ).localCheckpoint(eager=True)
    closed = upd.select(
        "c_custkey",
        F.lit(1).cast("bigint").alias("version"),
        F.col("cents").alias("acctbal_cents"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit("1997-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh = upd.select(
        "c_custkey",
        F.lit(2).cast("bigint").alias("version"),
        (F.col("cents") + F.col("add_cents")).alias("acctbal_cents"),
        F.lit("1997-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    passthrough = cust.join(
        delta, cust.c_custkey == delta.o_custkey, "left_anti"
    ).select(
        "c_custkey",
        F.lit(1).cast("bigint").alias("version"),
        F.col("cents").alias("acctbal_cents"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(fresh).unionByName(passthrough)


@register(
    "orders_fd_violations",
    """
WITH f1 AS (
  SELECT 'o_custkey->o_orderpriority' AS fd,
         CAST(count(*) AS BIGINT) AS lhs_groups,
         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS violating_lhs,
         CAST(max(nd) AS BIGINT) AS max_rhs
  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
        FROM orders GROUP BY o_custkey)
),
f2 AS (
  SELECT 'p_partkey->p_brand', count(*),
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd)
  FROM (SELECT p_partkey, count(DISTINCT p_brand) AS nd
        FROM part GROUP BY p_partkey)
),
f3 AS (
  SELECT 'p_brand->p_type', count(*),
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd)
  FROM (SELECT p_brand, count(DISTINCT p_type) AS nd
        FROM part GROUP BY p_brand)
),
f4 AS (
  SELECT 'c_nationkey->n_regionkey', count(*),
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd)
  FROM (SELECT c.c_nationkey, count(DISTINCT n.n_regionkey) AS nd
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY c.c_nationkey)
),
u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
SELECT fd, lhs_groups, violating_lhs, max_rhs,
       CASE WHEN violating_lhs = 0 THEN 'holds' ELSE 'violated' END
         AS verdict
FROM u
""",
)
def orders_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate FDs — the
    profiling pass schema-inference and data-contract tools run before
    trusting a column as a key or a derivable attribute (complements
    schema_fk_inference, which checks CROSS-table containment; this
    checks WITHIN-row determination).

    Each candidate FD lhs→rhs is one groupBy(lhs) countDistinct(rhs):
    map-side partial distinct then a keyed shuffle on lhs — never a
    pair join. The four verdict rows include a true key
    (p_partkey→p_brand), a dimension-derived FD that genuinely holds
    (c_nationkey→n_regionkey through the nation join), and two that the
    data violates, so both verdict branches are exercised under the
    hash gate. At 100 TB, candidate-FD checking stays one shuffle per
    FD over combinable partial aggregates; the summary is 4 rows."""
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def fd(name: str, grouped: DataFrame) -> DataFrame:
        return grouped.agg(
            F.count(F.lit(1)).cast("bigint").alias("lhs_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_lhs"),
            F.max("nd").cast("bigint").alias("max_rhs"),
        ).select(F.lit(name).alias("fd"), "*")

    f1 = fd(
        "o_custkey->o_orderpriority",
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("nd"))
        .groupBy(),
    )
    f2 = fd(
        "p_partkey->p_brand",
        p.groupBy("p_partkey")
        .agg(F.countDistinct("p_brand").alias("nd"))
        .groupBy(),
    )
    f3 = fd(
        "p_brand->p_type",
        p.groupBy("p_brand")
        .agg(F.countDistinct("p_type").alias("nd"))
        .groupBy(),
    )
    f4 = fd(
        "c_nationkey->n_regionkey",
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_nationkey")
        .agg(F.countDistinct("n_regionkey").alias("nd"))
        .groupBy(),
    )
    u = f1.unionByName(f2).unionByName(f3).unionByName(f4)
    return u.select(
        "fd",
        "lhs_groups",
        "violating_lhs",
        "max_rhs",
        F.when(F.col("violating_lhs") == 0, "holds")
        .otherwise("violated")
        .alias("verdict"),
    )


@register(
    "lineitem_join_size_estimate",
    """
WITH pk AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey
),
exact AS (SELECT SUM(c * c) AS exact_size FROM pk),
est AS (
  SELECT 101 * SUM(c * c) AS est_size
  FROM pk WHERE (l_partkey * 2654435761) % 101 = 0
)
SELECT CAST(exact.exact_size AS BIGINT) AS exact_size,
       CAST(est.est_size AS BIGINT) AS est_size,
       CAST(abs(est.est_size - exact.exact_size) * 1000000
            // exact.exact_size AS BIGINT) AS abs_err_ppm
FROM exact, est
""",
)
def lineitem_join_size_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampling-based join-cardinality estimation — the
    optimizer-statistics problem: |R ⋈_k R| = Σ_k c(k)² for the
    lineitem self-join on partkey, estimated from a deterministic 1/101
    hash sample OF KEYS (not rows — per-key counts must stay complete,
    or c(k)² is biased low) and compared against the exact size, with
    the relative error reported in exact ppm.

    The key-sample estimator is what cost-based optimizers and
    skew-detection passes actually compute before choosing a join
    strategy; keeping per-key counts exact makes the estimate an
    unbiased Horvitz–Thompson scale-up. Shape: ONE combinable
    groupBy(partkey) count feeds both the exact and sampled sums
    (localCheckpoint — the fact table is scanned once), then two 1-row
    aggregates broadcast-cross into the comparison row. The ppm error
    is integer: |est−exact|·10⁶ div exact — no float accumulation."""
    li = load_table(spark, sf_dir, "lineitem")
    pk = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    exact = pk.agg(F.sum(F.col("c") * F.col("c")).alias("exact_size"))
    est = pk.filter((F.col("l_partkey") * 2654435761) % 101 == 0).agg(
        (F.lit(101) * F.sum(F.col("c") * F.col("c"))).alias("est_size")
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            F.col("exact_size").cast("bigint").alias("exact_size"),
            F.col("est_size").cast("bigint").alias("est_size"),
            F.expr(
                "CAST(abs(est_size - exact_size) * 1000000 div exact_size"
                " AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition (round 5b): fixed-round peeling on the co-purchase
# graph — the degree-constrained-subgraph class next to PageRank (mass
# propagation), CC (label propagation) and SSSP (distance relaxation)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """GENERATED oracle: the peel loop unrolled into explicit CTE levels
    (one degree + remove + induced-subgraph triple per round), so DuckDB
    re-executes the identical fixed-round semantics without recursion.

    Every CTE is MATERIALIZED: DuckDB inlines non-materialized CTEs per
    reference, and this chain references each level several times, so
    the un-hinted form re-expands the whole peel tree exponentially —
    at sf0.1 it spilled >80 GB of temp before ENOSPC, while the
    materialized form runs in 0.4 s (found by the round-5 sf0.1 sweep;
    semantics and results are identical)."""
    ctes = [
        f"""e0 AS (
  WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_COPURCHASES}
)""",
        "v0 AS (SELECT u AS part FROM e0 UNION SELECT v FROM e0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes += [
            f"""d{r} AS (
  SELECT x, count(*) AS deg
  FROM (SELECT u AS x FROM e{p} UNION ALL SELECT v FROM e{p})
  GROUP BY x
)""",
            f"""dd{r} AS (
  SELECT v{p}.part, COALESCE(d{r}.deg, 0) AS deg
  FROM v{p} LEFT JOIN d{r} ON d{r}.x = v{p}.part
)""",
            f"rm{r} AS (SELECT part FROM dd{r} WHERE deg < {k})",
            f"v{r} AS (SELECT part FROM dd{r} WHERE deg >= {k})",
            f"""e{r} AS (
  SELECT e.u, e.v FROM e{p} e
  JOIN v{r} a ON e.u = a.part JOIN v{r} b ON e.v = b.part
)""",
        ]
    ctes.append(
        f"""dfin AS (
  SELECT x, count(*) AS deg
  FROM (SELECT u AS x FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
  GROUP BY x
)"""
    )
    removed = "\nUNION ALL\n".join(
        f"SELECT part, CAST({r} AS BIGINT) AS removed_round,"
        f" CAST(0 AS BIGINT) AS final_degree FROM rm{r}"
        for r in range(1, rounds + 1)
    )
    joined = ",\n".join(ctes).replace(" AS (", " AS MATERIALIZED (")
    return f"""
WITH {joined}
{removed}
UNION ALL
SELECT v{rounds}.part, CAST(0 AS BIGINT) AS removed_round,
       CAST(COALESCE(dfin.deg, 0) AS BIGINT) AS final_degree
FROM v{rounds} LEFT JOIN dfin ON dfin.x = v{rounds}.part
"""


def _kcore_degrees(verts: DataFrame, edges: DataFrame) -> DataFrame:
    """In-subgraph degree per live vertex (0 for isolated) — one half of
    the k-core peel round, shared by the fixed-round and converged gates
    AND pinned by tests/test_plan_shapes.py (the loops checkpoint each
    round, so the registry plan ratchet only sees their tails)."""
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return verts.join(deg, verts.part == deg.x, "left").select(
        "part", F.coalesce(F.col("deg"), F.lit(0)).alias("deg")
    )


def _kcore_induce(edges: DataFrame, verts: DataFrame) -> DataFrame:
    """Subgraph induced by the surviving vertex set — the other half of
    the peel round (two keyed semi-join-shaped joins, edge-linear)."""
    a = verts.select(F.col("part").alias("u"))
    b = verts.select(F.col("part").alias("v"))
    return edges.join(a, "u").join(b, "v")


@register("parts_copurchase_kcore", _kcore_sql())
def parts_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3, 3 synchronous peel rounds) of the
    co-purchase graph: each round computes in-subgraph degrees, removes
    every vertex below k, and induces the surviving subgraph — the
    degree-constrained peeling kernel behind community cores, spam/bot
    subgraph mining and graph sparsification.

    Fixed-round contract (like parts_copurchase_pagerank's 3 rounds):
    the output labels each vertex with its removal round (1-3) or 0 for
    the round-3 survivors together with their remaining degree —
    survivors below k simply haven't been peeled YET, which the
    generated unrolled oracle reproduces exactly.

    Scale shape: per round, one combinable degree aggregate over the
    live edge list plus two semi-join-shaped keyed joins to induce the
    subgraph — all edge-linear, no broadcast hints (AQE sizes the
    shrinking vertex sets), each round's frontier localCheckpoint-ed so
    the lineage stays flat across rounds (the SSSP/PageRank
    convention). Removed-vertex sets are dimension-bounded outputs,
    never collected to the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li, _TRI_MIN_COPURCHASES)
    verts = (
        edges.select(F.col("u").alias("part"))
        .union(edges.select("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    removed_parts = []
    for r in range(1, _KCORE_ROUNDS + 1):
        # Round-12 (guide §1.2): ONE lazy checkpoint per round relation.
        # The degree table is materialized once and the removed set /
        # surviving vertex set are plain filters over it (the old shape
        # eagerly checkpointed all three — 3 driver jobs per round
        # recomputing the degree aggregate); the induced edge list stays
        # a checkpoint so round r+1's degree aggregate reads flat
        # lineage. All lazy: the fixed 3-round chain materializes inside
        # the query's single action.
        dd = _kcore_degrees(verts, edges).localCheckpoint(eager=False)
        rm = dd.filter(F.col("deg") < _KCORE_K).select("part")
        removed_parts.append(
            rm.select(
                "part",
                F.lit(r).cast("bigint").alias("removed_round"),
                F.lit(0).cast("bigint").alias("final_degree"),
            )
        )
        verts = dd.filter(F.col("deg") >= _KCORE_K).select("part")
        edges = _kcore_induce(edges, verts).localCheckpoint(eager=False)
    survivors = _kcore_degrees(verts, edges).select(
        "part",
        F.lit(0).cast("bigint").alias("removed_round"),
        F.col("deg").cast("bigint").alias("final_degree"),
    )
    out = survivors
    for rm in removed_parts:
        out = out.unionByName(rm)
    return out


#: Hard cap for the CONVERGED k-core peel. Measured fixture convergence
#: depth (DuckDB replay of the identical peel): sf0.001 -> 0 removing
#: rounds, sf0.01 -> 10, sf0.1 -> 2 — all well under 16. The Spark loop
#: raises if the cap is hit without convergence (a silent truncation
#: would break the fixpoint contract AND the oracle equivalence).
_KCORE_CONV_MAX = 16


@register(
    "parts_copurchase_kcore_converged",
    _kcore_sql(rounds=_KCORE_CONV_MAX),
)
def parts_copurchase_kcore_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-core decomposition peeled TO A FIXPOINT (production contract),
    not a fixed round count: each synchronous round removes every vertex
    with in-subgraph degree < k and the loop exits when a round removes
    nothing. The only driver-side check per round is a scalar
    ``rm.isEmpty()`` on the (checkpointed) removed set — no data is
    collected, and every relation stays distributed.

    Oracle equivalence: the generated unrolled oracle runs the SAME peel
    for ``_KCORE_CONV_MAX`` rounds. Rounds past convergence are no-ops —
    the removed set is empty, the induced subgraph is unchanged — so the
    16-round unroll equals the fixpoint whenever convergence happens
    within 16 rounds, and the Spark side RAISES if it does not, so the
    equivalence can never silently drift. (DuckDB CTEs materialized: the
    non-hinted chain re-expands exponentially — round-5 ENOSPC lesson.)

    Scale shape: identical per-round plan to parts_copurchase_kcore
    (combinable degree aggregate + two keyed induced-subgraph joins,
    everything edge-linear, localCheckpoint-ed frontiers for flat
    lineage); the loop adds one isEmpty() job per round, each bounded by
    the shrinking removed set. At 100 TB the peel is the standard
    Pregel-style synchronous iteration with driver-side convergence
    testing on a 1-element scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li, _TRI_MIN_COPURCHASES)
    verts = (
        edges.select(F.col("u").alias("part"))
        .union(edges.select("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    removed_parts = []
    converged = False
    for r in range(1, _KCORE_CONV_MAX + 1):
        # ONE action per round (round-12, guide §1.2): the degree
        # table's LAZY checkpoint is materialized by the round's single
        # below-k count aggregate (the dup_clusters convention) —
        # replacing the eager degree checkpoint + isEmpty job + eager
        # verts checkpoint (the removed set and the surviving vertex set
        # are plain filters over the checkpointed degrees). The induced
        # edge list stays a lazy checkpoint, materialized by the NEXT
        # round's aggregate, keeping lineage flat across rounds.
        dd = _kcore_degrees(verts, edges).localCheckpoint(eager=False)
        n_below = dd.agg(
            F.coalesce(
                F.sum((F.col("deg") < _KCORE_K).cast("bigint")),
                F.lit(0),
            )
        ).first()[0]
        if n_below == 0:  # fixpoint: this round removes nothing
            converged = True
            break
        rm = dd.filter(F.col("deg") < _KCORE_K).select("part")
        removed_parts.append(
            rm.select(
                "part",
                F.lit(r).cast("bigint").alias("removed_round"),
                F.lit(0).cast("bigint").alias("final_degree"),
            )
        )
        verts = dd.filter(F.col("deg") >= _KCORE_K).select("part")
        edges = _kcore_induce(edges, verts).localCheckpoint(eager=False)
    if not converged:
        raise RuntimeError(
            f"k-core did not converge within {_KCORE_CONV_MAX} rounds — "
            "raise _KCORE_CONV_MAX (the unrolled oracle must cover the "
            "fixture's true convergence depth)"
        )
    survivors = _kcore_degrees(verts, edges).select(
        "part",
        F.lit(0).cast("bigint").alias("removed_round"),
        F.col("deg").cast("bigint").alias("final_degree"),
    )
    out = survivors
    for rm_df in removed_parts:
        out = out.unionByName(rm_df)
    return out


# ---------------------------------------------------------------------------
# concentration + conformance audits (round 5d)
# ---------------------------------------------------------------------------

_GINI_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_nationkey,
         COALESCE(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
           AS cents
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_nationkey
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_nationkey ORDER BY cents, c_custkey) AS i
  FROM spend
),
agg AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS iw
  FROM ranked GROUP BY c_nationkey
)
SELECT n.n_name AS nation, a.n_customers, a.total_cents,
       CASE WHEN a.total_cents = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * a.iw - (CAST(a.n_customers AS HUGEINT) + 1)
                  * CAST(a.total_cents AS HUGEINT)) * 1000000
                 // (CAST(a.n_customers AS HUGEINT)
                     * CAST(a.total_cents AS HUGEINT)) AS BIGINT)
       END AS gini_ppm
FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
"""


@register("customer_spend_gini", _GINI_SQL)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer spend — the concentration
    audit next to brand_revenue_pareto's cumulative-share view: one exact
    scalar per segment answering "how unequal is this segment's revenue
    distribution", for mix monitoring and skew-risk triage.

    Exact rank formulation G = (2·Σi·x_i − (n+1)·Σx_i) / (n·Σx_i) over
    ascending spend (ties broken by custkey, identically on both
    engines), computed in integer cents with the rank-weighted sum in
    decimal(38,0)/HUGEINT — no floats anywhere, result as floor ppm.
    Customers with no orders enter at spend 0 (left join), which is what
    makes the inequality statistic honest.

    Scale shape: the spend rollup is one fact-linear combinable groupBy;
    the rank window partitions by NATION (bounded partitions of
    customer/25 rows — the same per-segment-window contract as
    customer_balance_ntiles); the Gini arithmetic runs on a 25-row
    aggregate joined to the broadcast nation dim.
    """
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.coalesce(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ),
                F.lit(0),
            ).alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    ranked = spend.withColumn("i", F.row_number().over(w).cast("bigint"))
    dec = "decimal(38,0)"
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.expr(f"CAST(i AS {dec}) * CAST(cents AS {dec})")).alias(
            "iw"
        ),
    )
    g = agg.select(
        "c_nationkey",
        "n_customers",
        "total_cents",
        # all-zero-spend segment => Gini 0 by convention (also keeps the
        # div total-cents denominator nonzero under Spark 4 ANSI mode)
        F.expr(
            f"CASE WHEN total_cents = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * iw - (CAST(n_customers AS {dec}) + 1)"
            f" * CAST(total_cents AS {dec})) * 1000000 div"
            f" (CAST(n_customers AS {dec})"
            f" * CAST(total_cents AS {dec})) AS BIGINT) END"
        ).alias("gini_ppm"),
    )
    return g.join(
        F.broadcast(nation), g.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        "total_cents",
        "gini_ppm",
    )


# Benford expected first-digit proportions, log10(1+1/d) as exact ppm
# literals — constants embedded identically in both engines, so no
# transcendental is ever EVALUATED in either plan.
_BENFORD_PPM = [
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
]


def _benford_oracle_sql() -> str:
    exp_vals = ", ".join(
        f"({d}, {p})" for d, p in enumerate(_BENFORD_PPM, 1)
    )
    return f"""
WITH cents AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value > 0
),
counts AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cents WHERE c >= 1 GROUP BY 1
),
tot AS (SELECT SUM(n) AS n_tot FROM counts),
exp AS (SELECT * FROM (VALUES {exp_vals}) AS t(d, exp_ppm))
SELECT counts.d, counts.n,
       CAST(counts.n * 1000000 // tot.n_tot AS BIGINT) AS obs_ppm,
       CAST(exp.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(abs(counts.n * 1000000 // tot.n_tot - exp.exp_ppm) AS BIGINT)
         AS abs_dev_ppm
FROM counts JOIN exp ON counts.d = exp.d CROSS JOIN tot
"""


@register("events_benford_audit", _benford_oracle_sql())
def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformance audit over event
    values — the classic fraud/fabrication screen for financial streams:
    naturally-occurring amounts follow P(d) = log10(1+1/d); synthetic or
    tampered values don't. Output is the 9-digit profile with observed
    vs expected ppm and the absolute deviation (this fixture's
    lognormal-ish values land NEAR the law — digit 1 at ~28% vs the
    expected 30.1%, max deviation ~1.8% — so the audit reports a mild,
    stable deviation profile rather than a pass/fail flag).

    Determinism: the first digit comes from the leading character of the
    integer-cent decimal rendering (portable string op — floor(log10) is
    never evaluated), and the expected proportions are the log10
    constants pre-baked as exact ppm literals in BOTH engines; all
    ratios are integer-floor ppm.

    Scale shape: one fact-linear map-side-combinable 9-group count, a
    1-row total broadcast, and a 9-row literal-table join — nothing else.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        ev.filter(cents >= 1)
        .select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("n_tot"))
    exp_map = F.create_map(
        *[
            x
            for d, p in enumerate(_BENFORD_PPM, 1)
            for x in (F.lit(d), F.lit(p))
        ]
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.expr("n * 1000000 div n_tot").alias("obs_ppm"),
            exp_map[F.col("d")].cast("bigint").alias("exp_ppm"),
        )
        .withColumn(
            "abs_dev_ppm", F.abs(F.col("obs_ppm") - F.col("exp_ppm"))
        )
    )
