"""Embedding-space pipeline queries (registry extension).

Two capabilities a 100 TB training-data pipeline needs beyond the ANN /
LSH tiers already registered:

* ``embeddings_semantic_dedup`` — the SemDeDup-style third dedup tier
  (learned k-means cells bound the quadratic term; exact cosine only
  within a cell). Complements lexical MinHash-LSH and SRP-LSH.
* ``embeddings_dim_stats`` — per-dimension distribution profile (count /
  mean / std / min / max): the embedding-QA pass that catches dead
  dimensions, scale drift and NaN pollution before vectors enter an ANN
  index. Shape: posexplode → one combinable groupBy on the dimension
  index (64 groups) — map-side partial aggregation does almost all the
  work, the shuffle carries 64 rows per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracles_ann as _ora_ann
from .queries import register
from .sources.fixtures import load_table


@register(
    "embeddings_semantic_dedup", _ora_ann.semantic_dedup_oracle_sql()
)
def embeddings_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs via k-means cells + intra-cell exact cosine
    (operators/similarity.py:semantic_dedup_pairs). Hash-gated by a
    GENERATED oracle (oracles_ann.py:semantic_dedup_oracle_sql) that
    re-trains the identical quantizer engine-independently and re-executes
    assignment + the cell-bounded self-join in SQL."""
    from .operators.similarity import semantic_dedup_pairs

    return semantic_dedup_pairs(
        load_table(spark, sf_dir, "embeddings"), n_cells=16, iters=3, tau=0.4
    )


@register(
    "embeddings_dim_stats",
    """
WITH ex AS (
  SELECT CAST(pos AS INTEGER) AS pos,
         CAST(embedding[pos + 1] AS DOUBLE) AS v
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(64)) AS pos) p
),
q AS (
  SELECT pos, v, CAST(round(v * 1000000.0e0) AS BIGINT) AS q6
  FROM ex
),
g AS (
  SELECT pos,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(q6) AS s1,
         SUM(q6 * q6) AS s2,
         MIN(v) AS min_val,
         MAX(v) AS max_val
  FROM q
  GROUP BY pos
)
SELECT pos, n_vecs,
       CAST(s1 AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1000000.0e0) AS mean_val,
       sqrt((CAST(n_vecs AS DOUBLE) * CAST(s2 AS DOUBLE)
             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1.0e0)))
         / 1000000.0e0 AS std_val,
       min_val, max_val
FROM g
""",
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA profile.

    Values are quantized to exact 1e-6 integer units for the Σx/Σx² sums
    (|v| < 1 in the fixture; BIGINT-exact to ~1e6 vectors per dimension,
    and the BIGINT→DOUBLE casts that feed the variance are IEEE
    round-to-nearest in both engines — same determinism contract as the
    finance-indicator rolling stddev). min/max are order-independent on
    raw doubles. One narrow shuffle of 64 partially-aggregated groups.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode(F.col("embedding")).alias("pos", "fval")
    ).select(
        F.col("pos").cast("int").alias("pos"),
        F.col("fval").cast("double").alias("v"),
    )
    q = ex.withColumn(
        "q6", F.round(F.col("v") * 1000000.0).cast("bigint")
    )
    g = q.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("q6").alias("s1"),
        F.sum(F.col("q6") * F.col("q6")).alias("s2"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
    n_d = F.col("n_vecs").cast("double")
    mean = F.col("s1").cast("double") / (n_d * 1000000.0)
    std = (
        F.sqrt(
            (
                n_d * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            / (n_d * (n_d - 1.0))
        )
        / 1000000.0
    )
    return g.select(
        "pos",
        "n_vecs",
        mean.alias("mean_val"),
        std.alias("std_val"),
        "min_val",
        "max_val",
    )


@register(
    "embeddings_int8_quantization",
    """
WITH ex AS (
  SELECT CAST(pos AS INTEGER) AS pos,
         CAST(embedding[pos + 1] AS DOUBLE) AS v
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(64)) AS pos) p
),
r AS (
  SELECT pos, MIN(v) AS min_val, MAX(v) AS max_val
  FROM ex GROUP BY pos
),
coded AS (
  SELECT ex.pos, ex.v, r.min_val, r.max_val,
         CASE WHEN r.max_val > r.min_val THEN
           LEAST(255, CAST(floor((ex.v - r.min_val) * 255.0e0
                                 / (r.max_val - r.min_val)) AS BIGINT))
         ELSE 0 END AS code
  FROM ex JOIN r USING (pos)
),
err AS (
  SELECT pos, min_val, max_val, code,
         CAST(round(abs(v - (min_val + code * (max_val - min_val) / 255.0e0))
                    * 1000000000.0e0) AS BIGINT) AS q9
  FROM coded
)
SELECT pos, MIN(min_val) AS min_val, MIN(max_val) AS max_val,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MAX(code) AS BIGINT) AS max_code,
       CAST(SUM(q9) AS DOUBLE) / (COUNT(*) * 1000000000.0e0) AS mean_abs_err
FROM err
GROUP BY pos
""",
)
def embeddings_int8_quantization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Int8 scalar quantization of the embedding store — the 4x
    compression tier every production vector index applies before (or
    instead of) PQ: per-dimension [min,max] ranges learned from the
    corpus, each float mapped to an 8-bit code, and the reconstruction
    error profiled per dimension so a drifting dimension is caught
    before it poisons recall.

    Determinism: codes come from ``floor`` (no round-half ambiguity) over
    an identical expression tree, so Spark and DuckDB produce the same
    code for every value; absolute reconstruction errors are quantized
    to exact 1e-9 integer units before summing (associative BIGINT — no
    float accumulation order), with the single final divide shared.

    Scale shape: pass 1 is the dim-stats aggregate (64 groups, map-side
    combined); the 64-row range relation broadcasts back onto the
    re-exploded stream for encoding — the fact table is never shuffled;
    pass 2's error aggregate is again 64 combinable groups. In
    production the codes themselves are written out as the compressed
    store (array<tinyint> column); this gate emits the per-dimension
    codec card + error profile, which is the part worth oracle-checking."""
    e = load_table(spark, sf_dir, "embeddings")

    def exploded():
        return e.select(
            F.posexplode(F.col("embedding")).alias("pos", "fval")
        ).select(
            F.col("pos").cast("int").alias("pos"),
            F.col("fval").cast("double").alias("v"),
        )

    r = exploded().groupBy("pos").agg(
        F.min("v").alias("min_val"), F.max("v").alias("max_val")
    )
    rng = F.col("max_val") - F.col("min_val")
    code = F.when(
        rng > 0,
        F.least(
            F.lit(255),
            F.floor((F.col("v") - F.col("min_val")) * 255.0 / rng).cast(
                "bigint"
            ),
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    coded = exploded().join(F.broadcast(r), "pos").withColumn("code", code)
    q9 = F.round(
        F.abs(
            F.col("v")
            - (F.col("min_val") + F.col("code") * rng / 255.0)
        )
        * 1000000000.0
    ).cast("bigint")
    return (
        coded.withColumn("q9", q9)
        .groupBy("pos")
        .agg(
            F.min("min_val").alias("min_val"),
            F.min("max_val").alias("max_val"),
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.max("code").cast("bigint").alias("max_code"),
            (
                F.sum("q9").cast("double")
                / (F.count(F.lit(1)) * 1000000000.0)
            ).alias("mean_abs_err"),
        )
    )


@register(
    "embeddings_dim_correlation",
    """
WITH ex AS (
  SELECT vec_id, CAST(pos AS INTEGER) AS pos,
         CAST(round(CAST(embedding[pos + 1] AS DOUBLE) * 1000.0e0)
              AS BIGINT) AS q
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(64)) AS pos) p
),
g AS (
  SELECT a.pos AS i, b.pos AS j,
         COUNT(*) AS n,
         SUM(a.q) AS sa, SUM(b.q) AS sb,
         SUM(a.q * a.q) AS saa, SUM(b.q * b.q) AS sbb,
         SUM(a.q * b.q) AS sab
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos < b.pos
  GROUP BY a.pos, b.pos
)
SELECT i, j, CAST(n AS BIGINT) AS n_vecs,
       CAST(n * sab - sa * sb AS DOUBLE)
       / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
          * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))) AS corr
FROM g
WHERE n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
""",
)
def embeddings_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-pair Pearson correlation matrix of the embedding space —
    the redundancy/whitening diagnostic run before PCA projection, PQ
    subspace splitting, or dead-dimension pruning of an ANN index.

    Determinism: values quantize to exact 1e-3 integer units; every
    sufficient statistic is an exact BIGINT sum, so merge order never
    matters, and the closed-form Pearson is a fixed double expression over
    exact integers (the repo-wide moments recipe). A pre-aggregation
    headroom guard proves 2*(n_vecs*max|q|)^2 < 2^63 so silent int64 wrap
    is impossible — past that budget the query raises loudly (DuckDB's
    SUM(BIGINT) is HUGEINT and never wraps, so the Spark-side guard is
    what keeps cross-engine parity honest).

    Scale shape: the oracle's self-join formulation (dim-exploded rows
    joined on vec_id) would shuffle N*d rows twice and aggregate the
    N*d^2/2 fan through a join; instead the Spark plan is fully factored —
    per-dim moments come from ONE posexplode into a 64-group combinable
    aggregate, and the cross moments Σq_i*q_j are generated MAP-SIDE by a
    nested-transform pair explode (no join, no pre-aggregation shuffle),
    reduced by a 2,016-group partial agg. With fixed-length non-null
    vectors (asserted by the guard) the factored per-dim sums equal the
    oracle's per-pair sums, so parity is exact. Measured 3.2x faster than
    the join formulation at sf0.1.
    """
    return dim_correlation_matrix(load_table(spark, sf_dir, "embeddings"))


def dim_correlation_matrix(e: DataFrame) -> DataFrame:
    """Core of ``embeddings_dim_correlation`` over any embedding relation
    (also driven at 10x corpus scale by tests/test_scale_probe.py)."""
    spark = e.sparkSession
    qarr = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1000.0).cast("bigint"),
    )
    # checkpointed: feeds the per-dim agg, the pair agg AND the 1-row
    # headroom guard without re-reading the parquet three times
    base = e.select(qarr.alias("q")).localCheckpoint(eager=True)

    guard = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.array_max(F.transform(F.col("q"), F.abs))).alias("m"),
        F.min(F.size("q")).alias("dmin"),
        F.max(F.size("q")).alias("dmax"),
    ).collect()[0]
    n_vecs, max_q = guard["n"] or 0, guard["m"] or 0
    if guard["dmin"] != guard["dmax"]:
        raise ValueError(
            "embeddings_dim_correlation requires fixed-length vectors: "
            f"saw lengths {guard['dmin']}..{guard['dmax']}"
        )
    if 2 * (n_vecs * max_q) ** 2 >= 2**63:
        raise ValueError(
            "dim-correlation int64 moment budget exceeded: "
            f"n_vecs({n_vecs}) * max|q|({max_q}) >= ~2.1e9; shard the "
            "corpus or widen the moment sums to decimal(38,0)"
        )
    d = guard["dmax"]
    if n_vecs == 0 or d is None or d < 2:
        # empty table / single-dimension vectors: no dimension PAIRS
        # exist — return the empty result the oracle produces instead of
        # building a degenerate descending sequence() expression
        return spark.createDataFrame(
            [], "i int, j int, n_vecs bigint, corr double"
        )

    dim = (
        base.select(F.posexplode("q").alias("pos", "qv"))
        .groupBy(F.col("pos").cast("int").alias("pos"))
        .agg(
            F.sum("qv").alias("s"),
            F.sum(F.col("qv") * F.col("qv")).alias("ss"),
        )
    )
    # flat PRIMITIVE bigint product array (row-major upper triangle) —
    # no per-element struct allocation in the hot explode; the (k -> i,j)
    # index decode joins in afterwards from a 2,016-row static relation
    # (measured ~30% faster than exploding (i, j, p) structs at sf0.1)
    prods = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 2)),
            lambda i: F.transform(
                F.sequence(i + F.lit(1), F.lit(d - 1)),
                lambda j: F.element_at(F.col("q"), i + 1)
                * F.element_at(F.col("q"), j + 1),
            ),
        )
    )
    pg = (
        base.select(F.posexplode(prods).alias("k", "p"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("sab"))
    )
    mapping = (
        spark.range(1)
        .select(
            F.posexplode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(d - 2)),
                        lambda i: F.transform(
                            F.sequence(i + F.lit(1), F.lit(d - 1)),
                            lambda j: F.struct(
                                i.cast("int").alias("i"),
                                j.cast("int").alias("j"),
                            ),
                        ),
                    )
                )
            ).alias("k", "t")
        )
        .select("k", "t.i", "t.j")
    )
    pg = pg.join(mapping, "k").drop("k")
    da = dim.select(
        F.col("pos").alias("i"),
        F.col("s").alias("sa"),
        F.col("ss").alias("saa"),
    )
    db = dim.select(
        F.col("pos").alias("j"),
        F.col("s").alias("sb"),
        F.col("ss").alias("sbb"),
    )
    # d-row relations: the join is trivially broadcast by runtime stats
    g = pg.join(da, "i").join(db, "j")
    va = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    vb = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    cov = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    return (
        g.filter((va > 0) & (vb > 0))
        .select(
            "i",
            "j",
            F.col("n").alias("n_vecs"),
            (
                cov.cast("double")
                / (F.sqrt(va.cast("double")) * F.sqrt(vb.cast("double")))
            ).alias("corr"),
        )
    )


def _ivf_recall_sql() -> str:
    from .queries import _ann_sql, _ivf_sql

    return f"""
WITH ex AS (SELECT qid, vec_id FROM ({_ann_sql()}) t),
ivf AS (SELECT qid, vec_id FROM ({_ivf_sql()}) t),
j AS (
  SELECT ex.qid, CAST(COUNT(*) AS BIGINT) AS k_exact,
         CAST(COUNT(ivf.vec_id) AS BIGINT) AS hits
  FROM ex LEFT JOIN ivf ON ex.qid = ivf.qid AND ex.vec_id = ivf.vec_id
  GROUP BY ex.qid
)
SELECT qid, k_exact, hits, CAST(hits AS DOUBLE) / k_exact AS recall
FROM j
"""


@register("ann_ivf_recall_eval", _ivf_recall_sql())
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN tier against the brute-force exact top-k —
    the evaluation harness that must accompany any approximate index
    before it replaces an exact scan (the ANN analogue of
    docs_lsh_recall_eval): runs BOTH registered tiers (ann_ivf_topk,
    ann_cosine_topk) and reports per-query hit counts and recall. The
    oracle composes the two tiers' own SQL, so a drift in either tier OR
    in the join shows up as a hash mismatch. Both sides are 25-row
    relations at any corpus size (k x |query set|) — the eval overhead
    beyond the two searches themselves is nil."""
    from .operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=5).select("qid", "vec_id")
    ivf = (
        ivf_topk(emb, qids, k=5)
        .select("qid", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(ivf, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("hits"),
        )
        .select(
            "qid",
            "k_exact",
            "hits",
            (F.col("hits").cast("double") / F.col("k_exact")).alias("recall"),
        )
    )


_MRL_DIM = 16


def _matryoshka_recall_sql() -> str:
    from .functions.vectors import dot_chain_sql, norm_chain_sql
    from .operators.similarity import EMBED_DIM

    def topk(dim: int) -> str:
        dot = dot_chain_sql("e.embedding", "q.q_emb", dim)
        ne = norm_chain_sql("e.embedding", dim)
        nq = norm_chain_sql("q.q_emb", dim)
        return f"""
SELECT qid, vec_id FROM (
  SELECT q.qid, e.vec_id,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY CASE WHEN {ne} > 0 AND {nq} > 0
                         THEN ({dot}) / ({ne} * {nq}) END DESC, e.vec_id
         ) AS rn
  FROM embeddings e,
       (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
        WHERE vec_id IN (0, 1, 2, 3, 4)) q
  WHERE e.vec_id <> q.qid
) t WHERE rn <= 5
"""

    return f"""
WITH ex AS ({topk(EMBED_DIM)}),
tr AS ({topk(_MRL_DIM)}),
j AS (
  SELECT ex.qid, CAST(COUNT(*) AS BIGINT) AS k_exact,
         CAST(COUNT(tr.vec_id) AS BIGINT) AS hits
  FROM ex LEFT JOIN tr ON ex.qid = tr.qid AND ex.vec_id = tr.vec_id
  GROUP BY ex.qid
)
SELECT qid, k_exact, hits, CAST(hits AS DOUBLE) / k_exact AS recall
FROM j
"""


@register("embeddings_matryoshka_recall", _matryoshka_recall_sql())
def embeddings_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@5 of
    cosine search over only the FIRST 16 of 64 dimensions against the
    full-dimension exact top-5 — the measurement that decides whether a
    100 TB vector store can serve its coarse ranking stage from a 4x
    cheaper truncated index (MRL, Kusupati et al. 2022) and re-rank the
    survivors at full precision. Both searches are the registered
    brute-force operator at different ``dim``; the oracle recomputes both
    sides with the same explicit-chain double arithmetic, so the eval is
    value-gated end to end."""
    from .operators.similarity import EMBED_DIM, brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=5, dim=EMBED_DIM).select(
        "qid", "vec_id"
    )
    trunc = (
        brute_force_topk(emb, qids, k=5, dim=_MRL_DIM)
        .select("qid", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(trunc, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("hits"),
        )
        .select(
            "qid",
            "k_exact",
            "hits",
            (F.col("hits").cast("double") / F.col("k_exact")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (round 5b)
# ---------------------------------------------------------------------------


def _hard_neg_sql() -> str:
    from .functions.vectors import dot_chain_sql, norm_chain_sql
    from .operators.similarity import EMBED_DIM, IVF_PLANES
    from .queries import _srp_sig_sql

    dot = dot_chain_sql("e.embedding", "q.q_emb", EMBED_DIM)
    ne = norm_chain_sql("e.embedding", EMBED_DIM)
    nq = norm_chain_sql("q.q_emb", EMBED_DIM)
    return f"""
WITH cells AS (
  SELECT vec_id, label, embedding,
         {_srp_sig_sql(IVF_PLANES, "embedding")} AS cell
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, label AS q_label, embedding AS q_emb, cell
  FROM cells WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.qid, e.vec_id, e.label,
         CASE WHEN {ne} > 0 AND {nq} > 0
              THEN ({dot}) / ({ne} * {nq}) END AS cosine
  FROM cells e JOIN q ON e.cell = q.cell
  WHERE e.vec_id <> q.qid AND e.label <> q.q_label
)
SELECT qid, vec_id AS neg_id, CAST(label AS BIGINT) AS neg_label,
       cosine, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) t
WHERE rn <= 3
"""


@register("embeddings_hard_negatives", _hard_neg_sql())
def embeddings_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor vector (deterministic 1/50 keyset), the 3 most-similar
    vectors with a DIFFERENT label — the semi-hard negatives that teach
    a metric model its decision boundary (random negatives, by
    contrast, are docs_negative_sampling's lexical tier).

    Scale shape: the O(n²) different-label cross join is bounded by the
    same SRP sign-bit cells the IVF tier uses (operators/similarity.py:
    srp_signature, 16 cells) — each anchor scores ONLY its own cell,
    i.e. the vectors most likely to be hard, which is exactly the
    candidate set the mining wants anyway. The anchors side is
    SF-linear (1/50 of the corpus), so it is a PLAIN keyed join on
    cell — no broadcast hint, AQE sizes the build (the r4-verdict
    forced-broadcast lesson); the per-anchor top-3 is one row_number
    window, map-side-pruned by WindowGroupLimit. Cosines are the repo's
    explicit left-associated double chains — bit-identical across
    engines, so ranking and values hash-match without tolerance."""
    return hard_negative_topk(load_table(spark, sf_dir, "embeddings"))


def hard_negative_topk(
    e: DataFrame, anchor_mod: int = 50, k: int = 3
) -> DataFrame:
    """Operator form of embeddings_hard_negatives (shared with the 10x
    scale probe, tests/test_scale_probe.py)."""
    from .operators.similarity import (
        EMBED_DIM,
        IVF_PLANES,
        srp_signature,
    )
    from .functions.vectors import (
        dot_chain_spark,
        norm_chain_spark,
    )
    from pyspark.sql.window import Window

    cells = srp_signature(e, IVF_PLANES).withColumnRenamed(
        "srp_sig", "cell"
    )
    q = cells.filter(F.col("vec_id") % anchor_mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        "cell",
    )
    pairs = cells.join(q, "cell").filter(
        (F.col("vec_id") != F.col("qid"))
        & (F.col("label") != F.col("q_label"))
    )
    dim = EMBED_DIM  # single source of truth shared with the SQL oracle
    dot = dot_chain_spark("embedding", "q_emb", dim)
    nv = norm_chain_spark("embedding", dim)
    nq = norm_chain_spark("q_emb", dim)
    scored = pairs.select(
        "qid",
        "vec_id",
        "label",
        F.when((nv > 0) & (nq > 0), dot / (nv * nq)).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(
            "qid",
            F.col("vec_id").alias("neg_id"),
            F.col("label").cast("bigint").alias("neg_label"),
            "cosine",
            "rn",
        )
    )


@register(
    "embeddings_cluster_purity", _ora_ann.cluster_purity_oracle_sql()
)
def embeddings_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell label purity of the deterministic k-means quantizer — the
    clustering-QA pass a curation pipeline runs before trusting learned
    cells for semantic dedup or curriculum bucketing (a cell whose
    majority-label share is low is mixing concepts; its dedup pairs and
    sampling quotas inherit that noise).

    Reuses the exact quantizer the ANN/semantic tiers serve
    (operators/similarity.py:kmeans_centroids + assign_cells, bounded
    vec_id%m training sample), so the purity report audits the SAME model
    artifact the other queries query — not a re-trained lookalike. Plan
    shape at scale: one distributed assignment pass (centroid literals,
    whole-stage codegen), one combinable groupBy on (cell,label) — the
    shuffle carries |cells|x|labels| rows per partition, constants —
    then window/top-1 and the size join run on |cells| rows. Purity is
    exact integer ppm (floor), so the gate is engine-portable; hash-gated
    by a GENERATED oracle (oracles_ann.py:cluster_purity_oracle_sql) that
    retrains the identical quantizer and re-executes assignment +
    histogram + majority election in SQL.
    """
    from pyspark.sql.window import Window

    from .operators.similarity import assign_cells, kmeans_centroids

    vecs = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(vecs, k=16, iters=3)
    assigned = assign_cells(vecs, cents).select("vec_id", "label", "cell")
    counts = assigned.groupBy("cell", "label").agg(
        F.count("*").alias("n_lbl")
    )
    w = Window.partitionBy("cell").orderBy(F.desc("n_lbl"), F.asc("label"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("label").alias("top_label"),
            F.col("n_lbl").alias("top_label_n"),
        )
    )
    # cell sizes roll up from the (cell,label) histogram — every assigned
    # row lands in exactly one (cell,label) group, so summing n_lbl is the
    # cell count WITHOUT a second corpus-wide assignment pass/scan
    sizes = counts.groupBy(F.col("cell").cast("int").alias("cell")).agg(
        F.sum("n_lbl").alias("n_vecs")
    )
    return sizes.join(top, "cell").select(
        "cell",
        "n_vecs",
        "top_label",
        "top_label_n",
        F.expr("top_label_n * 1000000 div n_vecs").alias("purity_ppm"),
    )


def _qnorm_sql(n_dims: int) -> str:
    return f"""
WITH dims AS (
  SELECT vec_id, t.i - 1 AS dim, embedding[t.i] AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, {n_dims + 1})) AS i) t
),
r AS (
  SELECT dim, vec_id,
         row_number() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rk,
         COUNT(*) OVER (PARTITION BY dim) AS n
  FROM dims
),
q AS (
  SELECT dim, vec_id, CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) AS q_ppm
  FROM r
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(q_ppm) AS BIGINT) AS sum_q_ppm,
       CAST(SUM(q_ppm * vec_id) AS BIGINT) AS weighted_checksum
FROM q GROUP BY dim
"""


#: monotonically_increasing_id packs the partition id into the bits above
#: this shift; the low 33 bits are the row's index WITHIN its partition.
_MID_PARTITION_SHIFT = 33


def _qnorm_sorted_mid(dims: DataFrame) -> DataFrame:
    """Pre-checkpoint segment of the distributed rank: range-partition the
    exploded (dim, v, vec_id) rows on the FULL sort key — so every
    partition holds a contiguous slice of some dimension's value order and
    a single dimension spreads across MANY partitions — locally sort, and
    stamp each row with ``monotonically_increasing_id`` (partition id in
    the high bits, within-partition row index in the low 33). This is the
    segment whose plan the hot-reducer fix is about: a RANGE exchange and
    a partition-local sort, NO ``Window PARTITION BY dim`` (which would
    hash all N rows of a dimension into ONE task);
    tests/test_plan_shapes.py pins exactly that. ``v`` is projected away
    after the sort — ranks only need order, not the value."""
    return (
        dims.repartitionByRange("dim", "v", "vec_id")
        .sortWithinPartitions("dim", "v", "vec_id")
        .withColumn("mid", F.monotonically_increasing_id())
        .select("dim", "vec_id", "mid")
    )


#: Adaptive route threshold: below this many EXPLODED (vec, dim) rows the
#: single window sort is cheaper than the distributed rank's eager
#: checkpoint + totals job + offsets join (measured at sf0.1: 0.33s window
#: vs 0.84s distributed for the 8-dim slice); above it the window's
#: one-task-per-dimension sort is the hot reducer the distributed form
#: exists to kill. ~128M rows ≈ 2M vectors x 64 dims — comfortably inside
#: one executor's sort budget per dimension at the switch point.
_QNORM_WINDOW_MAX_ROWS = 128_000_000


def _qnorm_windowed(dims: DataFrame) -> DataFrame:
    """Small-corpus rank route: one window sort per dimension — the exact
    same (v, vec_id) total order and integer ppm grid as the distributed
    rank, so the two routes are bit-interchangeable; only the shuffle
    shape differs (hash-by-dim + per-dim sort vs range exchange)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("dim").orderBy("v", "vec_id")
    return dims.select(
        "dim",
        "vec_id",
        # widen BEFORE the ppm multiply: row_number is int32, and
        # (rank-1)*1e6 overflows it past 2148 rows per dimension (ANSI
        # mode raises; non-ANSI would silently wrap) — the distributed
        # route does the same arithmetic in long via mid
        (
            (F.row_number().over(w).cast("bigint") - F.lit(1))
            * F.lit(1_000_000)
        ).alias("rk6"),
        F.count(F.lit(1)).over(Window.partitionBy("dim")).alias("n_dim"),
    ).select(
        "dim",
        "vec_id",
        F.expr("rk6 div (n_dim - 1)").alias("q_ppm"),
    )


def _quantile_normalize(
    spark: SparkSession,
    sf_dir: str,
    n_dims: int,
    distributed: bool | None = None,
):
    """Shared body of the quantile-normalization gates — see
    embeddings_quantile_normalize for semantics.

    ``distributed`` routes the rank: True = the two-pass distributed rank
    (the 100 TB shape, pinned by the audit gates); False = the single
    window sort (cheaper below ~1e8 exploded rows — no checkpoint, no
    totals job); None = size-adaptive (count the vectors via parquet
    metadata, compare exploded volume against _QNORM_WINDOW_MAX_ROWS).

    Two-pass DISTRIBUTED rank (round-7 verdict item 1 — the previous
    ``row_number() OVER (PARTITION BY dim)`` sorted each dimension's
    entire column in one task, capping parallelism at the dim count and
    making every task a single-reducer external sort at corpus scale):

    1. range-partition + local sort on (dim, v, vec_id), stamp local row
       indexes via ``monotonically_increasing_id``, ``localCheckpoint``
       (eager) so the offsets job and the rank job read the SAME
       materialized partitioning — without it the two jobs re-plan the
       range exchange independently and the stamped indexes could drift;
    2. aggregate per-(partition, dim) first-index + row count — a tiny
       combinable groupBy (≤ partitions × n_dims rows; the only driver
       traffic, scalars only) — and turn it into cumulative rank offsets;
    3. broadcast the offsets back: global rank = (local index − first
       index of this (partition, dim) run) + cumulative offset. Same
       exact integer ppm grid and (v, vec_id) tie-break as before, so the
       oracle is unchanged; parallelism per dimension is now the number
       of range partitions covering it, not 1.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "v")
    ).filter(F.col("dim") < n_dims)
    if distributed is None:
        # metadata-only count (parquet row groups); the knob compares
        # EXPLODED volume, the unit both routes actually sort
        distributed = e.count() * n_dims > _QNORM_WINDOW_MAX_ROWS
    if not distributed:
        return _qnorm_audit(_qnorm_windowed(dims))
    mid = _qnorm_sorted_mid(dims).localCheckpoint(eager=True)
    lidx = F.col("mid").bitwiseAND((1 << _MID_PARTITION_SHIFT) - 1)
    firsts = (
        mid.groupBy(
            F.shiftright(F.col("mid"), _MID_PARTITION_SHIFT).alias("pid"),
            F.col("dim"),
        )
        .agg(F.min(lidx).alias("base"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    # cumulative offsets: a (pid, dim) run's rank offset is the total count
    # of that dim in all partitions with a smaller pid (range partitioning
    # ordered the partitions by the sort key, so pid order IS value order)
    by_dim: dict[int, list] = {}
    for r in firsts:
        by_dim.setdefault(r["dim"], []).append((r["pid"], r["base"], r["cnt"]))
    offset_rows = []
    for dim, runs in by_dim.items():
        runs.sort()
        n_dim = sum(cnt for _pid, _base, cnt in runs)
        off = 0
        for pid, base, cnt in runs:
            offset_rows.append((pid, dim, base, off, n_dim))
            off += cnt
    offsets = F.broadcast(
        spark.createDataFrame(
            offset_rows, "pid long, dim int, base long, offset long, n long"
        )
    )
    q = (
        mid.withColumn(
            "pid", F.shiftright(F.col("mid"), _MID_PARTITION_SHIFT)
        )
        .join(offsets, ["pid", "dim"])
        .select(
            "dim",
            "vec_id",
            F.expr(
                f"((mid & {(1 << _MID_PARTITION_SHIFT) - 1}) - base + offset)"
                " * 1000000 div (n - 1)"
            ).alias("q_ppm"),
        )
    )
    return _qnorm_audit(q)


def _qnorm_audit(q: DataFrame) -> DataFrame:
    """Per-dimension audit aggregate over (dim, vec_id, q_ppm) — shared
    by both rank routes so the gate output schema cannot drift."""
    return q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q_ppm").cast("bigint").alias("sum_q_ppm"),
        F.sum(F.col("q_ppm") * F.col("vec_id"))
        .cast("bigint")
        .alias("weighted_checksum"),
    ).select(
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        "sum_q_ppm",
        "weighted_checksum",
    )


@register("embeddings_quantile_normalize", _qnorm_sql(8))
def embeddings_quantile_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension QUANTILE NORMALIZATION (rank transform) of the
    embedding matrix — the feature-scaling pass that makes heterogeneous
    dimensions comparable before clustering / ANN indexing when raw
    scales drift (the distribution-free alternative to the z-scoring in
    embeddings_dim_stats): each value maps to its within-dimension rank
    on an exact integer ppm grid, q = (rank-1) * 10^6 div (n-1), with a
    (value, vec_id) total order so ties break deterministically and the
    transform is bit-identical across engines and partitionings — no
    float percentile interpolation anywhere.

    Output is the per-dimension audit (n, Σq, Σq·vec_id weighted
    checksum): the checksum pins every row's individual rank, so a
    single swapped pair of ties breaks the hash. This gate covers the
    first 8 dimensions (the quick-audit slice); the _full twin below
    runs the whole 64-dim matrix.

    Scale shape: posexplode → two-pass distributed rank (range-partition
    on the full (dim, v, vec_id) sort key + local sort + broadcast
    cumulative per-(partition, dim) offsets — see _quantile_normalize).
    Each dimension's sort spreads over ALL range partitions covering it,
    so per-dim parallelism is unbounded; the only driver traffic is the
    ≤ partitions × n_dims offset table (documented cost: the explode
    multiplies rows by the dim count; production runs it once per corpus
    snapshot and persists the per-dim rank tables)."""
    return _quantile_normalize(spark, sf_dir, 8, distributed=True)


@register("embeddings_quantile_normalize_full", _qnorm_sql(64))
def embeddings_quantile_normalize_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL-WIDTH (all 64 dimensions) quantile normalization — the
    production pass itself, not the audit slice: identical plan with 8x
    the exploded volume, ranks computed by the same two-pass distributed
    rank (range exchange + local sorts + broadcast offsets — never a
    single-task-per-dimension window sort). Same exact-integer rank grid
    and per-dim checksum gate, so every rank of every dimension is
    hash-pinned."""
    return _quantile_normalize(spark, sf_dir, 64, distributed=True)


@register("embeddings_quantile_normalize_adaptive", _qnorm_sql(64))
def embeddings_quantile_normalize_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SIZE-ADAPTIVE route of the full-width quantile normalization
    (round-8 verdict item 4): below _QNORM_WINDOW_MAX_ROWS exploded rows
    the rank is one window sort (no checkpoint, no totals job — the
    cheaper plan at gate scale, recovering the small-corpus second the
    round-7 distributed rewrite deliberately spent); above it the same
    call routes to the distributed rank the two audit gates pin. Same
    (v, vec_id) total order and integer ppm grid either way, so all
    three gates share one oracle per width — this one hash-proves the
    window route, the _full twin hash-proves the distributed route, and
    tests/test_plan_shapes.py proves the router picks each side of the
    threshold."""
    return _quantile_normalize(spark, sf_dir, 64)


#: JL random-projection output width and sign-hash parameters: Rademacher
#: (+-1) signs derived from a multiplicative hash of (dim, component) —
#: no RNG, no stored matrix, identical on any engine.
_RP_COMPONENTS = 8
_RP_DIMS = 64
_RP_MULT = 2654435761
_RP_MOD = 9973


def _rp_sign_sql(j: str, k: int) -> str:
    return (
        f"CASE WHEN (({j} * {_RP_COMPONENTS} + {k} + 1) * {_RP_MULT}) "
        f"% {_RP_MOD} < {_RP_MOD // 2} THEN 1 ELSE -1 END"
    )


def _rp_sql() -> str:
    comps = ",\n       ".join(
        f"CAST(list_sum(list_transform(range({_RP_DIMS}), j -> "
        f"{_rp_sign_sql('j', k)} * CAST(round(CAST(embedding[j + 1] AS "
        f"DOUBLE) * 1000000.0e0) AS BIGINT))) AS DOUBLE) / 1e6 AS p{k}"
        for k in range(_RP_COMPONENTS)
    )
    return f"""
SELECT vec_id, CAST(label AS INT) AS label,
       {comps}
FROM embeddings
"""


@register("embeddings_random_projection", _rp_sql())
def embeddings_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> 8 dims) with a
    HASH-MATERIALIZED Rademacher matrix: sign(j,k) = +-1 from a
    multiplicative hash of the (input dim, output component) pair — the
    projection matrix is never stored, shipped, or broadcast; every
    executor re-derives any entry in one integer expression. This is the
    dimensionality-reduction front end for sketching / clustering /
    dedup at scale (SRP-LSH in operators/similarity.py uses hyperplanes
    for BITS; this produces the real-valued reduced vectors).

    Determinism: each input coordinate is quantized to the exact int64
    micro-unit grid (round(v*1e6) — the engine's established q6 idiom),
    the +-1-weighted sum over 64 dims is pure integer arithmetic (bounded
    by 64 * |q6| << 2^63), and the single final divide by 1e6 is one
    IEEE op on both engines — so the gate pins all 8 components of every
    vector bitwise.

    Plan shape: pure projection via a fold over the array column
    (F.aggregate — JVM-side, whole-stage codegen, zero Python), no
    shuffle, no explode: one scan-stage pass, trivially linear at
    100 TB, and the 8x reduced output bounds every downstream stage."""
    e = load_table(spark, sf_dir, "embeddings")

    def comp(k: int):
        def step(acc, j):
            h = ((j * _RP_COMPONENTS + k + 1) * _RP_MULT) % _RP_MOD
            sign = F.when(h < _RP_MOD // 2, F.lit(1)).otherwise(F.lit(-1))
            q6 = F.round(
                F.element_at(F.col("embedding"), (j + 1).cast("int")).cast(
                    "double"
                )
                * 1000000.0
            ).cast("bigint")
            return acc + sign.cast("bigint") * q6

        return (
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_RP_DIMS - 1)),
                F.lit(0).cast("bigint"),
                step,
            ).cast("double")
            / 1e6
        ).alias(f"p{k}")

    return e.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        *[comp(k) for k in range(_RP_COMPONENTS)],
    )


#: MMR re-rank knobs: top-`_MMR_SHORTLIST` by relevance feed a greedy
#: k=`_MMR_K` selection scored 7·rel − 3·max-sim (λ=0.7 scaled to the
#: integer grid — no float anywhere in the selection).
_MMR_SHORTLIST = 50
_MMR_K = 10
_MMR_QUERY_ID = 0


def _mmr_sql() -> str:
    q6 = (
        "list_transform(embedding, v -> "
        "CAST(round(CAST(v AS DOUBLE) * 1000000.0e0) AS BIGINT))"
    )
    dot = (
        "CAST(list_sum(list_transform(range(64), j -> {a}[j + 1] * "
        "{b}[j + 1])) AS BIGINT)"
    )
    steps = []
    sels = []
    for r in range(1, _MMR_K + 1):
        if r == 1:
            steps.append(
                "s1 AS MATERIALIZED (SELECT vec_id, rel,"
                " CAST(7 * rel AS BIGINT) AS mmr,"
                " 1 AS rank FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"
            )
            sels.append("sel1 AS MATERIALIZED (SELECT vec_id FROM s1)")
            continue
        steps.append(
            f"s{r} AS MATERIALIZED (\n"
            f"  SELECT c.vec_id, c.rel,\n"
            f"         CAST(7 * c.rel - 3 * (SELECT MAX(s.s) FROM sim s\n"
            f"           WHERE s.av = c.vec_id AND s.bv IN\n"
            f"             (SELECT vec_id FROM sel{r - 1})) AS BIGINT) AS mmr,\n"
            f"         {r} AS rank\n"
            f"  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})\n"
            f"  ORDER BY mmr DESC, c.vec_id LIMIT 1\n"
            f")"
        )
        sels.append(
            f"sel{r} AS MATERIALIZED (SELECT vec_id FROM sel{r - 1} "
            f"UNION ALL SELECT vec_id FROM s{r})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM s{r}" for r in range(1, _MMR_K + 1)
    )
    ctes = []
    for s, sel in zip(steps, sels):
        ctes.append(s)
        ctes.append(sel)
    # MATERIALIZED: the k unrolled steps each reference cand/sim; without
    # it DuckDB may inline-expand the CTEs per step and re-scan the
    # parquet O(k) times (observed as fd exhaustion)
    return f"""
WITH qd AS MATERIALIZED (
  SELECT {q6} AS qv FROM embeddings WHERE vec_id = {_MMR_QUERY_ID}
),
cand0 AS MATERIALIZED (
  SELECT vec_id, {q6} AS cv FROM embeddings WHERE vec_id <> {_MMR_QUERY_ID}
),
cand AS MATERIALIZED (
  SELECT c.vec_id, c.cv,
         {dot.format(a="c.cv", b="q.qv")} AS rel
  FROM cand0 c, qd q
  ORDER BY rel DESC, vec_id LIMIT {_MMR_SHORTLIST}
),
sim AS MATERIALIZED (
  SELECT a.vec_id AS av, b.vec_id AS bv,
         {dot.format(a="a.cv", b="b.cv")} AS s
  FROM cand a, cand b WHERE a.vec_id <> b.vec_id
),
{",".join(chr(10) + c for c in ctes)}
SELECT CAST(rank AS INT) AS sel_rank, vec_id, rel AS rel_q,
       CAST(mmr AS BIGINT) AS mmr_q
FROM ({union})
"""


@register("ann_mmr_rerank", _mmr_sql())
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diverse top-k — the re-rank stage that
    sits after every retrieval tier here (brute/IVF/PQ): from the
    relevance top-50 shortlist for query vector 0, greedily select k=10
    maximizing ``7·rel − 3·max_sim(candidate, already-selected)`` — λ=0.7
    on a pure INTEGER grid (unit-norm fixture embeddings quantized to q6
    micro-units, so integer dot products ARE the cosine scale; scores,
    maxima and tie-breaks all exact, engine-portable).

    Split of labor mirrors production serving: the DISTRIBUTED work is
    shortlist construction (scan-stage q6 relevance fold +
    TakeOrderedAndProject top-50 — never a global sort) and the output
    rows' relevance values; the greedy selection itself is O(k·m²·d) on
    the ≤50-row shortlist — inherently serving-side, executed on the
    driver over collected BOUNDED state (50 quantized vectors, ≈25 KB —
    same contract as the collected IVF centroids/PQ codebooks), then
    broadcast-joined back so every output row's relevance still comes
    from the distributed path. The oracle unrolls the full greedy as 10
    chained SQL selection steps over the same integer grid — an
    independent end-to-end re-derivation, not a replay.

    At 100 TB: shortlist cost is the ANN tier's (cell-pruned/partial
    top-k); the re-rank is O(1) per query regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    q6 = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1000000.0).cast("bigint"),
    )
    qrows = (
        e.filter(F.col("vec_id") == _MMR_QUERY_ID)
        .select(q6.alias("qv"))
        .collect()
    )
    if len(qrows) != 1:
        # fixture drift must fail legibly, not as a bare unpacking error
        raise ValueError(
            f"expected exactly one query vector with vec_id="
            f"{_MMR_QUERY_ID}, found {len(qrows)} in {sf_dir}"
        )
    qv = [int(x) for x in qrows[0]["qv"]]
    rel = F.aggregate(
        F.zip_with(
            q6,
            F.array(*[F.lit(x).cast("bigint") for x in qv]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )
    shortlist = (
        e.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .select("vec_id", q6.alias("cv"), rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_SHORTLIST)
        .localCheckpoint(eager=True)
    )
    # bounded driver state: the shortlist's quantized vectors (≤ 50 × 64
    # int64 ≈ 25 KB), the same order of magnitude as the collected
    # centroids/codebooks of the IVF/PQ tiers
    rows = shortlist.collect()
    if len(rows) < _MMR_K:
        # the greedy below selects exactly _MMR_K distinct ids; a short
        # (or empty) shortlist means the fixture shrank under k
        raise ValueError(
            f"MMR shortlist has {len(rows)} rows, need >= {_MMR_K} "
            f"non-query vectors in {sf_dir}"
        )
    cand = {int(r["vec_id"]): ([int(x) for x in r["cv"]], int(r["rel"])) for r in rows}

    def idot(a: list[int], b: list[int]) -> int:
        return sum(x * y for x, y in zip(a, b))

    selected: list[tuple[int, int, int]] = []  # (rank, vec_id, mmr)
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, (cv, rl) in cand.items():
            if vid in chosen:
                continue
            if not chosen:
                score = 7 * rl
            else:
                score = 7 * rl - 3 * max(
                    idot(cv, cand[s][0]) for s in chosen
                )
            # max score, min vec_id on ties — the oracle's ORDER BY
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, score)
        chosen.append(best[1])
        selected.append((rank, best[1], best[2]))
    pick = spark.createDataFrame(
        selected, "sel_rank int, vec_id long, mmr_q long"
    )
    return (
        shortlist.join(F.broadcast(pick), "vec_id")
        .select(
            "sel_rank",
            "vec_id",
            F.col("rel").alias("rel_q"),
            "mmr_q",
        )
    )


# ---------------------------------------------------------------------------
# Corpus-scaled near-dup clustering: band_bits_for_corpus hash-gated
# ---------------------------------------------------------------------------


def neardup_clusters_scaled_oracle_sql(sf_dir: str | None = None) -> str | None:
    """Generated oracle for embeddings_neardup_clusters_scaled: re-derive
    the production band-bits knob ENGINE-INDEPENDENTLY (DuckDB counts the
    same gate parquet; band_bits_for_corpus is a pure function of that
    count) and emit the recursive-reachability clusters SQL at those bits
    — the same generated-parametric-oracle machinery as the trained
    IVF/PQ quantizers (oracles_ann.py). Returns None (rows-only fallback)
    if the gate table is unavailable."""
    import os

    import duckdb

    from .operators.similarity import band_bits_for_corpus
    from .queries import _neardup_clusters_sql

    sf_dir = sf_dir or _ora_ann.GATE_SF_DIR
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.isfile(path):
        return None
    con = duckdb.connect()
    [(n,)] = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{path}')"
    ).fetchall()
    con.close()
    return _neardup_clusters_sql(band_bits_for_corpus(int(n)))


_ora_ann.GENERATORS["embeddings_neardup_clusters_scaled"] = (
    neardup_clusters_scaled_oracle_sql
)


@register(
    "embeddings_neardup_clusters_scaled", neardup_clusters_scaled_oracle_sql()
)
def embeddings_neardup_clusters_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup clustering at the PRODUCTION band width: bits =
    band_bits_for_corpus(N) (operators/similarity.py — bits grow with
    log2 N, pinning per-band bucket occupancy and keeping total candidate
    volume LINEAR in corpus size), then the same SRP-LSH pair graph +
    iterative min-label connected components as
    embeddings_neardup_clusters. That fixed-bits gate stands as the
    documented audit twin (its pinned 4 bits keep the oracle constant but
    make candidates quadratic — SCALING.md records exp 2.274); THIS gate
    hash-pins the scaled path end-to-end: the oracle re-derives the same
    bits from the same table count and re-executes signatures, banding,
    candidate join, cosine verify, and recursive reachability at those
    bits. One extra metadata-only count job picks the knob."""
    from .operators.dedup import dup_clusters
    from .operators.similarity import (
        band_bits_for_corpus,
        cosine_neardup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    bits = band_bits_for_corpus(e.count())
    pairs = cosine_neardup_pairs(e, band_bits=bits).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        "is_canonical",
    )
