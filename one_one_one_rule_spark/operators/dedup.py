"""Deduplication operators over the ``documents`` table (scale-out
extensions, SURVEY.md §7.8 / BASELINE.json north star).

Three tiers, all partition-parallel (no driver-side collects):

  1. exact / prefix-fingerprint dedup — hash groupBy; one shuffle on the
     fingerprint, group sizes bounded by duplicate multiplicity.
  2. exact n-gram Jaccard pairs — inverted-index join on shingles (the exact
     algorithm, expressible relationally). Cost is Σ per-shingle pair counts;
     the ``max_df`` document-frequency cap drops stop-shingles before the
     self-join (the fan-out bound that makes this tier survivable at scale —
     one boilerplate shingle shared by 1M docs would otherwise emit 5·10¹¹
     pairs); for true 100 TB corpora switch to tier 3.
  3. MinHash + banded LSH — fixed 16-permutation signature over a portable
     md5-prefix hash (native JVM intrinsic map-side — no per-character
     lambda in the corpus hot path), 8 bands × 2 rows; candidates from
     band-bucket self-join; candidates verified with exact Jaccard.
     Deterministic (fixed seeds, no RNG at runtime), so even this is
     oracle-checkable in DuckDB.
  4. SimHash — 16-bit signed-bit-vote fingerprint over distinct-token
     hashes; Hamming-ball pairing via 4×4-bit pigeonhole blocking (any pair
     within Hamming distance ≤ 3 shares at least one exact 4-bit band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .spread import spread_small
from ..functions.text import (
    HASH_P,
    md5_hash48,
    prefix_fingerprint,
    shingles_expr,
)

#: Fixed MinHash permutation seeds (a, b) — shared verbatim with the DuckDB
#: oracle; a is odd, both < 2^31-1. 16 perms → 8 bands × 2 rows.
MINHASH_SEEDS = [
    (1000000007, 337),
    (998244353, 7919),
    (1999999973, 104729),
    (1747636419, 15485863),
    (1082130433, 32452843),
    (469762049, 49979687),
    (754974721, 67867967),
    (167772161, 86028121),
    (377487361, 104395301),
    (595591169, 122949823),
    (645922817, 141650939),
    (897581057, 160481183),
    (1224736769, 179424673),
    (2013265921, 198491317),
    (1711276033, 217645177),
    (1420470273, 236887691),
]
N_BANDS = 8
ROWS_PER_BAND = 2


def prefix_dup_groups(docs: DataFrame, n_chars: int = 40) -> DataFrame:
    """Tier 1 — duplicate groups by prefix fingerprint: one hash aggregate."""
    return (
        docs.select(
            prefix_fingerprint("text", n_chars).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the inverted-index input (exact
    string tier; the hashed tiers below never shuffle strings).

    The corpus is spread before the explode (round-12, guide §2.5/§6):
    the split+shingle explode is the tier's CPU-heavy map stage, and a
    bytes-small corpus otherwise planned as one scan split serializes it
    on a single core (no-op at production scale — operators/spread.py)."""
    return (
        spread_small(docs)
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .select("doc_id", F.explode(shingles_expr("w", n)).alias("shingle"))
        .distinct()
    )


def _shingle_hash_multiset(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) shingle hashes, duplicates kept — hashing happens
    map-side in the scan stage, before any exchange (spread first: the
    explode+md5 pass is CPU-bound and must not serialize on a one-split
    scan of a bytes-small corpus; no-op at scale — operators/spread.py)."""
    return (
        spread_small(docs)
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .select("doc_id", F.explode(shingles_expr("w", n)).alias("shingle"))
        .select("doc_id", (md5_hash48("shingle") % HASH_P).alias("h"))
    )


def doc_shingle_hashes(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle-hash) pairs.

    Shingles are hashed BEFORE the dedup shuffle, so the exchange carries
    8-byte longs instead of ~30-byte strings and the distinct compares
    longs — the feature-set representation for the hashed dedup tiers
    (SimHash votes, LSH verify). Collisions in the 31-bit space merge a
    shingle pair per ~2B distinct shingles per doc — harmless for near-dup
    detection, and the oracle applies the identical hash so results stay
    bit-equal."""
    return _shingle_hash_multiset(docs, n).distinct()


def _pair_jaccard(sh: DataFrame) -> DataFrame:
    """Exact Jaccard for doc pairs sharing ≥1 shingle."""
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(b, "shingle").filter(F.col("a.doc_id") < F.col("b.doc_id"))
    inter = joined.groupBy(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).agg(F.count(F.lit(1)).alias("c"))
    # `sizes` is one row per doc — corpus-linear, so never force-broadcast:
    # keyed shuffle joins scale, and AQE still picks broadcast from runtime
    # stats when the corpus slice is small.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}),
            "doc_a",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
    )


def stop_shingle_filter(
    sh: DataFrame, max_df: int, col: str = "shingle"
) -> DataFrame:
    """Drop stop-shingles (document frequency > ``max_df``) from the
    inverted index before any self-join.

    The df aggregate is map-side combinable; the HOT set (df > cap) is by
    construction tiny — a handful of boilerplate shingles — so it
    broadcasts and the cap is a broadcast left-anti join, never a shuffle
    of the kept shingles. Bounds per-shingle join fan-out to
    ``max_df``(``max_df``-1)/2 pairs."""
    hot = (
        sh.groupBy(col)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select(col)
    )
    return sh.join(F.broadcast(hot), col, "left_anti")


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.05,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Tier 2 — exact n-gram Jaccard near-dup pairs via inverted-index join.

    ``max_df`` caps per-shingle document frequency BEFORE the self-join:
    Jaccard is computed over the capped feature sets (sizes included), a
    well-defined "stop-shingle-filtered resemblance" the DuckDB oracle
    reproduces exactly. ``max_df=None`` restores the uncapped exact tier
    (small corpora only — fan-out is quadratic in per-shingle df).

    The filtered shingle relation feeds FOUR plan branches (self-join a/b
    sides, plus both per-doc size aggregates), so it is
    ``localCheckpoint``-ed (eager) exactly as in ``minhash_lsh_pairs`` —
    otherwise Catalyst re-derives the whole split+explode+distinct(+cap)
    pipeline from the parquet scan once per branch (8 scans / 15
    exchanges observed). The checkpointed rows are (bigint, string) pairs
    bounded by corpus token count, spillable to disk."""
    sh = doc_shingles(docs, n)
    if max_df is not None:
        sh = stop_shingle_filter(sh, max_df)
    sh = sh.localCheckpoint(eager=True)
    return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)


def band_keys(sets: DataFrame) -> DataFrame:
    """(doc_id, band, key) banded-LSH keys from a per-doc shingle-hash-set
    relation (``s``: array<bigint>, as produced by ``doc_hash_sets``).

    The single source of truth for the signature scheme: 16-perm MinHash
    derived map-side via ``transform`` + ``array_min`` (min over the set ==
    min over the multiset), then 8 bands of 2 rows packed into one bigint
    key (m_even * P + m_odd — collision-free since every m < P), emitted in
    ONE pass via posexplode. Used by both the batch pair-finder
    (``minhash_lsh_pairs``) and the incremental prober
    (``incremental_lsh_dedup``) so seed/banding changes cannot drift apart
    — a drift would silently zero the incremental path's candidate recall.
    """
    mins = [
        F.array_min(
            F.expr(f"transform(s, x -> ({a} * x + {b}) % {HASH_P})")
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    sigs = sets.select("doc_id", *mins)
    keys = F.array(
        *[
            F.col(f"m{ROWS_PER_BAND * j}") * F.lit(HASH_P)
            + F.col(f"m{ROWS_PER_BAND * j + 1}")
            for j in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.posexplode(keys).alias("band", "key"))


def minhash_lsh_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.3
) -> DataFrame:
    """Tier 3b — banded-LSH candidate pairs verified by exact Jaccard.

    Bands hash 2 signature rows into one bigint key (m_even * P + m_odd —
    collision-free since every m < P), emitted in ONE pass over the
    signatures via posexplode (not an N_BANDS-way union, which would plan
    the shingle pipeline once per band). The band self-join touches only
    bucket-mates; at scale, skew in hot buckets is handled by AQE skew-join.

    Verification joins the (small) candidate-pair set against per-doc
    shingle-HASH-set arrays and counts the overlap with ``array_intersect``
    — cost O(|candidates| × shingles/doc), NOT the full inverted-index
    self-join over every co-shingle pair (which LSH exists to avoid). The
    verify metric is hash-set Jaccard (the resemblance MinHash estimates);
    sets are arrays of longs, never strings, so the verify join payload is
    minimal. Deterministic end-to-end: fixed seeds, portable hash.

    Plan shape: the per-doc hash-set relation (one explode+hash pass, one
    shuffle) feeds BOTH the band branch — signatures derived map-side via
    ``transform`` + ``array_min`` per permutation (min over the set == min
    over the multiset) — and the verify branch. The relation is
    ``localCheckpoint``-ed (eager) so the PHYSICAL plan shares it too:
    without it each self-join branch re-derives the whole explode+hash+agg
    pipeline from the parquet scan (3 scans → 1). The checkpointed rows
    are one array of longs per doc — the compact representation, bounded
    by corpus token count, spillable to disk.
    """
    sets = (
        _shingle_hash_multiset(docs, n)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("s"))
        .localCheckpoint(eager=True)
    )
    bands = band_keys(sets)
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
    sets = sets.select("doc_id", "s", F.size("s").cast("bigint").alias("n"))
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    return (
        cand.join(
            sets.alias("sa"), cand["doc_a"] == F.col("sa.doc_id")
        )
        .join(sets.alias("sb"), cand["doc_b"] == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / (F.col("sa.n") + F.col("sb.n") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a near-dup
    pair graph, via iterative min-label propagation.

    Near-dup PAIRS aren't actionable for dedup until they're grouped into
    clusters with one canonical survivor each — this is that step. Returns
    ``(doc_id, cluster_id, cluster_size, is_canonical)`` for every doc that
    appears in a pair; ``cluster_id`` is the component's minimum doc_id and
    also the elected canonical doc (keep-first, matching the reference's
    keep-first dedup D1 at transform_valuation.py:113).

    Spark-first iterative algorithm: each round joins labels to the
    symmetric edge list, takes the min neighbor label per node, and
    coalesces with the node's own label — label arrays stay distributed;
    the driver sees only a 1-row convergence aggregate per round.
    ``localCheckpoint`` truncates the growing lineage each round (without
    it, round k re-plans rounds 1..k-1); it is lazy and materialized by
    the convergence action, so each round costs exactly ONE job.
    Convergence detection counts CHANGED labels: the update step computes
    a per-row ``changed`` flag inline (new label strictly smaller than
    old), and the round's single action is ``SUM(changed)`` — still an
    aggregate-only check with no old-vs-new join, but unlike a SUM(lbl)
    fixpoint it cannot overflow bigint when doc_ids and corpus size are
    both huge (1e10 docs x 1e18-scale ids exceeds int64; a count is
    bounded by corpus size). Converges in O(component diameter) rounds;
    near-dup components are dense (clique-ish), so real corpora converge
    in 2-4. Raises after ``max_iter`` rounds rather than returning a
    half-propagated labeling.
    """
    # Round-12 edge materialization (guide §1.2/§2.4): symmetrize
    # MAP-SIDE with one explode — each pair row emits (u,v) and (v,u) in
    # place — and checkpoint that single relation. The old shape
    # (checkpoint pairs; union with its swap; distinct; checkpoint
    # again) cost two materialization jobs, a full distinct shuffle of
    # the edge list, and a per-round scan of 2× the partitions (the
    # union's two branches). The distinct was redundant: every in-repo
    # pair producer emits distinct (doc_a < doc_b) pairs so the
    # symmetrized multiset is already a set — and min-label propagation
    # is idempotent to duplicate edges anyway (min over a multiset
    # equals min over its set; labels, trajectory and cluster_size —
    # counted over labels, not edges — are unchanged). The expensive
    # upstream candidate pipeline (LSH banding / SRP verify) still runs
    # exactly once: the explode is the checkpoint's only consumer.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"),
                        F.col("doc_b").alias("v"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"),
                        F.col("doc_a").alias("v"),
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("minv"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("u"), F.col("minv")).alias("lbl"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # Round-12 round shape (guide §2.4): one edge⋈label join emits
        # neighbor label CANDIDATES, union'd with each node's own label
        # (tagged in `own`), and a single combinable aggregate takes the
        # min — one shuffle per round instead of the old
        # join → groupBy → second label-alignment join. `own` is NULL on
        # candidate rows, so MAX(own) recovers the node's current label
        # and the changed flag (new strictly smaller) is computed inside
        # the same aggregate. Identical label trajectory: min(own ∪
        # neighbor labels) == least(own, min neighbors).
        cand = edges.join(
            labels.select(F.col("doc_id").alias("v"), "lbl"), "v"
        ).select(
            F.col("u").alias("doc_id"),
            "lbl",
            F.lit(None).cast("bigint").alias("own"),
        )
        stepped = (
            labels.select("doc_id", "lbl", F.col("lbl").alias("own"))
            .unionByName(cand)
            .groupBy("doc_id")
            .agg(
                F.min("lbl").alias("lbl"),
                (F.min("lbl") < F.max("own"))
                .cast("bigint")
                .alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        # coalesce: SUM over an empty label table is NULL, not 0
        n_changed = stepped.agg(
            F.coalesce(F.sum("changed"), F.lit(0))
        ).collect()[0][0]
        labels = stepped.drop("changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds"
        )
    # cluster_size via ONE window over the converged labels (round 12,
    # guide §2.4): the old shape aggregated per-lbl sizes and joined them
    # back — two exchanges and a join for a value that is just the label
    # partition's row count. A count window over partitionBy(lbl) with no
    # ordering computes it in the single lbl exchange. Still no broadcast
    # anywhere: cluster count is corpus-scale-unbounded, and the window
    # shuffle is the same lbl-keyed exchange the join needed anyway.
    # Skew exposure (round-12 ADVICE): WindowExec buffers each lbl
    # partition (spillable), so ONE pathologically large duplicate
    # cluster — boilerplate shared by a meaningful fraction of the corpus
    # — becomes a single hot task where the old agg+join streamed. The
    # placement (everything with one label on one reducer) is identical
    # in both shapes and AQE cannot split a single key either way; if a
    # corpus is expected to hold giant boilerplate clusters, swap this
    # step back to groupBy(lbl).count() + join, which computes the same
    # value streaming at the cost of the second exchange.
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lbl"))
        .cast("bigint")
        .alias("cluster_size"),
        (F.col("doc_id") == F.col("lbl")).alias("is_canonical"),
    )


SIMHASH_BITS = 28  # 16 bits is too coarse: random docs collide at ham<=3
SIMHASH_BAND_BITS = 7
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS


def simhash(docs: DataFrame, n: int = 3) -> DataFrame:
    """Tier 4a — 28-bit SimHash per document over word n-gram shingles.

    Features are distinct n-gram shingle HASHES (near-unique per doc —
    unigram features are useless here: common-vocabulary tokens dominate
    the votes and every pair of docs collides). Bit i of the fingerprint
    is 1 when the signed vote sum over features (+1 if the feature hash
    has bit i set, else -1) is >= 0 (tie -> 1, deterministic). Hashing is
    map-side; the feature-dedup shuffle carries longs; the vote aggregate
    is map-side-combinable. No joins.
    """
    toks = doc_shingle_hashes(docs, n)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return per_doc.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Tier 4b — near-dup pairs within Hamming distance ``max_hamming``.

    Pigeonhole blocking: a 28-bit fingerprint split into 4 bands of 7 bits —
    two fingerprints within Hamming distance 3 must agree exactly on >= 1
    band, so the band-bucket self-join finds ALL such pairs (this tier is
    exact, unlike probabilistic MinHash-LSH). Candidates are verified with
    ``bit_count(xor)``. Shuffle volume: 4 rows/doc + bucket-join output.

    Round 12 (guide §1.2/§2.4): the fingerprint relation is eagerly
    ``localCheckpoint``-ed — it feeds BOTH self-join sides, and without
    the cut Catalyst re-derives the whole shingle-hash + 28-vote
    aggregate pipeline from the scan once per side (two corpus scans for
    one tier). The checkpointed rows are two longs per doc. And instead
    of a DISTINCT over the candidate stream (a full extra shuffle), a
    pair agreeing on several bands is kept only on its MINIMAL agreeing
    band — an expression over the two fingerprints already on the joined
    row (the srp_candidate_pairs trick), so dedup costs nothing. Same
    pair set, same hamming values.
    """
    fps = simhash(docs).localCheckpoint(eager=True)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    keys = F.array(
        *[
            F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b).bitwiseAND(
                F.lit(mask)
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = fps.select(
        "doc_id", "simhash", F.posexplode(keys).alias("band", "key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("bigint")
    no_earlier_match = F.expr(
        f"band = 0 OR forall(sequence(0, band - 1), i -> "
        f"(shiftright(a.simhash, {SIMHASH_BAND_BITS} * i) & {mask}) != "
        f"(shiftright(b.simhash, {SIMHASH_BAND_BITS} * i) & {mask}))"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= max_hamming)
        .filter(no_earlier_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


def substring_windows(
    docs: DataFrame, length: int = 32, sample_mod: int = 1
) -> DataFrame:
    """Distinct (doc_id, h) hashes of stride-1 character windows of
    ``length`` chars — the unit of exact substring-level dedup.

    Stride 1 gives the exact guarantee: ANY common substring of ≥ length
    chars between two docs yields at least one identical full window in
    both, whatever its alignment (a strided variant would miss unaligned
    matches). Windows are hashed map-side in the scan stage (one md5
    intrinsic per window, no per-character lambda), so the dedup shuffle
    carries 8-byte longs; a common substring of M ≥ length chars
    contributes M − length + 1 shared windows.

    ``sample_mod`` = W > 1 applies 0-mod-W fingerprint selection (keep
    windows with h % W == 0) BEFORE the distinct shuffle — the standard
    content-defined sampling of substring-fingerprint dedup: selection
    depends only on window CONTENT, so two docs sharing a substring select
    the same windows from it, and both shuffle volume and join fan-in drop
    W-fold. A shared run of M chars then yields ≈ (M−length+1)/W selected
    windows (detection becomes probabilistic in run length, deterministic
    in content — same result on every engine/partitioning). W=1 keeps the
    exhaustive exact tier."""
    win = F.expr(
        f"CASE WHEN length(text) >= {length} THEN "
        f"transform(sequence(1, length(text) - {length} + 1), "
        f"i -> substring(text, i, {length})) ELSE array() END"
    )
    # stride-1 windows × md5 is the heaviest per-row map stage in the
    # dedup surface — spread the corpus first so it parallelizes even
    # when the input plans as one scan split (no-op at scale)
    hashed = spread_small(docs).select(
        "doc_id", F.explode(win).alias("w")
    ).select("doc_id", (md5_hash48("w") % HASH_P).alias("h"))
    if sample_mod > 1:
        hashed = hashed.filter(F.col("h") % sample_mod == 0)
    return hashed.distinct()


def substring_dedup_pairs(
    docs: DataFrame,
    length: int = 32,
    min_shared: int = 8,
    max_df: int = 50,
    sample_mod: int = 1,
) -> DataFrame:
    """Tier 5 — exact substring-level dedup (the large-substring tier of
    training-data pipelines, cf. suffix-array dedup): doc pairs sharing
    ≥ ``min_shared`` distinct ``length``-char windows — with
    ``sample_mod=1``, at least ``length + min_shared − 1`` chars of
    contiguous overlap (or the same total across several runs); with
    0-mod-W sampling, ≈ ``length + W·min_shared`` chars expected.

    Banded like every other tier, never all-pairs: the inverted index on
    window hashes joins only bucket-mates, and the ``max_df`` stop-window
    cap (stop_shingle_filter) drops boilerplate windows before the
    self-join, bounding per-bucket fan-out to max_df·(max_df−1)/2. The
    pair aggregate is one hash-partitioned shuffle on (doc_a, doc_b).
    Deterministic end-to-end — hash-gated against a DuckDB oracle that
    applies the identical window/hash/sample/cap pipeline.

    The window relation is eagerly ``localCheckpoint``-ed: it feeds the
    df-cap aggregate AND the capped output, which itself feeds both
    self-join sides — without the checkpoints Catalyst re-plans the whole
    explode+hash+distinct pipeline per branch (4 corpus scans instead of
    1; the same fix as the MinHash tier's shared sets). Checkpointed rows
    are (doc_id, hash) longs — compact and spillable."""
    w = substring_windows(docs, length, sample_mod).localCheckpoint(
        eager=True
    )
    kept = stop_shingle_filter(w, max_df, col="h").localCheckpoint(
        eager=True
    )
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def doc_hash_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc shingle-hash SET as one array<bigint> row — the persistable
    signature representation the incremental dedup probes (write this per
    batch, bucketed by doc_id or band key, and the corpus text is never
    re-read)."""
    return (
        _shingle_hash_multiset(docs, n)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("s"))
    )


def incremental_lsh_dedup(
    base: DataFrame,
    delta: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    base_sets: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup dedup: flag each DELTA doc against an existing
    BASE corpus, never base-vs-base.

    The shape every continuously-ingesting training-data pipeline needs:
    re-deduplicating the whole corpus per batch is O(corpus) per day, but
    banding the new batch against the corpus index is O(|delta| + matched
    buckets). Here both sides' signatures are derived from text for
    oracle-checkability; in production the base side is the PERSISTED
    signature/band table (written once per batch by this same pipeline),
    so the base text is never re-read — the band join probes it like an
    index, and at 100 TB the base bands are bucketed by (band, key) so the
    probe is a co-located join with no base-side shuffle.

    Returns one row per delta doc: ``(doc_id, is_dup, match_doc_id,
    jaccard)`` — the best-matching base doc (highest verified hash-set
    Jaccard ≥ ``threshold``, ties to the smallest base doc_id) or NULLs.
    Same 16-perm MinHash / 8×2 banding / array_intersect verify as
    ``minhash_lsh_pairs``.
    """
    from pyspark.sql.window import Window

    def hash_sets(docs: DataFrame) -> DataFrame:
        return doc_hash_sets(docs, n).localCheckpoint(eager=True)

    # base_sets: pass the PERSISTED signature table (doc_hash_sets output
    # read back from storage) to skip re-deriving the corpus side.
    base_sets = base_sets if base_sets is not None else hash_sets(base)
    delta_sets = hash_sets(delta)
    cand = (
        band_keys(delta_sets)
        .withColumnRenamed("doc_id", "delta_id")
        .join(
            band_keys(base_sets).withColumnRenamed("doc_id", "base_id"),
            ["band", "key"],
        )
        .select("delta_id", "base_id")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    jac = (
        cand.join(delta_sets.alias("sa"), cand["delta_id"] == F.col("sa.doc_id"))
        .join(base_sets.alias("sb"), cand["base_id"] == F.col("sb.doc_id"))
        .select(
            "delta_id",
            "base_id",
            (
                inter.cast("double")
                / (F.size("sa.s") + F.size("sb.s") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("delta_id").orderBy(
        F.desc("jaccard"), F.asc("base_id")
    )
    best = jac.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return (
        delta.select("doc_id")
        .join(best, F.col("doc_id") == best["delta_id"], "left")
        .select(
            "doc_id",
            F.col("base_id").isNotNull().alias("is_dup"),
            F.col("base_id").alias("match_doc_id"),
            "jaccard",
        )
    )


def ppjoin_pairs(
    docs: DataFrame, n: int = 3, t_num: int = 1, t_den: int = 2
) -> DataFrame:
    """Tier 2b — prefix-filtered set-similarity join (PPJoin / SSJoin,
    Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) over the hashed shingle
    sets, Jaccard threshold ``t = t_num/t_den``.

    The scale alternative to the df-capped inverted index
    (:func:`jaccard_pairs`): instead of dropping hot shingles, sort every
    doc's shingles by GLOBAL rarest-first order (df asc, hash asc — a
    total order) and index only each doc's first
    ``p = n_doc - ceil(t * n_doc) + 1`` shingles. Soundness: if
    ``J(A,B) >= t`` then the first common shingle in global order sits
    within both prefixes (the common count c >= ceil(t*n) on each side,
    so a doc's last ``ceil(t*n) - 1`` positions cannot hold all of them).
    Hot boilerplate shingles sort LAST, so they almost never enter a
    prefix — the quadratic hot-key fan-out of a plain inverted index
    disappears without changing the answer (verified equal to the
    brute-force threshold join in tests).

    Plan (round-12 shape, guide §1.2/§2.3/§2.4): df aggregate
    (map-combinable) -> per-doc row_number window (one shuffle on doc_id;
    the per-doc size ``n`` is a second window spec over the SAME
    partitioning, so it rides that shuffle instead of a separate
    aggregate + join) -> prefix self-join on shingle hash + symmetric
    length filter ``t*na <= nb <= na/t`` (both sizes already on the
    candidate row, so the old two post-verify size joins are gone) ->
    exact verify via ``array_intersect`` against the per-doc hash-SET
    arrays (the minhash_lsh_pairs verify shape: one array row per doc
    per candidate side, instead of the old exploded per-(pair, shingle)
    double join + pair-count aggregate — four exchanges fewer and a
    candidate-bounded intermediate). The threshold compare is exact
    integer cross-multiplication (``c*(t_den+t_num) >= t_num*(na+nb)``
    <=> ``c/(na+nb-c) >= t``); the reported jaccard is a single final
    divide. ``c`` = |A∩B| over distinct hashes either way, so results
    are bit-identical."""
    sh = doc_shingle_hashes(docs, n).localCheckpoint(eager=True)
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "h")
        .withColumn(
            "rk",
            F.row_number().over(w.orderBy(F.asc("df"), F.asc("h"))),
        )
        .withColumn("n", F.count(F.lit(1)).over(w))
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n")
        - F.expr(f"(n * {t_num} + {t_den} - 1) div {t_den}")
        + 1
    ).select("doc_id", "h", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (F.col("b.n") * t_den >= F.col("a.n") * t_num)
            & (F.col("a.n") * t_den >= F.col("b.n") * t_num)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # eager checkpoint (round-13, ADVICE r12): `sets` feeds BOTH verify
    # sides, and the executed plan showed the collect_set aggregate + its
    # exchange planned TWICE (4 ObjectHashAggregate nodes, zero
    # ReusedExchange — AQE broadcast subtrees don't unify across the two
    # aliases). Materializing once is the same convention as the sibling
    # minhash_lsh_pairs' sets checkpoint.
    sets = (
        sh.groupBy("doc_id")
        .agg(F.collect_set("h").alias("s"))
        .localCheckpoint(eager=True)
    )
    c = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))).cast(
        "bigint"
    )
    return (
        cand.join(sets.alias("sa"), cand["doc_a"] == F.col("sa.doc_id"))
        .join(sets.alias("sb"), cand["doc_b"] == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", c.alias("c"), "na", "nb")
        .filter(
            F.col("c") * (t_den + t_num)
            >= (F.col("na") + F.col("nb")) * t_num
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
    )
