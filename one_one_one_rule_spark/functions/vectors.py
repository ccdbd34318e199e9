"""Vector expression builders for embedding similarity (dim-64 float arrays).

Determinism strategy: dot products and norms are generated as EXPLICIT
left-associated addition chains (t0 + t1 + ... + t63) with each float element
cast to double first. Both engines then execute the exact same IEEE-754
operation sequence → bit-identical cosines, so top-k membership and ranking
agree with the DuckDB oracle without any tolerance fudging.

(A fold — Spark ``aggregate``/DuckDB ``list_sum`` — would be implementation-
order-dependent across engines; the explicit chain is also whole-stage
codegen friendly.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_chain_spark(a: str, b: str, dim: int) -> Column:
    """Σ a[i]*b[i] as an explicit chain (Spark SQL arrays are 0-based)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(terms)


def norm_chain_spark(a: str, dim: int) -> Column:
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.sqrt(F.expr(terms))


def dot_chain_sql(a: str, b: str, dim: int) -> str:
    """DuckDB mirror (1-based list indexing)."""
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )


def norm_chain_sql(a: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({a}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"sqrt({terms})"


def srp_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic signed-random-projection hyperplanes.

    Small integer coefficients from a fixed SplitMix64-style mix —
    generated identically wherever called (no RNG state, exact Python
    ints), so the Spark plan and the DuckDB oracle SQL embed the exact
    same literals. The mix matters: the previous single multiplicative
    hash reduced every coefficient to ``(j*dim + i) mod 19`` — a PERIOD-19
    1-D lattice, i.e. at most 19 distinct plane patterns — so growing the
    plane count past ~19 (the band_bits_for_corpus scale knob) added
    duplicated planes and zero extra discrimination. The 64-bit mix gives
    effectively independent coefficients at any (j, i)."""
    mask = (1 << 64) - 1

    def coef(t: int) -> int:
        h = ((t + 1) * 0x9E3779B97F4A7C15) & mask
        h ^= h >> 29
        h = (h * 0xBF58476D1CE4E5B9) & mask
        h ^= h >> 32
        return h % 19 - 9

    return [
        [coef(j * dim + i) for i in range(dim)] for j in range(n_planes)
    ]


def plane_dot_fold(emb: str, plane: list[int]) -> str:
    """Σ emb[i]*coef as a zip_with + aggregate fold (Spark SQL expr string).

    Bit-identical to the explicit chain: the fold runs ((0.0+t0)+t1)+...,
    the same left-associated order, and 0.0+t0 == t0 in IEEE-754. The AST
    is ~4x smaller than the chain, which matters when 16 planes × 64 terms
    would otherwise dominate Catalyst analysis time.
    """
    arr = "array(" + ",".join(f"{c}.0D" for c in plane) + ")"
    return (
        f"aggregate(zip_with({emb}, {arr}, (x, q) -> CAST(x AS DOUBLE) * q),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def plane_dot_fold_sql(emb: str, plane: list[int]) -> str:
    """DuckDB mirror of :func:`plane_dot_fold` — the explicit
    left-associated chain ``0.0 + t0 + t1 + ...``, which is the SAME IEEE
    result as the left fold (both start from a 0.0 accumulator and add
    terms left-to-right; verified bit-identical across the corpus) but
    ~23x faster in DuckDB: ``list_reduce`` executes its lambda
    row-at-a-time interpreted, the chain is a plain vectorized arithmetic
    expression. The round-9 profiling that motivated this: a 36-plane
    signature over 500 rows cost 13.3s as folds vs 0.57s as chains, and
    the clusters oracle references the signature CTE four times."""
    if not plane:
        return "0.0"  # empty fold = the bare accumulator (old form's 0.0)
    terms = " + ".join(
        f"CAST({emb}[{i + 1}] AS DOUBLE) * {c}.0"
        for i, c in enumerate(plane)
    )
    return f"(0.0 + {terms})"
