#!/usr/bin/env python
"""Regenerate PLANS.md: per-query physical-plan metrics (shuffles,
broadcasts, scans, Python-eval nodes) at sf0.01 — the at-a-glance audit of
every registered query's scale shape.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from one_one_one_rule_spark.instrumentation import plan_metrics  # noqa: E402
from one_one_one_rule_spark.queries import QUERIES  # noqa: E402
from one_one_one_rule_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit (generated by scripts/plan_audit.py)",
        "",
        f"Per-query executed-plan metrics at `{sf_dir}`. `exchanges` counts",
        "hash/range shuffle exchanges, `broadcasts` broadcast exchanges,",
        "`cart` cartesian products (0 everywhere by design), `scans` file",
        "scans, `py` Python-eval nodes (0 everywhere except",
        "the deliberately Arrow-batched paths: partial top-k, the WAV",
        "codec round trip — mapInPandas AND zero-copy mapInArrow — the",
        "cogrouped-pandas attribution gate, the bounded-group trimmed-mean",
        "pandas UDAF, and the mapInPandas source/feature adapters).",
        "",
        "This table is an ENFORCED contract, not documentation:",
        "tests/test_plan_regression.py regenerates every row in-process and",
        "fails if any query's counts EXCEED its committed row (ratchet —",
        "improvements require regenerating this file, regressions fail CI).",
        "",
        "Known blind spot, covered elsewhere: queries that localCheckpoint",
        "per round (the converged graph loops, streaming drains) expose",
        "only their post-checkpoint TAIL plan here — their rows are ~0 and",
        "a regression inside the per-round join would not move them. Their",
        "volume is enforced by the SCALING.md shuffle-row exponents",
        "(tests/test_scaling.py), and their UN-checkpointed per-round plan",
        "shapes are pinned directly by the *_round_plan_shape tests in",
        "tests/test_plan_shapes.py via the shared round builders",
        "(_pr_round / _kcore_degrees / _kcore_induce / _sssp_round).",
        "`valuation_full` is the same case once: it lazily checkpoints the",
        "cleansed snapshot, so its row shows only the valuation tail. The",
        "cleanse subtree's shape is pinned by",
        "tests/test_instrumentation.py::test_valuation_plan_construction_is_cheap",
        "(and by the `fundamentals_cleanse` row).",
        "",
        "| query | exchanges | broadcasts | cart | scans | py |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        try:
            m = plan_metrics(QUERIES[name](spark, sf_dir))
            lines.append(
                f"| {name} | {m['exchanges']} | {m['broadcasts']} |"
                f" {m['cartesians']} |"
                f" {m['scans']} | {m['python_evals']} |"
            )
        except Exception as exc:  # streaming entries have no batch plan
            lines.append(
                f"| {name} | — | — | — | — | — ({type(exc).__name__}) |"
            )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
