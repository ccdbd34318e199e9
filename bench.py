#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints the metric JSON:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two stdout lines: first the FULL line above (per-query medians + raw
samples — also persisted as the file artifact), then a COMPACT summary
(<2KB: totals, ten slowest, failure count, artifact pointer) as the LAST
line, because the driver keeps only a ~2000-char output tail and parses
the last line — the full line alone arrives truncated there (r8/r9's
BENCH_r*.json carried "parsed": null).

Each query is forced end-to-end with a noop sink (full computation, no
driver-side materialization), timed after a session warm-up so JVM/codegen
startup isn't billed to the first query. The committed per-query number is
the MEDIAN of three timed runs taken across three full passes over the
registry (pass-level interleaving: a transient co-tenant load spike lands
in at most one of a query's samples); the raw samples ship alongside in
``runs`` so any round can re-adjudicate scatter.

Per-query isolation mode (round-5 VERDICT item 2 — the shared-session
bench cannot distinguish a genuine plan regression from cross-query
contention: GC/scheduler pressure accumulated across 200 plans in one
JVM inflates later queries):

    python bench.py --isolate q_a,q_b     # each query in a FRESH process
    python bench.py --single q_a          # internal: one query, one JVM

``--isolate`` spawns one subprocess per query (fresh JVM, fresh codegen
cache, same warm-up contract: the query runs once at sf0.001 then twice
timed at sf_dir, min reported) and writes BENCH_ISOLATE.json. The default
no-arg invocation is byte-identical to previous rounds (the driver runs
it), and BENCH_LOCAL.json stays the shared-session artifact — isolation
numbers are a DIAGNOSTIC, not the headline.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from one_one_one_rule_spark.queries import QUERIES  # noqa: E402
from one_one_one_rule_spark.session import get_spark  # noqa: E402

# Bench the FULL query registry (registration order) so a perf regression
# in any operator is visible per round, not just the original headline set.
HEADLINE = list(QUERIES)

#: Documented bench split (round-8 verdict item 8): the full-registry
#: median-of-3 bench costs ~20 min at 233 queries and grows with every
#: round. ``python bench.py --subset`` times only the HEADLINE SUBSET —
#: the top spenders by the COMMITTED full bench plus one representative
#: per operator tier — and writes BENCH_HEADLINE.json, so a future round
#: can iterate on perf at ~1/4 the wall cost. The no-arg invocation (what
#: the driver runs) still covers the full registry, and the full oracle
#: sweep remains the only correctness gate; the subset is a TIMING lens,
#: never a coverage claim.
SUBSET_TOP_N = 25
#: One representative per tier, so a plan regression localized to a tier
#: none of whose members are top-N spenders still moves the subset.
SUBSET_TIER_REPS = [
    "valuation_full",            # reference pipeline (cleanse->valuate)
    "q1_pricing_summary",        # TPC-H scan/agg
    "q3_top_revenue_orders",     # TPC-H join/topk
    "top_orders_per_customer_salted",  # skew-proof window
    "events_running_sum",        # window tier
    "customer_segment_setops",   # set operations
    "events_hourly_rollup",      # time rollup
    "events_stream_hourly_rollup",     # streaming (gate-orchestration)
    "docs_dedup_prefix",         # exact dedup
    "docs_minhash_lsh_pairs",    # MinHash LSH
    "embeddings_neardup_clusters_scaled",  # production SRP clustering
    "ann_ivf_topk",              # ANN retrieval
    "embeddings_quantile_normalize_adaptive",  # embedding transform
    "docs_pack_doc_spans",       # packing / prefix sum
    "docs_weighted_systematic_sample",  # sampling
    "docs_bpe_token_stats",      # BPE/tokenization
    "events_asof_purchase_click_salted",  # temporal join (salted)
    "events_interval_overlap_join",       # interval join
    "customer_geo_neighbors",    # spatial join
    "media_kind_stats",          # multimodal
    "events_sketch_profile",     # sketches (gate-orchestration)
]


def headline_subset() -> list[str]:
    """Top-``SUBSET_TOP_N`` engine queries by the committed full-bench
    medians, unioned with the tier representatives, in registry order."""
    picked = {n for n in SUBSET_TIER_REPS if n in QUERIES}
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_LOCAL.json",
            )
        ) as f:
            committed = json.load(f)["queries"]
    except Exception as exc:
        committed = {}
        print(
            "bench --subset: committed BENCH_LOCAL.json unreadable "
            f"({exc!r}) — falling back to tier representatives only; the "
            "top-spender half of the subset contract is NOT covered",
            file=sys.stderr,
        )
    spend = sorted(
        (
            (n, t)
            for n, t in committed.items()
            if t is not None and n in QUERIES
        ),
        key=lambda kv: -kv[1],
    )
    picked.update(n for n, _t in spend[:SUBSET_TOP_N])
    return [n for n in QUERIES if n in picked]

#: Timed passes over the registry; the committed per-query number is the
#: MEDIAN across passes (robust to the ±10-35% single-shot scatter the
#: round-6 isolation study measured — see BASELINE.md).
N_RUNS = 3

# Gate-orchestration queries: their wall time is dominated by correctness-
# GATE mechanics, not engine cost — the events_stream_* entries stage
# slices through availableNow drains (plus watermark-flush choreography)
# to prove batch/stream convergence, and events_sketch_profile computes
# exact companion aggregates alongside the sketches purely so the sketch
# error bounds are hash-checkable. Production runs the same operators as
# a continuous stream / sketches-only, so BENCH_LOCAL.json reports the
# two subtotals separately; `value` stays the all-in total for
# round-over-round comparability.
GATE_ORCHESTRATION = {n for n in HEADLINE if n.startswith("events_stream_")} | {
    "events_sketch_profile",
    # micro-batch drain through the custom streaming Python Data Source —
    # stream orchestration, same class as the events_stream_* gates
    "quotes_stream_ohlc",
    # applyInPandasWithState drained with availableNow — drain choreography
    "events_stateful_user_totals",
    # staged file-stream probes against the persisted signature index —
    # two foreachBatch drains plus an index write, all gate mechanics
    "docs_stream_incremental_dedup",
    # per-batch foreachBatch probe drain against the persisted IVF index —
    # same staged-micro-batch choreography as the dedup stream gate
    "ann_ivf_stream_probe",
    # conditionally registered (needs the transformWithState runtime); the
    # events_stream_ prefix match misses it, so name it explicitly — a
    # set member that is absent from HEADLINE is harmless
    "events_tws_bottomk_sample",
}


def _sf_of(sf_dir: str):
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else None


def _time_query(spark, name: str, sf_dir: str, warm_dir: str):
    """Warm once at warm_dir (codegen/JIT), then best-of-two at sf_dir."""
    fn = QUERIES[name]
    try:
        fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def run_single(name: str) -> None:
    """One query, one fresh JVM — prints one JSON line {"name": sec}."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "bench-single", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    try:
        sec = _time_query(spark, name, sf_dir, warm_dir)
    except Exception as exc:
        print(f"bench --single: {name} FAILED: {exc}", file=sys.stderr)
        print(json.dumps({name: None}))
        sys.exit(1)  # the parent surfaces stderr on nonzero exit
    print(json.dumps({name: sec}))


def run_isolate(names: list[str]) -> None:
    """Each query in its own subprocess: fresh JVM, zero cross-query
    state. Attribution diagnostic for shared-session drift — writes
    BENCH_ISOLATE.json, never the headline BENCH_LOCAL.json."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    timings: dict[str, float | None] = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--single", name],
            capture_output=True, text=True,
        )
        sec = None
        for line in reversed(proc.stdout.splitlines()):
            # only the child's own result line carries the query key —
            # other JSON-shaped stdout lines must not shadow it
            try:
                parsed = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(parsed, dict) and name in parsed:
                sec = parsed[name]
                break
        if sec is None:
            # crashed (nonzero exit) or produced no result line: surface
            # the child's diagnostics instead of a silent null
            print(proc.stderr[-800:], file=sys.stderr)
        timings[name] = sec
        print(f"isolated {name}: {sec}s", flush=True)
    line = json.dumps(
        {
            "metric": "isolated_queries_wall",
            "unit": "sec",
            "queries": timings,
            "sf": _sf_of(sf_dir),
            "note": "fresh JVM per query; diagnostic, not the headline",
        }
    )
    print(line)
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_ISOLATE.json"
    )
    with open(out_path, "w") as f:
        f.write(line + "\n")


def _resolve_out_path(
    requested: str | None,
    default_name: str = "BENCH_LOCAL.json",
    cpus: int | None = None,
) -> str:
    """Where to persist the metric line (round-7 verdict item 2: the
    driver's per-round bench run used to rewrite the committed
    BENCH_LOCAL.json in place, leaving the tree dirty at judging time
    through no action of the builder).

    ``--out PATH`` writes exactly there. With no ``--out``, the default
    target is ``default_name`` (BENCH_LOCAL.json for the full bench,
    BENCH_HEADLINE.json for --subset) — but if that file is tracked AND
    clean in git, the write is redirected to the gitignored
    ``<stem>.latest.json`` so an automated run never dirties a committed
    artifact. Committing a fresh bench is an explicit act:
    ``python bench.py [--subset] --out <name>``. Without ``--out``, a run
    on other than 32 cores always writes a ``.c{cpus}`` name, so it cannot
    overwrite the 32-core per-query map.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    if requested:
        return os.path.join(here, requested) if not os.path.isabs(
            requested
        ) else requested
    # cpu-suffixed names for non-default core counts (round-13 VERDICT
    # item 2): the driver benches the SAME tree at 32 and 8 cores back to
    # back, and its stdout keeper holds only a 2000-char tail — the full
    # per-query map physically cannot ride the last line (243 entries =
    # ~8.1 KB; r8/r9 proved an over-tail last line parses as null). The
    # full maps therefore live in files: the 8-core run must not clobber
    # the 32-core artifact the per-query comparison needs.
    tag = "" if cpus in (None, 32) else f".c{cpus}"
    target = os.path.join(here, default_name.replace(".json", f"{tag}.json"))
    try:
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", default_name],
            cwd=here, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        tracked = (
            subprocess.run(
                ["git", "ls-files", "--error-unmatch", default_name],
                cwd=here, capture_output=True, timeout=30,
            ).returncode
            == 0
        )
    except Exception:
        return target  # not a git checkout: plain write
    if tracked and not dirty:
        redirected = os.path.join(
            here, default_name.replace(".json", f".latest{tag}.json")
        )
        print(
            f"bench: {default_name} is committed and clean — writing to "
            f"{redirected} instead (pass --out {default_name} to update "
            "the committed artifact)",
            file=sys.stderr,
        )
        return redirected
    return target


def main(out: str | None = None, names: list[str] | None = None) -> None:
    headline = names if names is not None else HEADLINE
    metric = (
        "headline_queries_total_wall"
        if names is None
        else "headline_subset_total_wall"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM, parquet footer cache, and — critically — Catalyst
    # planning + whole-stage-codegen compilation for every headline plan, by
    # running each query once at the smallest scale factor. Plans are
    # identical across SFs, so the codegen cache is hot when timing starts;
    # otherwise the first complex query is billed ~5s of one-time JIT cost.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    for name in headline:
        try:
            QUERIES[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    # MEDIAN of three timed runs per query, taken across three FULL passes
    # over the registry (round-6 VERDICT item 2): single-shot numbers swing
    # ±10-35% on a shared box (page cache, broadcast rebuild, GC, co-tenant
    # load), and a best-of estimator can mask a real regression in a noisy
    # window. Pass-level interleaving spreads a query's three samples
    # minutes apart, so a transient load spike cannot contaminate all of
    # them the way three back-to-back runs would be.
    # One broken query must not kill the whole bench (round-2 postmortem:
    # a single AnalysisException produced rc=1 and zero numbers). Failures
    # report null; the JSON line always prints.
    import statistics

    samples: dict[str, list[float]] = {name: [] for name in headline}
    for _pass in range(N_RUNS):
        for name in headline:
            fn = QUERIES[name]
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples[name].append(
                    round(time.perf_counter() - t0, 3)
                )
            except Exception as exc:
                print(
                    f"bench: {name} FAILED (pass {_pass}): {exc}",
                    file=sys.stderr,
                )
    timings: dict[str, float | None] = {
        name: (round(statistics.median(s), 3) if s else None)
        for name, s in samples.items()
    }

    total = round(sum(t for t in timings.values() if t is not None), 3)
    gate_sec = round(
        sum(
            t
            for n, t in timings.items()
            if t is not None and n in GATE_ORCHESTRATION
        ),
        3,
    )
    line = json.dumps(
        {
            "metric": metric,
            "value": total,
            "unit": "sec",
            "estimator": "median",
            "n_runs": N_RUNS,
            "engine_sec": round(total - gate_sec, 3),
            "gate_sec": gate_sec,
            "n_gate_queries": len(GATE_ORCHESTRATION),
            "queries": timings,
            "runs": samples,
            "sf": sf,
            "cpus": cpus,
        }
    )
    # The full line prints FIRST (round-2 postmortem invariant: the JSON
    # line always prints — a failed artifact write must not eat a ~20 min
    # bench run), then the artifact write, then the compact line LAST so
    # neither the redirect note (stderr) nor a write-failure traceback can
    # trail the machine-readable summary on a healthy run.
    print(line, flush=True)
    try:
        out_path = _resolve_out_path(
            out,
            "BENCH_LOCAL.json" if names is None else "BENCH_HEADLINE.json",
            cpus=cpus,
        )
        with open(out_path, "w") as f:
            f.write(line + "\n")
        detail = os.path.basename(out_path)
        queries_file = out_path
    except OSError as exc:
        print(f"bench: artifact write failed: {exc}", file=sys.stderr)
        detail = None
        queries_file = None
    # The driver keeps only a ~2000-char tail of this process's output and
    # parses the LAST line as the round's headline number. The full line
    # above is ~19KB at 235 queries — inside the tail it arrives truncated
    # and unparseable (BENCH_r08/r09 recorded "parsed": null). So the very
    # last stdout line is a COMPACT summary: the headline totals, the ten
    # slowest medians, any failures, and a pointer to the full artifact.
    #
    # Round-13 note on the per-query contract (VERDICT r12 item 2 asked
    # for the full {query: median} map in this compact line): measured
    # against the recorded driver tails (len(tail) == 2000 in every
    # BENCH_r*.json), the 243-entry map alone is 8,112 chars — putting it
    # here would push the line past the tail and regress the parse to
    # null (the r8/r9 failure mode), losing even the headline value. The
    # full map instead ships in the artifact files, which are now
    # cpu-suffixed so the driver's 32- and 8-core runs coexist on disk:
    # "queries_file" below is the absolute path of this run's full map.
    slowest = dict(
        sorted(
            ((n, t) for n, t in timings.items() if t is not None),
            key=lambda kv: kv[1],
            reverse=True,
        )[:10]
    )
    compact = json.dumps(
        {
            "metric": metric,
            "value": total,
            "unit": "sec",
            "estimator": "median",
            "n_runs": N_RUNS,
            "engine_sec": round(total - gate_sec, 3),
            "gate_sec": gate_sec,
            "n_queries": len(timings),
            "n_failed": sum(1 for t in timings.values() if t is None),
            "slowest": slowest,
            "sf": sf,
            "cpus": cpus,
            "detail": detail,
            "queries_file": queries_file,
        }
    )
    print(compact, flush=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--single", metavar="QUERY", default=None)
    ap.add_argument("--isolate", metavar="Q1,Q2,...", default=None)
    ap.add_argument(
        "--out",
        metavar="PATH",
        default=None,
        help="artifact path for the metric line (default: BENCH_LOCAL.json,"
        " auto-redirected to BENCH_LOCAL.latest.json when the committed"
        " artifact is clean in git; BENCH_HEADLINE.json with --subset)",
    )
    ap.add_argument(
        "--subset",
        action="store_true",
        help="time only the headline subset (top spenders by the committed"
        " full bench + one representative per tier) instead of the full"
        " registry — the documented fast timing lens; correctness stays"
        " with the full oracle sweep",
    )
    cli = ap.parse_args()
    if cli.single:
        run_single(cli.single)
    elif cli.isolate:
        run_isolate([n.strip() for n in cli.isolate.split(",") if n.strip()])
    elif cli.subset:
        main(cli.out, names=headline_subset())
    else:
        main(cli.out)
