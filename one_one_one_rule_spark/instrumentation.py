"""Per-action performance instrumentation — the engine's analog of the
reference's ``@log_perf`` decorator (/root/reference/one_one_one_rule/perf.py:23-52,
log format ``perf <fn> wall_ms=… cpu_ms=… rss_mb=… delta_rss_mb=…``
perf.py:43-50).

The reference times eager pandas functions; in a lazy engine the honest
unit is the Spark *action*. ``log_perf`` wraps a function that triggers
actions and logs the same four metrics (driver-side wall/CPU/RSS — executor
metrics live in the Spark UI / history server). ``plan_metrics`` counts
shuffles, broadcasts, scans and Python evaluation nodes by reading the
executed physical plan (no job runs), and ``observed`` attaches
``observe()`` metrics that the consuming action computes in the same pass.
``last_stage_id`` and ``shuffle_write_records_since`` read stage metrics
off the driver UI's status REST API. None installs a JVM listener, which
keeps the module pure-Python and cluster-safe."""

from __future__ import annotations

import functools
import json
import logging
import resource
import sys
import time
import urllib.request
from collections.abc import Callable
from typing import Any

logger = logging.getLogger("one_one_one_rule_spark.perf")


def _rss_mb() -> float:
    """Max RSS in MB — getrusage returns KB on Linux, bytes on macOS
    (mirrors perf.py:14-20)."""
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if sys.platform == "darwin":
        return rss / (1024.0 * 1024.0)
    return rss / 1024.0


def log_perf(fn: Callable) -> Callable:
    """Log wall/CPU/RSS around a Spark action, reference log format."""

    @functools.wraps(fn)
    def wrapper(*args: Any, **kwargs: Any) -> Any:
        wall0 = time.perf_counter()
        cpu0 = time.process_time()
        rss0 = _rss_mb()
        try:
            return fn(*args, **kwargs)
        finally:
            rss1 = _rss_mb()
            logger.info(
                "perf %s wall_ms=%.2f cpu_ms=%.2f rss_mb=%.2f delta_rss_mb=%.2f",
                fn.__name__,
                (time.perf_counter() - wall0) * 1000.0,
                (time.process_time() - cpu0) * 1000.0,
                rss1,
                rss1 - rss0,
            )

    return wrapper


def plan_metrics(df) -> dict[str, int]:
    """Executed-plan shape metrics for a DataFrame — shuffle and scan
    counts, the two numbers that predict 100 TB behavior. Cheap (string
    inspection of the physical plan; no job is run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "cartesians": plan.count("CartesianProduct"),
        "scans": plan.count("FileScan"),
        "python_evals": plan.count("EvalPython")
        + plan.count("InPandas")  # MapInPandas / FlatMapGroupsInPandas
        + plan.count("InArrow")  # zero-copy MapInArrow
        + plan.count("AggregatePython"),  # grouped-agg pandas UDAF
    }


def observed(df, name: str, **metric_exprs):
    """Attach named ``observe()`` metrics to a DataFrame — Spark's
    zero-extra-pass accumulator channel: the metric expressions are
    evaluated DURING the action that consumes the DataFrame (no second
    job, unlike a separate ``agg()``), which is how a production run
    reports row counts / null rates / sums per stage without doubling
    its I/O (the lazy-engine upgrade of the reference's post-stage
    ``len(df)`` logging, pipeline_job.py:112-118).

    Returns ``(df, fetch)`` where ``fetch()`` yields the metrics dict
    after the first action on ``df``.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(obs, *[v.alias(k) for k, v in metric_exprs.items()])

    def fetch() -> dict:
        got = obs.get
        logger.info(
            "observe %s %s",
            name,
            " ".join(f"{k}={got[k]}" for k in sorted(got)),
        )
        return got

    return out, fetch


def _ui_stages(sc) -> list[dict]:
    """Every stage the status store holds, read off the UI's REST API
    after the async listener bus has ingested every queued event (a sleep
    would only narrow the snapshot race; under co-tenant load ingestion
    can lag arbitrarily). Needs the UI: ``sc.uiWebUrl`` is None without
    it."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    except Exception:
        time.sleep(0.5)  # private-API fallback if the signature moves
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def last_stage_id(sc) -> int:
    """The highest stage id the status store holds right now (-1 if
    none): the snapshot ``shuffle_write_records_since`` counts after."""
    return max((s["stageId"] for s in _ui_stages(sc)), default=-1)


def shuffle_write_records_since(sc, stage_id: int) -> int:
    """Shuffle-write records of the stages with id > ``stage_id``: a
    stage-id delta survives UI eviction of OLD stages (a before/after
    total would undercount whenever the run itself evicts pre-snapshot
    entries)."""
    return sum(
        s.get("shuffleWriteRecords", 0)
        for s in _ui_stages(sc)
        if s["stageId"] > stage_id
    )
