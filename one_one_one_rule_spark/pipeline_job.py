"""Entry point #1 — the daily valuation pipeline as a runnable module.

Mirrors the reference orchestrator (/root/reference/one_one_one_rule/
pipeline_job.py:83-186) stage for stage on the Spark engine:

    python -m one_one_one_rule_spark.pipeline_job \
        --sf-dir /root/testdata/sf0.001 --output-dir /tmp/out

1. run metadata — business date in the configured timezone, UTC run
   timestamp truncated to seconds with a ``Z`` suffix (F12); a pinned
   clock via ``--as-of-date/--run-ts-utc`` makes runs byte-deterministic
   (the oracle/golden-test convention).
2. source — the deterministic fixture snapshot by default; the live
   yfinance/Wikipedia legs stay behind their network-gated adapters in
   ``sources/`` exactly as in the reference's ``use_wikipedia`` switch.
3. cleanse → valuate → ordered 29-column output as ONE lazy DataFrame
   plan (plans/pipeline.py) — Catalyst fuses what the reference ran as
   seven separate pandas passes. Nothing runs yet.
4. sinks — the single-file CSV write (S7) is the run's one Spark action:
   it executes the whole plan once, and an ``Observation`` on that same
   write yields the row count. The optional dated copy
   (``nasdaq100_valuations_<date>.csv``, pipeline_job.py:137-142) is a
   file copy of that CSV. Then best-effort post-sink upsert of data + log
   (S8/S10 via sinks.ship — Drive when a transport/token exists, a local
   upsert-by-name copy otherwise).

Every stage logs row counts and ``perf`` lines in the reference's
format (U7), to console and to the dated log file.
"""

from __future__ import annotations

import argparse
import logging
import os
import shutil
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .config import ValuationThresholds
from .instrumentation import log_perf
from .operators.output import write_single_csv
from .plans.pipeline import valuation_pipeline
from .session import get_spark
from .sources.fixtures import synthetic_fundamentals
from .sources.sinks import LocalCopySink, PostSink, ship

DEFAULT_TZ = "Asia/Bangkok"  # reference settings.py:56


def run_metadata(tz_name: str = DEFAULT_TZ) -> tuple[str, str]:
    """F12 — live business date in the configured timezone + UTC run
    timestamp, second precision, ``Z`` suffix (pipeline_job.py:85-95)."""
    as_of = datetime.now(ZoneInfo(tz_name)).date().isoformat()
    run_ts = (
        datetime.now(timezone.utc)
        .replace(microsecond=0)
        .isoformat()
        .replace("+00:00", "Z")
    )
    return as_of, run_ts


def _setup_logger(
    log_path: str,
) -> tuple[logging.Logger, logging.Handler]:
    """S10 — file + console logger for the run (pipeline_job.py:64-79).
    Also attaches the file handler to the perf logger so U7 lines land
    in the shipped log; the handler is returned so the caller can detach
    it from the shared perf logger when the run ends."""
    logger = logging.getLogger("one_one_one_rule_spark.pipeline")
    logger.setLevel(logging.INFO)
    for h in logger.handlers[:]:  # close, don't just drop: no fd leak
        logger.removeHandler(h)
        h.close()
    fmt = logging.Formatter("%(asctime)s %(levelname)s %(message)s")
    fh = logging.FileHandler(log_path, encoding="utf-8")
    fh.setFormatter(fmt)
    sh = logging.StreamHandler()
    sh.setFormatter(fmt)
    logger.addHandler(fh)
    logger.addHandler(sh)
    perf = logging.getLogger("one_one_one_rule_spark.perf")
    perf.setLevel(logging.INFO)
    for h in perf.handlers[:]:
        perf.removeHandler(h)
    perf.addHandler(fh)
    return logger, fh


def run_pipeline(
    spark,
    sf_dir: str,
    output_dir: str,
    *,
    basename: str = "nasdaq100_valuations.csv",
    write_dated_copy: bool = True,
    tz_name: str = DEFAULT_TZ,
    as_of_date: str | None = None,
    run_ts_utc: str | None = None,
    post_sink: PostSink | None = None,
    upload_log: bool = False,
    log_file_prefix: str = "pipeline",
) -> dict:
    """The reference ``main()`` flow; returns the run manifest (paths,
    counts) so tests and callers can assert on it."""
    live_as_of, live_ts = run_metadata(tz_name)
    as_of_date = as_of_date or live_as_of
    run_ts_utc = run_ts_utc or live_ts

    os.makedirs(output_dir, exist_ok=True)
    log_path = os.path.join(
        output_dir, f"{log_file_prefix}_{as_of_date}.log"
    )
    logger, run_handler = _setup_logger(log_path)
    try:
        return _run_pipeline_logged(
            spark,
            sf_dir,
            output_dir,
            basename,
            write_dated_copy,
            post_sink,
            upload_log,
            as_of_date,
            run_ts_utc,
            logger,
            log_path,
        )
    finally:
        # detach the per-run file handler from the SHARED perf logger on
        # EVERY exit path (a failed run must not leave later jobs in the
        # same process appending U7 lines to this run's dated log)
        logging.getLogger("one_one_one_rule_spark.perf").removeHandler(
            run_handler
        )


def _run_pipeline_logged(
    spark,
    sf_dir,
    output_dir,
    basename,
    write_dated_copy,
    post_sink,
    upload_log,
    as_of_date,
    run_ts_utc,
    logger,
    log_path,
) -> dict:
    logger.info("Pipeline start")
    logger.info("as_of_date=%s run_ts_utc=%s", as_of_date, run_ts_utc)

    thresholds = ValuationThresholds.from_env()

    @log_perf
    def fetch_fundamentals():
        # Fixture source (deterministic). The live per-ticker leg is
        # sources/yfinance_source.fetch_fundamentals_distributed behind
        # its injected fetcher — same snapshot schema either way.
        return synthetic_fundamentals(spark, sf_dir)

    raw = fetch_fundamentals()

    @log_perf
    def transform():
        # builds the lazy plan only; the CSV write below is its one action
        return valuation_pipeline(
            raw,
            order_col="k",
            thresholds=thresholds,
            as_of_date=as_of_date,
            run_ts_utc=run_ts_utc,
        )

    output = transform()

    @log_perf
    def load_csv():
        rows = Observation()
        latest = write_single_csv(
            output.observe(rows, F.count(F.lit(1)).alias("n_rows")),
            os.path.join(output_dir, basename),
        )
        n_rows = rows.get["n_rows"]  # filled in by the write above
        dated = None
        if write_dated_copy:
            dated_name = f"nasdaq100_valuations_{as_of_date}.csv"
            dated = os.path.join(output_dir, dated_name)
            if dated != latest:
                shutil.copyfile(latest, dated)
        return latest, dated, n_rows

    latest_path, dated_path, n_rows = load_csv()
    logger.info("Valuation rows: %d", n_rows)
    logger.info("Wrote latest CSV: %s", latest_path)
    if dated_path:
        logger.info("Wrote dated CSV: %s", dated_path)

    uploaded = None
    if post_sink is not None:
        upload_path = dated_path or latest_path
        uploaded = ship(
            upload_path, post_sink, os.path.basename(upload_path)
        )
        logger.info("Post-sink upsert: %s", uploaded)
        if upload_log:
            ship(log_path, post_sink, os.path.basename(log_path))

    logger.info("Pipeline finished")
    return {
        "as_of_date": as_of_date,
        "run_ts_utc": run_ts_utc,
        "n_rows": n_rows,
        "latest_csv": latest_path,
        "dated_csv": dated_path,
        "log_path": log_path,
        "uploaded": uploaded,
    }


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(
        description="1-1-1 rule valuation pipeline (Spark engine)"
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--output-dir", default="data")
    ap.add_argument("--basename", default="nasdaq100_valuations.csv")
    ap.add_argument("--no-dated-copy", action="store_true")
    ap.add_argument("--timezone", default=DEFAULT_TZ)
    ap.add_argument(
        "--as-of-date", default=None, help="pin the business date"
    )
    ap.add_argument(
        "--run-ts-utc", default=None, help="pin the run timestamp"
    )
    ap.add_argument(
        "--upsert-dir",
        default=None,
        help="local upsert-by-name post-sink directory (Drive stand-in)",
    )
    ap.add_argument("--upload-log", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark("one_one_one_rule_pipeline")
    sink = LocalCopySink(args.upsert_dir) if args.upsert_dir else None
    return run_pipeline(
        spark,
        args.sf_dir,
        args.output_dir,
        basename=args.basename,
        write_dated_copy=not args.no_dated_copy,
        tz_name=args.timezone,
        as_of_date=args.as_of_date,
        run_ts_utc=args.run_ts_utc,
        post_sink=sink,
        upload_log=args.upload_log,
    )


if __name__ == "__main__":
    main()
