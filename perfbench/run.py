#!/usr/bin/env python3
"""Benchmark of the valuation engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload daily_screen --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run is one fresh process driving one workload (``BENCHMARK.json``
names them; ``perfbench/workloads.json`` fixes their members) as a closed
loop with a single caller: the next op starts when the previous one has
returned. The process generates its inputs from ``--seed`` and computes
the DuckDB oracle of every op once, then starts the Spark session
(``local[min(8, nproc)]``, as many shuffle partitions as task threads),
warms up with the number of passes ``workloads.json`` sets (the first is
cold; the JVM keeps compiling the engine's hot paths for several ops
more, and ops timed while it does vary with how much CPU the host lends
it), and repeats whole passes over the workload until ``--seconds`` have
passed (at least one pass). Every op's output is checked against its
oracle; an exception or a mismatch counts as a failed op, warm-up ops
included.

``--trace 0`` prints the end-to-end metrics over the measured ops:
``setup_s`` (process launch to the end of warm-up), ``op_p50_s`` (there
is no tail percentile: a run holds four to nine ops, too few for a rank
with ten beyond it, and a 90th percentile of five ops is their maximum,
which one slow op moves), ``ops_per_s`` (ops per
second of the measured loop's wall time), ``cpu_s_per_op`` (CPU seconds
of the whole process tree over the loop, per op) and ``peak_rss_mb``
(peak of the process tree's summed proportional set size; the JVM heap is
fixed at its 2 GB maximum, so this moves with the memory outside the
heap: the Python driver and workers, JVM metaspace, code cache and
threads). ``--trace 1`` alternates untraced and traced passes, prints the
per-layer metrics (means per traced op; a traced op lacking a metric of
its workload's layers fails, and a layer the workload does not exercise
prints 0.0; ``host.steal_s`` is the CPU time the host took from this
machine during the loop, per op; ``trace.overhead`` is the traced ops'
median latency over the untraced ones') and writes every op's spans,
counters and plan fingerprint to
``.perfbench/trace-<workload>-seed<seed>.json``. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--smoke`` runs each workload once per trace mode at the smallest scale,
one op per pass, and checks that every metric ``BENCHMARK.json`` names is
printed with its unit, that every end-to-end value is above 0, that every
traced op holds each per-layer metric of its workload, and that no op
failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import logging
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from urllib.parse import urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "one_one_one_rule_spark"
THRESHOLD_ENV = (
    "UNDERVALUED_THRESHOLD",
    "OVERVALUED_THRESHOLD",
    "PEG_MAX",
    "PE_SECTOR_MAX_MULT",
    "MARGIN_OF_SAFETY_MIN",
)
ORACLE_TABLES = ("part", "events")
PLAN_COUNTS = ("exchanges", "broadcasts", "scans", "python_evals")


def process_age_s() -> float:
    """Seconds since this process was launched."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs (the
    ``steal`` column of /proc/stat, summed over CPUs). It grows when
    other tenants of the host contend for it, the main reason two runs of
    the same code differ."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def canon(rows, cols) -> list[tuple]:
    """Columns ordered by lower-cased name, rows by (is-null, str) key —
    the repository's oracle comparison contract (exact, floats included)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    mat = [tuple(r[i] for i in idx) for r in rows]
    return sorted(mat, key=lambda t: tuple((x is None, str(x)) for x in t))


class Sampler:
    """Client of ``sampler.py`` running as a child process."""

    # a sample walks the JVM's page tables (about 20 ms for a 1.5 GB
    # heap); every 0.5 s keeps that near 4% of one core
    def __init__(self, path: str, interval_s: float = 0.5) -> None:
        self.path = path
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sampler.py"),
             str(os.getpid()), str(interval_s), path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def mark(self, name: str) -> None:
        self.proc.stdin.write(f"mark {name}\n")
        self.proc.stdin.flush()
        if self.proc.stdout.readline() != "ok\n":
            raise RuntimeError("resource sampler exited")

    def close(self) -> list[tuple[str, float, dict, int]]:
        """Stop the sampler; return its (tag, t, cpu by class, pss) rows."""
        self.proc.stdin.close()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()
        rows = []
        with open(self.path) as f:
            for line in f:
                tag, t, drv, jvm, pyw, pss = line.split()
                cpu = {"driver": float(drv), "jvm": float(jvm),
                       "pyworker": float(pyw)}
                rows.append((tag, float(t), cpu, int(pss)))
        return rows


class Trace:
    """Spans kept in memory; all spans of one op share its id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, op_id: str, name: str, parent: str | None = None):
        rec = {"op": op_id, "name": name, "parent": parent,
               "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, op_id: str, name: str, start: float, end: float,
            parent: str | None) -> None:
        self.spans.append({"op": op_id, "name": name, "parent": parent,
                           "start": start, "end": end})


class PerfLines(logging.Handler):
    """Collects the ``perf <stage> wall_ms=…`` records run_pipeline logs."""

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list[logging.LogRecord] = []

    def emit(self, record: logging.LogRecord) -> None:
        if isinstance(record.msg, str) and record.msg.startswith("perf "):
            self.records.append(record)


class Op:
    """One op's outcome; ``layers`` is filled for traced ops only."""

    def __init__(self, op_id: str, name: str, traced: bool) -> None:
        self.op_id, self.name, self.traced = op_id, name, traced
        self.latency = 0.0
        self.t0 = self.t1 = 0.0
        self.error: str | None = None
        self.output = None
        self.layers: dict[str, float] = {}
        self.fingerprint: str | None = None


class Context:
    """What every workload shares: the session, the trace and the tools
    that read counters off Spark."""

    def __init__(self, spark, trace: Trace) -> None:
        from sparkstats import RestStore, StreamCapture

        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.slots = self.sc.defaultParallelism
        self.capture = StreamCapture()
        spark.streams.addListener(self.capture)
        ui = urlparse(self.sc.uiWebUrl)
        self.rest = RestStore(
            f"http://127.0.0.1:{ui.port}", self.sc.applicationId, self.slots
        )

    def group(self, group_id: str | None, description: str = "") -> None:
        if group_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group_id, description)


class DailyScreen:
    """One op = one ``pipeline_job.run_pipeline`` over a seeded universe:
    pinned clock, dated copy, local-copy post-sink with the log upload."""

    # every job of the op belongs to its one call
    exec_group_suffix = None
    # per-layer metrics every traced op reports
    layers = ("construct.", "plan.", "exec.", "pipeline.", "sink.", "proc.")

    def __init__(self, work: str, cfg: dict, seed: int, smoke: bool):
        self.work = work
        self.rows = cfg["smoke_universe_rows" if smoke else "universe_rows"]
        self.seed = seed
        self.sf_dir = os.path.join(work, "universe")
        self.warm_passes = 1 if smoke else cfg["warm_passes"]
        self.expected = None

    def prepare(self) -> None:
        import datagen

        datagen.write_tables(self.sf_dir, {"part": self.rows}, self.seed)

    def passes(self, rng: random.Random):
        while True:
            yield ["run_pipeline"]

    def warm_pass(self) -> list[str]:
        return ["run_pipeline"] * self.warm_passes

    def run(self, ctx: Context, op: Op) -> None:
        from one_one_one_rule_spark.config import (
            FIXED_AS_OF_DATE,
            FIXED_RUN_TS_UTC,
        )
        from one_one_one_rule_spark.pipeline_job import run_pipeline
        from one_one_one_rule_spark.sources.sinks import LocalCopySink

        out_dir = os.path.join(self.work, "ops", op.op_id)
        upsert = os.path.join(out_dir, "upsert")
        perf = PerfLines()
        pkg_log = logging.getLogger(PACKAGE)
        if op.traced:
            pkg_log.addHandler(perf)
            ctx.group(f"{op.op_id}.run", "run_pipeline")
        try:
            op.t0 = time.time()
            t0 = time.perf_counter()
            manifest = run_pipeline(
                ctx.spark,
                self.sf_dir,
                os.path.join(out_dir, "data"),
                write_dated_copy=True,
                as_of_date=FIXED_AS_OF_DATE,
                run_ts_utc=FIXED_RUN_TS_UTC,
                post_sink=LocalCopySink(upsert),
                upload_log=True,
            )
            op.latency = time.perf_counter() - t0
            op.t1 = time.time()
            op.output = {"manifest": manifest, "dir": out_dir, "runs": [],
                         "perf": perf.records}
        finally:
            if op.traced:
                ctx.group(None)
                pkg_log.removeHandler(perf)

    def trace_layers(self, ctx: Context, op: Op) -> None:
        """Stage spans from the perf lines, the sink's files, and a probe
        that rebuilds and plans the DataFrame run_pipeline builds (the op
        itself gives no handle on it), run after the op was measured.
        ``construct.*`` and every ``plan.*`` but ``plan.codegen_stages``
        (which the REST fold reads off the op's own executions) come from
        the probe, so they leave out the checkpoint and write plans."""
        from one_one_one_rule_spark.config import (
            FIXED_AS_OF_DATE,
            FIXED_RUN_TS_UTC,
            ValuationThresholds,
        )
        from one_one_one_rule_spark.instrumentation import plan_metrics
        from one_one_one_rule_spark.plans.pipeline import valuation_pipeline
        from one_one_one_rule_spark.sources.fixtures import (
            synthetic_fundamentals,
        )

        tr, L = ctx.trace, op.layers
        out_dir = op.output["dir"]
        tr.add(op.op_id, "op", op.t0, op.t1, None)
        stage_s = {}
        last_end = op.t0
        for rec in op.output.pop("perf"):
            stage, wall_ms = rec.args[0], rec.args[1]
            stage_s[stage] = wall_ms / 1000.0
            tr.add(op.op_id, stage, rec.created - wall_ms / 1000.0,
                   rec.created, "op")
            last_end = max(last_end, rec.created)
        tr.add(op.op_id, "post_sink", last_end, op.t1, "op")
        stages = {"fetch_fundamentals": "pipeline.fetch_s",
                  "transform": "pipeline.transform_s",
                  "load_csv": "pipeline.load_s"}
        # a stage with no perf line stays unreported, which fails the op
        if stage_s.keys() == stages.keys():
            for stage, name in stages.items():
                L[name] = stage_s[stage]
            L["pipeline.post_sink_s"] = op.latency - sum(stage_s.values())

        with tr.span(op.op_id, "plan_probe"):
            with tr.span(op.op_id, "construct", "plan_probe") as sp:
                cpu0 = time.process_time()
                df = valuation_pipeline(
                    synthetic_fundamentals(ctx.spark, self.sf_dir),
                    order_col="k",
                    thresholds=ValuationThresholds.from_env(),
                    as_of_date=FIXED_AS_OF_DATE,
                    run_ts_utc=FIXED_RUN_TS_UTC,
                )
                L["construct.driver_cpu_s"] = time.process_time() - cpu0
            L["construct.time_s"] = sp["end"] - sp["start"]
            with tr.span(op.op_id, "plan", "plan_probe") as sp:
                df._jdf.queryExecution().executedPlan()
            L["plan.time_s"] = sp["end"] - sp["start"]
        pm = plan_metrics(df)
        for k in PLAN_COUNTS:
            L[f"plan.{k}"] = float(pm[k])

        files = [
            os.path.join(d, f) for d, _s, fs in os.walk(out_dir) for f in fs
        ]
        L["sink.files"] = float(len(files))
        L["sink.bytes"] = float(sum(os.path.getsize(f) for f in files))

    def oracles(self) -> None:
        import duckdb

        from one_one_one_rule_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            _views(con, self.sf_dir)
            res = con.sql(ORACLES["valuation_full"])
            self.cols, self.types = res.columns, res.types
            # CSV writes an empty string and a null alike
            rows = [
                tuple(None if v == "" else v for v in r)
                for r in res.fetchall()
            ]
            self.expected = canon(rows, self.cols)
        finally:
            con.close()

    def check(self, ctx: Context, op: Op) -> str | None:
        import duckdb

        manifest, out_dir = op.output["manifest"], op.output["dir"]
        con = duckdb.connect()
        try:
            types = ", ".join(
                f"'{c}': '{t}'" for c, t in zip(self.cols, self.types)
            )
            rows = con.execute(
                f"SELECT * FROM read_csv('{manifest['latest_csv']}',"
                f" header=true, escape='\\', columns={{{types}}})"
            ).fetchall()
        finally:
            con.close()
        shutil.rmtree(out_dir, ignore_errors=True)
        if manifest["n_rows"] != len(self.expected):
            return f"n_rows {manifest['n_rows']} != {len(self.expected)}"
        if canon(rows, self.cols) != self.expected:
            return "CSV differs from the valuation_full oracle"
        return None


class QueryMix:
    """One op = one registry query: the query-function call (which drains
    a streaming gate before it returns) and a ``collect`` of its result."""

    # jobs tagged with this group are the action; the rest built the query
    exec_group_suffix = ".exec"
    layers = ("construct.", "plan.", "exec.", "stream.", "proc.")

    def __init__(self, work: str, cfg: dict, seed: int, smoke: bool):
        self.names = cfg["queries"]
        self.seed = seed
        self.rows = cfg["smoke_events_rows" if smoke else "events_rows"]
        self.sf_dir = os.path.join(work, "tables")
        self.smoke = smoke
        self.warm_passes = 1 if smoke else cfg["warm_passes"]
        self.expected: dict[str, list] = {}

    def prepare(self) -> None:
        import datagen

        datagen.write_tables(self.sf_dir, {"events": self.rows}, self.seed)

    def passes(self, rng: random.Random):
        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield order[:1] if self.smoke else order

    def warm_pass(self) -> list[str]:
        return list(self.names) * self.warm_passes

    def run(self, ctx: Context, op: Op) -> None:
        from one_one_one_rule_spark.queries import QUERIES

        fn = QUERIES[op.name]
        first_run = len(ctx.capture.started)
        df = None
        if not op.traced:
            op.t0 = time.time()
            t0 = time.perf_counter()
            rows = fn(ctx.spark, self.sf_dir).collect()
            op.latency = time.perf_counter() - t0
            op.t1 = time.time()
        else:
            rows, df = self._traced(ctx, op, fn)
        op.output = {
            "cols": list(rows[0].__fields__) if rows else None,
            "rows": rows,
            "runs": ctx.capture.runs_since(first_run),
            "df": df,
        }

    def _traced(self, ctx: Context, op: Op, fn):
        tr, L = ctx.trace, op.layers
        try:
            with tr.span(op.op_id, "op") as op_span:
                ctx.group(f"{op.op_id}.construct", op.name)
                with tr.span(op.op_id, "construct", "op") as sp:
                    cpu0 = time.process_time()
                    df = fn(ctx.spark, self.sf_dir)
                    L["construct.driver_cpu_s"] = time.process_time() - cpu0
                L["construct.time_s"] = sp["end"] - sp["start"]
                with tr.span(op.op_id, "plan", "op") as sp:
                    df._jdf.queryExecution().executedPlan()
                L["plan.time_s"] = sp["end"] - sp["start"]
                ctx.group(f"{op.op_id}.exec", op.name)
                with tr.span(op.op_id, "execute", "op"):
                    rows = df.collect()
        finally:
            ctx.group(None)
        op.t0, op.t1 = op_span["start"], op_span["end"]
        op.latency = op.t1 - op.t0
        return rows, df

    def trace_layers(self, ctx: Context, op: Op) -> None:
        from one_one_one_rule_spark.instrumentation import plan_metrics

        pm = plan_metrics(op.output.pop("df"))
        for k in PLAN_COUNTS:
            op.layers[f"plan.{k}"] = float(pm[k])

    def oracles(self) -> None:
        import duckdb

        from one_one_one_rule_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            _views(con, self.sf_dir)
            for name in self.names:
                res = con.sql(ORACLES[name])
                self.expected[name] = canon(res.fetchall(), res.columns)
        finally:
            con.close()

    def check(self, ctx: Context, op: Op) -> str | None:
        out = op.output
        if ctx.capture.input_rows(out["runs"]) <= 0:
            return "streaming drains processed no rows"
        expected = self.expected[op.name]
        if out["cols"] is None:
            return None if not expected else "empty result"
        if canon(out["rows"], out["cols"]) != expected:
            return f"result differs from the {op.name} oracle"
        return None


WORKLOADS = {"daily_screen": DailyScreen, "stream_gates": QueryMix}


def _views(con, sf_dir: str) -> None:
    for t in ORACLE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def validate_members(config: dict, bench: dict) -> None:
    """Every workload BENCHMARK.json names has members here, and every
    member query is registered with an oracle; anything else is fatal."""
    from one_one_one_rule_spark.queries import ORACLES, QUERIES

    for w in bench["workloads"]:
        if w["name"] not in config or w["name"] not in WORKLOADS:
            raise SystemExit(f"perfbench: no members for workload {w['name']!r}")
    for name, cfg in config.items():
        unknown = [q for q in cfg.get("queries", []) if q not in QUERIES]
        no_oracle = [q for q in cfg.get("queries", []) if q not in ORACLES]
        if unknown or no_oracle:
            raise SystemExit(
                f"perfbench: {name}: unknown queries {unknown},"
                f" queries without an oracle {no_oracle}"
            )


def start_session(tmp: str):
    from one_one_one_rule_spark.session import get_spark

    slots = min(8, os.cpu_count() or 1)
    spark = get_spark(
        "perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        # -Xms = -Xmx: a heap that G1 grows on demand peaked anywhere from
        # 1.2 to 1.7 GB between runs of the same ops, which made
        # peak_rss_mb measure when the collector resized, not the program
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_op(ctx: Context, wl, op: Op, sampler: Sampler | None) -> None:
    """Run one op; an exception fails the op, never the run."""
    if sampler:
        sampler.mark(f"{op.op_id}.a")
    try:
        wl.run(ctx, op)
    except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
        op.error = traceback.format_exc(limit=3)
        op.latency = op.latency or (time.time() - op.t0 if op.t0 else 0.0)
    if sampler:
        sampler.mark(f"{op.op_id}.b")


def fold_layers(ctx: Context, wl, op: Op) -> None:
    """Per-layer counters of a traced op, read after it finished and after
    its resource sample was closed."""
    counters, op.fingerprint = ctx.rest.fold(
        op.t0, op.t1, wl.exec_group_suffix
    )
    op.layers.update(counters)
    if op.output["runs"]:
        op.layers.update(ctx.capture.fold(op.output["runs"]))
    wl.trace_layers(ctx, op)


def expected_layers(bench: dict, wl) -> list[str]:
    """The per-layer metrics each traced op of workload ``wl`` reports;
    the others (session.*, host.*, trace.overhead) are one per run."""
    return [m["name"] for m in bench["per_layer"]
            if m["name"].startswith(wl.layers)]


def proc_cpu(samples, op_id: str) -> dict[str, float]:
    tagged = {tag: cpu for tag, _t, cpu, _r in samples if tag != "-"}
    a, b = tagged[f"{op_id}.a"], tagged[f"{op_id}.b"]
    return {k: b[k] - a[k] for k in a}


def run(args, bench: dict, config: dict) -> dict:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        raise SystemExit(f"perfbench: no {PACKAGE}/ under {root}")
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # and for the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # model-artifact oracles are trained from this directory at import;
    # point it inside the checkout (it holds no such tables)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = work
    for k in THRESHOLD_ENV:
        os.environ.pop(k, None)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    validate_members(config, bench)

    wl = WORKLOADS[args.workload](
        work, config[args.workload], args.seed, args.smoke_child
    )
    wl.prepare()
    wl.oracles()

    trace = Trace()
    sampler = Sampler(os.path.join(work, "samples.txt"))
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(tmp)
        session_start_s = time.perf_counter() - t
        ctx = Context(spark, trace)

        t = time.perf_counter()
        warm_ops = []
        for i, name in enumerate(wl.warm_pass()):
            op = Op(f"w{i}", name, traced=False)
            run_op(ctx, wl, op, None)
            warm_ops.append(op)
        session_warm_s = time.perf_counter() - t
        setup_s = process_age_s()

        rng = random.Random(args.seed)
        ops: list[Op] = []
        sampler.mark("loop.a")
        steal0 = host_steal_s()
        loop_t0, loop_w0 = time.perf_counter(), time.time()
        for p, order in enumerate(wl.passes(rng)):
            traced = bool(args.trace) and p % 2 == 1
            for name in order:
                op = Op(f"o{len(ops)}", name, traced)
                run_op(ctx, wl, op, sampler if traced else None)
                ops.append(op)
                if op.traced and op.error is None:
                    fold_layers(ctx, wl, op)
            if args.smoke_child:
                if p >= args.trace:
                    break
                continue
            # whole passes until --seconds have passed; a traced run needs
            # an untraced and a traced pass
            if (p >= args.trace
                    and time.perf_counter() - loop_t0 >= args.seconds):
                break
        loop_t1, loop_w1 = time.perf_counter(), time.time()
        steal_per_op = (host_steal_s() - steal0) / len(ops)
        sampler.mark("loop.b")

        failed = 0
        for op in warm_ops + ops:
            if op.error is None:
                op.error = wl.check(ctx, op)
            if op.error is not None:
                failed += 1
                print(f"perfbench: {op.op_id} {op.name} FAILED: {op.error}",
                      file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        samples = sampler.close()

    lat = [o.latency for o in ops if not o.traced]
    pss = [m for _tag, ts, _c, m in samples if loop_w0 <= ts <= loop_w1]
    loop_cpu = proc_cpu(samples, "loop")
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(ops) / (loop_t1 - loop_t0),
        "cpu_s_per_op": sum(loop_cpu.values()) / len(ops),
        "peak_rss_mb": max(pss) / 2**20,
    }
    cpu_by_class = {k: round(v / len(ops), 3) for k, v in loop_cpu.items()}
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(ops)}"
        f" (untraced {len(lat)}) warm={len(warm_ops)} failed={failed}"
        f" loop_s={loop_t1 - loop_t0:.3f}"
        f" cpu_s_per_op={cpu_by_class}"
        f" host_steal_s_per_op={steal_per_op:.3f}"
        f" warm_latencies={[round(o.latency, 2) for o in warm_ops]}"
        f" latencies={[(o.name, round(o.latency, 2)) for o in ops]}",
        file=sys.stderr,
    )

    if args.trace:
        expected = expected_layers(bench, wl)
        for o in ops:
            if not o.traced or o.error is not None:
                continue
            o.layers.update(
                {f"proc.{k}_cpu_s": v
                 for k, v in proc_cpu(samples, o.op_id).items()}
            )
            missing = [name for name in expected if name not in o.layers]
            if missing:
                o.error = f"per-layer metrics not reported: {missing}"
                failed += 1
                print(f"perfbench: {o.op_id} {o.name} FAILED: {o.error}",
                      file=sys.stderr)
        traced = [o for o in ops if o.traced and o.error is None]
        # means over the traced ops; a layer the workload does not
        # exercise (expected_layers) prints 0.0
        per_op = dict.fromkeys((m["name"] for m in bench["per_layer"]), 0.0)
        for name in expected:
            vals = [o.layers[name] for o in traced]
            if vals:
                per_op[name] = sum(vals) / len(vals)
        per_op["session.start_s"] = session_start_s
        per_op["session.warm_s"] = session_warm_s
        per_op["host.steal_s"] = steal_per_op
        per_op["trace.overhead"] = (
            statistics.median(o.latency for o in traced)
            / statistics.median(lat)
            if traced else 0.0
        )
        values = per_op
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        out_path = os.path.join(
            root, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json"
        )
        with open(out_path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "tracing_overhead": per_op["trace.overhead"],
                    "ops": [
                        {"id": o.op_id, "query": o.name, "traced": o.traced,
                         "latency_s": o.latency, "error": o.error,
                         "plan_fingerprint": o.fingerprint,
                         "layers": o.layers}
                        for o in warm_ops + ops
                    ],
                    "spans": trace.spans,
                },
                f,
                indent=1,
            )
        print(f"perfbench: trace written to {out_path}", file=sys.stderr)
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    shutil.rmtree(work, ignore_errors=True)
    attempted = len(warm_ops) + len(ops)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in units.items()
        },
    }


def smoke(bench: dict) -> int:
    """Each workload once per trace mode at the smallest scale: every
    metric printed with its unit, every end-to-end value above 0, every
    traced op holding each per-layer metric of its workload, no op failed."""
    problems = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--smoke-child"]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            tag = f"{w['name']} trace={trace}"
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n"
                                f"{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            want = bench["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            for m in want:
                value = got.get(m["name"], {}).get("value")
                if (got.get(m["name"], {}).get("unit") != m["unit"]
                        or not isinstance(value, (int, float))):
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif not trace and not value > 0:
                    problems.append(f"{tag}: {m['name']} = {value}")
            if trace:
                problems += [f"{tag}: {p}" for p in
                             _traced_gaps(bench, w["name"])]
            if result["failed"] != 0 or not result["correct"]:
                problems.append(f"{tag}: {result['failed']} failed ops\n"
                                f"{proc.stderr[-2000:]}")
            print(f"smoke {tag}: {json.dumps(result)[:200]}", file=sys.stderr)
    for p in problems:
        print(f"smoke FAILED: {p}", file=sys.stderr)
    return 1 if problems else 0


def _traced_gaps(bench: dict, workload: str) -> list[str]:
    """Traced ops of the smoke run's trace file that lack a per-layer
    metric or a plan fingerprint."""
    path = os.path.join(".perfbench", f"trace-{workload}-seed1.json")
    ops = [o for o in load_json(path)["ops"] if o["traced"]]
    if not ops:
        return ["no traced op"]
    expected = expected_layers(bench, WORKLOADS[workload])
    gaps = []
    for o in ops:
        missing = [name for name in expected if name not in o["layers"]]
        if missing or not o["plan_fingerprint"]:
            gaps.append(f"{o['id']} lacks {missing or 'plan_fingerprint'}")
    return gaps


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at the smallest scale")
    ap.add_argument("--smoke-child", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    bench = load_json("BENCHMARK.json")
    config = load_json(os.path.join(HERE, "workloads.json"))
    if args.smoke:
        return smoke(bench)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    result = run(args, bench, config)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
