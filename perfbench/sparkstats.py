"""Per-layer counters read through Spark's public monitoring surfaces.

- ``StreamCapture``: a ``StreamingQueryListener`` the benchmark registers;
  it keeps every query's start, micro-batch progress and termination.
- ``RestStore``: the status REST API (``/api/v1``) of the running app. The
  benchmark folds one op's jobs, stages and SQL executions after the op
  ends, off its timed path, so the UI's retention limits never evict them.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def _rest_time(s: str) -> float:
    """Epoch seconds of a REST timestamp such as 2026-01-01T00:00:00.123GMT."""
    dt = datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _iso_time(s: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-01T00:00:00.123Z."""
    return _rest_time(s.rstrip("Z"))


class StreamCapture(StreamingQueryListener):
    """Streaming progress per query run, attributed to ops by run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[tuple[str, float]] = []  # (run id, start epoch)
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append((str(event.runId), _iso_time(event.timestamp)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def runs_since(self, index: int, timeout_s: float = 30.0) -> list[str]:
        """Run ids started at or after position ``index`` of ``started``,
        once each has delivered its termination event."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                runs = [r for r, _t in self.started[index:]]
                done = all(r in self.terminated for r in runs)
            if done or time.monotonic() > deadline:
                return runs
            time.sleep(0.01)

    def input_rows(self, runs: list[str]) -> int:
        with self._lock:
            return sum(
                p.numInputRows for r in runs for p in self.progress.get(r, ())
            )

    def fold(self, runs: list[str]) -> dict[str, float]:
        """The ``stream.*`` counters of the given query runs."""
        phases = {
            "trigger_ms": "triggerExecution",
            "add_batch_ms": "addBatch",
            "query_planning_ms": "queryPlanning",
            "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets",
            "latest_offset_ms": "latestOffset",
        }
        out = dict.fromkeys(
            ["stream.queries", "stream.batches", "stream.state_commit_ms",
             "stream.state_rows", "stream.start_overhead_ms"]
            + [f"stream.{k}" for k in phases],
            0.0,
        )
        with self._lock:
            starts = dict(self.started)
            for run in runs:
                prog = self.progress.get(run, [])
                out["stream.queries"] += 1
                out["stream.batches"] += len(prog)
                for p in prog:
                    for key, phase in phases.items():
                        out[f"stream.{key}"] += p.durationMs.get(phase, 0)
                    for s in p.stateOperators:
                        out["stream.state_commit_ms"] += s.commitTimeMs
                if not prog:
                    continue
                last = prog[-1]
                out["stream.state_rows"] += sum(
                    s.numRowsTotal for s in last.stateOperators
                )
                drain_ms = (
                    _iso_time(last.timestamp) - starts[run]
                ) * 1000.0 + last.durationMs.get("triggerExecution", 0)
                trig = sum(
                    p.durationMs.get("triggerExecution", 0) for p in prog
                )
                out["stream.start_overhead_ms"] += drain_ms - trig
        return out


_STAGE_SUMS = {
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.input_records": ("inputRecords", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.shuffle_write_records": ("shuffleWriteRecords", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.failed_tasks": ("numFailedTasks", 1),
}

_NODE_NOISE = re.compile(r"\s*\(\d+\)|#\d+")


class RestStore:
    """Jobs, stages and SQL executions of one application over REST."""

    def __init__(self, ui_url: str, app_id: str, slots: int) -> None:
        self.base = f"{ui_url}/api/v1/applications/{app_id}"
        self.slots = slots
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _jobs_in(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in [t0, t1], once the status store holds all of
        them finished (its listener runs behind the jobs themselves)."""
        seen = None
        for _ in range(600):
            jobs = [
                j for j in self._get("/jobs")
                if t0 - 0.001 <= _rest_time(j["submissionTime"]) <= t1 + 0.001
            ]
            ids = sorted(j["jobId"] for j in jobs)
            if all(j["status"] != "RUNNING" for j in jobs) and ids == seen:
                return jobs
            seen = ids
            time.sleep(0.05)
        raise TimeoutError("status store did not settle")

    def fold(self, t0: float, t1: float, exec_group_suffix: str | None):
        """Counters of the jobs an op ran in [t0, t1].

        Jobs whose group ends with ``exec_group_suffix`` are the op's
        action (``exec.*``); the rest ran while the query was being built
        (``construct.jobs``). With no suffix every job is the action."""
        jobs = self._jobs_in(t0, t1)
        action = [
            j for j in jobs
            if exec_group_suffix is None
            or (j.get("jobGroup") or "").endswith(exec_group_suffix)
        ]
        stage_ids = {s for j in action for s in j["stageIds"]}
        out = dict.fromkeys(_STAGE_SUMS, 0.0)
        out.update({"exec.stages": 0.0, "exec.stages_skipped": 0.0,
                    "exec.tasks": 0.0, "exec.spill_bytes": 0.0})
        if stage_ids:
            for st in self._get("/stages"):
                if st["stageId"] not in stage_ids:
                    continue
                if st["status"] == "SKIPPED":
                    out["exec.stages_skipped"] += 1
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st["numTasks"]
                out["exec.spill_bytes"] += (
                    st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                )
                for key, (field, scale) in _STAGE_SUMS.items():
                    out[key] += st.get(field, 0) * scale
        busy = _union_s(
            (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
            for j in action
            if j.get("completionTime")
        )
        out["exec.jobs"] = float(len(action))
        out["exec.time_s"] = busy
        out["exec.slot_idle_frac"] = (
            max(0.0, 1.0 - out["exec.executor_run_s"] / (busy * self.slots))
            if busy > 0
            else 0.0
        )
        out["construct.jobs"] = float(len(jobs) - len(action))
        codegen, fingerprint = self._executed_plans({j["jobId"] for j in jobs})
        out["plan.codegen_stages"] = float(codegen)
        return out, fingerprint

    def _executed_plans(self, job_ids: set[int]) -> tuple[int, str]:
        """Whole-stage-codegen count and operator-name fingerprint of the
        SQL executions that ran ``job_ids``."""
        execs = self._get(f"/sql?details=true&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(execs)
        names: list[str] = []
        codegen = 0
        for ex in sorted(execs, key=lambda e: e["id"]):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                name = _NODE_NOISE.sub("", node["nodeName"]).strip()
                codegen += name == "WholeStageCodegen"
                names.append(name)
            names.append("|")
        digest = hashlib.sha256("\n".join(names).encode()).hexdigest()[:16]
        return codegen, digest


def _union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
