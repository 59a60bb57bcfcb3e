"""Per-layer tracing for the engine benchmark.

Everything here observes the engine from outside:

* :class:`RestReader` reads Spark's status REST API (``/api/v1``) that the
  session's UI serves, and :func:`spark_runtime` attributes every stage
  submitted inside a unit's wall-clock interval to that unit (the loop has
  one client, so the attribution is unambiguous).
* :class:`StreamProgress` collects ``StreamingQueryProgress`` records from a
  ``StreamingQueryListener`` the benchmark registers itself (see
  :func:`make_listener`), and :func:`streaming_phases` splits streaming
  wall time into micro-batch trigger time and query lifecycle.

A read that fails or times out makes that layer's numbers absent for the
unit; it never raises into the benchmark loop and never touches an
end-to-end metric. This module imports no Spark at import time.
"""

from __future__ import annotations

import datetime as _dt
import json
import threading
import time
import urllib.error
import urllib.request

#: Stage states the status store reports once a stage's numbers are final.
_FINAL = {"COMPLETE", "FAILED"}


def parse_ui_time(s: str) -> float:
    """``2026-10-17T06:30:00.123GMT`` → epoch seconds."""
    t = _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


class RestReader:
    """Reads ``/api/v1/applications/<app>/...`` from the local Spark UI."""

    def __init__(self, port: int, app_id: str, timeout_s: float = 5.0):
        self.base = f"http://localhost:{port}/api/v1/applications/{app_id}"
        self.timeout_s = timeout_s

    def get(self, path: str) -> list:
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=self.timeout_s) as r:
            return json.loads(r.read())

    def unit_records(self, start: float, end: float, settle_s: float = 3.0):
        """Stages and jobs submitted in ``[start, end]``, once final.

        The status store is fed asynchronously by the listener bus, so a
        stage can still read ACTIVE just after the action returned; retry
        until every stage of the interval is final or ``settle_s`` passes.
        Returns ``None`` when the API cannot be read.
        """
        deadline = time.monotonic() + settle_s
        while True:
            try:
                stages = [s for s in self.get("stages") if _in(s, start, end)]
                jobs = [j for j in self.get("jobs") if _in(j, start, end)]
            except (OSError, urllib.error.URLError, ValueError):
                return None
            pending = [s for s in stages if s.get("status") not in _FINAL]
            if not pending or time.monotonic() > deadline:
                return [s for s in stages if s.get("status") in _FINAL], jobs
            time.sleep(0.1)


def _in(rec: dict, start: float, end: float) -> bool:
    sub = rec.get("submissionTime")
    return bool(sub) and start <= parse_ui_time(sub) <= end


def spark_runtime(stages: list, jobs: list, start: float, end: float, cores: int) -> dict:
    """Spark runtime numbers of one unit from its stages and jobs."""
    run = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
    cpu = sum(s.get("executorCpuTime", 0) for s in stages) / 1e9
    gc = sum(s.get("jvmGcTime", 0) for s in stages) / 1e3
    fetch = sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3
    wall = end - start
    spans = sorted(
        (max(start, parse_ui_time(s["submissionTime"])),
         min(end, parse_ui_time(s["completionTime"])))
        for s in stages
        if s.get("completionTime")
    )
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    mb = 1024 * 1024
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.get("numTasks", 0) for s in stages),
        "spark.failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
        "spark.task_run_s": run,
        "spark.task_cpu_s": cpu,
        "spark.gc_s": gc,
        "spark.fetch_wait_s": fetch,
        "spark.residual_s": run - cpu - gc - fetch,
        "spark.input_mb": sum(s.get("inputBytes", 0) for s in stages) / mb,
        "spark.shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / mb,
        "spark.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / mb,
        "spark.utilization": run / (wall * cores) if wall > 0 else 0.0,
        "driver.idle_s": max(0.0, wall - busy),
    }


class StreamProgress:
    """Thread-safe sink for streaming-query listener events."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: list[dict] = []
        self._started = 0
        self._terminated = 0

    def started(self) -> None:
        with self._lock:
            self._started += 1

    def terminated(self) -> None:
        with self._lock:
            self._terminated += 1

    def progress(self, record: dict) -> None:
        with self._lock:
            self._progress.append(record)

    def drain(self, settle_s: float = 3.0):
        """Progress records since the last drain, once every started query
        has reported termination; ``None`` if that never happens."""
        deadline = time.monotonic() + settle_s
        while True:
            with self._lock:
                done = self._terminated >= self._started
                if done:
                    out, self._progress = self._progress, []
                    return out
            if time.monotonic() > deadline:
                with self._lock:
                    self._progress = []
                return None
            time.sleep(0.05)


def make_listener(sink: StreamProgress):
    """A ``StreamingQueryListener`` that forwards events to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            sink.started()

        def onQueryProgress(self, event):
            sink.progress(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            sink.terminated()

    return _Listener()


#: Spark runtime metrics read from the REST API, with their units.
SPARK_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.fetch_wait_s": "s", "spark.residual_s": "s",
    "spark.input_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.utilization": "ratio", "driver.idle_s": "s",
}
#: Streaming metrics read from the listener, with their units.
STREAM_UNITS = {
    "streaming.trigger_s": "s", "streaming.lifecycle_s": "s",
    "streaming.state_commit_s": "s", "streaming.batches": "count",
    "streaming.state_rows": "count",
}


def streaming_phases(progress: list, wall_s: float) -> dict:
    """Micro-batch phase split (Discretized Streams' model) of one unit:
    ``wall_s`` is the streaming calls' wall time measured from outside."""
    trigger = sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in progress) / 1e3
    commit = sum(
        op.get("commitTimeMs", 0) for p in progress for op in p.get("stateOperators", [])
    ) / 1e3
    last: dict = {}
    for p in progress:
        last[p.get("id")] = p
    state_rows = sum(
        op.get("numRowsTotal", 0) for p in last.values() for op in p.get("stateOperators", [])
    )
    return {
        "streaming.trigger_s": trigger,
        "streaming.lifecycle_s": wall_s - trigger,
        "streaming.state_commit_s": commit,
        "streaming.batches": len({(p.get("id"), p.get("batchId")) for p in progress}),
        "streaming.state_rows": state_rows,
    }


def summarize(per_unit: list[dict]) -> dict:
    """Mean of each layer metric over the units that have it; a metric no
    unit has is left out rather than reported as zero."""
    names: dict[str, list[float]] = {}
    for layers in per_unit:
        for k, v in layers.items():
            names.setdefault(k, []).append(float(v))
    return {k: sum(v) / len(v) for k, v in names.items()}
