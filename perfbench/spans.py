"""Tracing for the benchmark: spans at the benchmark's own call
boundaries plus the engine's counters, read from outside.

Spans (run -> op -> phase) are kept in memory and written out at the
end. Spark work is attributed to a span through the job group the
benchmark sets around each phase; the counters come from Spark's status
REST API (``/api/v1/applications/<id>/{jobs,stages,sql}``), a
``StreamingQueryListener`` and the JVM's garbage-collector beans. No
code inside the engine package is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "perfbench"

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
# SQL plan nodes whose metrics carry the Python (Arrow) crossing.
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
             "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandasWithState",
             "TransformWithStateInPandas", "ArrowWindowPython",
             "AggregateInPandas", "PythonUDTF", "ArrowEvalPythonUDTF")


def sql_metric(text: str) -> float:
    """Parse one SQL UI metric string ("1.2 s", "3.4 MiB", "10,000", or
    "total (min, med, max ...)\\n2.2 s (...)") into bytes, seconds or a
    count."""
    line = text.strip().splitlines()[-1]
    m = _METRIC_VALUE.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class Tracer:
    """Spans at the benchmark's call boundaries. With ``enabled`` false
    it records nothing and sets no job groups."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "kind": kind, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "group": group}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(f"{GROUP_PREFIX}|{group}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                sc.setJobGroup("", "")

    def self_times(self) -> None:
        """Set each span's ``self_s``: its duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s, c in zip(self.spans, child):
            s["self_s"] = s["end"] - s["start"] - c


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress report of the session."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "start": _epoch(p.timestamp.replace("Z", "GMT")) if p.timestamp else None,
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self.lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def spark_status(spark) -> dict:
    """Jobs, stages and SQL executions of this application, via the REST API."""
    sc = spark.sparkContext
    # The listener bus is asynchronous; let it catch up before reading.
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    return {
        "jobs": _get(f"{base}/jobs"),
        "stages": _get(f"{base}/stages"),
        "sql": _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=100000"),
    }


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(tracer: Tracer, status: dict, progress: StreamProgress,
                  window_groups: set[str], cores: int, passes: int,
                  gc_s: float) -> dict[str, float]:
    """Per-layer counters for the measured window, per pass of the mix.

    ``window_groups`` are the job groups (one per phase span) set inside
    the measured window; only work under them is counted."""
    spans = {s["group"]: s for s in tracer.spans if s["group"] in window_groups}
    jobs = [j for j in status["jobs"]
            if (j.get("jobGroup") or "").removeprefix(GROUP_PREFIX + "|") in spans]
    job_group = {j["jobId"]: j["jobGroup"].removeprefix(GROUP_PREFIX + "|") for j in jobs}
    stage_group = {sid: job_group[j["jobId"]] for j in jobs for sid in j["stageIds"]}
    stages = [s for s in status["stages"]
              if s["stageId"] in stage_group and s["status"] != "SKIPPED"]
    execs = [e for e in status["sql"]
             if any(j in job_group for j in
                    e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])]

    def kind_of(group: str) -> str:
        return spans[group]["kind"]

    def node_sum(names, metric) -> float:
        return sum(sql_metric(m["value"]) for e in execs for n in e["nodes"]
                   if n["nodeName"].startswith(names) for m in n.get("metrics", [])
                   if m["name"] == metric)

    intervals: dict[str, list[tuple[float, float]]] = {}
    for s in stages:
        a, b = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
        if a is not None and b is not None:
            intervals.setdefault(stage_group[s["stageId"]], []).append((a, b))
    span_total = sum(s["end"] - s["start"] for s in spans.values())
    driver_only = sum(
        (s["end"] - s["start"]) - _covered(intervals.get(g, []), s["start"], s["end"])
        for g, s in spans.items())
    task_s = sum(s["executorRunTime"] for s in stages) / 1000.0

    def phase_s(kind: str, phase: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in spans.values()
                   if s["kind"] == kind and (phase is None or s["name"].endswith("/" + phase)))

    def jobs_in(kind: str) -> int:
        return sum(1 for j in job_group.values() if kind_of(j) == kind)

    writes = [s for s in stages if kind_of(stage_group[s["stageId"]]) != "execute"]
    windows = [(s["start"], s["end"]) for s in spans.values() if s["kind"] == "drain"]
    batches = [b for b in progress.batches
               if b["start"] is not None and any(a - 1.0 <= b["start"] <= e for a, e in windows)]
    trigger_s = sum(b["durationMs"].get("triggerExecution", 0) for b in batches) / 1000.0
    out = {
        "io.scan_bytes": node_sum(("Scan parquet", "Scan json", "Scan csv"), "size of files read"),
        "io.scan_files": node_sum(("Scan parquet", "Scan json", "Scan csv"), "number of files read"),
        "io.scan_time_s": node_sum(("Scan parquet", "Scan json", "Scan csv"), "scan time"),
        "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "spark.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1000.0,
        "spark.exchange_nodes": float(sum(1 for e in execs for n in e["nodes"]
                                          if n["nodeName"] in ("Exchange", "BroadcastExchange"))),
        "spark.broadcast_build_s": node_sum(("BroadcastExchange",), "time to build"),
        "spark.spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)),
        "workloads.build_s": phase_s("build"),
        "workloads.build_jobs": float(jobs_in("build")),
        "workloads.exec_s": phase_s("execute"),
        "workloads.exec_jobs": float(jobs_in("execute")),
        "spark.driver_only_s": driver_only,
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
        "functions.py_run_s": node_sum(_PY_NODES, "time to run Python workers"),
        "functions.py_bytes_sent": node_sum(_PY_NODES, "data sent to Python workers"),
        "functions.py_bytes_returned": node_sum(_PY_NODES, "data returned from Python workers"),
        "pipeline.ingest_s": phase_s("pipeline", "ingest"),
        "pipeline.transform_s": phase_s("pipeline", "transform"),
        "pipeline.combine_s": phase_s("pipeline", "combine"),
        "pipeline.predict_s": phase_s("pipeline", "predict"),
        "io.write_bytes": float(sum(s["outputBytes"] for s in writes)),
        "io.write_rows": float(sum(s["outputRecords"] for s in writes)),
        "streaming.drain_s": phase_s("drain"),
        "streaming.batches": float(len(batches)),
        "streaming.add_batch_s": sum(b["durationMs"].get("addBatch", 0) for b in batches) / 1000.0,
        "streaming.commit_s": sum(b["durationMs"].get("walCommit", 0)
                                  + b["durationMs"].get("commitOffsets", 0) for b in batches) / 1000.0,
        "streaming.planning_s": sum(b["durationMs"].get("queryPlanning", 0) for b in batches) / 1000.0,
        "streaming.state_rows": float(sum(b["state_rows"] for b in batches)),
        "streaming.state_mem_bytes": float(sum(b["state_mem"] for b in batches)),
        "spark.gc_s": gc_s,
        "spark.failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
    }
    out = {k: v / passes for k, v in out.items()}
    # Ratios are not per pass.
    out["spark.busy_share"] = task_s / (span_total * cores) if span_total else 0.0
    out["streaming.input_rows_per_s"] = (
        sum(b["numInputRows"] for b in batches) / trigger_s if trigger_s else 0.0)
    return out
