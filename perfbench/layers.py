"""Per-layer measurement for the traced run, taken from outside the package.

The spans of set-up and of each query execution's build, plan and
execute phases are opened by ``run.py`` around its calls into the
package. This module adds three sources:

* ``CatalogClock`` wraps ``catalog.read_table``; it is installed before
  the registry imports the operator modules, which bind it at import.
* ``parse_event_log`` reads Spark's JSON event log after the session
  stops. The benchmark tags every job with a job group naming the query
  execution and phase, so ``TaskEnd`` metrics and the SQL accumulables
  of Python-worker operators are summed per execution and phase.
* ``StreamListener`` records trigger-once micro-batches.
"""

from __future__ import annotations

import glob
import json
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

TINY_TASK_RECORDS = 1000
_MB = 1024 * 1024

# Spark 4.1 PythonSQLMetrics display names
_PY_SENT = "data sent to Python workers"
_PY_TIMES = {
    "time to run Python workers": "python_exec_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
}
_PY_ROWS = "number of output rows"


class CatalogClock:
    """Call counts and busy time of the wrapped ``read_table``."""

    def __init__(self):
        self.read_table_calls = 0
        self.read_table_s = 0.0

    def install(self) -> None:
        from velox_hadoop_spark import catalog

        inner = catalog.read_table

        def read_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            try:
                return inner(spark, sf_dir, name)
            finally:
                self.read_table_calls += 1
                self.read_table_s += time.perf_counter() - t0

        catalog.read_table = read_table


class StreamListener(StreamingQueryListener):
    """Micro-batches seen, with their durations and arrival times."""

    def __init__(self, clock):
        super().__init__()
        self._clock = clock
        self._lock = threading.Lock()
        self.batches: list[tuple[float, float]] = []  # (arrival, seconds)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.batches.append((self._clock(), event.progress.batchDuration / 1000.0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[tuple[float, float]]:
        with self._lock:
            return list(self.batches)


def _python_accumulators(plan: dict, out: dict) -> None:
    """Map accumulator id -> (field, unit scale) for Python-worker nodes."""
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    if _PY_SENT in metrics:
        out[metrics[_PY_SENT]["accumulatorId"]] = ("python_bytes_sent_mb", 1.0 / _MB)
        for name, field in _PY_TIMES.items():
            m = metrics.get(name)
            if m is not None:
                scale = 1e-9 if m.get("metricType") == "nsTiming" else 1e-3
                out[m["accumulatorId"]] = (field, scale)
        if _PY_ROWS in metrics:
            out[metrics[_PY_ROWS]["accumulatorId"]] = ("python_rows_returned", 1.0)
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Spark-side counts and times per job group, from the event log."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    per_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    tasks: list[dict] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    per_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
    stages_seen: dict[str, set] = defaultdict(set)
    for ev in tasks:
        sid = ev["Stage ID"]
        group = stage_group.get(sid)
        if group is None:
            continue
        g = per_group[group]
        stages_seen[group].add(sid)
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        g["tasks"] += 1
        g["failed_tasks"] += 1 if info.get("Failed") or info.get("Killed") else 0
        if sid in stage_submit:
            g["task_queue_s"] += max(0.0, info["Launch Time"] / 1000.0 - stage_submit[sid])
        g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
        g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
        g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
        g["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / _MB
        records = m.get("Input Metrics", {}).get("Records Read", 0) + sr.get("Total Records Read", 0)
        g["tiny_tasks"] += 1 if records < TINY_TASK_RECORDS else 0
        for acc in info.get("Accumulables", []):
            hit = py_acc.get(acc.get("ID"))
            if hit is not None and acc.get("Update") is not None:
                g[hit[0]] += float(acc["Update"]) * hit[1]
    for group, sids in stages_seen.items():
        per_group[group]["stages"] = len(sids)
    return {k: dict(v) for k, v in per_group.items()}
