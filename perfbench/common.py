"""Paths, process environment and Spark settings shared by the benchmark's
entry points (``run.py`` and ``prepare.py``).

Everything the benchmark writes lives under ``<repo>/.perfbench_data``:
the corpora, the oracle expectations, Spark's temporary files and event logs,
and the per-run records and traces.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(REPO, ".perfbench_data")
CPUS = len(os.sched_getaffinity(0))

_REQUIRED = (
    "velox_hadoop_spark/plans/registry.py",
    "scripts/local_gate.py",
)


def missing_sources() -> list[str]:
    """Repo files the benchmark needs that are absent from this tree."""
    return [p for p in _REQUIRED if not os.path.isfile(os.path.join(REPO, p))]


def corpus_dir(corpus: str) -> str:
    return os.path.join(DATA, corpus)


def configure_process() -> None:
    """Point every writer of temporary files into the data root and make
    the package importable here and in Spark's Python workers (which
    inherit this environment through the JVM)."""
    tmp = os.path.join(DATA, "tmp")
    local = os.path.join(DATA, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    paths = [REPO, os.path.join(REPO, "scripts"), HERE]
    rest = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([rest] if rest else []))
    for p in reversed(paths):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_conf(event_log_dir: str | None = None) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` for benchmark sessions."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temporary files, and its perf-data file, out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(DATA, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(DATA, "spark-warehouse"),
    }
    if event_log_dir is not None:
        # Spark 4.1 defaults to zstd-compressed rolling logs, which the
        # parser cannot read without a zstd module
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf
