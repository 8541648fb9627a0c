#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload mr_sf0.1 --seed 1 --seconds 15 --trace 0

One run is one fresh process acting as a closed loop with one client on
``local[<cpus>]``:

1. set-up: load the registry, ``get_spark``, one warm-up read;
2. the cold pass: every query of the workload once, in the fresh session,
   in its listed order so that every run pays the same first-use costs;
   the cold-only queries come last;
3. one settle pass over the mix (without the cold-only queries), which no
   metric times: each query is built again and its result collected and
   verified. The JVM is still compiling the queries' code paths then; a
   first timed rerun took 20-60% longer than later ones;
4. warm passes over the mix for ``--seconds`` seconds, at least two.
   The settle pass and each warm pass run in an order drawn from the seed.

In the timed passes each query is built with its registry function and
forced with the ``noop`` sink as ``bench.py`` does; the cache is cleared
after it. The results of the cold pass and of the settle pass are
collected outside the timed region and compared with their DuckDB
oracles, so a result that goes wrong only when a query runs again is
caught too. ``attempted`` and ``failed`` count these verified executions,
so both are the same on every run of a workload whatever the number of
warm passes. A warm execution that raises makes the run incorrect.

With ``--trace 0`` the printed metrics are the end-to-end ones. With
``--trace 1`` the run also writes Spark's event log, tags every job with
its query execution and phase, and prints the per-layer metrics: means
per warm pass, plus the cold-only queries once. Spans of every phase of
every query execution go to
``.perfbench_data/traces/<workload>-seed<n>/spans.json``.

The first run in a checkout builds the corpus and the oracle
expectations (``prepare.py``) before it starts; later runs reuse them.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()

import common  # noqa: E402
from workloads import KNOWN_MISMATCHES, WORKLOADS  # noqa: E402

MIN_WARM_PASSES = 2


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _now() -> float:
    return time.perf_counter() - T0


def _proc(pid: int, name: str) -> str:
    try:
        with open(f"/proc/{pid}/{name}", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm_mb(pid: int) -> float:
    for line in _proc(pid, "status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    return [int(c) for c in _proc(pid, f"task/{pid}/children").split()]


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of this driver, the JVM and the Python worker daemon
    (with the workers it has forked and still holds)."""
    total = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    for child in _children(jvm_pid):
        if "pyspark.daemon" in _proc(child, "cmdline"):
            total += _vm_hwm_mb(child) + sum(_vm_hwm_mb(w) for w in _children(child))
    return total


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value; the median when that percentile would not be above the median."""
    xs = sorted(samples)
    i = len(xs) - 11
    if i < len(xs) / 2:
        return 50.0, statistics.median(xs)
    return 100.0 * (i + 1) / len(xs), xs[i]


class Runner:
    """The closed loop: one session running one workload's passes."""

    def __init__(self, args, trace_dir: str | None):
        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.sf_dir = common.corpus_dir(self.workload.corpus)
        self.trace_dir = trace_dir
        self.clock = self.listener = None
        self.executions: list[dict] = []
        self.passes: list[dict] = []
        self.spans: list[dict] = []

    @property
    def trace(self) -> bool:
        return self.trace_dir is not None

    def _span(self, name: str, start: float, end: float, **kw) -> None:
        self.spans.append({"name": name, "start": start, "end": end, **kw})

    def setup(self) -> float:
        t0 = _now()
        if self.trace:
            from layers import CatalogClock

            self.clock = CatalogClock()
            self.clock.install()  # before the operator modules bind read_table
        from velox_hadoop_spark.plans import registry
        from velox_hadoop_spark.session import get_spark

        t1 = _now()
        self.specs = registry.specs()
        t2 = _now()
        event_dir = os.path.join(self.trace_dir, "eventlog") if self.trace else None
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload.name}",
            cpus=common.CPUS,
            extra_conf=common.spark_conf(event_dir),
        )
        t3 = _now()
        self.spark.read.parquet(f"{self.sf_dir}/region.parquet").write.format("noop").mode("overwrite").save()
        t4 = _now()
        for name, a, b in (("import", t0, t1), ("registry.load", t1, t2),
                           ("session.get_spark", t2, t3), ("warmup_read", t3, t4)):
            self._span(name, a, b, parent="setup")
        self._span("setup", t0, t4)
        if self.trace:
            from layers import StreamListener

            self.listener = StreamListener(_now)
            self.spark.streams.addListener(self.listener)
        return t4 - t0

    def _tag(self, execution: int, phase: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"{execution}:{phase}", f"{execution}:{phase}")

    def execute(self, phase: str, pass_no: int, name: str, oracles=None) -> dict:
        """Build and force one query, verifying it when ``oracles`` is given."""
        n = len(self.executions)
        rec = {"id": n, "query": name, "phase": phase, "pass": pass_no, "ok": True, "spans": {}}
        self.executions.append(rec)
        sc = self.spark.sparkContext
        reads = (self.clock.read_table_calls, self.clock.read_table_s) if self.trace else None
        t = rec["start"] = _now()
        try:
            self._tag(n, "build")
            df = self.specs[name].fn(self.spark, self.sf_dir)
            rec["spans"]["build"] = (t, t := _now())
            if self.trace:
                rec["persisted_frames"] = sc._jsc.getPersistentRDDs().size()
                self._tag(n, "plan")
                df._jdf.queryExecution().executedPlan()
                rec["spans"]["plan"] = (t, t := _now())
            if phase != "settle":  # the settle pass is only verified
                self._tag(n, "exec")
                df.write.format("noop").mode("overwrite").save()
                rec["spans"]["exec"] = (t, t := _now())
            if oracles is not None:
                self._tag(n, "verify")
                self._verify(rec, df, oracles)
                rec["spans"]["verify"] = (t, t := _now())
        except Exception as exc:  # noqa: BLE001 - a failing query is counted and the loop goes on
            rec.update(ok=False, raised=True, error=f"{type(exc).__name__}: {str(exc)[:300]}")
        finally:
            self.spark.catalog.clearCache()
            rec["end"] = _now()
            rec["spans"]["clear"] = (t, rec["end"])
        rec["latency_s"] = sum(b - a for k, (a, b) in rec["spans"].items() if k in ("build", "plan", "exec"))
        rec["verify_s"] = sum(b - a for k, (a, b) in rec["spans"].items() if k == "verify")
        if reads is not None:
            rec["read_table_calls"] = self.clock.read_table_calls - reads[0]
            rec["read_table_s"] = self.clock.read_table_s - reads[1]
        return rec

    def _verify(self, rec: dict, df, oracles) -> None:
        from oracle import mismatch

        name = rec["query"]
        rows = [tuple(r) for r in df.collect()]
        why = mismatch(oracles.expected(name, self.specs[name].oracle), df.dtypes, df.columns, rows)
        if why is None:
            return
        known = KNOWN_MISMATCHES.get(name)
        pinned = known is not None and mismatch(
            oracles.expected(f"{name}.known", known.actual_sql), df.dtypes, df.columns, rows) is None
        rec.update(ok=False, error=why, known=pinned)

    def _pass(self, phase: str, names: list[str], oracles=None) -> dict:
        pass_no = len(self.passes)
        recs = [self.execute(phase, pass_no, q, oracles) for q in names]
        # the oracle check is outside the timed region
        wall = recs[-1]["end"] - recs[0]["start"] - sum(r["verify_s"] for r in recs)
        p = {"pass": pass_no, "phase": phase, "order": names, "wall_s": wall}
        self.passes.append(p)
        return p

    def run(self, oracles) -> None:
        rng = random.Random(self.seed)

        def shuffled(names):
            names = list(names)
            rng.shuffle(names)
            return names

        self._pass("cold", list(self.workload.all_queries()), oracles)
        self._pass("settle", shuffled(self.workload.queries), oracles)
        deadline = _now() + self.seconds
        warm = []
        while len(warm) < MIN_WARM_PASSES or _now() + warm[-1]["wall_s"] <= deadline:
            warm.append(self._pass("warm", shuffled(self.workload.queries)))

    def verified(self) -> list[dict]:
        """The executions compared with their oracles: the cold and the
        settle pass, a fixed number per workload."""
        return [r for r in self.executions if r["phase"] in ("cold", "settle")]

    def close(self) -> float:
        """Stop the session and wait for its JVM to exit; returns the peak
        RSS the session reached, in MB."""
        from pyspark import SparkContext

        rss = peak_rss_mb(self.spark._jvm.ProcessHandle.current().pid())
        jvm = SparkContext._gateway.proc
        self.spark.stop()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        return rss


def end_to_end(setup_s: float, runner: Runner, warm_lat: list[float]) -> dict[str, tuple[float, str]]:
    warm = [p for p in runner.passes if p["phase"] == "warm"]
    verified = runner.verified()
    attempted = len(verified)
    ok = sum(1 for r in verified if r["ok"])
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (runner.passes[0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "queries_per_min": (60.0 * len(warm_lat) / sum(p["wall_s"] for p in warm), "queries/min"),
        "query_p50_s": (statistics.median(warm_lat), "s"),
        "query_tail_s": (tail_percentile(warm_lat)[1], "s"),
        "verified_frac": (ok / attempted, "fraction"),
    }


_SPARK_SUMS = ("jobs", "stages", "tasks", "tiny_tasks", "task_queue_s", "executor_cpu_s",
               "task_run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
               "output_mb", "failed_tasks")
_PYTHON_SUMS = ("python_exec_s", "python_boot_s", "python_bytes_sent_mb", "python_rows_returned")


def per_layer(runner: Runner, groups: dict, stream_batches, rss_mb: float, setup: dict) -> dict:
    """Per-layer metrics of one steady round of the workload: the warm
    passes' mean, plus the cold-only queries once; and set-up and memory."""
    n_warm = sum(1 for p in runner.passes if p["phase"] == "warm")
    cold_only = set(runner.workload.cold_only)
    rounds = [(r, 1.0 / n_warm) for r in runner.executions if r["phase"] == "warm"] + [
        (r, 1.0) for r in runner.executions if r["phase"] == "cold" and r["query"] in cold_only]
    totals = dict.fromkeys(
        ["operators.build_s", "operators.build_jobs", "operators.persisted_frames",
         "catalog.read_table_calls", "catalog.read_table_s", "spark.plan_s", "spark.exec_s",
         *(f"spark.{k}" for k in _SPARK_SUMS), *(f"functions.{k}" for k in _PYTHON_SUMS),
         "streaming.batches", "streaming.batch_s"], 0.0)
    for r, w in rounds:
        spans = r["spans"]
        for phase, metric in (("build", "operators.build_s"), ("plan", "spark.plan_s"), ("exec", "spark.exec_s")):
            if phase in spans:
                totals[metric] += w * (spans[phase][1] - spans[phase][0])
        totals["operators.persisted_frames"] += w * r.get("persisted_frames", 0)
        totals["catalog.read_table_calls"] += w * r.get("read_table_calls", 0)
        totals["catalog.read_table_s"] += w * r.get("read_table_s", 0.0)
        totals["operators.build_jobs"] += w * groups.get(f"{r['id']}:build", {}).get("jobs", 0)
        for phase in ("build", "plan", "exec"):
            g = groups.get(f"{r['id']}:{phase}", {})
            for k in _SPARK_SUMS:
                totals[f"spark.{k}"] += w * g.get(k, 0.0)
            for k in _PYTHON_SUMS:
                totals[f"functions.{k}"] += w * g.get(k, 0.0)
        for arrival, secs in stream_batches:
            if r["start"] <= arrival <= r["end"]:
                totals["streaming.batches"] += w
                totals["streaming.batch_s"] += w * secs
    out = dict(totals)
    tiny = out.pop("spark.tiny_tasks")
    out["spark.tiny_task_frac"] = tiny / out["spark.tasks"] if out["spark.tasks"] else 0.0
    out["session.get_spark_s"] = setup["session.get_spark"]
    out["registry.load_s"] = setup["registry.load"]
    out["process.peak_rss_mb"] = rss_mb
    out["trace.warm_pass_s"] = statistics.median(p["wall_s"] for p in runner.passes if p["phase"] == "warm")
    return out


_UNITS = (("_s", "s"), ("_mb", "MB"), ("_frac", "fraction"))


def unit_of(metric: str) -> str:
    return next((u for suffix, u in _UNITS if metric.endswith(suffix)), "count")


def _prepare() -> dict | None:
    path = os.path.join(common.DATA, "prepared.json")
    if not os.path.exists(path):
        # stdout stays reserved for this run's result line
        rc = subprocess.run([sys.executable, os.path.join(common.HERE, "prepare.py")], stdout=sys.stderr).returncode
        if rc != 0:
            print(f"perfbench: preparing the corpus failed (rc {rc})", file=sys.stderr)
            return None
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = _parse_args(argv)
    missing = common.missing_sources()
    if missing:
        print(f"perfbench: not a velox_hadoop_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    common.configure_process()
    prepared = _prepare()
    if prepared is None:
        return 3

    tag = f"{args.workload}-seed{args.seed}"
    trace_dir = os.path.join(common.DATA, "traces", tag) if args.trace else None
    if trace_dir:
        shutil.rmtree(trace_dir, ignore_errors=True)
    runner = Runner(args, trace_dir)
    setup_s = runner.setup()
    from oracle import OracleCache

    oracles = OracleCache(runner.sf_dir, os.path.join(common.DATA, "oracle"), common.CPUS)
    try:
        runner.run(oracles)
    finally:
        oracles.close()
    stream_batches = runner.listener.snapshot() if runner.listener else []
    rss_mb = runner.close()

    warm_lat = [r["latency_s"] for r in runner.executions if r["phase"] == "warm"]
    pct, _ = tail_percentile(warm_lat)
    metrics = end_to_end(setup_s, runner, warm_lat)
    failures = {r["query"]: r["error"] for r in runner.executions if not r["ok"]}
    unexpected = {r["query"]: r["error"] for r in runner.executions if not r["ok"] and not r.get("known")}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": common.CPUS, "corpus": prepared, "query_tail_percentile": pct,
        "warm_samples": len(warm_lat), "peak_rss_mb": rss_mb, "failures": failures,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "passes": runner.passes, "executions": runner.executions,
    }
    runs_dir = os.path.join(common.DATA, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    if trace_dir:
        from layers import parse_event_log

        setup = {s["name"]: s["end"] - s["start"] for s in runner.spans if s.get("parent") == "setup"}
        layer = per_layer(runner, parse_event_log(os.path.join(trace_dir, "eventlog")),
                          stream_batches, rss_mb, setup)
        record["layers"] = layer
        untraced = os.path.join(runs_dir, f"{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["warm_pass_s"]
            record["trace_overhead_frac"] = layer["trace.warm_pass_s"] / base - 1.0
        spans = runner.spans + [
            {"name": phase, "start": a, "end": b, "parent": f"query:{r['id']}"}
            for r in runner.executions for phase, (a, b) in r["spans"].items()
        ] + [
            {"name": f"query:{r['id']}", "query": r["query"], "phase": r["phase"], "pass": r["pass"],
             "start": r["start"], "end": r["end"]}
            for r in runner.executions
        ]
        with open(os.path.join(trace_dir, "spans.json"), "w") as f:
            json.dump({"spans": spans, "layers": layer, "executions": runner.executions}, f, indent=1)
        shutil.rmtree(os.path.join(trace_dir, "eventlog"), ignore_errors=True)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(os.path.join(runs_dir, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, (v, u) in metrics.items():
        print(f"{k:>16} {v:12.4f} {u}", file=sys.stderr)
    verified = runner.verified()
    attempted, failed = len(verified), sum(1 for r in verified if not r["ok"])
    print(f"query_tail_s is p{pct:.0f} of {len(warm_lat)} warm samples; peak_rss_mb {rss_mb:.0f}; "
          f"failed_frac {failed}/{attempted} = {failed / attempted:.4f}", file=sys.stderr)
    for q, e in failures.items():
        print(f"FAILED{'' if q in unexpected else ' (known)'} {q}: {e}", file=sys.stderr)
    print(json.dumps({"correct": not unexpected, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
