"""catalog.read_table: the schema memo, the nanos seam, the single read path."""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR, rows_to_multiset
from velox_hadoop_spark import catalog
from velox_hadoop_spark.catalog import TABLES, read_table

PKG = pathlib.Path(__file__).resolve().parent.parent / "velox_hadoop_spark"


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    group = f"catalog-test-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def conf_restored(spark):
    """Restore the session confs a test sets (memo key + nanos seam)."""
    saved = {k: spark.conf.get(k) for k in catalog.INFERENCE_CONFS}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", TABLES)
def test_memo_schema_equals_inferred(spark, name):
    """Both the filling read and a memo hit give exactly the schema an
    uncached spark.read.parquet infers."""
    inferred = spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema
    assert read_table(spark, SF_DIR, name).schema == inferred
    assert read_table(spark, SF_DIR, name).schema == inferred


def test_second_read_launches_no_job(spark, tmp_path):
    os.symlink(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    d = str(tmp_path)
    _, first = _jobs(spark, lambda: read_table(spark, d, "region").schema)
    df, second = _jobs(spark, lambda: read_table(spark, d, "region"))
    assert first >= 1  # the miss infers with Spark's own reader
    assert second == 0
    assert df.count() == 5


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_table(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array(["x"]), "b": pa.array([1.5])}), path
    )
    df = read_table(spark, str(tmp_path), "region")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert dict(df.dtypes) == {"a": "string", "b": "double"}
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_binary_as_string_toggle_never_stale(spark, tmp_path, conf_restored):
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"blob": pa.array([b"ab"], pa.binary())}), path)
    seen = set()
    for flag in ("false", "true", "false", "true"):
        spark.conf.set("spark.sql.parquet.binaryAsString", flag)
        got = read_table(spark, str(tmp_path), "documents").schema
        assert got == spark.read.parquet(str(path)).schema
        seen.add(got["blob"].dataType.simpleString())
    assert seen == {"binary", "string"}


def test_self_join_of_two_reads_resolves(spark):
    a = read_table(spark, SF_DIR, "nation")
    b = read_table(spark, SF_DIR, "nation")
    # every region key is also a nation key, so each nation finds one match
    assert a.join(b, a.n_nationkey == b.n_regionkey).count() == b.count()


def _nanos_copy(tmp_path) -> str:
    """sf0.001 with ``events.ts`` rewritten as parquet TIMESTAMP(NANOS);
    every other table is the original file."""
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    ev = pq.read_table(f"{SF_DIR}/events.parquet")
    i = ev.schema.get_field_index("ts")
    ts_ns = pa.timestamp("ns", tz=ev.schema.field(i).type.tz)
    ev = ev.set_column(i, "ts", ev.column(i).cast(ts_ns))
    pq.write_table(ev, tmp_path / "events.parquet")
    assert catalog.ts_stored_as_nanos(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_nanos_probe_runs_once_per_file_state(spark, tmp_path, monkeypatch, conf_restored):
    d = _nanos_copy(tmp_path)
    calls = []
    probe = catalog.ts_stored_as_nanos
    monkeypatch.setattr(
        catalog, "ts_stored_as_nanos", lambda *a: calls.append(a) or probe(*a)
    )
    for _ in range(3):
        assert dict(read_table(spark, d, "events").dtypes)["ts"] == "timestamp"
    assert len(calls) == 1
    os.utime(tmp_path / "events.parquet", ns=(1, 1))  # a new file state
    read_table(spark, d, "events")
    assert len(calls) == 2


@pytest.mark.parametrize(
    "name",
    [
        "asof_join_grouped_backward",
        "asof_join_tolerance",
        "grouped_locf_daily_fill",
        "time_to_convert_percentiles",
        "peak_hourly_rate_per_user",
    ],
)
def test_events_queries_same_rows_on_nanos_copy(spark, tmp_path, name, conf_restored):
    """Queries over events give the same rows whether ``ts`` is stored
    as µs or as TIMESTAMP(NANOS)."""
    from velox_hadoop_spark.plans import registry

    fn = registry.specs()[name].fn
    want = fn(spark, SF_DIR)
    want = rows_to_multiset(want.columns, want.collect())
    got = fn(spark, _nanos_copy(tmp_path))
    got = rows_to_multiset(got.columns, got.collect())
    assert got == want and len(want[0]) > 0


def _raw_catalog_reads(src: str) -> list[int]:
    """Lines of ``<...>.read[...].parquet(<path under sf_dir>)`` calls."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and node.args
        ):
            continue
        reader = ast.unparse(node.func.value)
        path = ast.unparse(node.args[0])
        if ".read" in reader and "sf_dir" in path and ".parquet" in path:
            hits.append(node.lineno)
    return hits


def test_raw_read_guard_sees_a_raw_read():
    src = 'def f(spark, sf_dir):\n    return spark.read.parquet(f"{sf_dir}/orders.parquet")\n'
    assert _raw_catalog_reads(src) == [2]
    src = "def f(spark, sf_dir):\n    return spark.read.schema(s).parquet(\n        f'{sf_dir}/x.parquet')\n"
    assert _raw_catalog_reads(src) == [2]


def test_catalog_tables_are_read_only_through_read_table():
    """Every catalog table read goes through catalog.read_table."""
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "catalog.py" or p.parent != PKG
        for line in _raw_catalog_reads(p.read_text())
    ]
    assert not offenders, offenders


def _numbered_continuations(names: set[str]) -> list[str]:
    """``X<n>.py`` module names that sit beside an ``X.py``."""
    out = []
    for name in sorted(names):
        m = re.fullmatch(r"(\w*?\D)\d+\.py", name)
        if m and f"{m[1]}.py" in names:
            out.append(name)
    return out


_LATE_ORACLE = re.compile(r"attach_oracle|\bspecs\(\)")


def test_operator_module_guards_see_offenders():
    assert _numbered_continuations({"stats.py", "stats2.py", "llmops3.py", "x.py"}) == ["stats2.py"]
    assert _numbered_continuations({"llmops2.py", "llmops3.py"}) == []
    assert _LATE_ORACLE.search("attach_oracle('q', sql)")
    assert _LATE_ORACLE.search('est = specs()["q"].oracle')
    assert not _LATE_ORACLE.search("def q_specs_report(spark, sf_dir):")


def test_operator_modules_are_one_per_domain():
    """No numbered continuation module beside its base module, and every
    oracle arrives through @register (no late binding, no registry
    lookup while the registry is still loading)."""
    ops = PKG / "operators"
    assert not _numbered_continuations({p.name for p in ops.glob("*.py")})
    offenders = [
        f"{p.name}:{i}"
        for p in sorted(ops.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _LATE_ORACLE.search(line)
    ]
    assert not offenders, offenders
