"""Shared fixtures: one SparkSession per test run, DuckDB oracle harness."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "scripts"))

# Registration-time oracle lint: under pytest every @register() call
# schema-probes its oracle against DuckDB, so an offending output shape
# (nested column, un-cast HUGEINT) fails at IMPORT time in the dev
# loop. Driver/bench runs leave this off (no probe cost there).
os.environ.setdefault("VHS_ORACLE_LINT", "1")

from velox_hadoop_spark.session import get_spark  # noqa: E402
from velox_hadoop_spark.catalog import TABLES  # noqa: E402

# The one parity canonicalizer: the local gate's, which follows the
# driver (a top-level list or dict cell raises instead of being tupled).
from local_gate import _multiset as rows_to_multiset  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="velox_hadoop_spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def assert_parity(spark, duck, name: str, sf_dir: str = SF_DIR):
    """Run registry query `name` on Spark and its oracle on DuckDB; compare
    row multiset with columns sorted by name (mirrors the driver gate)."""
    from velox_hadoop_spark.plans import registry

    spec = registry.specs()[name]
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    assert spec.oracle is not None, f"{name} has no oracle"
    ddf = duck.sql(spec.oracle)
    drows = ddf.fetchall()
    dcols = [d[0] for d in ddf.description]

    s_set, s_cols = rows_to_multiset(scols, srows)
    d_set, d_cols = rows_to_multiset(dcols, drows)
    assert s_cols == d_cols, f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    assert len(s_set) == len(d_set), f"{name}: row count spark={len(s_set)} duck={len(d_set)}"
    mismatches = [(a, b) for a, b in zip(s_set, d_set) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows; first: {mismatches[:3]}"
