"""Named-query registry — the engine's public query surface.

Each operator family registers named queries here; ``__spark_entry__.py``
re-exports the registry through the driver contract
(``queries()`` / ``oracle_sql()``). A query is:

  * ``fn(spark, sf_dir) -> DataFrame`` — the Spark plan, built from the
    operator library (declarative DataFrame API, Catalyst-optimized).
  * ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet
    tables, or ``None`` for non-SQL-expressible ops (iterative /
    stateful), which get a weaker rows-only check.

Column names are part of the contract: every computed column is aliased
identically in the Spark plan and the oracle SQL (the driver's compare
sorts columns by name before hashing).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Oracle output-shape rules (shared with scripts/lint_oracles.py, which
# stays as the standalone CLI sweep): wide-integer Arrow types that
# hash-mismatch Spark's int64, and nested types the driver's pandas
# canonicalizer cannot sort.
_BAD_ORACLE_TYPES = ("hugeint", "int128", "decimal128(38, 0)", "decimal128(38,0)")
_NESTED_ORACLE_TYPES = ("list", "struct", "map")

_LINT_ENV = "VHS_ORACLE_LINT"  # set to 1 (tests/conftest.py does) to
# schema-probe every oracle AT REGISTRATION, so an offending output
# shape fails at import time in the dev loop instead of at lint time.
# Off by default: driver/bench runs must not pay 200+ DuckDB probes or
# require testdata on the import path.
_lint_conn = None


def _validate_oracle(name: str, sql: str) -> None:
    global _lint_conn
    import duckdb

    if _lint_conn is None:
        from velox_hadoop_spark.catalog import TABLES

        sf_dir = os.environ.get("VHS_ORACLE_LINT_SF", "/root/testdata/sf0.001")
        _lint_conn = duckdb.connect()
        for t in TABLES:
            _lint_conn.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    try:
        schema = _lint_conn.sql(f"SELECT * FROM ({sql}) LIMIT 0").arrow().schema
    except Exception as exc:
        raise ValueError(f"oracle for {name!r} does not parse: {exc}") from exc
    for f in schema:
        t = str(f.type).lower()
        if any(b in t for b in _BAD_ORACLE_TYPES):
            raise ValueError(
                f"oracle for {name!r}: column {f.name} has wide-integer type "
                f"{f.type} — CAST the aggregate to BIGINT/INTEGER"
            )
        if any(b in t for b in _NESTED_ORACLE_TYPES):
            raise ValueError(
                f"oracle for {name!r}: column {f.name} has nested type "
                f"{f.type} — array_join/array_to_string it to a CSV string "
                "(driver canonicalizer cannot sort list values)"
            )


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a named query (and its DuckDB oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if oracle is not None and os.environ.get(_LINT_ENV) == "1":
            _validate_oracle(name, oracle)
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import every query-defining module exactly once; registration is a
    # side effect of import. Import order is also the verification-
    # priority order WITHIN the never-verified group (see
    # __spark_entry__._priority_order): streaming + curation extensions
    # come before the TPC-H tail so the driver's per-round budget lands
    # on the least-conventional surfaces first.
    import velox_hadoop_spark.operators.text  # noqa: F401
    import velox_hadoop_spark.operators.agg  # noqa: F401
    import velox_hadoop_spark.operators.join  # noqa: F401
    import velox_hadoop_spark.operators.skew  # noqa: F401
    import velox_hadoop_spark.operators.sort  # noqa: F401
    import velox_hadoop_spark.operators.window  # noqa: F401
    import velox_hadoop_spark.operators.setops  # noqa: F401
    import velox_hadoop_spark.operators.graph  # noqa: F401
    import velox_hadoop_spark.operators.dedup  # noqa: F401
    import velox_hadoop_spark.operators.similarity  # noqa: F401
    import velox_hadoop_spark.streaming.events  # noqa: F401
    import velox_hadoop_spark.streaming.stateful  # noqa: F401
    import velox_hadoop_spark.operators.contamination  # noqa: F401
    import velox_hadoop_spark.operators.clustering  # noqa: F401
    import velox_hadoop_spark.operators.textstats  # noqa: F401
    import velox_hadoop_spark.operators.quality  # noqa: F401
    import velox_hadoop_spark.operators.multimodal  # noqa: F401
    import velox_hadoop_spark.operators.pipeline  # noqa: F401
    import velox_hadoop_spark.operators.tpch_more  # noqa: F401
    import velox_hadoop_spark.operators.tpch_wide  # noqa: F401
    import velox_hadoop_spark.operators.tpch_final  # noqa: F401
    import velox_hadoop_spark.operators.reshape  # noqa: F401
    import velox_hadoop_spark.operators.retrieval  # noqa: F401
    import velox_hadoop_spark.operators.profile  # noqa: F401
    import velox_hadoop_spark.operators.skyline  # noqa: F401
    import velox_hadoop_spark.operators.sampling  # noqa: F401
    import velox_hadoop_spark.operators.timeseries  # noqa: F401
    import velox_hadoop_spark.operators.mining  # noqa: F401
    import velox_hadoop_spark.sources.multisource  # noqa: F401
    import velox_hadoop_spark.operators.subqueries  # noqa: F401
    import velox_hadoop_spark.operators.llmops2  # noqa: F401
    import velox_hadoop_spark.operators.sqlbreadth  # noqa: F401
    import velox_hadoop_spark.operators.llmops3  # noqa: F401
    import velox_hadoop_spark.operators.stats  # noqa: F401
    import velox_hadoop_spark.operators.semistruct  # noqa: F401
    import velox_hadoop_spark.operators.llmops4  # noqa: F401
    import velox_hadoop_spark.operators.llmops5  # noqa: F401
    import velox_hadoop_spark.operators.spanremoval  # noqa: F401
    import velox_hadoop_spark.operators.llmops6  # noqa: F401
    import velox_hadoop_spark.operators.sketches  # noqa: F401
    import velox_hadoop_spark.operators.llmops7  # noqa: F401
    import velox_hadoop_spark.operators.llmops8  # noqa: F401
    import velox_hadoop_spark.operators.llmops9  # noqa: F401
    import velox_hadoop_spark.operators.layout  # noqa: F401
    import velox_hadoop_spark.operators.pipeline_audit  # noqa: F401


def specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: s.fn for name, s in specs().items()}


def oracles() -> dict[str, str]:
    return {name: s.oracle for name, s in specs().items() if s.oracle is not None}
