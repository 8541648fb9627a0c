#!/usr/bin/env python
"""Static-ish lint for the DuckDB oracle strings.

Two output-type classes are rejected:

1. HUGEINT: DuckDB's count_if() / sum(<integer>) return HUGEINT
   (int128), which reaches the driver's Arrow hash as decimal128(38,0)
   while Spark emits int64 — so value-identical results hash-mismatch
   (two round-2 gate failures were exactly this). Every oracle must
   cast such aggregates to BIGINT/INTEGER explicitly.

2. Nested types (list/struct/map): the driver's pandas canonicalizer
   sorts result rows with ``sort_values``, which throws
   ``TypeError: unhashable type: 'list'`` on any top-level array
   column (the round-3 ``inverted_index_tokens`` red row). Repo
   convention is ``array_join``/``array_to_string`` to a CSV string.
   Oracles mirror the Spark output schema, so linting the oracle side
   catches the class on both sides.

Each oracle is planned against the sf0.001 views under a
``SELECT * FROM (...) LIMIT 0`` wrapper — a schema-only probe: DuckDB
types the full projection without materializing rows.

    python scripts/lint_oracles.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from velox_hadoop_spark.catalog import TABLES  # noqa: E402
from velox_hadoop_spark.plans import registry  # noqa: E402

# Classes 1 and 2 share their type lists with register()'s lint gate.
# Nested types match anywhere in the type string: a prefix match would
# miss Arrow's fixed_size_list (DuckDB fixed-length ARRAY) and
# large_list spellings.
from velox_hadoop_spark.plans.registry import (  # noqa: E402
    _BAD_ORACLE_TYPES as BAD_TYPES,
    _NESTED_ORACLE_TYPES as NESTED_TYPES,
)

# Class 3 (round 10): a DIRECT double sum of a money column inside the
# oracle — `ROUND(sum(<money col or money expr>), n)` — is the
# free-order rounding-flip class the money-exactness program closed
# (functions/money.py is the canonical form: per-row cent/1e4
# quantization to BIGINT, associative integer sum, one final divide).
# The regex requires `sum(` to open DIRECTLY on a money column or a
# money-column product, which only the unconverted form does (the
# exact form opens with `sum(CAST(round(...`).
import re  # noqa: E402

MONEY_COLS = (
    "value|o_totalprice|c_acctbal|s_acctbal|l_extendedprice"
    "|l_totalprice|ps_supplycost"
)
# Broadened (round-10 ADVICE): also catch equivalent free-order forms —
# a CAST wrapper (`sum(CAST(value AS DOUBLE))`), `avg` over money, and
# un-ROUNDed money sums. The exact functions/money.py form never
# matches: it opens `sum(CAST(round(` — per-row quantization BEFORE the
# aggregate — whereas every free-order form opens the aggregate
# directly on the money column (optionally through a bare CAST).
MONEY_DOUBLE_SUM = re.compile(
    rf"\b(?:sum|avg)\(\s*(?:CAST\(\s*)?(?:[a-z]+\d?\.)?(?:{MONEY_COLS})\b",
    re.IGNORECASE,
)

# Per-query exceptions, each with a boundedness rationale (the
# lint_plans WHITELIST discipline): the class targets SF-PROPORTIONAL
# free-order accumulation; a fixed-width window frame is not in it.
MONEY_SUM_WHITELIST = {
    "window_customer_orders": (
        "avg(o_totalprice) OVER a 3-ROW moving-average frame: term count"
        " is bounded at 3 (max fold error ~1e-12 on 2-dp money <= 1e6,"
        " eight orders under the 1e-4 output grid) and never grows with"
        " SF — not the free-order-accumulation class"
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_bad = 0
    for name, spec in registry.specs().items():
        if spec.oracle is None:
            continue
        try:
            schema = duck.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0").arrow().schema
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle does not parse: {str(exc)[:120]}")
            n_bad += 1
            continue
        bad = [
            f"{f.name}:{f.type}"
            for f in schema
            if any(b in str(f.type).lower() for b in BAD_TYPES)
        ]
        if bad:
            print(f"FAIL  {name}: un-cast wide-integer columns {bad}")
        nested = [
            f"{f.name}:{f.type}"
            for f in schema
            if any(b in str(f.type).lower() for b in NESTED_TYPES)
        ]
        if nested:
            print(
                f"FAIL  {name}: top-level nested output columns {nested}"
                " (array_join/array_to_string to CSV — driver canonicalizer"
                " cannot sort list values)"
            )
        if bad or nested:
            n_bad += 1  # count OFFENDING ORACLES once, not per class
    n_money = 0
    for name, spec in registry.specs().items():
        if (
            spec.oracle
            and name not in MONEY_SUM_WHITELIST
            and MONEY_DOUBLE_SUM.search(spec.oracle)
        ):
            print(f"FAIL  {name}: free-order double sum/avg of a money"
                  " column in the oracle — use the functions/money.py"
                  " exact form (or whitelist with a boundedness rationale)")
            n_money += 1
    n_bad += n_money
    print(f"{'OK' if n_bad == 0 else 'BAD'}: {n_bad} oracles with "
          "HUGEINT-class, nested, or free-order-money-sum outputs")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
