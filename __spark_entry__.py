"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``velox_hadoop_spark.plans.registry`` — the engine's
named-query registry. Every operator family in SURVEY.md §2 registers
its queries (Spark plan + DuckDB oracle SQL) there.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from velox_hadoop_spark.plans import registry  # noqa: E402


def _verified_names() -> set[str]:
    """Query names with a fully-green row in any committed CORRECTNESS_r*.json.

    The driver verifies a bounded prefix of ``queries()`` per round, so we
    order never-verified queries first: across rounds every query gets a
    hash-verified row without dropping already-green ones from the surface.
    """
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                green.add(name)
    return green


# Driver-green rows whose underlying code or oracle changed AFTER the
# green row was recorded. They lead the verification queue so the
# driver refreshes their evidence. Round 10's 13 names all re-greened
# in CORRECTNESS_r10 and were dropped; repopulated with round 11's
# semantic/oracle rewrites:
_REVERIFY = (
    # ROUND-14 riders (optimization round 2) — value-neutral PLAN
    # rewrites to green rows, all re-gated identical against the
    # DuckDB oracle at sf0.001 + sf0.01 (most also at sf0.1) before
    # landing, and the full driver contract re-ran 412/412 MATCH at
    # sf0.01 TWICE this round (once per landed batch). The three
    # round-13 riders all re-greened in CORRECTNESS_r13 and are
    # dropped (the r12-verdict queue discipline).
    #
    # (a) budget arms ride one exploded frame: ONE window + ONE hit
    # aggregate replace 3 windows + 3 aggregates + union; persist
    # moved from the wide scored frame to the candidate frame:
    "ann_recall_budget_curve",
    # (b) hot-shingle cap as the shared drop_hot_keys broadcast
    # anti-join; member intersections via sorted-array in-row pair
    # generation instead of a row-level self-join:
    "intra_cluster_jaccard_audit",
    # (c) one persisted signature/candidate chain feeds BOTH the
    # estimator (shared minhash_estimate kernel) and the exact side —
    # the 8-seed MinHash and band self-join no longer run twice:
    "minhash_estimate_error_audit",
    # (d) doremi_weight_frames pre-aggregates the token explode to
    # per-(source, token) counts before persisting (3 persists -> 2;
    # cached frame shrinks from token multiset to sources x vocab):
    "doremi_mixture_shift_report",
    # (e) per-cluster first-seen / keeper now annotate rows as ONE
    # cluster-keyed window instead of aggregate + join-back:
    "snapshot_novelty_rate",
    "cross_snapshot_dedup_decay",
    # (f) skyline phase-1 collect: limit(cap+1).toPandas() doubles as
    # the cap probe (2 actions + persist -> 1 action):
    "skyline_3d_parts",
)


# Green rows whose kernels were HARDENED with provably value-neutral
# rewrites — all re-gated at sf0.01 AND sf0.1 with identical results.
# They re-enter the queue BEHIND the never-verified group: fresh driver
# evidence is desirable but must not displace a new registration's
# FIRST row (the every-query-has-a-row invariant). Round-14 tail:
# value-identical SHARED-KERNEL riders of the _REVERIFY rewrites above
# — the estimator expression moved into the minhash_estimate kernel
# (same expressions, same inputs, bit-equal) and the other three
# doremi queries read the rewritten doremi_weight_frames:
_REVERIFY_TAIL = (
    "minhash_jaccard_estimate",
    "doremi_mixture_reweight",
    "doremi_weighted_resample",
    "doremi_resample_report",
)


def _priority_order(names: list[str]) -> list[str]:
    """Stale-evidence rows first, then never-verified queries, then the
    hardened-kernel riders, then the green rest (registration order
    preserved within each group) so the driver's per-round verification
    budget lands on the queries that have waited longest for a current
    green CORRECTNESS row."""
    green = _verified_names()
    reverify = [n for n in _REVERIFY if n in names]
    unverified = [n for n in names if n not in green and n not in _REVERIFY]
    reverify_tail = [n for n in _REVERIFY_TAIL if n in names]
    tail = [
        n
        for n in names
        if n in green and n not in _REVERIFY and n not in _REVERIFY_TAIL
    ]
    return reverify + unverified + reverify_tail + tail


def _utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the session to UTC: LTZ timestamps must render identically to
    DuckDB's naive (UTC-wall-clock) timestamps regardless of the host
    timezone of whatever session the driver passes in."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Grep-style pipeline (reference: Grep.java:62-100 semantics on table
    data): regex extract + grouped count + total-order sort.
    """
    return _utc(registry.queries()["grep"])(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = registry.queries()
    return {name: _utc(qs[name]) for name in _priority_order(list(qs))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible iterative/stateful ops)."""
    oracles = registry.oracles()
    return {name: oracles[name] for name in _priority_order(list(oracles))}
