#!/usr/bin/env python
"""Unpartitioned-window lint: every ``Window.orderBy(...)`` call site
(no ``partitionBy``) must be provably cardinality-BOUNDED.

Why mechanical: an unpartitioned window moves ALL rows to one task.
That is correct and fast when the frame is a calendar spine (~2.4k
days at any SF), a bucket/decile grid, or a distinct-value domain —
and a cluster-killer when someone orders a FACT table globally. The
round-8 verdict tracked this as a watch-item ("keep the measured-bound
discipline on any new rank statistic"); this lint turns the
discipline into a test, exactly as scripts/lint_plans.py did for
forced broadcasts after the round-5 erosion.

Contract: the per-file count of ``Window.orderBy`` sites (the Window
CLASS attribute — a chained ``Window.partitionBy(...).orderBy(...)``
does not match) must equal the whitelisted count, and the whitelist
entry states which bounded domain every site in that file rides.
A count going UP forces the author to argue boundedness here; a count
going DOWN flags the stale entry for deletion. Value-domain frames
(distinct values, quality grid) additionally carry a measured 10×
probe per the round-8 rule — the rationale names it.

    python scripts/lint_windows.py
"""

from __future__ import annotations

import ast
import collections
import os
import sys

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "velox_hadoop_spark",
)

# (path relative to velox_hadoop_spark/) -> (exact number of
# Window.orderBy sites, why every frame in the file is bounded).
WHITELIST = {
    "operators/layout.py": (1, "month-partition spine: calendar-bounded (~84 rows at any SF)"),
    "operators/llmops2.py": (1, "funnel stage spine: 5 rows"),
    "operators/llmops3.py": (2, "quality-score grid + distinct-cent AUC grid: value-domain bounded, 10x-probed (Spearman/KW discipline, round-8 verdict)"),
    "operators/llmops4.py": (3, "decile / token-bucket / context-budget grids: fixed bucket counts"),
    "operators/llmops9.py": (1, "re-assignment rank AFTER limit(REASSIGN_N): literal-bounded 25-row frame"),
    "operators/mining.py": (1, "hour-of-day spine: 24 rows"),
    "operators/retrieval.py": (1, "vocab-domain token rank; the r <= ZIPF_TOP filter compiles to WindowGroupLimit top-N; 10x-probed at 1.0x"),
    "operators/skyline.py": (1, "partition-id offsets: one row per partition"),
    "operators/sort.py": (1, "partition-id offsets: one row per partition (the single-exchange rank kernel)"),
    "operators/sqlbreadth.py": (2, "daily spine: calendar-bounded [1]; quarter spine: calendar-bounded [1]"),
    "operators/stats.py": (12, "daily spine (7) + distinct-value rank domain (1, Mann-Whitney — 10x-probed) [8]; distinct-value rank domain (Kruskal-Wallis), 10x-probed at 1.5x [1]; daily spine: calendar-bounded (runs test, Grubbs argmax, permutation patterns) [3]"),
    "operators/timeseries.py": (11, "daily spine: calendar-bounded [1]; session-length bucket grid: fixed bucket count [1]; daily spine (2) + anchored day-offset OLS range (1): calendar-bounded; distinct-gap-second cumulative sum (1): value-domain, grows with distinct observed gaps not rows [4]; daily spine / day-cost argmin / day-offset z-score range: calendar-bounded [5]"),
    "operators/window.py": (1, "year-month spine: calendar-bounded"),
}


def _sites(tree: ast.AST) -> int:
    n = 0
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        ):
            n += 1
    return n


def main() -> int:
    observed: dict[str, int] = collections.defaultdict(int)
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            n = _sites(tree)
            if n:
                observed[rel] = n

    ok = True
    for rel, n in sorted(observed.items()):
        want = WHITELIST.get(rel)
        if want is None:
            print(
                f"FAIL  {rel}: {n} unpartitioned Window.orderBy site(s) not "
                "whitelisted — add a boundedness rationale to "
                "scripts/lint_windows.py WHITELIST (calendar spine, fixed "
                "grid, partition-id, or value-domain WITH a 10x probe) or "
                "partition the window"
            )
            ok = False
        elif want[0] != n:
            print(
                f"FAIL  {rel}: {n} sites observed, {want[0]} whitelisted — "
                "a site was added (argue boundedness) or removed (update "
                "the count)"
            )
            ok = False
    for rel, (n, _why) in WHITELIST.items():
        if rel not in observed:
            print(f"FAIL  stale whitelist entry {rel} ({n} sites) — delete it")
            ok = False
    if ok:
        total = sum(observed.values())
        print(
            f"lint_windows: {total} unpartitioned window sites across "
            f"{len(observed)} files, all bounded and whitelisted (exact counts)"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
