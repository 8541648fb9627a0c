"""Round-9 independent-verification tests.

The standing rule (r7/r8 program): every NEW registration whose oracle
mirrors the Spark formula ships a plain-Python brute-force recompute or
a conservation/bounds invariant in the same commit — oracle parity
cannot catch a formula error both engines share. Rows-only
registrations (the HLL sketch rollup) get their tolerance and algebraic
properties pinned here instead.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import pytest

from velox_hadoop_spark.plans import registry

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Repeated-span removal: plain-Python recompute + token conservation
# ---------------------------------------------------------------------------


def _py_span_removal(texts: dict[int, str], k: int, min_docs: int = 2):
    """Independent plain-Python reimplementation: returns
    {doc_id: (n_tokens, spans[(s,e)], kept_text)} for affected docs."""
    toks = {d: re.split(r"\s+", t) for d, t in texts.items()}
    gram_docs: dict[str, set[int]] = {}
    positions: dict[int, list[int]] = {d: [] for d in texts}
    grams: dict[tuple[int, int], str] = {}
    for d, w in toks.items():
        for i in range(len(w) - k + 1):
            g = " ".join(w[i : i + k])
            gram_docs.setdefault(g, set()).add(d)
            grams[(d, i)] = g
    out = {}
    for d, w in toks.items():
        hit = sorted(
            {i for i in range(len(w) - k + 1) if len(gram_docs[grams[(d, i)]]) >= min_docs}
        )
        if not hit:
            continue
        # interval merge of [i, i+k-1] covers (0-based)
        spans = []
        s = e = None
        for i in hit:
            if s is None:
                s, e = i, i + k - 1
            elif i <= e + 1:
                e = max(e, i + k - 1)
            else:
                spans.append((s, e))
                s, e = i, i + k - 1
        spans.append((s, e))
        removed = set()
        for a, b in spans:
            removed.update(range(a, b + 1))
        kept = [w[i] for i in range(len(w)) if i not in removed]
        out[d] = (len(w), spans, " ".join(kept))
    return out


def test_repeated_span_removal_python_recompute(spark):
    """Synthetic corpus with a known shared 13-token run (plus an
    intra-doc-only repeat that must NOT be removed) vs the kernel."""
    from velox_hadoop_spark.operators.spanremoval import (
        SPANREM_K,
        merged_removal_spans,
    )

    k = SPANREM_K
    shared = " ".join(f"s{i}" for i in range(k + 3))  # 16-token shared run
    texts = {
        1: f"a1 a2 a3 {shared} b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13",
        2: f"c1 c2 {shared} d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12 d13 d14",
        # doc 3: repeats ITS OWN run twice but shares nothing cross-doc
        3: " ".join(f"e{i}" for i in range(k)) + " x " + " ".join(f"e{i}" for i in range(k)),
        # doc 4: too short to shingle
        4: "f1 f2 f3",
    }
    docs = spark.createDataFrame(
        [(d, t, "srcT") for d, t in texts.items()], "doc_id long, text string, source string"
    )
    merged = merged_removal_spans(docs).collect()
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in merged:
        by_doc.setdefault(r["doc_id"], []).append((r["s"], r["e"]))
    expect = _py_span_removal(texts, k)
    assert set(by_doc) == set(expect) == {1, 2}
    for d in by_doc:
        # kernel positions are 1-based; python recompute is 0-based
        got_spans = sorted((s - 1, e - 1) for s, e in by_doc[d])
        assert got_spans == expect[d][1], (d, got_spans, expect[d][1])


def test_repeated_span_removal_conservation(spark):
    """kept + removed = n_tokens on the real corpus, kept_text token
    count equals kept_tokens, and the by-source rollup conserves the
    same masses."""
    q = registry.queries()
    rows = q["repeated_span_removal"](spark, SF_SMALL).collect()
    assert rows, "expected affected docs at sf0.001"
    for r in rows:
        assert r["kept_tokens"] + r["removed_tokens"] == r["n_tokens"], r
        n_text_tokens = len(r["kept_text"].split()) if r["kept_text"] else 0
        assert n_text_tokens == r["kept_tokens"], r
        assert r["n_spans"] >= 1 and r["removed_tokens"] >= 13
    by_src = q["repeated_span_removal_by_source"](spark, SF_SMALL).collect()
    assert sum(r["n_affected"] for r in by_src) == len(rows)
    for r in by_src:
        assert r["kept_tokens"] + r["removed_tokens"] == r["total_tokens"], r
    assert sum(r["removed_tokens"] for r in by_src) == sum(
        r["removed_tokens"] for r in rows
    )


# ---------------------------------------------------------------------------
# DSIR: brute-force log-ratio recompute + selection-boundary gap
# ---------------------------------------------------------------------------


def _py_dsir_scores(sf=SF_SMALL, target="src1"):
    """Plain-Python add-1 bigram LM log2-ratio, independent of both
    engines' SQL."""
    rows = duckdb.sql(
        f"SELECT doc_id, source, text FROM '{sf}/documents.parquet'"
    ).fetchall()
    toks = {d: (src, re.split(r"\s+", t)) for d, src, t in rows}
    tc: dict[tuple[str, str], int] = {}
    rc: dict[tuple[str, str], int] = {}
    vocab = set()
    for _, (src, w) in toks.items():
        vocab.update(w)
        tgt = src == target
        for i in range(len(w) - 1):
            key = (w[i], w[i + 1])
            (tc if tgt else rc)[key] = (tc if tgt else rc).get(key, 0) + 1
    tu: dict[str, int] = {}
    ru: dict[str, int] = {}
    for (w1, _), c in tc.items():
        tu[w1] = tu.get(w1, 0) + c
    for (w1, _), c in rc.items():
        ru[w1] = ru.get(w1, 0) + c
    v = len(vocab)
    out = {}
    for d, (src, w) in toks.items():
        if src == target or len(w) < 2:
            continue
        terms = []
        for i in range(len(w) - 1):
            key = (w[i], w[i + 1])
            lt = math.log2((tc.get(key, 0) + 1.0) / (tu.get(w[i], 0) + v))
            lr = math.log2((rc[key] + 1.0) / (ru[w[i]] + v))
            terms.append(lt - lr)
        out[d] = (src, len(terms), sum(terms) / len(terms))
    return out


def test_dsir_logratio_brute_force(spark):
    got = {
        r["doc_id"]: r
        for r in registry.queries()["dsir_logratio_scores"](spark, SF_SMALL).collect()
    }
    expect = _py_dsir_scores()
    assert set(got) == set(expect)
    for d, (src, nb, lr) in expect.items():
        assert got[d]["source"] == src
        assert got[d]["n_bigrams"] == nb
        assert abs(got[d]["avg_logratio"] - lr) < 1e-6, (d, got[d]["avg_logratio"], lr)


def test_dsir_resample_selection_gap_and_weights(spark):
    """The A-ES selection boundary must sit orders of magnitude above
    cross-engine libm/accumulation noise, and the selected set must be
    exactly the K smallest keys recomputed from the score frame."""
    from velox_hadoop_spark.operators.llmops6 import DSIR_K, DSIR_MOD, DSIR_SEED, LN2

    import hashlib

    expect_scores = _py_dsir_scores()

    def key(d, lr):
        h = hashlib.md5(f"{DSIR_SEED}|{d}".encode()).hexdigest()
        u = (int(h[:15], 16) % DSIR_MOD + 1) / float(DSIR_MOD + 1)
        return math.log(-math.log(u)) - lr * LN2

    keys = sorted((key(d, lr), d) for d, (_, _, lr) in expect_scores.items())
    picked = registry.queries()["dsir_importance_resample"](spark, SF_SMALL).collect()
    assert len(picked) == DSIR_K
    assert {r["doc_id"] for r in picked} == {d for _, d in keys[:DSIR_K]}
    gap = keys[DSIR_K][0] - keys[DSIR_K - 1][0]
    assert gap > 1e-9, f"selection boundary gap {gap} too tight to be stable"


# ---------------------------------------------------------------------------
# SemDeDup: numpy recompute of the prune rule + partition invariants
# ---------------------------------------------------------------------------


def test_semdedup_prune_rule_numpy_recompute(spark):
    """Given the (already independently-oracled) kmeans assignment,
    recompute the dominance/prune rule with numpy cosines and compare
    the pruned set and dominators exactly."""
    import numpy as np

    from velox_hadoop_spark.operators.llmops6 import (
        SEMDEDUP_DOM_CAP,
        SEMDEDUP_TAU,
        semdedup_members,
        semdedup_pruned,
    )
    from velox_hadoop_spark.functions.vectors import round_half_away

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    members = semdedup_members(emb)
    mrows = members.select("vec_id", "cluster", "dist", "e").collect()
    vec = {r["vec_id"]: np.asarray(r["e"], dtype=np.float64) for r in mrows}
    meta = {r["vec_id"]: (r["cluster"], r["dist"]) for r in mrows}
    by_cell: dict[int, list[int]] = {}
    for vid, (cl, _) in meta.items():
        by_cell.setdefault(cl, []).append(vid)
    expect: dict[int, tuple[int, float]] = {}
    for cl, ids in by_cell.items():
        # keeper-order rank (dist desc, id asc); dominators are the
        # cell's top-SEMDEDUP_DOM_CAP ranked members (the pair-join
        # bound added after the 10x probe flagged the uncapped join)
        order = sorted(ids, key=lambda v: (-meta[v][1], v))
        rank = {v: i + 1 for i, v in enumerate(order)}
        for b in ids:
            best = None
            for a in ids:
                if a == b:
                    continue
                if not (rank[a] < rank[b] and rank[a] <= SEMDEDUP_DOM_CAP):
                    continue
                va, vb = vec[a], vec[b]
                cs = float(
                    round_half_away(
                        np.cumsum(va * vb)[-1]
                        / (math.sqrt(np.cumsum(va * va)[-1]) * math.sqrt(np.cumsum(vb * vb)[-1])),
                        6,
                    )
                )
                if cs >= SEMDEDUP_TAU and (best is None or (-cs, a) < best):
                    best = (-cs, a)
            if best is not None:
                expect[b] = (best[1], -best[0])
    got = {
        r["vec_id"]: (r["pruned_by"], r["cos"])
        for r in semdedup_pruned(members, SEMDEDUP_TAU).collect()
    }
    assert got == expect


def test_semdedup_report_partitions_members(spark):
    q = registry.queries()
    report = q["semdedup_prune_report"](spark, SF_SMALL).collect()
    pruned = q["semdedup_pruned_docs"](spark, SF_SMALL).collect()
    from velox_hadoop_spark.operators.llmops6 import semdedup_members

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n_members = semdedup_members(emb).count()
    assert sum(r["n_members"] for r in report) == n_members
    assert sum(r["n_pruned"] for r in report) == len(pruned)
    for r in report:
        assert r["n_pruned"] + r["n_kept"] == r["n_members"]
    # a pruned doc's dominator must itself be a member of the same cell
    ids = {r["vec_id"]: r["cluster"] for r in pruned}
    for r in pruned:
        assert r["cos"] >= 0.35
        assert r["pruned_by"] not in ids or ids[r["pruned_by"]] == r["cluster"]


# ---------------------------------------------------------------------------
# HLL mergeable sketches: tolerance, merge associativity, determinism
# ---------------------------------------------------------------------------


def test_hll_weekly_rollup_tolerance_and_merge(spark):
    from pyspark.sql import functions as F

    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.operators.sketches import (
        HLL_LG_K,
        daily_user_sketches,
        weekly_rollup,
    )

    rows = registry.queries()["hll_weekly_merge_rollup"](spark, SF_SMALL).collect()
    assert rows
    events = read_table(spark, SF_SMALL, "events")
    n_days = events.select(F.to_date("ts")).distinct().count()
    assert sum(r["n_days"] for r in rows) == n_days
    # the registered bounds-audit flag must hold everywhere, and the
    # TIGHTER 2% check runs on the underlying rollup (lgK=12 on small
    # cardinalities) — the audit query no longer exposes rel_err
    assert all(r["within_tol"] for r in rows), rows
    est = {
        r["week_start"]: r["est_users"]
        for r in weekly_rollup(daily_user_sketches(events)).collect()
    }
    for r in rows:
        rel = abs(est[r["week_start"]] - r["exact_users"]) / r["exact_users"]
        assert rel <= 0.02, (r, est[r["week_start"]])
    # merge associativity: union(day sketches) == one week-grain sketch
    direct = {
        r["week_start"]: r["est"]
        for r in events.groupBy(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week_start")
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(HLL_LG_K))
            ).alias("est")
        )
        .collect()
    }
    merged = {
        r["week_start"]: r["est_users"]
        for r in weekly_rollup(daily_user_sketches(events)).collect()
    }
    assert merged == direct
    # determinism across runs
    again = {
        r["week_start"]: r["est_users"]
        for r in weekly_rollup(daily_user_sketches(events)).collect()
    }
    assert again == merged


# ---------------------------------------------------------------------------
# timeseries5: brute-force recomputes + conservation
# ---------------------------------------------------------------------------


def _daily_cents(sf=SF_SMALL):
    return duckdb.sql(
        f"""
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
        FROM '{sf}/orders.parquet' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()


def test_changepoint_python_recompute(spark):
    xs = [c for _, c in _daily_cents()]
    days = [d for d, _ in _daily_cents()]
    n = len(xs)
    best = None
    pre_s = [0]
    pre_q = [0]
    for x in xs:
        pre_s.append(pre_s[-1] + x)
        pre_q.append(pre_q[-1] + x * x)
    for j in range(1, n):
        sl, ql = pre_s[j], pre_q[j]
        sr, qr = pre_s[n] - sl, pre_q[n] - ql
        cost = (float(ql) - float(sl) * float(sl) / j) + (
            float(qr) - float(sr) * float(sr) / (n - j)
        )
        if best is None or cost < best[0]:
            best = (cost, days[j - 1], j)
    row = registry.queries()["changepoint_sse_split_daily"](spark, SF_SMALL).collect()[0]
    assert row["split_day"] == best[1]
    assert row["n_left"] == best[2] and row["n_right"] == n - best[2]


def test_rolling_zscore_python_recompute(spark):
    daily = _daily_cents()
    flagged = {}
    for i, (d, x) in enumerate(daily):
        win = [c for dd, c in daily if 1 <= (d - dd).days <= 30]
        m = len(win)
        if m < 10:
            continue
        mu = sum(win) / m
        ss = sum(v * v for v in win) - sum(win) ** 2 / m
        if ss <= 0:
            continue
        sd = math.sqrt(ss / (m - 1))
        z = (x - mu) / sd
        if math.floor(abs(z) * 10000 + 0.5) / 10000 > 2.5:
            flagged[d] = (m, round(z, 4))
    got = {
        r["d"]: (r["n_days"], r["z"])
        for r in registry.queries()["rolling_zscore_anomaly_days"](
            spark, SF_SMALL
        ).collect()
    }
    assert got == flagged


def test_backlog_conservation(spark):
    rows = registry.queries()["open_order_backlog_daily"](spark, SF_SMALL).collect()
    rows.sort(key=lambda r: r["d"])
    n_with_lines = duckdb.sql(
        f"""
        SELECT count(*) FROM '{SF_SMALL}/orders.parquet' o
        WHERE EXISTS (SELECT 1 FROM '{SF_SMALL}/lineitem.parquet' l
                      WHERE l.l_orderkey = o.o_orderkey)
        """
    ).fetchone()[0]
    assert sum(r["n_opened"] for r in rows) == n_with_lines
    assert sum(r["n_closed"] for r in rows) == n_with_lines
    running = 0
    for r in rows:
        running += r["n_opened"] - r["n_closed"]
        assert r["open_backlog"] == running
        assert running >= 0
    assert rows[-1]["open_backlog"] == 0


def test_vwap_python_recompute(spark):
    raw = duckdb.sql(
        f"""
        SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS w,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_quantity AS q
        FROM '{SF_SMALL}/lineitem.parquet'
        """
    ).fetchall()
    agg = {}
    for w, cents, q in raw:
        s = agg.setdefault(w, [0, 0.0, 0])
        s[0] += cents
        s[1] += q
        s[2] += 1
    got = {
        r["week_start"]: r
        for r in registry.queries()["vwap_weekly_lineitem"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(agg)
    for w, (cents, qty, nl) in agg.items():
        assert got[w]["n_lines"] == nl
        assert got[w]["total_qty"] == int(qty)
        assert abs(got[w]["vwap"] - cents / qty / 100.0) < 1e-6


# ---------------------------------------------------------------------------
# stats4: plain-Python recomputes
# ---------------------------------------------------------------------------


def test_chi2_gof_python_recompute(spark):
    counts = dict(
        duckdb.sql(
            f"SELECT dayname(o_orderdate), count(*) FROM '{SF_SMALL}/orders.parquet' GROUP BY 1"
        ).fetchall()
    )
    n = sum(counts.values())
    e = n / 7.0
    chi2 = sum((o - e) ** 2 / e for o in counts.values())
    row = registry.queries()["chi2_gof_weekday_uniform"](spark, SF_SMALL).collect()[0]
    assert row["n"] == n
    assert abs(row["chi2"] - chi2) < 1e-5


def test_runs_test_python_recompute(spark):
    xs = [c for _, c in _daily_cents()]
    med = sorted(xs)
    m = (med[len(med) // 2] + med[(len(med) - 1) // 2]) / 2
    sgn = [1 if x > m else -1 for x in xs if x != m]
    n1 = sgn.count(1)
    n2 = sgn.count(-1)
    r = 1 + sum(1 for a, b in zip(sgn, sgn[1:]) if a != b)
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    var = (
        (2 * n1 * n2)
        * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    )
    row = registry.queries()["runs_test_daily_revenue"](spark, SF_SMALL).collect()[0]
    assert (row["n_up"], row["n_down"], row["n_runs"]) == (n1, n2, r)
    assert abs(row["z"] - (r - mu) / math.sqrt(var)) < 1e-6


def test_grubbs_python_recompute(spark):
    daily = _daily_cents()
    xs = [c for _, c in daily]
    n = len(xs)
    mu = sum(xs) / n
    sd = math.sqrt((sum(x * x for x in xs) - sum(xs) ** 2 / n) / (n - 1))
    peak = max(daily, key=lambda t: (abs(n * t[1] - sum(xs)), -t[0].toordinal()))
    row = registry.queries()["grubbs_statistic_daily"](spark, SF_SMALL).collect()[0]
    assert row["peak_day"] == peak[0]
    assert abs(row["g"] - abs(peak[1] - mu) / sd) < 1e-6


def test_permutation_entropy_python_recompute(spark):
    xs = [c for _, c in _daily_cents()]
    pats = {}
    for x0, x1, x2 in zip(xs, xs[1:], xs[2:]):
        p = 4 * (x0 <= x1) + 2 * (x0 <= x2) + (x1 <= x2)
        pats[p] = pats.get(p, 0) + 1
    n = sum(pats.values())
    ent = -sum(c / n * math.log2(c / n) for c in pats.values())
    row = registry.queries()["permutation_entropy_daily"](spark, SF_SMALL).collect()[0]
    assert row["n_triples"] == n and row["n_patterns"] == len(pats)
    assert abs(row["entropy"] - ent) < 1e-6


def test_cohens_d_python_recompute(spark):
    rows = duckdb.sql(
        f"""
        SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT)
        FROM '{SF_SMALL}/lineitem.parquet' WHERE l_returnflag IN ('A','R')
        """
    ).fetchall()
    a = [c for f, c in rows if f == "A"]
    r = [c for f, c in rows if f == "R"]
    ssa = sum(x * x for x in a) - sum(a) ** 2 / len(a)
    ssr = sum(x * x for x in r) - sum(r) ** 2 / len(r)
    sp = math.sqrt((ssa + ssr) / (len(a) + len(r) - 2))
    # d is dimensionless: cents difference over cents spread. The
    # round-9 review caught a stray /100 here that the test itself had
    # copied from the kernel — a recompute must derive the FORMULA
    # independently, not transcribe it.
    d = (sum(a) / len(a) - sum(r) / len(r)) / sp
    row = registry.queries()["cohens_d_returnflag"](spark, SF_SMALL).collect()[0]
    assert (row["n_a"], row["n_r"]) == (len(a), len(r))
    assert abs(row["cohens_d"] - d) < 1e-6
    # dimensional sanity pin: d must also equal the dollars-domain
    # recompute (dollars difference over dollars spread)
    ad = [x / 100.0 for x in a]
    rd = [x / 100.0 for x in r]
    ssa_d = sum(x * x for x in ad) - sum(ad) ** 2 / len(ad)
    ssr_d = sum(x * x for x in rd) - sum(rd) ** 2 / len(rd)
    sp_d = math.sqrt((ssa_d + ssr_d) / (len(ad) + len(rd) - 2))
    d_dollars = (sum(ad) / len(ad) - sum(rd) / len(rd)) / sp_d
    assert abs(row["cohens_d"] - d_dollars) < 1e-5


# ---------------------------------------------------------------------------
# retrieval2 + graph2 + sqlbreadth4
# ---------------------------------------------------------------------------


def test_ndcg_numpy_recompute(spark):
    import numpy as np

    from velox_hadoop_spark.functions.vectors import round_half_away

    rows = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{SF_SMALL}/embeddings.parquet'"
    ).fetchall()
    vec = {v: np.asarray(e, dtype=np.float64) for v, e, _ in rows}
    lab = {v: l for v, _, l in rows}
    got = {
        r["query_id"]: r
        for r in registry.queries()["knn_label_ndcg_at_10"](spark, SF_SMALL).collect()
    }
    for q in range(10):
        scored = []
        for v in vec:
            if v == q:
                continue
            cs = float(
                round_half_away(
                    float(np.dot(vec[q], vec[v]))
                    / (math.sqrt(float(np.dot(vec[q], vec[q])))
                       * math.sqrt(float(np.dot(vec[v], vec[v])))),
                    6,
                )
            )
            scored.append((-cs, v))
        scored.sort()
        rel = [1 if lab[v] == lab[q] else 0 for _, v in scored]
        r_total = sum(rel)
        if r_total < 1:
            assert q not in got
            continue
        dcg = sum(rl / math.log2(i + 2) for i, rl in enumerate(rel[:10]))
        idcg = sum(1 / math.log2(i + 2) for i in range(min(r_total, 10)))
        assert got[q]["n_rel_total"] == r_total
        assert abs(got[q]["dcg"] - dcg) < 1e-5
        assert abs(got[q]["ndcg"] - dcg / idcg) < 1e-5


def test_containment_python_recompute(spark):
    from velox_hadoop_spark.operators.dedup import SHINGLE_K

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    )
    shs = {}
    for d, t in texts.items():
        w = re.split(r"\s+", t)
        shs[d] = {" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)}
    rows = registry.queries()["minhash_containment_pairs"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        inter = len(shs[r["id_a"]] & shs[r["id_b"]])
        assert r["n_shared"] == inter, r
        assert r["n_a"] == len(shs[r["id_a"]]) and r["n_b"] == len(shs[r["id_b"]])
        assert max(r["contain_ab"], r["contain_ba"]) >= 0.5


def test_cross_source_matrix_conserves_pairs(spark):
    q = registry.queries()
    matrix = q["cross_source_neardup_matrix"](spark, SF_SMALL).collect()
    pairs = q["near_dup_verified_pairs"](spark, SF_SMALL).collect()
    assert sum(r["n_pairs"] for r in matrix) == len(pairs)
    for r in matrix:
        assert r["source_1"] <= r["source_2"]


def test_zipf_python_recompute(spark):
    cnt = {}
    for (t,) in duckdb.sql(
        f"SELECT unnest(string_split_regex(text, '\\s+')) FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall():
        cnt[t] = cnt.get(t, 0) + 1
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    pts = [
        (round(math.log2(i + 1) * 1e6), round(math.log2(c) * 1e6))
        for i, (_, c) in enumerate(top)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    row = registry.queries()["zipf_slope_top_tokens"](spark, SF_SMALL).collect()[0]
    assert row["n_tokens"] == n
    assert abs(row["zipf_slope"] - slope) < 1e-6
    assert -2.0 < row["zipf_slope"] < 0.0  # a frequency-rank curve must fall


def test_assortativity_python_recompute(spark):
    from velox_hadoop_spark.operators.graph import co_supply_capped_edges
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    edges = [
        (r["s1"], r["s2"])
        for r in co_supply_capped_edges(
            li.select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s"))
        ).collect()
    ]
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    ys = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    n = len(xs)
    sx = sum(xs)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    rows = registry.queries()["degree_assortativity_suppliers"](
        spark, SF_SMALL
    ).collect()
    if n * sxx == sx * sx:
        assert rows == []  # complete-graph corpus: zero variance, no row
        return
    r = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    assert rows[0]["n_edges"] == len(edges)
    assert abs(rows[0]["assortativity"] - r) < 1e-6


def test_try_arithmetic_counts(spark):
    exp = duckdb.sql(
        f"""
        WITH c AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents,
                          o_custkey % 100 AS den
                   FROM '{SF_SMALL}/orders.parquet')
        SELECT count(*),
               count(*) FILTER (WHERE CAST(cents AS HUGEINT)*cents*4000 > 9223372036854775807),
               count(*) FILTER (WHERE den = 0)
        FROM c
        """
    ).fetchone()
    row = registry.queries()["try_arithmetic_null_report"](spark, SF_SMALL).collect()[0]
    assert row["n"] == exp[0]
    assert row["n_overflow_null"] == exp[1]
    assert row["n_divzero_null"] == exp[2]
    assert row["n_status_numeric"] == 0


def test_width_bucket_partitions_orders(spark):
    rows = registry.queries()["width_bucket_price_histogram"](spark, SF_SMALL).collect()
    n = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMALL}/orders.parquet'"
    ).fetchone()[0]
    assert sum(r["n_orders"] for r in rows) == n
    for r in rows:
        if 1 <= r["bucket"] <= 20:
            assert (r["bucket"] - 1) * 25000 <= r["min_price"]
            assert r["max_price"] < r["bucket"] * 25000


# ---------------------------------------------------------------------------
# Round-9 wave 2: savings curve, conditional entropy, estimator audit,
# peak hourly rate
# ---------------------------------------------------------------------------


def test_savings_curve_python_recompute_and_monotone(spark):
    from velox_hadoop_spark.operators.spanremoval import SPANREM_K

    texts = dict(
        duckdb.sql(f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'").fetchall()
    )
    rows = {
        r["min_docs"]: r
        for r in registry.queries()["repeated_span_savings_curve"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(rows) == {2, 3, 5}
    prev = None
    for t in (2, 3, 5):
        exp = _py_span_removal(texts, SPANREM_K, min_docs=t)
        removed = sum(
            sum(e - s + 1 for s, e in spans) for _, spans, _ in exp.values()
        )
        assert rows[t]["n_docs_affected"] == len(exp)
        assert rows[t]["removed_tokens"] == removed, (t, rows[t], removed)
        if prev is not None:
            assert rows[t]["removed_tokens"] <= prev
        prev = rows[t]["removed_tokens"]
    # threshold 2 must agree with the per-doc removal operator
    per_doc = registry.queries()["repeated_span_removal"](spark, SF_SMALL).collect()
    assert rows[2]["removed_tokens"] == sum(r["removed_tokens"] for r in per_doc)
    assert rows[2]["n_docs_affected"] == len(per_doc)


def test_bigram_conditional_entropy_python_recompute(spark):
    bgc = {}
    for d, t in duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall():
        w = re.split(r"\s+", t)
        for a, b in zip(w, w[1:]):
            bgc[(a, b)] = bgc.get((a, b), 0) + 1
    c1 = {}
    for (a, _), c in bgc.items():
        c1[a] = c1.get(a, 0) + c
    n = sum(bgc.values())
    s = sum(c * round(math.log2(c / c1[a]) * 1e6) for (a, _), c in bgc.items())
    ent = -s / 1e6 / n
    row = registry.queries()["bigram_conditional_entropy"](spark, SF_SMALL).collect()[0]
    assert row["n_bigrams"] == n
    assert row["n_distinct_bigrams"] == len(bgc)
    assert abs(row["cond_entropy"] - ent) < 1e-6
    assert row["cond_entropy"] > 0


def test_minhash_estimate_audit_python_recompute(spark):
    from velox_hadoop_spark.operators.dedup import SHINGLE_K

    q = registry.queries()
    est = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in q["minhash_jaccard_estimate"](spark, SF_SMALL).collect()
    }
    texts = dict(
        duckdb.sql(f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'").fetchall()
    )
    shs = {}
    for d, t in texts.items():
        w = re.split(r"\s+", t)
        shs[d] = {" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)}
    errs = []
    for (a, b), e in est.items():
        inter = len(shs[a] & shs[b])
        jac = round(inter / (len(shs[a]) + len(shs[b]) - inter), 6) if inter else 0.0
        errs.append(round(abs(e - jac) * 1e6))
    row = q["minhash_estimate_error_audit"](spark, SF_SMALL).collect()[0]
    assert row["n_pairs"] == len(errs)
    assert abs(row["mean_abs_err"] - sum(errs) / 1e6 / len(errs)) < 1e-6
    assert abs(row["max_abs_err"] - max(errs) / 1e6) < 1e-6
    assert row["n_within_01"] == sum(1 for e in errs if e <= 100000)


def test_peak_hourly_rate_python_recompute(spark):
    rows = duckdb.sql(
        f"SELECT user_id, epoch(ts) FROM '{SF_SMALL}/events.parquet' ORDER BY 1, 2"
    ).fetchall()
    by_user = {}
    for u, es in rows:
        by_user.setdefault(u, []).append(es)
    got = {
        r["user_id"]: r
        for r in registry.queries()["peak_hourly_rate_per_user"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(got) == set(by_user)
    for u, ts in by_user.items():
        peak = max(
            sum(1 for s in ts if t - 3599 <= s <= t) for t in ts
        )
        assert got[u]["n_events"] == len(ts)
        assert got[u]["peak_1h"] == peak, (u, got[u], peak)


# ---------------------------------------------------------------------------
# Round-9 third wave (llmops8 + seasonal-naive): brute-force recomputes
# ---------------------------------------------------------------------------


def _duck_docs():
    return duckdb.sql(
        f"SELECT doc_id, text, source FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()


def _md5_bucket(key: str, seed: str, n: int = 10) -> int:
    import hashlib

    h = hashlib.md5(f"{seed}|{key}".encode()).hexdigest()
    return int(h[:15], 16) % n


def _oracle_rows(name: str, sf=None):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf or SF_SMALL}/{t}.parquet'"
        )
    return con.sql(registry.specs()[name].oracle).fetchall()


def test_cluster_split_assign_recompute():
    """Given the (independently tested) dedup_clusters fixed point,
    recompute the split layer in plain Python: bucket every cluster id
    with the cross-engine md5 formula, rebuild per-split doc/cluster/
    near-dup counts, and require zero leaky clusters by recount."""
    clusters = {r[0]: r[1] for r in _oracle_rows("dedup_clusters")}
    csize: dict[int, int] = {}
    for c in clusters.values():
        csize[c] = csize.get(c, 0) + 1
    split_of = {}
    for d, c in clusters.items():
        b = _md5_bucket(str(c), "split9")
        split_of[d] = "train" if b < 8 else ("val" if b == 8 else "test")
    expect: dict[str, list[int]] = {}
    for d, c in clusters.items():
        s = split_of[d]
        row = expect.setdefault(s, [0, set(), 0])
        row[0] += 1
        row[1].add(c)
        row[2] += 1 if csize[c] >= 2 else 0
    # leakage recount: splits seen per cluster
    seen: dict[int, set] = {}
    for d, c in clusters.items():
        seen.setdefault(c, set()).add(split_of[d])
    leaky = sum(1 for v in seen.values() if len(v) > 1)
    assert leaky == 0
    got = {r[0]: r for r in _oracle_rows("cluster_split_assign")}
    assert set(got) == set(expect)
    for s, (n_docs, cl, nd) in expect.items():
        assert got[s][1] == n_docs
        assert got[s][2] == len(cl)
        assert got[s][3] == nd
        assert got[s][4] == 0  # leaky_clusters


def test_prefix_boilerplate_recompute():
    groups: dict[str, list] = {}
    for doc_id, text, source in _duck_docs():
        w = [t for t in re.split(r"\s+", text)]
        if len(w) < 16:
            continue
        p = " ".join(w[:16])
        g = groups.setdefault(p, [0, set(), None])
        g[0] += 1
        g[1].add(source)
        g[2] = doc_id if g[2] is None else min(g[2], doc_id)
    expect = {p: g for p, g in groups.items() if g[0] >= 2}
    got = {r[0]: r for r in _oracle_rows("prefix_boilerplate_groups")}
    assert set(got) == set(expect)
    for p, (n, srcs, mn) in expect.items():
        assert got[p][1:] == (n, len(srcs), mn)


def test_oov_rate_recompute():
    from collections import Counter

    tok_counts: Counter = Counter()
    per_source: dict[str, Counter] = {}
    for _, text, source in _duck_docs():
        toks = [t for t in re.split(r"\s+", text) if t != ""]
        tok_counts.update(toks)
        per_source.setdefault(source, Counter()).update(toks)
    vocab = {
        t for t, _ in sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:16]
    }
    got = {r[0]: r for r in _oracle_rows("oov_rate_by_source")}
    assert set(got) == set(per_source)
    for s, cnt in per_source.items():
        total = sum(cnt.values())
        oov = sum(c for t, c in cnt.items() if t not in vocab)
        assert got[s][1] == total
        assert got[s][2] == oov
        assert abs(got[s][3] - round(oov / total, 6)) < 1e-12


def test_embedding_covariance_recompute():
    import numpy as np

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    q = np.array(
        [[math.floor(float(v) * 1e6 + 0.5) for v in emb] for _, emb in rows],
        dtype=object,
    )
    n, d = q.shape
    best = []
    for i in range(d):
        for j in range(i + 1, d):
            sij = int(sum(int(a) * int(b) for a, b in zip(q[:, i], q[:, j])))
            si, sj = int(sum(q[:, i])), int(sum(q[:, j]))
            num = n * sij - si * sj
            best.append((abs(float(num)), i + 1, j + 1, num))
    best.sort(key=lambda t: (-t[0], t[1], t[2]))
    got = _oracle_rows("embedding_covariance_topk")
    assert len(got) == 20
    for (_, i, j, num), (gi, gj, gcov) in zip(best[:20], got):
        assert (gi, gj) == (i, j)
        cov = round(float(num) / (float(n) * float(n) * 1e12), 8)
        assert abs(gcov - cov) < 1e-12


def test_seasonal_naive_recompute():
    daily = dict(
        duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE) d,
                       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                FROM '{SF_SMALL}/orders.parquet' GROUP BY 1"""
        ).fetchall()
    )
    import datetime

    n = over = under = ape_sum = 0
    for d, a in daily.items():
        f = daily.get(d - datetime.timedelta(days=7))
        if f is None or a <= 0:
            continue
        n += 1
        over += 1 if f > a else 0
        under += 1 if f < a else 0
        ape_sum += math.floor(1e6 * abs(a - f) / a + 0.5)
    (row,) = _oracle_rows("seasonal_naive_backtest")
    assert row[0] == n and row[1] == over and row[2] == under
    assert abs(row[3] - round(ape_sum / (n * 1e6), 6)) < 1e-12


# ---------------------------------------------------------------------------
# Round-9 fourth wave: brute-force recomputes
# ---------------------------------------------------------------------------


def test_clustering_coefficient_recompute():
    """Rebuild the capped co-supply graph in plain Python (same caps:
    part<=256 members, 64 smallest higher-id neighbors) and recompute
    every node's triangle count and coefficient by set intersection."""
    rows = duckdb.sql(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM '{SF_SMALL}/lineitem.parquet'"
    ).fetchall()
    members: dict[int, set[int]] = {}
    for part, s in rows:
        members.setdefault(part, set()).add(s)
    edges: set[tuple[int, int]] = set()
    for ss in members.values():
        if len(ss) > 256:
            continue
        sl = sorted(ss)
        for i, s1 in enumerate(sl):
            for s2 in sl[i + 1 :]:
                edges.add((s1, s2))
    # adjacency cap: keep 64 smallest higher-id neighbors per s1
    nbrs: dict[int, list[int]] = {}
    for s1, s2 in sorted(edges):
        nbrs.setdefault(s1, [])
        if len(nbrs[s1]) < 64:
            nbrs[s1].append(s2)
    capped = {(a, b) for a, bs in nbrs.items() for b in bs}
    deg: dict[int, int] = {}
    adj: dict[int, set[int]] = {}
    for a, b in capped:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
        adj.setdefault(a, set()).add(b)
    tri: dict[int, int] = {}
    for a, bs in adj.items():
        for b in bs:
            common = bs & adj.get(b, set())
            for c in common:
                for v in (a, b, c):
                    tri[v] = tri.get(v, 0) + 1
    got = {r[0]: r for r in _oracle_rows("clustering_coefficient_suppliers")}
    expect = {v: d for v, d in deg.items() if d >= 2}
    assert set(got) == set(expect)
    for v, d in expect.items():
        t = tri.get(v, 0)
        assert got[v][1] == d
        assert got[v][2] == t
        assert abs(got[v][3] - round(2.0 * t / (float(d) * (d - 1)), 6)) < 1e-12


def test_key_skew_salting_plan_recompute():
    from collections import Counter

    counts = Counter(
        r[0]
        for r in duckdb.sql(
            f"SELECT o_custkey FROM '{SF_SMALL}/orders.parquet'"
        ).fetchall()
    )
    total, n_keys = sum(counts.values()), len(counts)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = _oracle_rows("key_skew_salting_plan")
    assert len(got) == 20
    for (k, n), row in zip(top, got):
        assert row[0] == k and row[1] == n
        assert abs(row[2] - round(n / total, 6)) < 1e-12
        assert abs(row[3] - round(n * n_keys / total, 6)) < 1e-12
        assert row[4] == max(1, math.ceil(n / 500.0))


def test_compaction_plan_recompute_and_conservation():
    rows = duckdb.sql(
        f"""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) m, count(*)
            FROM '{SF_SMALL}/lineitem.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    cum = 0
    expect = []
    for m, n in rows:
        expect.append((m, n, cum, cum // 100000))
        cum += n
    got = sorted(_oracle_rows("compaction_bin_packing_plan"))
    assert got == expect
    # conservation: partition sizes sum to the table row count
    (total,) = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMALL}/lineitem.parquet'"
    ).fetchone()
    assert sum(r[1] for r in got) == total
    # bins are monotone and contiguous
    bins = [r[3] for r in got]
    assert bins == sorted(bins)


def test_weekday_seasonality_recompute():
    daily = duckdb.sql(
        f"""SELECT CAST(o_orderdate AS DATE) d,
                   CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
            FROM '{SF_SMALL}/orders.parquet' GROUP BY 1"""
    ).fetchall()
    from collections import defaultdict

    g = defaultdict(lambda: [0, 0])
    n = s = 0
    ssq = 0
    for d, rc in daily:
        dow = d.isoweekday() % 7 + 1  # Spark dayofweek: Sun=1
        g[dow][0] += 1
        g[dow][1] += rc
        n += 1
        s += rc
        ssq += rc * rc
    m = s / n
    ssb_u = sum(
        math.floor(1e6 * ng * ((sg / ng - m) / m) * ((sg / ng - m) / m) + 0.5)
        for ng, sg in g.values()
    )
    sst_u = math.floor(1e6 * (ssq / (m * m) - n) + 0.5)
    (row,) = _oracle_rows("weekday_seasonality_strength")
    assert row[0] == n and row[1] == ssb_u and row[2] == sst_u
    assert abs(row[3] - round(ssb_u / sst_u, 6)) < 1e-12


def test_split_label_balance_recompute():
    from collections import Counter

    rows = duckdb.sql(
        f"SELECT vec_id, label FROM '{SF_SMALL}/embeddings.parquet'"
    ).fetchall()
    cells: Counter = Counter()
    ms: Counter = Counter()
    ml: Counter = Counter()
    for vid, lbl in rows:
        b = _md5_bucket(str(vid), "split9")
        sp = "train" if b < 8 else ("val" if b == 8 else "test")
        cells[(sp, lbl)] += 1
        ms[sp] += 1
        ml[lbl] += 1
    n = len(rows)
    chi_u = 0
    exp = {}
    for sp in ms:
        for lbl in ml:
            e = float(ms[sp]) * ml[lbl] / n
            o = cells.get((sp, lbl), 0)
            exp[(sp, lbl)] = e
            chi_u += math.floor(1e6 * (o - e) * (o - e) / e + 0.5)
    got = {(r[0], r[1]): r for r in _oracle_rows("split_label_balance_audit")}
    assert set(got) == set(exp)
    for key, e in exp.items():
        r = got[key]
        assert r[2] == cells.get(key, 0)
        assert abs(r[3] - round(e, 6)) < 1e-12
        assert abs(r[4] - round(chi_u / 1e6, 6)) < 1e-12


def test_span_removal_adjacent_covers_merge(spark, tmp_path):
    """Regression for the round-9 review find: two repeated 13-gram
    covers at pos p and p + 13 are EXACTLY adjacent (one contiguous
    removed run) and must merge into ONE span in both engines — the
    k−1 island rule split them, and the standard fixtures never
    contained the shape. Constructs the minimal corpus: doc1 = X·Y·z
    where X and Y are 13-token runs repeated verbatim in doc2/doc3, so
    doc1's only hits are pos 1 and pos 14."""
    X = " ".join(f"x{i}" for i in range(13))
    Y = " ".join(f"y{i}" for i in range(13))
    rows = [
        (1, f"{X} {Y} ztail1 ztail2", "en", "srcA", 0),
        (2, X, "en", "srcB", 0),
        (3, Y, "en", "srcC", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    d = str(tmp_path / "corpus")
    import os

    os.makedirs(d, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: r
        for r in registry.specs()["repeated_span_removal"].fn(spark, d).collect()
    }
    # doc1: hits at 1 and 14 -> ONE merged span [1, 26], kept = 2 tail tokens
    r1 = got[1]
    assert r1["n_tokens"] == 28
    assert r1["n_spans"] == 1, "adjacent covers must merge into one span"
    assert r1["removed_tokens"] == 26
    assert r1["kept_tokens"] == 2
    assert r1["kept_text"] == "ztail1 ztail2"
    # doc2/doc3: fully covered by their single repeated gram
    for d_id in (2, 3):
        r = got[d_id]
        assert (r["n_spans"], r["removed_tokens"], r["kept_tokens"]) == (1, 13, 0)
        assert r["kept_text"] == ""
    # oracle agrees on the same corpus
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'")
    orows = {r[0]: r for r in con.sql(registry.specs()["repeated_span_removal"].oracle).fetchall()}
    assert orows[1][2] == 1 and orows[1][3] == 26 and orows[1][5] == "ztail1 ztail2"


# ---------------------------------------------------------------------------
# Back-fill recomputes for two pre-r6 mirrored-formula kernels that had
# no independent test (the Cohen's-d lesson: oracle parity cannot catch
# a formula error both engines share)
# ---------------------------------------------------------------------------


def test_embedding_drift_numpy_recompute():
    import numpy as np
    import datetime  # noqa: F401

    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM '{SF_SMALL}/embeddings.parquet' WHERE embedding IS NOT NULL"
    ).fetchall()
    cells: dict[tuple[int, int], list] = {}
    counts: dict[int, list[int]] = {}
    for vid, lbl, emb in rows:
        snap = vid % 2
        cells.setdefault((lbl, snap), []).append(np.asarray(emb, dtype=np.float64))
        counts.setdefault(lbl, [0, 0])[snap] += 1
    got = {r[0]: r for r in _oracle_rows("embedding_drift_monitor")}
    labels = {lbl for lbl, _ in cells}
    assert set(got) == {l for l in labels if counts[l][0] and counts[l][1]}
    for lbl in got:
        m_old = np.mean(np.stack(cells[(lbl, 0)]), axis=0)
        m_new = np.mean(np.stack(cells[(lbl, 1)]), axis=0)
        l2 = math.sqrt(float(np.sum((m_old - m_new) ** 2)))
        assert got[lbl][1] == counts[lbl][0] and got[lbl][2] == counts[lbl][1]
        assert abs(got[lbl][3] - l2) < 5e-4  # display-fixed to 4dp


def test_weekly_ohlc_python_recompute():
    rows = duckdb.sql(
        f"""SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE),
                   o_orderdate, o_orderkey, o_totalprice
            FROM '{SF_SMALL}/orders.parquet'"""
    ).fetchall()
    weeks: dict = {}
    for wk, d, k, p in rows:
        weeks.setdefault(wk, []).append((d, k, p))
    got = {r[0]: r for r in _oracle_rows("resample_weekly_ohlc")}
    assert set(got) == set(weeks)
    for wk, lst in weeks.items():
        lst.sort()
        prices = [p for _, _, p in lst]
        o, h, lo, c = lst[0][2], max(prices), min(prices), lst[-1][2]
        assert got[wk][1:] == (o, h, lo, c, len(lst)), wk
