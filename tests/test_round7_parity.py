"""Round-7 parity tests: degenerate-input CROSS-ENGINE sweep.

The r6 verdict's item 5: the NULL-guard bug class (ANSI Spark raises
DIVIDE_BY_ZERO where DuckDB yields NULL) was found three times in
round-6 review and twice more by the r6 ADVICE (AUC, Gini). Instead of
pinning each kernel's Spark behavior alone, this sweep runs the REAL
contract — registry query vs its DuckDB oracle — on degenerate tables
(all empty; all-ties; single-day; one-class labels) written to a tmp
sf dir. Any kernel whose degenerate behavior diverges between engines
fails here before the driver can find it.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from local_gate import _multiset  # noqa: E402
from sweep_common import TABLE_SCHEMAS  # noqa: E402  (canonical home)

from velox_hadoop_spark.plans import registry


# The r6-continuation statistical tail (never-driver-sampled backlog)
# plus every round-7 registration with an oracle. Each must hold its
# engine-parity contract on EMPTY inputs: composed pipelines must
# degrade to an empty (or all-NULL-aggregate) result identically in
# both engines, never crash.
EMPTY_SWEEP = [
    # stats2 / llmops3 / semistruct backlog
    "spearman_rank_corr",
    "anova_f_priority",
    "acf_daily_revenue",
    "max_drawdown_daily_revenue",
    "cusum_changepoint_daily",
    "theil_index_spend",
    "mann_whitney_u",
    "bollinger_breakout_days",
    "rsi_14_daily",
    "gini_spend_by_nation",
    "benford_first_digit_prices",
    "hapax_rate_by_source",
    "split_leakage_audit",
    "embedding_dim_stats",
    "ks_statistic_order_values",
    "map_functions_orders",
    "str_to_map_roundtrip",
    "json_struct_roundtrip",
    "csv_line_roundtrip",
    "parse_url_events",
    "auc_quality_en_classifier",
    # round-7 registrations
    "pivot_multi_agg_status",
    "array_lambda_breadth",
    "hypothetical_rank_price",
    "iso_week_revenue",
    "status_change_count",
    "status_set_signature",
    "null_safe_join_events",
    "interval_union_coverage",
    "asof_join_nearest",
    "pareto_80_20_customers",
    "weekday_hour_heatmap",
    "qty_discount_heatmap",
    "corr_matrix_measures",
    "rolling_median_7d",
    "window_peer_avg_exclude_self",
    "events_session_gap_param",
    "decile_lift_table",
    "token_fertility_by_lang",
    "context_window_budget",
    "curation_pack_report",
    "source_lang_mix_entropy",
    "vocab_growth_curve",
    "bom_rollup_levels",
    # fixed by the first full-registry empty sweep (scripts/empty_sweep.py):
    # ANSI div-zero, int(None) start, phantom oracle seed, empty
    # partitioned writes, sum-vs-count NULL/0 parity
    "bfs_levels_from_min_supplier",
    "funnel_view_click_purchase",
    "profile_columns_orders",
    "profile_drift_orders",
    "partitioned_parquet_prune",
    "dynamic_partition_prune_join",
]


def _compare(spark, sf_dir: str, name: str) -> None:
    spec = registry.specs()[name]
    assert spec.oracle is not None, f"{name} has no oracle"
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()  # private: NEVER repoint the shared fixture views
    try:
        for t in TABLE_SCHEMAS:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.exists(path):
                # Spark writes a parquet DIRECTORY; glob its part files
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{path}/*.parquet')"
                )
        rel = con.sql(spec.oracle)
        drows = rel.fetchall()
        dcols = [d[0] for d in rel.description]
    finally:
        con.close()
    s_set, s_cols = _multiset(sdf.columns, srows)
    d_set, d_cols = _multiset(dcols, drows)
    assert s_cols == d_cols, f"{name}: cols {s_cols} vs {d_cols}"
    assert s_set == d_set, (
        f"{name}: spark={s_set[:3]}({len(s_set)} rows) duck={d_set[:3]}({len(d_set)} rows)"
    )


@pytest.fixture(scope="module")
def sf_empty(spark, tmp_path_factory):
    """A complete sf dir where every table exists and is EMPTY."""
    d = tmp_path_factory.mktemp("sf_empty")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for t, schema in TABLE_SCHEMAS.items():
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", EMPTY_SWEEP)
def test_empty_inputs_cross_engine(spark, sf_empty, name):
    _compare(spark, sf_empty, name)


@pytest.fixture(scope="module")
def sf_degenerate(spark, tmp_path_factory):
    """Small NON-empty degenerate data: all-ties values, a single day,
    zero variance, one-class labels, singleton groups."""
    d = tmp_path_factory.mktemp("sf_degenerate")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = {
        # one day, all order totals identical (zero variance), one customer
        "orders": [
            (i, 1, "F", 100.0, "2024-01-02 00:00:00", "1-URGENT") for i in range(1, 6)
        ],
        # all quantities tied; zero-variance discount/tax
        "lineitem": [
            (i, 1, 1, 1, 10.0, 100.0, 0.05, 0.02, "A", "F", "2024-01-02 00:00:00")
            for i in range(1, 6)
        ],
        # single customer (singleton nation group), one supplier
        "customer": [(1, "c1", 7, 100.0, "BUILDING")],
        "supplier": [(1, "s1", 7, 100.0)],
        "nation": [(7, "GERMANY", 1)],
        "region": [(1, "EUROPE", )],
        # parts all below the containment threshold (no BOM edges)
        "part": [(i, f"p{i}", "Brand#1", "t", 1, 10.0) for i in range(1, 6)],
        # SAME-TIMESTAMP ties: a purchase and two clicks at one instant
        # (the island/as-of tie shape the round-7 review flagged — the
        # windows must order by (ts, event_id), a total order, for the
        # engines to agree here), plus one lone later event
        "events": [
            (1, "2024-01-02 00:00:00", 1, "purchase", 5.0, "{}"),
            (2, "2024-01-02 00:00:00", 1, "click", 3.0, "{}"),
            (3, "2024-01-02 00:00:00", 1, "click", 4.0, "{}"),
            (4, "2024-01-02 12:00:00", 2, "view", 1.0, "{}"),
            # a purchase with NO click anywhere for that user: the
            # nearest-as-of both-sides-NULL path
            (5, "2024-01-03 00:00:00", 3, "purchase", 2.0, "{}"),
        ],
        # one-class corpus: every doc is 'en' (AUC n_neg = 0, lift tot_pos = n)
        "documents": [
            (i, "the a of and to", "en", "web", 15) for i in range(1, 4)
        ],
        "embeddings": [(1, [0.0, 0.0], 0)],
    }
    casts = {
        "orders": "o_orderdate",
        "lineitem": "l_shipdate",
        "events": "ts",
    }
    from pyspark.sql import functions as F

    for t, schema in TABLE_SCHEMAS.items():
        df = spark.createDataFrame(
            rows.get(t, []),
            schema.replace("timestamp_ntz", "string")
            if t in casts
            else schema,
        )
        if t in casts:
            df = df.withColumn(casts[t], F.col(casts[t]).cast("timestamp_ntz"))
        df.write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    return str(d)


# Kernels whose degenerate contract the r6 round fixed or documented:
# zero-variance ranks (spearman -> NULL rho), one-group ANOVA, single-
# day series (ACF/drawdown/CUSUM/bollinger/RSI ramp), all-ties Mann-
# Whitney, one-class AUC/lift (NULL, the round-7 guards), singleton-
# group peer average (NULL), single-event islands, all-ties medians.
DEGENERATE_SWEEP = [
    "spearman_rank_corr",
    "anova_f_priority",
    "acf_daily_revenue",
    "max_drawdown_daily_revenue",
    "cusum_changepoint_daily",
    "theil_index_spend",
    "mann_whitney_u",
    "bollinger_breakout_days",
    "rsi_14_daily",
    "gini_spend_by_nation",
    "benford_first_digit_prices",
    "ks_statistic_order_values",
    "auc_quality_en_classifier",
    "hypothetical_rank_price",
    "corr_matrix_measures",
    "rolling_median_7d",
    "window_peer_avg_exclude_self",
    "interval_union_coverage",
    "asof_join_nearest",
    "events_session_gap_param",
    "decile_lift_table",
    "token_fertility_by_lang",
    "pareto_80_20_customers",
    "bom_rollup_levels",
]


@pytest.mark.parametrize("name", DEGENERATE_SWEEP)
def test_degenerate_inputs_cross_engine(spark, sf_degenerate, name):
    _compare(spark, sf_degenerate, name)


def test_avg_rank_map_window_runs_over_distinct_value_domain(spark):
    """The r6 verdict's watch item 3a, made a measured assertion: the
    ONE ordered window inside avg_rank_map must consume the DISTINCT
    (partition, value) frame — its input row count equals the distinct
    cardinality, never the row count — so the per-partition sort is
    value-domain-bounded. A duplicated-heavy frame (1000 rows, 10
    distinct values × 2 partitions) must enter the window as exactly 20
    rows, and the pooled average ranks must equal the textbook
    tie-averaged ranks over the full row set."""
    from velox_hadoop_spark.operators.stats import avg_rank_map

    rows = [("p%d" % (i % 2), float((i // 2) % 10)) for i in range(1000)]
    df = spark.createDataFrame(rows, "part string, v double")
    ranks = avg_rank_map(df, ["part"], "v")
    out = ranks.collect()
    # window input == distinct domain (20 rows), not the 1000-row set
    assert len(out) == 20
    # textbook check: each partition has 500 rows, 10 values x 50 ties;
    # value k occupies rows [50k+1 .. 50k+50] -> avg rank 50k + 25.5
    got = {(r.part, r.v): r.avg_rank for r in out}
    for p in ("p0", "p1"):
        for k in range(10):
            assert got[(p, float(k))] == 50 * k + 25.5
    # and the physical plan's window node sees the aggregated frame:
    # the Window operator sits ABOVE the HashAggregate, so the sort it
    # implies is over aggregate output (distinct values), not the scan
    plan = ranks._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("Window") < plan.index("Aggregate")


# ---------------------------------------------------------------------------
# Semantic invariants of the round-7 kernels (properties the oracle
# comparison cannot state: monotonicity, conservation, bounds)
# ---------------------------------------------------------------------------

from tests.conftest import SF_DIR as SF_SMALL  # honors SPARK_GRAFT_TEST_SF_DIR


def test_session_count_monotone_in_gap(spark):
    """A larger inactivity gap can only MERGE sessions: n_sessions at
    60 minutes must be <= n_sessions at 15 minutes, with total events
    conserved."""
    qs = registry.queries()
    rows = {r.gap_minutes: r for r in qs["events_session_gap_param"](spark, SF_SMALL).collect()}
    assert rows[60].n_sessions <= rows[15].n_sessions
    assert rows[60].n_events == rows[15].n_events


def test_decile_lift_gains_reach_one(spark):
    """Cumulative gain read from the top decile down must be
    nondecreasing and end at exactly 1.0 (every positive is somewhere),
    and per-decile docs must sum to the corpus size."""
    qs = registry.queries()
    rows = sorted(
        qs["decile_lift_table"](spark, SF_SMALL).collect(),
        key=lambda r: -r.decile,
    )
    gains = [r.cum_gain_from_top for r in rows]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-9
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMALL}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_docs


def test_interval_union_coverage_bounds(spark):
    """Union coverage is bounded: at least one interval width (600s),
    at most n_events * width; island count never exceeds event count."""
    qs = registry.queries()
    per_user_events = {}
    import duckdb

    for uid, n in duckdb.sql(
        f"SELECT user_id, count(*) FROM '{SF_SMALL}/events.parquet' GROUP BY 1"
    ).fetchall():
        per_user_events[uid] = n
    width = 600_000_000
    for r in qs["interval_union_coverage"](spark, SF_SMALL).collect():
        n = per_user_events[r.user_id]
        assert width <= r.covered_us <= n * width
        assert 1 <= r.n_islands <= n


def test_bom_rollup_conserves_parts(spark):
    """Every part lands in exactly one subtree: Σ n_parts over roots ==
    |part|, and depth is bounded by the digit count of the max key."""
    import duckdb

    qs = registry.queries()
    rows = qs["bom_rollup_levels"](spark, SF_SMALL).collect()
    n_parts, max_key = duckdb.sql(
        f"SELECT count(*), max(p_partkey) FROM '{SF_SMALL}/part.parquet'"
    ).fetchone()
    assert sum(r.n_parts for r in rows) == n_parts
    assert max(r.max_depth for r in rows) <= len(str(max_key))


def test_containment_walk_bounded_on_cycle(spark):
    """containment_walk's contract is a FOREST; feeding it a cycle must
    still terminate at max_iters (pointer keeps orbiting, depth =
    max_iters) rather than hang — the guard a malformed parent edge
    list at scale relies on. With require_drained (the registered
    default) the same undrained cap raises LOUDLY instead of returning
    partially-resolved roots that would silently hash-mismatch the
    fully-resolving recursive-CTE oracle."""
    import pytest

    from velox_hadoop_spark.operators.graph import containment_walk

    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    out = {
        r.node: r
        for r in containment_walk(
            nodes, edges, max_iters=4, require_drained=False
        ).collect()
    }
    assert out[1].depth == 4 and out[2].depth == 4
    # even pass count: each pointer returns to its own node
    assert out[1].anc == 1 and out[2].anc == 2

    with pytest.raises(RuntimeError, match="still moving"):
        containment_walk(nodes, edges, max_iters=4)


def test_vocab_growth_curve_conserves_vocabulary(spark):
    """cum_vocab is nondecreasing, buckets lie in 1..10, and the final
    cumulative vocabulary equals the independently-computed distinct
    lowercase-token count — the conservation the oracle comparison
    can't state on its own (both engines could drop tokens the same
    way)."""
    from pyspark.sql import functions as F

    rows = sorted(
        registry.specs()["vocab_growth_curve"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r.bucket,
    )
    assert rows, "curve must be non-empty on real data"
    assert all(1 <= r.bucket <= 10 for r in rows)
    cums = [r.cum_vocab for r in rows]
    assert cums == sorted(cums)
    assert cums[-1] == sum(r.new_tokens for r in rows)
    truth = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select(
            F.explode(
                F.expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')")
            ).alias("tok")
        )
        .agg(F.countDistinct("tok"))
        .first()[0]
    )
    assert cums[-1] == truth


def test_source_lang_mix_entropy_bounds(spark):
    """0 <= entropy <= ln(n_langs) (+rounding slack); a monolingual
    source reports exactly 0."""
    import math

    rows = registry.specs()["source_lang_mix_entropy"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= r.n_langs >= 1
        assert -1e-6 <= r.lang_entropy <= math.log(r.n_langs) + 1e-6, r
        if r.n_langs == 1:
            assert r.lang_entropy == 0.0


def test_context_window_budget_cumulative_share(spark):
    """cum_doc_share is nondecreasing in bucket order and reaches
    exactly 1.0 at the last populated bucket; every emitted bucket is
    non-empty."""
    rows = sorted(
        registry.specs()["context_window_budget"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r.bucket_ord,
    )
    assert rows
    shares = [r.cum_doc_share for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] == 1.0
    assert all(r.n_docs > 0 and r.total_tokens >= r.n_docs for r in rows)


def test_curation_pack_report_conserves_kept_docs(spark):
    """Per source: packing cannot create documents (n_seqs <=
    n_docs_kept, each sequence holds >= 1 doc) and overflow sequences
    are a subset of all sequences; across sources the kept-doc total
    equals the independently-computed quality-gated exact-dedup keeper
    count — the end-to-end conservation of the chained pipeline."""
    from pyspark.sql import functions as F
    from velox_hadoop_spark.operators.llmops4 import MIN_CHARS

    rows = registry.specs()["curation_pack_report"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_seqs <= r.n_docs_kept
        assert 0 <= r.n_overflow <= r.n_seqs
        assert r.utilization > 0
    truth = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .where(F.col("n_chars") >= MIN_CHARS)
        .agg(F.countDistinct(F.md5("text")))
        .first()[0]
    )
    assert sum(r.n_docs_kept for r in rows) == truth


def test_token_fertility_at_least_one(spark):
    """Every whitespace word contains >= 1 non-space char, and the
    BPE-ish alternatives ([a-z]+ | [0-9] | [^a-z0-9 ]) jointly cover
    every non-space char class, so per-language fertility >= 1 whenever
    any words exist."""
    rows = registry.specs()["token_fertility_by_lang"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.total_bpe >= r.total_ws
        if r.total_ws > 0:
            assert r.fertility >= 1.0


def test_heatmaps_conserve_row_counts(spark):
    """Both heatmaps are partitions of their base table: cell counts
    must sum to the table's row count and cell coordinates must stay
    in their value domains."""
    ev_total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    rows = registry.specs()["weekday_hour_heatmap"].fn(spark, SF_SMALL).collect()
    assert sum(r.n for r in rows) == ev_total
    assert all(1 <= r.dow <= 7 and 0 <= r.hr <= 23 for r in rows)

    li_total = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").count()
    rows = registry.specs()["qty_discount_heatmap"].fn(spark, SF_SMALL).collect()
    assert sum(r.n for r in rows) == li_total
    assert all(r.disc_pct >= 0 and r.n > 0 for r in rows)


def test_pivot_and_calendar_conserve_orders(spark):
    """The multi-agg pivot and the ISO-week rollup both partition the
    orders table: counts (and integer cents) must sum to the table
    totals, and ISO weeks stay in 1..53."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    tot = orders.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    ).first()

    rows = registry.specs()["pivot_multi_agg_status"].fn(spark, SF_SMALL).collect()
    assert sum(r.f_n + r.o_n + r.p_n for r in rows) == tot.n
    assert sum(r.f_cents + r.o_cents + r.p_cents for r in rows) == tot.cents

    rows = registry.specs()["iso_week_revenue"].fn(spark, SF_SMALL).collect()
    assert sum(r.n_orders for r in rows) == tot.n
    assert sum(r.rev_cents for r in rows) == tot.cents
    assert all(1 <= r.iso_week <= 53 for r in rows)


def test_status_change_and_rank_bounds(spark):
    """Per customer, 0 <= flips <= n_orders - 1 and the per-customer
    order counts sum to the table total; hypothetical ranks obey
    dense <= rank <= n+1 and percent_rank in [0, 1]."""
    rows = registry.specs()["status_change_count"].fn(spark, SF_SMALL).collect()
    assert rows
    assert all(0 <= r.n_changes <= r.n_orders - 1 for r in rows)
    total = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()
    assert sum(r.n_orders for r in rows) == total

    rows = registry.specs()["hypothetical_rank_price"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 1 <= r.hyp_dense_rank <= r.hyp_rank <= r.n + 1
        assert 0.0 <= r.hyp_percent_rank <= 1.0


def test_corr_matrix_and_rolling_median_bounds(spark):
    """Correlations lie in [-1, 1]; the rolling 7-day median lies
    between the global min and max daily cents."""
    rows = registry.specs()["corr_matrix_measures"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 6
    assert all(-1.0 - 1e-9 <= r.corr <= 1.0 + 1e-9 for r in rows if r.corr is not None)

    rows = registry.specs()["rolling_median_7d"].fn(spark, SF_SMALL).collect()
    assert rows
    lo = min(r.cents for r in rows)
    hi = max(r.cents for r in rows)
    assert all(lo <= r.med7_cents <= hi for r in rows)


def test_asof_nearest_is_truly_nearest(spark):
    """The nearest-direction as-of join must pick, for every purchase,
    the minimal |Δt| over ALL of that user's clicks — recomputed here
    by brute force (tiny SF), which the window formulation and the
    oracle share no code with. Also pins the output row set: exactly
    the purchases of users who have at least one click."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        )
        .collect()
    )
    clicks = defaultdict(list)
    for r in ev:
        if r.event_type == "click":
            clicks[r.user_id].append(r.t)
    truth = {
        r.event_id: min(abs(r.t - ct) for ct in clicks[r.user_id])
        for r in ev
        if r.event_type == "purchase" and clicks[r.user_id]
    }
    rows = registry.specs()["asof_join_nearest"].fn(spark, SF_SMALL).collect()
    got = {r.event_id: r.dt_us for r in rows}
    assert got == truth


def test_pareto_share_is_ratio_of_counts(spark):
    """k is a valid prefix size (1..n) and the reported share is the
    exact rounded ratio k/n."""
    rows = registry.specs()["pareto_80_20_customers"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 1 <= r.k_for_80pct <= r.n_customers
        assert r.share_of_customers == round(r.k_for_80pct / r.n_customers, 6)


def test_statistical_tail_bounds(spark):
    """Domain bounds for the statistical-test family, each checkable
    without re-deriving the statistic: correlations and AUC in their
    unit ranges, inequality indices nonnegative (Gini < 1, Theil <=
    ln n), drawdowns in [0, 1] against a running peak, RSI in
    [0, 100] with the day census partitioning the window days,
    Mann-Whitney U1+U2 = n1*n2, KS in [0, 1], Benford shares a
    distribution, hapax counts bounded by token counts."""
    import math

    s = lambda q: registry.specs()[q].fn(spark, SF_SMALL).collect()  # noqa: E731

    for r in s("spearman_rank_corr"):
        if r.spearman_rho is not None:
            assert -1.0 - 1e-9 <= r.spearman_rho <= 1.0 + 1e-9

    for r in s("gini_spend_by_nation"):
        if r.gini is not None:
            assert 0.0 <= r.gini < 1.0

    for r in s("theil_index_spend"):
        if r.theil is not None:
            assert -1e-9 <= r.theil <= math.log(r.n_customers) + 1e-9

    rows = s("max_drawdown_daily_revenue")
    for r in rows:
        assert r.peak_cents >= r.rev_cents
        assert 0.0 <= r.drawdown <= 1.0

    (r,) = s("rsi_14_daily")
    assert r.n_overbought + r.n_oversold + r.n_flat <= r.n_days
    assert 0.0 <= r.avg_rsi <= 100.0

    (r,) = s("mann_whitney_u")
    assert r.u1 + r.u2 == r.n1 * r.n2
    assert r.u1 >= 0 and r.u2 >= 0

    (r,) = s("ks_statistic_order_values")
    if r.ks_stat is not None:
        assert 0.0 <= r.ks_stat <= 1.0

    rows = s("benford_first_digit_prices")
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.pct for r in rows) - 1.0) < 5e-4  # per-digit rounding
    assert abs(sum(r.benford_expected for r in rows) - 1.0) < 5e-3

    for r in s("hapax_rate_by_source"):
        assert 0 <= r.n_hapax <= r.n_tokens
        assert 0.0 <= r.hapax_rate <= 1.0

    (r,) = s("auc_quality_en_classifier")
    if r.auc is not None:
        assert 0.0 <= r.auc <= 1.0
        assert r.n_pos > 0 and r.n_neg > 0


def test_peer_avg_identity(spark):
    """(Σ − x)/(n − 1) identity: for every customer, peer_avg*(n−1)+x
    must reconstruct the nation's total balance (integer cents compared
    at the kernel's 4-dp rounding)."""
    from collections import defaultdict

    rows = registry.specs()["window_peer_avg_exclude_self"].fn(spark, SF_SMALL).collect()
    assert rows
    tot = defaultdict(int)
    cnt = defaultdict(int)
    for r in rows:
        tot[r.c_nationkey] += r.bal_cents
        cnt[r.c_nationkey] += 1
    for r in rows:
        n = cnt[r.c_nationkey]
        if n == 1:
            assert r.peer_avg_bal is None
            continue
        expect = (tot[r.c_nationkey] - r.bal_cents) / (n - 1) / 100.0
        assert abs(r.peer_avg_bal - expect) < 1e-3, r


def test_signature_and_nullsafe_conservation(spark):
    """Set-signature cohorts partition the customers-with-orders set;
    the null-safe join's per-key counts bound its high-value subset."""
    from pyspark.sql import functions as F

    rows = registry.specs()["status_set_signature"].fn(spark, SF_SMALL).collect()
    with_orders = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .agg(F.countDistinct("o_custkey"))
        .first()[0]
    )
    assert sum(r.n_customers for r in rows) == with_orders

    for r in registry.specs()["null_safe_join_events"].fn(spark, SF_SMALL).collect():
        assert 0 <= r.n_high <= r.n_all


def test_histograms_and_deciles_conserve_counts(spark):
    """Shared-formula insurance (the class the vocab-growth fix
    exposed: an oracle that mirrors the kernel's formula cannot catch a
    shared derivation error — conservation against the base table can):
    the 20-bucket order histogram must conserve the order count with
    min/max inside each bucket's bounds; ntile deciles must cover every
    ordering customer with deciles 1..10, pct_rank/cume in [0,1]."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    n_orders = orders.count()

    rows = registry.specs()["histogram_order_totals"].fn(spark, SF_SMALL).collect()
    assert sum(r.n_orders for r in rows) == n_orders
    assert all(r.bucket_min <= r.bucket_max and r.n_orders > 0 for r in rows)
    lo = orders.agg(F.min("o_totalprice")).first()[0]
    hi = orders.agg(F.max("o_totalprice")).first()[0]
    assert min(r.bucket_min for r in rows) == lo
    assert max(r.bucket_max for r in rows) == hi

    rows = registry.specs()["ntile_decile_customer_spend"].fn(spark, SF_SMALL).collect()
    n_cust = orders.select("o_custkey").distinct().count()
    assert len(rows) == n_cust
    assert {r.decile for r in rows} == set(range(1, 11))
    assert all(0.0 <= r.pct_rank <= 1.0 and 0.0 < r.cume <= 1.0 for r in rows)


def test_session_length_histogram_conserves_sessions(spark):
    """Bucketed session lengths must sum to a brute-force 10-minute-gap
    session count recomputed in plain Python from the raw events —
    independent of both the kernel's windows and the oracle. (NOT the
    stateful batch twin: that kernel deliberately uses a 30-minute
    gap.)"""
    from collections import defaultdict

    from pyspark.sql import functions as F

    rows = registry.specs()["session_length_histogram"].fn(spark, SF_SMALL).collect()
    n_hist = sum(r.n_sessions for r in rows)
    assert all(0 <= r.bucket_5min <= 6 and r.n_sessions > 0 for r in rows)

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        )
        .collect()
    )
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append((r.t, r.event_id))
    n_truth = 0
    for ts in per_user.values():
        ts.sort()
        prev = None
        for t, _ in ts:
            # the kernel's rule: a gap STRICTLY greater than 10 min opens
            # a new session (first event always does)
            if prev is None or t - prev > 600_000_000:
                n_truth += 1
            prev = t
    assert n_hist == n_truth


def test_rolling_7d_active_users_matches_bruteforce(spark):
    """The day-grain dedup + bounded range-join rewrite (and its
    mirrored oracle) against a plain-Python trailing-window recompute:
    for every active day, the distinct users over the trailing 7
    calendar days."""
    from collections import defaultdict
    from datetime import timedelta

    from pyspark.sql import functions as F

    pairs = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .collect()
    )
    by_day = defaultdict(set)
    for r in pairs:
        by_day[r.d].add(r.user_id)
    truth = {}
    for d in by_day:
        users = set()
        for back in range(7):
            users |= by_day.get(d - timedelta(days=back), set())
        truth[d] = len(users)

    rows = registry.specs()["rolling_7d_active_users"].fn(spark, SF_SMALL).collect()
    got = {r.day: r.active_7d for r in rows}
    assert got == truth


def test_cumulative_distinct_users_matches_bruteforce(spark):
    """The first-seen decomposition of the running COUNT(DISTINCT)
    against a plain-Python cumulative set walk over the day-ordered
    events; the final cumulative count must equal the table's total
    distinct users."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    pairs = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .collect()
    )
    by_day = defaultdict(set)
    for r in pairs:
        by_day[r.d].add(r.user_id)
    seen = set()
    truth = {}
    for d in sorted(by_day):
        seen |= by_day[d]
        truth[d] = len(seen)

    rows = registry.specs()["cumulative_distinct_users"].fn(spark, SF_SMALL).collect()
    got = {r.d: r.cum_users for r in rows}
    # the kernel only emits FIRST-SEEN days (days where new_users > 0);
    # on those days the cumulative counts must agree, and the final
    # total must be the full distinct-user count
    assert set(got) <= set(truth)
    assert all(truth[d] == c for d, c in got.items())
    assert max(got.values()) == len(seen)
    assert all(r.new_users > 0 for r in rows)


def test_asof_backward_matches_bruteforce(spark):
    """Backward as-of (most recent click at-or-before each purchase,
    clicks deduped per (user, ts) by max value) against a plain-Python
    recompute — the oracle mirrors the tagged-union fill window, so
    only an independent derivation can catch a shared fill-rule
    error."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        )
        .collect()
    )
    clicks = defaultdict(dict)  # user -> ts -> max value
    for r in ev:
        if r.event_type == "click":
            cur = clicks[r.user_id].get(r.t)
            clicks[r.user_id][r.t] = r.value if cur is None else max(cur, r.value)
    truth = {}
    for r in ev:
        if r.event_type == "purchase":
            prior = [(t, v) for t, v in clicks[r.user_id].items() if t <= r.t]
            truth[r.event_id] = max(prior)[1] if prior else None

    rows = registry.specs()["asof_join_events"].fn(spark, SF_SMALL).collect()
    got = {r.event_id: r.asof_click_value for r in rows}
    assert got == truth


def test_weighted_median_matches_bruteforce(spark):
    """Price-weighted median quantity per return flag against a sorted
    cumulative-weight walk in plain Python (the oracle mirrors the
    kernel's integer cw*2 >= tw formulation)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select(
            "l_returnflag",
            "l_quantity",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    w = defaultdict(lambda: defaultdict(int))
    for r in li:
        w[r.l_returnflag][r.l_quantity] += r.cents
    truth = {}
    for flag, qw in w.items():
        total = sum(qw.values())
        cum = 0
        for q in sorted(qw):
            cum += qw[q]
            if cum * 2 >= total:
                truth[flag] = round(q, 2)
                break

    rows = registry.specs()["weighted_median_quantity"].fn(spark, SF_SMALL).collect()
    got = {r.l_returnflag: r.weighted_median for r in rows}
    assert got == truth


def test_rolling_median_7d_matches_bruteforce(spark):
    """The rolling median's middle-element formula is stated
    IDENTICALLY in both engines (shared-formula class); recompute it
    with Python's statistics.median over the trailing <=7 OBSERVED
    days (the kernel's ROWS frame runs over the daily spine, which has
    calendar gaps — not trailing 7 calendar days)."""
    import statistics

    rows = sorted(
        registry.specs()["rolling_median_7d"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r.day,
    )
    assert rows
    cents = [r.cents for r in rows]
    for i, r in enumerate(rows):
        frame = cents[max(0, i - 6) : i + 1]
        assert r.med7_cents == statistics.median(frame), r.day


def test_mode_median_matches_bruteforce(spark):
    """Deterministic mode (max count, ties to lowest priority string)
    and interpolated median per status against plain-Python recomputes
    (the mode oracle mirrors the rank-window rewrite)."""
    import statistics
    from collections import Counter, defaultdict

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).collect()
    by_status_prio = Counter()
    prices = defaultdict(list)
    for r in orders:
        by_status_prio[(r.o_orderstatus, r.o_orderpriority)] += 1
        prices[r.o_orderstatus].append(r.o_totalprice)
    truth = {}
    for status in prices:
        mode_prio = min(
            (p for (s, p) in by_status_prio if s == status),
            key=lambda p: (-by_status_prio[(status, p)], p),
        )
        truth[status] = (mode_prio, round(statistics.median(prices[status]), 4))

    rows = registry.specs()["mode_median_order_price"].fn(spark, SF_SMALL).collect()
    got = {r.o_orderstatus: (r.mode_priority, r.median_price) for r in rows}
    assert got == truth


def _rha(x: float, dec: int) -> float:
    """round-half-away, matching both engines' display rounding"""
    import math

    p = 10**dec
    return math.floor(x * p + 0.5) / p if x >= 0 else -math.floor(-x * p + 0.5) / p


def test_max_drawdown_matches_bruteforce(spark):
    """Running-peak walk in plain Python: the worst (peak-rev)/peak day
    (ties to the earliest day) must match the kernel's single row."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    daily = defaultdict(int)
    for r in orders:
        daily[r.d] += r.cents
    peak = 0
    best = None  # (drawdown, day, rev, peak)
    for d in sorted(daily):
        peak = max(peak, daily[d])
        dd = (peak - daily[d]) / peak
        if best is None or dd > best[0]:
            best = (dd, d, daily[d], peak)

    (row,) = registry.specs()["max_drawdown_daily_revenue"].fn(spark, SF_SMALL).collect()
    assert (row.day, row.rev_cents, row.peak_cents) == (best[1], best[2], best[3])
    assert row.drawdown == _rha(best[0], 6)


def test_ewma_matches_bruteforce(spark):
    """Calendar-decayed weighted average recomputed in plain Python
    over each day's trailing 28-day window of PRESENT days (both
    engines state the same truncated-decay formula)."""
    from collections import defaultdict
    from datetime import timedelta

    from pyspark.sql import functions as F
    from velox_hadoop_spark.operators.mining import _EWMA_DECAY, _EWMA_WINDOW

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    daily = defaultdict(int)
    for r in orders:
        daily[r.d] += r.cents
    rev = {d: c / 100.0 for d, c in daily.items()}
    truth = {}
    for d in rev:
        num = den = 0.0
        for back in range(_EWMA_WINDOW):
            b = d - timedelta(days=back)
            if b in rev:
                wgt = _EWMA_DECAY**back
                num += rev[b] * wgt
                den += wgt
        truth[d] = _rha(num / den, 4)

    rows = registry.specs()["ewma_daily_revenue"].fn(spark, SF_SMALL).collect()
    got = {r.d: r.ewma for r in rows}
    assert got == truth


def test_hhi_matches_bruteforce(spark):
    """Herfindahl index per nation recomputed from per-supplier integer
    revenue units (sum r^2 / t^2, floor-half-up at 6 dp)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
        .alias("r"),
    )
    sup = spark.read.parquet(f"{SF_SMALL}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    nat = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{SF_SMALL}/nation.parquet").collect()
    }
    rows = li.join(sup, li.l_suppkey == sup.s_suppkey).collect()
    rev = defaultdict(lambda: defaultdict(int))
    for r in rows:
        rev[r.s_nationkey][r.l_suppkey] += r.r
    truth = {}
    for nk, per_s in rev.items():
        t = sum(per_s.values())
        r2 = sum(v * v for v in per_s.values())
        truth[nat[nk]] = (len(per_s), _rha(r2 / (t * t), 6))

    out = registry.specs()["supplier_concentration_hhi"].fn(spark, SF_SMALL).collect()
    got = {r.n_name: (r.n_suppliers, r.hhi) for r in out}
    assert got == truth


def test_gini_matches_bruteforce(spark):
    """Gini via the sorted-rank identity recomputed in plain Python
    with the kernel's exact rank order (cents, then custkey)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    rows = orders.join(cust, orders.o_custkey == cust.c_custkey).collect()
    spend = defaultdict(lambda: defaultdict(int))
    for r in rows:
        spend[r.c_nationkey][r.o_custkey] += r.cents
    truth = {}
    for nk, per_c in spend.items():
        ordered = sorted(per_c.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(ordered)
        total = sum(c for _, c in ordered)
        if total <= 0:
            continue
        isum = sum((i + 1) * c for i, (_, c) in enumerate(ordered))
        truth[nk] = (n, _rha(2.0 * isum / (n * total) - (n + 1.0) / n, 6))

    out = registry.specs()["gini_spend_by_nation"].fn(spark, SF_SMALL).collect()
    got = {r.c_nationkey: (r.n, r.gini) for r in out}
    assert got == truth


def test_anova_ks_cusum_theil_match_bruteforce(spark):
    """Classic-formula recomputes in plain Python for the remaining
    mirrored-oracle statistics: one-way ANOVA F (SSB/(k−1) over
    SSW/(n−k)), two-sample KS via exact integer cross-products over
    the merged cents grid, the scaled-integer CUSUM argmax (earliest
    day on ties), and per-nation Theil as avg((x/μ)·ln(x/μ))."""
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderpriority",
        "o_orderstatus",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()

    # --- ANOVA across priorities
    groups = defaultdict(list)
    for r in orders:
        groups[r.o_orderpriority].append(r.cents)
    big_n = sum(len(v) for v in groups.values())
    k = len(groups)
    grand = sum(sum(v) for v in groups.values()) / big_n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum(float(x) * x for x in v) - float(sum(v)) * sum(v) / len(v)
        for v in groups.values()
    )
    f_truth = _rha((ssb / (k - 1)) / (ssw / (big_n - k)), 6)
    (row,) = registry.specs()["anova_f_priority"].fn(spark, SF_SMALL).collect()
    assert (row.n_rows, row.n_groups, row.df_within) == (big_n, k, big_n - k)
    assert abs(row.f_stat - f_truth) <= 1e-6  # double cancellation noise

    # --- KS between open and finished order values
    o_vals = sorted(r.cents for r in orders if r.o_orderstatus == "O")
    f_vals = sorted(r.cents for r in orders if r.o_orderstatus == "F")
    no, nf = len(o_vals), len(f_vals)
    grid = sorted(set(o_vals) | set(f_vals))
    import bisect

    d_num = max(
        abs(bisect.bisect_right(o_vals, c) * nf - bisect.bisect_right(f_vals, c) * no)
        for c in grid
    )
    ks_truth = _rha(d_num / (no * float(nf)), 6)
    (row,) = registry.specs()["ks_statistic_order_values"].fn(spark, SF_SMALL).collect()
    assert (row.n_open, row.n_finished, row.ks_stat) == (no, nf, ks_truth)

    # --- CUSUM changepoint over the daily series
    daily = defaultdict(int)
    for r in orders:
        daily[r.d] += r.cents
    days = sorted(daily)
    n, s = len(days), sum(daily.values())
    cum = 0
    best = None  # (|cusum|, day, cusum)
    for t, d in enumerate(days, start=1):
        cum += daily[d]
        c = n * cum - t * s
        if best is None or abs(c) > best[0]:
            best = (abs(c), d, c)
    (row,) = registry.specs()["cusum_changepoint_daily"].fn(spark, SF_SMALL).collect()
    assert (row.change_day, row.cusum_scaled, row.n_days) == (best[1], best[2], n)

    # --- Theil index per nation
    cust = {
        r.c_custkey: r.c_nationkey
        for r in spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    }
    nat = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{SF_SMALL}/nation.parquet").collect()
    }
    spend = defaultdict(lambda: defaultdict(int))
    for r in orders:
        spend[cust[r.o_custkey]][r.o_custkey] += r.cents
    truth = {}
    for nk, per_c in spend.items():
        xs = list(per_c.values())
        mu = sum(xs) / len(xs)
        theil = sum((x / mu) * math.log(x / mu) for x in xs) / len(xs)
        truth[nat[nk]] = (len(xs), _rha(theil, 6))
    rows = registry.specs()["theil_index_spend"].fn(spark, SF_SMALL).collect()
    got = {r.nation: (r.n_customers, r.theil) for r in rows}
    assert set(got) == set(truth)
    for nation, (cnt, th) in truth.items():
        assert got[nation][0] == cnt
        assert abs(got[nation][1] - th) <= 1e-6


def _pearson(xs, ys):
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = sum((x - mx) ** 2 for x in xs)
    vy = sum((y - my) ** 2 for y in ys)
    return cov / (vx * vy) ** 0.5


def _avg_ranks(vals):
    """1-based average (midrank) ranks with ties."""
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
            j += 1
        avg = (i + j) / 2.0 + 1.0
        for t in range(i, j + 1):
            ranks[order[t]] = avg
        i = j + 1
    return ranks


def test_spearman_acf_mannwhitney_benford_match_bruteforce(spark):
    """Final mirrored-oracle statistics batch: Spearman via plain-
    Python midranks + Pearson, the ACF as lag-k Pearson over complete
    pairs, Mann-Whitney U/z from combined midrank sums, and Benford's
    expected shares as log10(1 + 1/d)."""
    import math
    from collections import defaultdict
    from datetime import date

    from pyspark.sql import functions as F

    # --- Spearman (per return flag, March 1995 slice)
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .where(
            (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
        )
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    by_flag = defaultdict(lambda: ([], []))
    for r in li:
        by_flag[r.l_returnflag][0].append(r.l_quantity)
        by_flag[r.l_returnflag][1].append(r.l_extendedprice)
    rows = registry.specs()["spearman_rank_corr"].fn(spark, SF_SMALL).collect()
    got = {r.flag: (r.n, r.spearman_rho) for r in rows}
    assert set(got) == set(by_flag)
    for flag, (a, b) in by_flag.items():
        rho = _pearson(_avg_ranks(a), _avg_ranks(b))
        assert got[flag][0] == len(a)
        assert abs(got[flag][1] - rho) <= 2e-6, flag

    # --- ACF at lags 1..7 over the daily revenue series
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    daily = defaultdict(int)
    for r in orders:
        daily[r.d] += r.cents
    series = [daily[d] for d in sorted(daily)]
    rows = registry.specs()["acf_daily_revenue"].fn(spark, SF_SMALL).collect()
    got = {r.lag: (r.n_pairs, r.acf) for r in rows}
    assert set(got) == set(range(1, 8))
    for k in range(1, 8):
        xs, ys = series[k:], series[:-k]
        assert got[k][0] == len(xs)
        assert abs(got[k][1] - _pearson(xs, ys)) <= 2e-6, k

    # --- Mann-Whitney URGENT vs LOW (H1 1995)
    g1 = [
        r.cents
        for r in orders
        if r.o_orderpriority == "1-URGENT" and date(1995, 1, 1) <= r.d < date(1995, 7, 1)
    ]
    g2 = [
        r.cents
        for r in orders
        if r.o_orderpriority == "5-LOW" and date(1995, 1, 1) <= r.d < date(1995, 7, 1)
    ]
    ranks = _avg_ranks(g1 + g2)
    r1 = sum(ranks[: len(g1)])
    n1, n2 = len(g1), len(g2)
    u1 = r1 - n1 * (n1 + 1) / 2.0
    u2 = n1 * n2 - u1
    z = _rha((u1 - n1 * n2 / 2) / math.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 6)
    (row,) = registry.specs()["mann_whitney_u"].fn(spark, SF_SMALL).collect()
    assert (row.n1, row.n2, row.u1, row.u2, row.z) == (n1, n2, u1, u2, z)

    # --- Benford expected shares
    rows = registry.specs()["benford_first_digit_prices"].fn(spark, SF_SMALL).collect()
    for r in rows:
        assert r.benford_expected == _rha(math.log10(1.0 + 1.0 / r.digit), 4)


def test_bollinger_rsi_match_bruteforce(spark):
    """Rolling-window recomputes for the two remaining indicator
    kernels: Bollinger breakout days via a 20-row rolling mean /
    sample-stddev walk (membership decided on the 4-dp half-away grid,
    as both engines state), and the 14-day RSI census from the delta
    series with the exact integer 3g>7l / 7g<3l predicates."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    daily = defaultdict(int)
    for r in orders:
        daily[r.d] += r.cents
    days = sorted(daily)

    # --- Bollinger (20-row window over the daily spine)
    revs = [daily[d] / 100.0 for d in days]
    truth = {}
    for i in range(19, len(revs)):
        win = revs[i - 19 : i + 1]
        m = sum(win) / 20
        var = sum((x - m) ** 2 for x in win) / 19  # sample variance
        if var <= 0:
            continue
        z = (revs[i] - m) / var**0.5
        if _rha(abs(z), 4) > 2:
            truth[days[i]] = (revs[i], _rha(z, 4))
    rows = registry.specs()["bollinger_breakout_days"].fn(spark, SF_SMALL).collect()
    got = {r.day: (r.rev, r.z) for r in rows}
    assert set(got) == set(truth)
    for d, (rev, z) in truth.items():
        assert got[d][0] == rev
        assert abs(got[d][1] - z) <= 2e-4, d  # stddev cancellation noise at 4dp

    # --- RSI census (14-delta windows)
    deltas = [daily[days[i]] - daily[days[i - 1]] for i in range(1, len(days))]
    n_ob = n_os = n_flat = 0
    rsis = []
    n_full = 0
    for i in range(13, len(deltas)):
        win = deltas[i - 13 : i + 1]
        g = sum(x for x in win if x > 0)
        loss = sum(-x for x in win if x < 0)
        n_full += 1
        if 3 * g > 7 * loss:
            n_ob += 1
        if 7 * g < 3 * loss:
            n_os += 1
        if g + loss == 0:
            n_flat += 1
        else:
            rsis.append(100.0 * g / (g + loss))
    (row,) = registry.specs()["rsi_14_daily"].fn(spark, SF_SMALL).collect()
    assert (row.n_days, row.n_overbought, row.n_oversold, row.n_flat) == (
        n_full,
        n_ob,
        n_os,
        n_flat,
    )
    assert abs(row.avg_rsi - sum(rsis) / len(rsis)) <= 1e-6
