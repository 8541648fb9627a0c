"""Oracle parity for the round-6 additions (SQL breadth, time series,
LLM-ops / stats), plus semantics checks the mirrored oracles cannot
see on their own."""

import pytest

from tests.conftest import assert_parity

PARITY_QUERIES = [
    # sqlbreadth
    "grouping_id_report",
    "group_by_all_revenue",
    "listagg_distinct_statuses",
    "count_filter_report",
    "bool_agg_by_nation",
    "cume_dist_percent_rank_prices",
    "lag_lead_ignore_nulls",
    "rows_vs_range_frames",
    "running_min_max_spread",
    "qualify_top3_balance_per_nation",
    "not_in_null_semantics",
    "bag_set_ops_custkeys",
    "values_inline_dim_join",
    "posexplode_outer_tokens",
    "sequence_aggregate_months",
    "base64_hex_roundtrip",
    "string_pad_translate_funcs",
    "moment_stats_by_flag",
    "calendar_dim_coverage",
    # timeseries3
    "interval_overlap_pairs_banded",
    "time_weighted_avg_value",
    "asof_join_forward",
    "watermark_late_accounting",
    "session_length_histogram",
    "data_freshness_sla",
    # llmops3
    "connected_components_edges",
    "near_dup_cluster_size_histogram",
    "ann_recall_budget_curve",
    "minhash_band_tuning_report",
    "dedup_keep_policy_matrix",
    "doc_quality_deciles",
    "lang_id_confusion_matrix",
    "auc_quality_en_classifier",
    "event_entropy_by_user",
    "gini_spend_by_nation",
    "benford_first_digit_prices",
    "hapax_rate_by_source",
    "split_leakage_audit",
    "embedding_dim_stats",
    "ks_statistic_order_values",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def test_banded_interval_join_matches_plain(spark):
    """The banded variant is a physical optimization of the plain
    interval join: identical (user, count) multisets — asserted
    engine-internally, independent of the shared oracle."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.plans import registry

    qs = registry.queries()
    plain = sorted(map(tuple, qs["interval_overlap_pairs"](spark, SF_DIR).collect()))
    banded = sorted(
        map(tuple, qs["interval_overlap_pairs_banded"](spark, SF_DIR).collect())
    )
    assert plain == banded


def test_recall_budget_curve_is_monotone(spark):
    """Widening the probe budget can only ADD candidates, so recall@k
    must be non-decreasing in nprobe and every recall row shares the
    same exact baseline."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.plans import registry

    rows = sorted(
        registry.queries()["ann_recall_budget_curve"](spark, SF_DIR).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    assert len({r.n_exact for r in rows}) == 1
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)


def test_band_tuning_counts_are_monotone_in_bands(spark):
    """More bands with fewer rows per band is strictly more permissive
    on the same signature: candidate counts must be non-increasing as
    rows-per-band grows (8x1 >= 4x2 >= 2x4)."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.plans import registry

    rows = {
        r.config: r.n_candidate_pairs
        for r in registry.queries()["minhash_band_tuning_report"](
            spark, SF_DIR
        ).collect()
    }
    assert rows["8x1"] >= rows["4x2"] >= rows["2x4"]


def test_not_in_with_null_is_empty(spark):
    """Three-valued logic pin: the NULL-tainted NOT IN must yield 0."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.plans import registry

    row = registry.queries()["not_in_null_semantics"](spark, SF_DIR).first()
    assert row.n_with_null == 0
    assert row.n_clean >= 0


def test_quality_decile_sizes_match_ntile_distribution(spark):
    """The arithmetic tiling over global_rank must reproduce SQL
    NTILE's size distribution: first (n mod 10) deciles one row
    larger, all deciles present."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.plans import registry

    rows = sorted(
        registry.queries()["doc_quality_deciles"](spark, SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    n = sum(r.n_docs for r in rows)
    big, small = -(-n // 10), n // 10
    expect = [big] * (n % 10) + [small] * (10 - n % 10)
    assert [r.n_docs for r in rows] == expect


def test_ntile_from_rank_matches_spark_ntile(spark):
    """ntile_from_rank must reproduce Spark's own ntile() for sizes
    that are NOT multiples of k — the front-loaded distribution
    (n=12, k=10 -> sizes [2,2,1,...]) that the naive
    floor((rank-1)*k/n)+1 formula gets wrong (it spreads the larger
    tiles). The registry fixtures are all multiples of 10, so this
    synthetic frame is the only place the distinction is visible."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from velox_hadoop_spark.operators.sort import ntile_from_rank

    for n in (7, 12, 23, 100, 101):
        df = spark.range(1, n + 1).withColumnRenamed("id", "rank")
        want = (
            spark.range(1, n + 1)
            .select(F.ntile(10).over(Window.orderBy("id")).alias("t"))
            .groupBy("t")
            .count()
        )
        got = (
            df.withColumn(
                "t", ntile_from_rank(F.col("rank"), F.lit(n), 10)
            )
            .groupBy("t")
            .count()
        )
        assert sorted(map(tuple, want.collect())) == sorted(
            map(tuple, got.collect())
        ), n


def test_time_weighted_avg_semantics(spark, tmp_path):
    """Constant-value step function must average to that value — the
    round-6 review caught a span of t_{n-1}−t_1 instead of t_n−t_1
    (inflating the TWA by one interval) and 2-event users being
    dropped; this synthetic frame pins both."""
    import datetime

    from velox_hadoop_spark.plans import registry

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: constant value 2.0 over 3 events -> twa 2.0
        (1, t0, 1, "view", 2.0, "{}"),
        (2, t0 + datetime.timedelta(seconds=100), 1, "view", 2.0, "{}"),
        (3, t0 + datetime.timedelta(seconds=200), 1, "view", 2.0, "{}"),
        # user 2: exactly 2 events, value 4.0 then anything -> twa 4.0
        (4, t0, 2, "view", 4.0, "{}"),
        (5, t0 + datetime.timedelta(seconds=50), 2, "view", 9.0, "{}"),
        # user 3: single event -> excluded (no interval)
        (6, t0, 3, "view", 7.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    out = {
        r.user_id: r.twa_value
        for r in registry.queries()["time_weighted_avg_value"](spark, d).collect()
    }
    assert out == {1: 2.0, 2: 4.0}


def test_banded_interval_join_boundary_cases(spark, tmp_path):
    """Synthetic boundary pins for the banded interval join: a pair at
    EXACTLY the 5-minute window (must be excluded — strict <), one
    microsecond inside (included), and a pair whose events straddle a
    bucket boundary (the ±1 bucket explode must catch it exactly
    once). Compared against a python brute force, not the oracle."""
    import datetime

    from velox_hadoop_spark.plans import registry

    t0 = datetime.datetime(2024, 1, 1)

    def at(us):
        return t0 + datetime.timedelta(microseconds=us)

    width = 300_000_000
    rows = [
        # user 1: exactly width apart -> NOT overlapping (strict <)
        (1, at(0), 1, "view", 0.0, "{}"),
        (2, at(width), 1, "view", 0.0, "{}"),
        # user 2: width-1 apart, straddling a bucket boundary
        (3, at(width - 50), 2, "view", 0.0, "{}"),
        (4, at(2 * width - 51), 2, "view", 0.0, "{}"),
        # user 3: three events inside one window -> 3 pairs
        (5, at(0), 3, "view", 0.0, "{}"),
        (6, at(10), 3, "view", 0.0, "{}"),
        (7, at(20), 3, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    got = {
        r.user_id: r.n_overlapping
        for r in registry.queries()["interval_overlap_pairs_banded"](
            spark, d
        ).collect()
    }
    assert got == {2: 1, 3: 3}  # user 1 excluded entirely (0 pairs)
    plain = {
        r.user_id: r.n_overlapping
        for r in registry.queries()["interval_overlap_pairs"](spark, d).collect()
    }
    assert got == plain


def test_attach_oracle_unknown_name_and_lint_gate(monkeypatch):
    """register() is the one way a query gets its oracle, so its lint
    gate covers every oracle: with the lint env on, a nested-type
    output shape fails at registration and nothing is registered."""
    from velox_hadoop_spark.plans import registry

    registry._ensure_loaded()
    monkeypatch.setenv(registry._LINT_ENV, "1")
    name = "lint_gate_probe_nested_xyz"
    with pytest.raises(ValueError, match="nested type"):
        registry.register(name, oracle="SELECT [1, 2] AS xs")(
            lambda spark, sf_dir: None
        )
    assert name not in registry._REGISTRY


def test_lsh_candidate_pairs_extra_group_cols(spark):
    """Config-scoped pair generation must equal running the ungrouped
    pipeline once per config slice — the contract that lets the band-
    tuning report reuse the production pair pipeline."""
    from velox_hadoop_spark.operators.dedup import lsh_candidate_pairs

    rows = [
        # config a: k1 holds {1,2,3} -> over the max_bucket=2 cap, dropped
        ("a", 0, "k1", 1), ("a", 0, "k1", 2), ("a", 0, "k1", 3),
        ("a", 1, "k2", 1), ("a", 1, "k2", 2),
        ("b", 0, "k1", 1), ("b", 0, "k1", 4),
        ("b", 0, "hot", 5), ("b", 0, "hot", 6), ("b", 0, "hot", 7),
    ]
    df = spark.createDataFrame(
        rows, "config string, band_id int, band_key string, doc_id long"
    )
    got = sorted(
        tuple(r)
        for r in lsh_candidate_pairs(
            df, "doc_id", max_bucket=2, extra_group_cols=("config",)
        ).collect()
    )
    want = []
    for cfg in ("a", "b"):
        sliced = df.where(df.config == cfg).drop("config")
        want += [
            (cfg, *r)
            for r in lsh_candidate_pairs(sliced, "doc_id", max_bucket=2).collect()
        ]
    assert got == sorted(want)
    assert got == [("a", 1, 2), ("b", 1, 4)]  # capped bucket contributes none
