"""Parity gap-fill: registry queries that had DRIVER evidence but no
pytest reference (found by a round-10 audit grepping every registered
name against tests/). Each gets the standard oracle-parity check at
sf0.001 so CI covers them between driver rounds; rows-only contracts
get a schema/rows smoke instead.
"""

from __future__ import annotations

import pytest

from tests.conftest import assert_parity
from velox_hadoop_spark.plans import registry

GAPFILL = [
    "stateful_totals_batch_twin",
    "multimodal_frame_sample",
    "skyline_3d_parts",
    "asof_join_grouped_backward",
    "exists_suppliers_with_returns",
    "not_exists_parts_never_ordered",
    "in_subquery_high_value_customers",
    "scalar_subquery_above_nation_avg",
    "exists_double_correlation_orders",
    "lateral_top2_orders_per_customer",
    "in_subquery_nested_two_level",
    "stack_part_measures",
    "percentile_disc_vs_cont",
    "first_last_nth_event_values",
    "bitwise_flag_aggregates",
    "window_range_between_value",
    "math_functions",
    "conditional_functions",
    "timestamp_functions",
    "hash_functions",
    "cross_shard_dedup_reconcile",
    "pack_overflow_stats",
    "shard_skew_report",
    "decontam_removal_by_source",
]


@pytest.mark.parametrize("name", GAPFILL)
def test_oracle_parity(spark, duck, name):
    # every GAPFILL name has an oracle (verified at review) — keep this
    # loud if a rename ever breaks that, rather than silently smoking
    assert registry.specs()[name].oracle is not None
    assert_parity(spark, duck, name)


def test_assert_parity_rejects_top_level_array_column(spark, duck, monkeypatch):
    """The local parity check is as strict as the driver's gate: a
    top-level array cell fails it even when both engines agree, because
    the driver's canonicalizer cannot sort list values."""
    name = "parity_probe_array_column"

    def fn(spark_, sf_dir):
        return spark_.createDataFrame([(1, [1, 2])], "k int, xs array<int>")

    monkeypatch.setitem(
        registry._REGISTRY,
        name,
        registry.QuerySpec(name=name, fn=fn, oracle="SELECT 1 AS k, [1, 2] AS xs"),
    )
    with pytest.raises(TypeError, match="top-level nested value"):
        assert_parity(spark, duck, name)
