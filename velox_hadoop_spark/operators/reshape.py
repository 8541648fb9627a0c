"""Reshape operators: pivot, unpivot (melt), grouping sets. [extension]

Not present in the reference (its aggregation surface is grouped sums
only, reference: src/main/java/org/dicl/velox/benchmark/WordCount.java:
54-68); these are the wide↔long reshaping primitives an analytics
engine is expected to expose.

Scale notes: ``pivot`` with an explicit value list compiles to one
hash aggregation with a conditional-sum column per pivot value (no
second pass to discover values, no driver collect). ``unpivot`` is a
narrow 1→N row expansion — no shuffle at all. GROUPING SETS computes
every set in a single Expand + aggregate pass rather than unioning
per-set scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

ORDER_STATUSES = ("F", "O", "P")


def pivot_status_counts(orders: DataFrame) -> DataFrame:
    """Long→wide: one row per priority, one count column per status.

    The explicit ``values=`` list keeps the plan single-pass (Spark
    otherwise runs a distinct scan first to discover pivot columns —
    a full extra job at 100 TB).
    """
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(ORDER_STATUSES))
        .count()
    )
    # coalesce: pivot leaves an EMPTY cell NULL where the oracle's
    # CASE-sum says 0 — on real data every cell is populated, but a
    # degenerate (single-status) input must still agree cross-engine
    return wide.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"cnt_{s.lower()}")
            for s in ORDER_STATUSES
        ],
    )


@register(
    "pivot_orders_status",
    oracle="""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("reshape", "pivot", "extension"),
)
def q_pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts pivoted to one column per order status."""
    return pivot_status_counts(read_table(spark, sf_dir, "orders"))


def unpivot_measures(li: DataFrame) -> DataFrame:
    """Wide→long: melt lineitem's numeric measures to (metric, value)."""
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               CAST(l_extendedprice AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
               CAST(l_discount AS DOUBLE) FROM lineitem
    """,
    tags=("reshape", "unpivot", "extension"),
)
def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem measures melted long (3 rows per input row, no shuffle)."""
    return unpivot_measures(read_table(spark, sf_dir, "lineitem"))


# Identical SQL text runs in both engines (same pattern as
# tpch_wide._Q8_SQL): GROUPING SETS is computed by Spark as a single
# Expand + hash aggregate, and NULL set-markers are folded to 'ALL'.
_GROUPING_SETS_SQL = """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           ROUND(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                              * 10000) AS BIGINT)) AS DOUBLE)
                 / 10000.0, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "grouping_sets_revenue",
    oracle=_GROUPING_SETS_SQL,
    tags=("reshape", "grouping-sets", "sql-interface", "extension"),
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at (flag, status), (flag), and grand-total grains in one
    pass — explicit GROUPING SETS (rollup/cube's general form), same
    SQL text as the DuckDB oracle."""
    from velox_hadoop_spark.catalog import Catalog

    Catalog(spark, sf_dir).register_views()
    return spark.sql(_GROUPING_SETS_SQL)


# Same-text time-hierarchy rollup (year → quarter → month grains in one
# Expand + hash agg pass). COALESCE folds the NULL set-markers to -1 so
# the subtotal rows hash identically in both engines.
_TIME_ROLLUP_SQL = """
    WITH d AS (
        SELECT year(o_orderdate) AS y,
               quarter(o_orderdate) AS q,
               month(o_orderdate) AS m,
               o_totalprice
        FROM orders
    )
    SELECT CAST(COALESCE(y, -1) AS INTEGER) AS y,
           CAST(COALESCE(q, -1) AS INTEGER) AS q,
           CAST(COALESCE(m, -1) AS INTEGER) AS m,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS revenue,
           count(*) AS n_orders
    FROM d
    GROUP BY ROLLUP (y, q, m)
"""


@register(
    "time_rollup_revenue",
    oracle=_TIME_ROLLUP_SQL,
    tags=("reshape", "rollup", "time-hierarchy", "extension"),
)
def q_time_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at month, quarter, year, and grand-total grains in ONE
    aggregation pass — the hypertable/continuous-aggregate rollup shape.
    ROLLUP compiles to a single Expand (4 grain replicas) + partial+
    final hash agg: one fact scan serves every grain, where four
    separate GROUP BYs would scan four times. Subtotal grains are
    strict reductions of the month grain, so at 100 TB you materialize
    the month grain and derive the rest (the incremental_agg_refresh
    pattern maintains it)."""
    from velox_hadoop_spark.catalog import Catalog

    Catalog(spark, sf_dir).register_views()
    return spark.sql(_TIME_ROLLUP_SQL)


# ---------------------------------------------------------------------------
# Reshape + ranking-function breadth.
#
# Second tranche of wide-table reshape and window/rank surface beyond
# ``reshape.py``: stack()-style unpivot, exact percentile_disc vs
# percentile_cont parity, a DISTRIBUTED ntile/percent_rank/cume_dist
# (derived arithmetically from the single-exchange ``sort.global_rank``
# — no global single-task WindowExec anywhere), first/last/nth_value
# frames, deterministic mode + exact median, bitwise aggregates, and a
# value-RANGE window frame.
# ---------------------------------------------------------------------------


@register(
    "stack_part_measures",
    oracle="""
        SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
        UNION ALL
        SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    """,
    tags=("reshape", "unpivot", "extension"),
)
def q_stack_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack()-based unpivot of two part measures into long form — the
    expression-level sibling of the UNPIVOT relation in
    ``unpivot_lineitem_measures``. stack() is a generator expression
    inside the projection: one scan, rows multiplied in codegen, no
    join or shuffle at all."""
    part = read_table(spark, sf_dir, "part")
    return part.selectExpr(
        "p_partkey",
        "stack(2, 'retailprice', p_retailprice,"
        "         'size', CAST(p_size AS DOUBLE)) AS (metric, val)",
    )


@register(
    "percentile_disc_vs_cont",
    oracle="""
        WITH cd AS (
            SELECT l_returnflag, l_quantity,
                   cume_dist() OVER (
                       PARTITION BY l_returnflag ORDER BY l_quantity
                   ) AS cd
            FROM lineitem
        ),
        disc AS (
            SELECT l_returnflag,
                   min(CASE WHEN cd >= 0.25 THEN l_quantity END) AS disc_25,
                   min(CASE WHEN cd >= 0.50 THEN l_quantity END) AS disc_50,
                   min(CASE WHEN cd >= 0.75 THEN l_quantity END) AS disc_75
            FROM cd GROUP BY l_returnflag
        ),
        cont AS (
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_quantity, 0.25), 6) AS cont_25,
                   ROUND(quantile_cont(l_quantity, 0.50), 6) AS cont_50,
                   ROUND(quantile_cont(l_quantity, 0.75), 6) AS cont_75
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT disc.l_returnflag, disc_25, disc_50, disc_75,
               cont_25, cont_50, cont_75
        FROM disc JOIN cont USING (l_returnflag)
    """,
    tags=("percentile", "agg", "extension"),
)
def q_percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile_disc vs percentile_cont side by side, per
    return flag. disc returns a value FROM the set (smallest whose
    cumulative distribution reaches p), cont interpolates between the
    straddling values — the oracle states disc by that definition
    (cume_dist >= p) rather than trusting DuckDB's quantile_disc to
    share tie rules. p in {.25, .5, .75} are exact binary fractions,
    so the >= boundary cannot wobble in either engine. Exact
    percentiles sort only within each group's partition."""
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__pdc_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS disc_25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity) AS disc_50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS disc_75,
               ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity), 6) AS cont_25,
               ROUND(percentile_cont(0.50) WITHIN GROUP (ORDER BY l_quantity), 6) AS cont_50,
               ROUND(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity), 6) AS cont_75
        FROM __pdc_lineitem GROUP BY l_returnflag
        """
    )


@register(
    "ntile_decile_customer_spend",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, ROUND(cents / 100.0, 2) AS spend,
               CAST(ntile(10) OVER w AS INTEGER) AS decile,
               ROUND(percent_rank() OVER w, 9) AS pct_rank,
               ROUND(cume_dist() OVER w, 9) AS cume
        FROM spend
        WINDOW w AS (ORDER BY cents DESC, o_custkey)
    """,
    tags=("window", "ntile", "rank", "extension"),
)
def q_ntile_decile_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile / percent_rank / cume_dist of per-customer spend WITHOUT
    a global single-partition window: the global position comes from
    ``sort.global_rank`` (one range exchange), and ntile's exact SQL
    remainder rule — the first n%k buckets get one extra row — plus
    percent_rank=(r-1)/(n-1) and cume_dist=r/n are pure arithmetic on
    (rank, n). The oracle uses the BUILT-IN window functions, so this
    is a semantics proof for the distributed rewrite. Spend is summed
    in integer cents (exact); the rank order (cents desc, custkey) is
    total, so every derived statistic is deterministic."""
    from velox_hadoop_spark.operators.sort import global_rank

    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = global_rank(
        spend.withColumn("neg_cents", -F.col("cents")),
        ["neg_cents", "o_custkey"],
        "r",
    )
    n_row = spend.agg(F.count("*").alias("n"))
    r, n = F.col("r"), F.col("n")
    # shared NTILE arithmetic (sort.ntile_from_rank) — one remainder
    # rule to maintain instead of an inlined copy per call site
    from velox_hadoop_spark.operators.sort import ntile_from_rank

    decile = ntile_from_rank(r, n, 10)
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            "o_custkey",
            F.round(F.col("cents") / 100.0, 2).alias("spend"),
            decile.cast("int").alias("decile"),
            # single-customer input makes (n-1) zero: percent_rank is
            # DEFINED as 0 for a 1-row partition (DuckDB agrees), and
            # plain division would ABORT under the session's default
            # ANSI mode rather than match it
            F.round(
                F.when(n > 1, (r - 1) / (n - 1)).otherwise(F.lit(0.0)), 9
            ).alias("pct_rank"),
            F.round(r / n, 9).alias("cume"),
        )
    )


@register(
    "first_last_nth_event_values",
    oracle="""
        SELECT DISTINCT user_id,
               first_value(value) OVER w AS first_val,
               last_value(value) OVER w AS last_val,
               nth_value(value, 3) OVER w AS third_val
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
    tags=("window", "first-last-nth", "extension"),
)
def q_first_last_nth_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full per-user
    frame (explicit UNBOUNDED FOLLOWING — the default frame would
    silently make last_value the CURRENT row), collapsed to one row
    per user. The window is keyed on user_id, so it shuffles once and
    never serializes through a single task. No sums — raw values — so
    no rounding seams."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            F.first("value").over(w).alias("first_val"),
            F.last("value").over(w).alias("last_val"),
            F.nth_value("value", 3).over(w).alias("third_val"),
        )
        .distinct()
    )


@register(
    "mode_median_order_price",
    oracle="""
        WITH freq AS (
            SELECT o_orderstatus, o_orderpriority, count(*) AS c
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        ),
        md AS (
            SELECT o_orderstatus, o_orderpriority AS mode_priority
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderstatus ORDER BY c DESC, o_orderpriority
                ) AS rn FROM freq
            ) WHERE rn = 1
        )
        SELECT m.o_orderstatus, m.mode_priority,
               ROUND(quantile_cont(o.o_totalprice, 0.5), 4) AS median_price
        FROM orders o JOIN md m ON o.o_orderstatus = m.o_orderstatus
        GROUP BY m.o_orderstatus, m.mode_priority
    """,
    tags=("agg", "mode", "median", "extension"),
)
def q_mode_median_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (highest count, ties to the LOWEST priority
    string — the built-in mode() leaves ties unspecified, so the
    rewrite pins them) and exact interpolated median per order status.
    Mode is a two-level aggregate: the first groupBy collapses to
    |status x priority| rows, so the rank window runs on a frame
    bounded by the category product, never by data."""
    orders = read_table(spark, sf_dir, "orders")
    freq = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("c"), F.asc("o_orderpriority")
    )
    md = (
        freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    return (
        orders.join(F.broadcast(md), "o_orderstatus")
        .groupBy("o_orderstatus", "mode_priority")
        .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"))
    )


@register(
    "bitwise_flag_aggregates",
    oracle="""
        SELECT c_mktsegment,
               CAST(bit_or(CAST(c_custkey % 256 AS INTEGER)) AS BIGINT) AS flags_or,
               CAST(bit_and(CAST(c_custkey % 256 AS INTEGER)) AS BIGINT) AS flags_and,
               CAST(bit_xor(CAST(c_custkey % 256 AS INTEGER)) AS BIGINT) AS flags_xor,
               count(*) AS n
        FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg", "bitwise", "extension"),
)
def q_bitwise_flag_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_or / bit_and / bit_xor aggregates over a derived 8-bit flag
    word per market segment. Bitwise aggregates are commutative and
    associative, so they combine map-side like any sum — one partial
    + final hash aggregate, no shuffle beyond the group keys."""
    cust = read_table(spark, sf_dir, "customer")
    flag = (F.col("c_custkey") % 256).cast("int")
    return cust.groupBy("c_mktsegment").agg(
        F.bit_or(flag).cast("long").alias("flags_or"),
        F.bit_and(flag).cast("long").alias("flags_and"),
        F.bit_xor(flag).cast("long").alias("flags_xor"),
        # count(*), not count(flag): the oracle counts rows, and a NULL
        # key would silently diverge the two under count(flag)
        F.count("*").alias("n"),
    )


@register(
    "window_range_between_value",
    oracle="""
        SELECT o_orderkey, o_custkey,
               count(*) OVER w AS n_near,
               ROUND(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
                     / 100.0, 2) AS near_total
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey ORDER BY o_totalprice
            RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
        )
    """,
    tags=("window", "range-frame", "extension"),
)
def q_window_range_between_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame (±1000 of the current order's price,
    NOT ±N rows): per order, how many of the same customer's orders
    land within a price band and their total. Range frames over a
    value make tie handling frame-determined — rows with equal prices
    share identical frames, so the result is deterministic without a
    tiebreaker. Keyed on o_custkey: one hash exchange. The banded sum
    rides integer cents so both engines agree to the cent."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).alias("n_near"),
        F.round(F.sum(cents).over(w) / 100.0, 2).alias("near_total"),
    )
