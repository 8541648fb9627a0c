"""SQL-surface and scalar-function breadth. [extension]

The grouping / window / set-operation / function forms a SQL user
reaches for next after the core analytics families: GROUPING SETS with
grouping ids, GROUP BY ALL, LISTAGG DISTINCT, FILTERed counts,
boolean aggregates, rank-distribution windows, frame-clause contrast
(ROWS vs RANGE), QUALIFY-style top-n, null-aware NOT IN, multiset
INTERSECT/EXCEPT ALL, inline VALUES dims, ordinal explode with
empty-array preservation, higher-order array functions, binary
encodings, string padding/translation, exact-moment statistics, and a
generated calendar dimension.

Every query keeps the repo's parity rules: integer cents for money
sums, BIGINT-cast counts, identical aliases in plan and oracle,
CSV-joined collections (never nested outputs), and display-only
rounding on derived doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def _cents(col: str = "o_totalprice"):
    # built lazily: Column constructors invoke the JVM, so a module-level
    # constant would require an active SparkContext at import time
    return F.round(F.col(col) * 100).cast("long")


@register(
    "grouping_id_report",
    oracle="""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
    """,
    tags=("agg", "grouping-sets", "extension"),
)
def q_grouping_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over (priority, status) with an explicit grouping
    id built from per-column GROUPING() bits — composed manually
    (g(a)*2 + g(b)) rather than engine grouping_id(), whose bit order
    is engine-defined and would silently disagree across engines. One
    shuffle computes all four grouping sets (Spark expands them in a
    single Expand+HashAggregate, not four scans)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("vhs_gsets_orders")
    return spark.sql("""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM vhs_gsets_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
    """)


@register(
    "group_by_all_revenue",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY ALL
    """,
    tags=("agg", "group-by-all", "extension"),
)
def q_group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (every non-aggregate select item) — the
    modern-SQL convenience form, identical semantics in Spark ≥3.4 and
    DuckDB; compiles to the same partial+final hash aggregate as an
    explicit column list."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("vhs_gba_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM vhs_gba_orders GROUP BY ALL
    """)


@register(
    "listagg_distinct_statuses",
    oracle="""
        SELECT o_orderpriority,
               string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "listagg", "extension"),
)
def q_listagg_distinct_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT ... ORDER BY ...) parity: collect_set →
    sort_array → array_join is the Spark spelling (set semantics, then
    an explicit deterministic order — LISTAGG without ORDER BY is
    nondeterministic in any engine and never registry-safe)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "count_filter_report",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_total,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               count(*) FILTER (WHERE o_totalprice > 200000) AS n_high_value,
               count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01') AS n_recent
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "filter-clause", "extension"),
)
def q_count_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(*) FILTER (WHERE ...) breadth — one scan, one aggregate,
    N conditional counters (Spark spelling: count(when(cond, 1))).
    The FILTER form keeps DuckDB's counters BIGINT (count_if would be
    HUGEINT and hash-mismatch int64)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_high_value"),
        F.count(
            F.when(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"), 1)
        ).alias("n_recent"),
    )


@register(
    "bool_agg_by_nation",
    oracle="""
        SELECT n.n_name,
               bool_and(c.c_acctbal > 0) AS all_positive,
               bool_or(c.c_acctbal > 9000) AS any_rich,
               count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    tags=("agg", "boolean", "extension"),
)
def q_bool_agg_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or aggregates per nation (the EVERY/ANY forms)
    over a broadcast dimension join."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
            F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
            F.count("*").alias("n_customers"),
        )
    )


@register(
    "cume_dist_percent_rank_prices",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               cume_dist() OVER w AS cd,
               percent_rank() OVER w AS pr
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
    tags=("window", "rank-distribution", "extension"),
)
def q_cume_dist_percent_rank_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / percent_rank per priority — the rank-distribution
    windows. Both are value-based (ties share a value), so the output
    is deterministic without a tiebreak column; the window and nothing
    else shuffles the table, keyed on the partition column."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


@register(
    "lag_lead_ignore_nulls",
    oracle="""
        SELECT event_id, user_id,
               lag(value, 1, -1.0) OVER w AS prev_val,
               lead(value, 2, -1.0) OVER w AS next2_val,
               first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS first_purchase_val
        FROM events
        WHERE user_id % 20 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lag-lead", "ignore-nulls", "extension"),
)
def q_lag_lead_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with non-null defaults plus IGNORE NULLS first_value
    (the earliest purchase value seen so far per user). The 5% user
    slice bounds the output; (ts, event_id) is a total order so every
    offset function is deterministic."""
    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 1, -1.0).over(w).alias("prev_val"),
        F.lead("value", 2, -1.0).over(w).alias("next2_val"),
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(wf)
        .alias("first_purchase_val"),
    )


@register(
    "rows_vs_range_frames",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(o_orderdate AS DATE) AS d,
                   datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_n
            FROM orders
        )
        SELECT o_orderkey,
               CAST(sum(cents) OVER (
                   PARTITION BY o_custkey ORDER BY d, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS rows_sum3,
               CAST(sum(cents) OVER (
                   PARTITION BY o_custkey ORDER BY day_n
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS range_sum30d
        FROM o
    """,
    tags=("window", "frame-clause", "extension"),
)
def q_rows_vs_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS vs RANGE frame contrast on the same partition: a 3-row
    physical frame (tiebroken by orderkey, so deterministic under
    same-day ties) against a 30-day logical frame keyed on an integer
    day number (RANGE includes ALL same-day rows, so it needs no
    tiebreak). Money rides integer cents; both windows share one
    shuffle on o_custkey."""
    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        _cents().alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")).alias(
            "day_n"
        ),
    )
    w_rows = (
        Window.partitionBy("o_custkey").orderBy("d", "o_orderkey").rowsBetween(-2, 0)
    )
    w_range = Window.partitionBy("o_custkey").orderBy("day_n").rangeBetween(-29, 0)
    return o.select(
        "o_orderkey",
        F.sum("cents").over(w_rows).cast("long").alias("rows_sum3"),
        F.sum("cents").over(w_range).cast("long").alias("range_sum30d"),
    )


@register(
    "running_min_max_spread",
    oracle="""
        SELECT o_orderkey,
               min(o_totalprice) OVER w AS run_min,
               max(o_totalprice) OVER w AS run_max,
               round(max(o_totalprice) OVER w - min(o_totalprice) OVER w, 2) AS spread
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "running-extrema", "extension"),
)
def q_running_min_max_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative min/max order value per customer and their spread —
    pure extrema (no double sums, so raw values are exact in both
    engines); the subtraction is a single deterministic double op,
    rounded for display only."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        F.min("o_totalprice").over(w).alias("run_min"),
        F.max("o_totalprice").over(w).alias("run_max"),
        F.round(
            F.max("o_totalprice").over(w) - F.min("o_totalprice").over(w), 2
        ).alias("spread"),
    )


@register(
    "qualify_top3_balance_per_nation",
    oracle="""
        SELECT s_suppkey, s_nationkey, s_acctbal,
               CAST(row_number() OVER (
                   PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
               ) AS BIGINT) AS rn
        FROM supplier
        QUALIFY rn <= 3
    """,
    tags=("window", "qualify", "top-n", "extension"),
)
def q_qualify_top3_balance_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-style windowed top-n: the 3 richest suppliers per
    nation. Spark has no QUALIFY keyword; the filter-on-window form is
    the identical plan (rank inside the window shuffle, filter above
    it — no second exchange)."""
    supp = read_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    return (
        supp.select(
            "s_suppkey",
            "s_nationkey",
            "s_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "not_in_null_semantics",
    oracle="""
        SELECT
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                     UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_with_null,
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_clean
    """,
    tags=("subquery", "not-in", "null-semantics", "extension"),
)
def q_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, pinned as a parity row: a NULL anywhere in
    the subquery makes NOT IN three-valued (never TRUE), so n_with_null
    is 0 by SQL semantics while the NULL-free list counts real
    never-ordered customers. Spark compiles the null-tainted form to a
    null-aware anti join (a distinct physical operator worth covering)
    and the clean form to a plain left-anti."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("vhs_nin_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("vhs_nin_orders")
    with_null = spark.sql("""
        SELECT count(*) AS n_with_null FROM vhs_nin_customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM vhs_nin_orders
                                UNION ALL SELECT CAST(NULL AS BIGINT))
    """)
    clean = spark.sql("""
        SELECT count(*) AS n_clean FROM vhs_nin_customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM vhs_nin_orders)
    """)
    return with_null.crossJoin(F.broadcast(clean))


@register(
    "bag_set_ops_custkeys",
    oracle="""
        WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        SELECT
            (SELECT count(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)) AS n_intersect_all,
            (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)) AS n_except_all,
            (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
            (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except
    """,
    tags=("setops", "multiset", "extension"),
)
def q_bag_set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset vs set INTERSECT/EXCEPT on the same two bags (customer
    keys of open vs finished orders): ALL preserves duplicity
    (min/difference of per-key multiplicities), the distinct forms
    collapse it — four counts in one row so the semantics contrast is
    the test."""
    orders = read_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    n_ia = a.intersectAll(b).agg(F.count("*").alias("n_intersect_all"))
    n_ea = a.exceptAll(b).agg(F.count("*").alias("n_except_all"))
    n_i = a.intersect(b).agg(F.count("*").alias("n_intersect"))
    n_e = a.subtract(b).agg(F.count("*").alias("n_except"))
    return (
        n_ia.crossJoin(F.broadcast(n_ea))
        .crossJoin(F.broadcast(n_i))
        .crossJoin(F.broadcast(n_e))
    )


@register(
    "values_inline_dim_join",
    oracle="""
        SELECT d.sla_days, count(*) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders o
        JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 5),
                     ('4-NOT SPECIFIED', 10), ('5-LOW', 30)) AS d(priority, sla_days)
          ON o.o_orderpriority = d.priority
        GROUP BY d.sla_days
    """,
    tags=("join", "values-inline", "extension"),
)
def q_values_inline_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline-VALUES dimension join: a literal 5-row SLA lookup joined
    to the fact table. Literal frames are trivially broadcast by the
    optimizer (no hint needed — the lint's point is hints on
    data-sized frames, and this one is compile-time constant)."""
    orders = read_table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [
            ("1-URGENT", 1),
            ("2-HIGH", 2),
            ("3-MEDIUM", 5),
            ("4-NOT SPECIFIED", 10),
            ("5-LOW", 30),
        ],
        "priority string, sla_days int",
    )
    return (
        orders.join(dim, F.col("o_orderpriority") == F.col("priority"))
        .groupBy("sla_days")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents()).alias("rev_cents"),
        )
    )


@register(
    "posexplode_outer_tokens",
    oracle="""
        WITH o AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'O' THEN CAST([] AS VARCHAR[])
                        ELSE string_split(o_orderpriority, '-') END AS arr
            FROM orders WHERE o_orderkey % 50 = 0
        )
        SELECT o.o_orderkey, u.pos, u.tok
        FROM o LEFT JOIN LATERAL (
            SELECT CAST(unnest(range(len(arr))) AS BIGINT) AS pos,
                   unnest(arr) AS tok
        ) u ON true
    """,
    tags=("explode", "lateral", "null-preserve", "extension"),
)
def q_posexplode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: ordinal explode that PRESERVES empty-array
    rows as a single (NULL, NULL) row — the left-lateral semantics a
    plain explode drops. Open orders get an empty array by
    construction so the preservation branch is exercised, not assumed."""
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    o = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.array().cast("array<string>"))
        .otherwise(F.split("o_orderpriority", "-"))
        .alias("arr"),
    )
    return o.select(
        "o_orderkey", F.posexplode_outer("arr").alias("pos_i", "tok")
    ).select("o_orderkey", F.col("pos_i").cast("long").alias("pos"), "tok")


@register(
    "sequence_aggregate_months",
    oracle="""
        SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
               count(*) AS n_orders,
               CAST(max(CAST(list_sum(range(1, CAST(month(o_orderdate) AS INTEGER) + 1)) AS BIGINT)) AS BIGINT) AS tri_sum
        FROM orders GROUP BY month(o_orderdate)
    """,
    tags=("functions", "higher-order", "array", "extension"),
)
def q_sequence_aggregate_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: per order, sequence(1, month) is
    folded with aggregate() into the triangular sum — verified against
    the closed form per month group. Pure in-row array math (Spark:
    whole-stage codegen; no UDF)."""
    orders = read_table(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    tri = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return (
        orders.select(m.cast("long").alias("m"), tri.alias("tri"))
        .groupBy("m")
        .agg(F.count("*").alias("n_orders"), F.max("tri").alias("tri_sum"))
    )


@register(
    "base64_hex_roundtrip",
    oracle="""
        SELECT c_custkey,
               to_base64(encode(c_name)) AS b64,
               upper(to_hex(c_custkey)) AS hx,
               (decode(from_base64(to_base64(encode(c_name)))) = c_name) AS roundtrip_ok
        FROM customer WHERE c_custkey <= 200
    """,
    tags=("functions", "binary-encoding", "extension"),
)
def q_base64_hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding functions: base64 of the UTF-8 name bytes, hex
    of the integer key (uppercased to one casing convention), and the
    decode(unbase64(...)) roundtrip proven equal in-engine."""
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    b64 = F.base64(F.col("c_name").cast("binary"))
    return cust.select(
        "c_custkey",
        b64.alias("b64"),
        F.upper(F.hex(F.col("c_custkey"))).alias("hx"),
        (F.unbase64(b64).cast("string") == F.col("c_name")).alias("roundtrip_ok"),
    )


@register(
    "string_pad_translate_funcs",
    oracle="""
        SELECT p_partkey,
               lpad(p_name, 12, '*') AS padded_l,
               rpad(p_name, 12, '*') AS padded_r,
               translate(p_name, 'aeiou', '12345') AS translated,
               reverse(p_name) AS reversed,
               repeat(p_brand, 2) AS doubled,
               trim(concat('  ', p_name, '  ')) AS trimmed,
               ltrim(concat('xxys', p_name), 'xy') AS ltrimmed
        FROM part WHERE p_partkey <= 200
    """,
    tags=("functions", "string", "extension"),
)
def q_string_pad_translate_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String padding / translation breadth: lpad/rpad (including the
    truncate-when-longer behavior), translate, reverse, repeat, trim,
    and character-set ltrim — all engine built-ins with identical
    semantics, pinned by parity."""
    part = read_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    return part.select(
        "p_partkey",
        F.lpad("p_name", 12, "*").alias("padded_l"),
        F.rpad("p_name", 12, "*").alias("padded_r"),
        F.translate("p_name", "aeiou", "12345").alias("translated"),
        F.reverse("p_name").alias("reversed"),
        F.repeat("p_brand", 2).alias("doubled"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        # SQL form: Spark's 2-arg ltrim is ltrim(trimStr, str) while
        # DuckDB's is ltrim(str, chars) — argument orders differ, the
        # trimming semantics are identical
        F.expr("ltrim('xy', concat('xxys', p_name))").alias("ltrimmed"),
    )


@register(
    "moment_stats_by_flag",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
                   CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
                   CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                            * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round(CAST(s1 AS DOUBLE) / n, 6) AS mean_q,
               round(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) AS var_q,
               CASE WHEN CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
                         > CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) THEN
                   round((CAST(s3 AS DOUBLE) / n
                          - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                          + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                         / pow(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 1.5), 6)
               END AS skew_q
        FROM s
    """,
    tags=("stats", "moments", "extension"),
)
def q_moment_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / population variance / skewness from EXACT integer moment
    sums (quantities are integral and bounded, so Σq, Σq², Σq³ are
    exact BIGINTs in any summation order) — the engine-portable way to
    get higher moments: built-in skewness() definitions differ across
    engines, raw-moment arithmetic does not. The double math on top of
    the exact sums is the identical expression in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    var = m2 - m1 * m1
    return s.select(
        "l_returnflag",
        "n",
        F.round(m1, 6).alias("mean_q"),
        F.round(var, 6).alias("var_q"),
        # zero variance -> skewness undefined: NULL in both engines via
        # the EXACT integer predicate n*s2 > s1^2 (never the double var).
        # The products run in decimal(38,0) / HUGEINT: at sf~40 the 'N'
        # flag group's s1^2 already exceeds int64 (s1 ~ 25.5n), while
        # the widened predicate stays exact past 1e17 rows per group
        # (n*s2 <= 2500*n^2 < 1e38).
        F.when(
            F.col("n").cast("decimal(19,0)") * F.col("s2").cast("decimal(19,0)")
            > F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)"),
            F.round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5), 6),
        ).alias("skew_q"),
    )


@register(
    "calendar_dim_coverage",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(o_orderdate AS DATE)) AS d0,
                   max(CAST(o_orderdate AS DATE)) AS d1
            FROM orders
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
            FROM bounds
        ),
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
            FROM orders GROUP BY 1
        )
        SELECT CAST(date_trunc('month', s.d) AS DATE) AS month_start,
               count(*) AS n_days,
               count(dy.n) AS n_order_days,
               CAST(coalesce(sum(dy.n), 0) AS BIGINT) AS n_orders
        FROM spine s LEFT JOIN daily dy ON s.d = dy.d
        GROUP BY 1
    """,
    tags=("calendar", "dim-generation", "extension"),
)
def q_calendar_dim_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension: a date spine from the data's own
    min/max (sequence + explode over a 1-row bound — never a driver
    collect), left-joined to daily order counts, rolled to months:
    days in month vs days with orders vs order volume. The spine is
    calendar-bounded, so the explode and the join stay tiny at any SF."""
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(daily, "d", "left")
        .groupBy(F.date_trunc("month", "d").cast("date").alias("month_start"))
        .agg(
            F.count("*").alias("n_days"),
            F.count("n").alias("n_order_days"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# SQL-surface breadth.
#
# The next ring of forms a SQL user reaches for after round 6's
# grouping/window/set families: multi-aggregate PIVOT, higher-order
# array lambdas (filter / exists / forall / transform+aggregate /
# zip_with), hypothetical-set rank, ISO week calendars, null-safe
# equality joins, gaps-and-islands interval union, nearest-direction
# as-of join, Pareto cumulative-share cuts, change-event counting,
# set-signature grouping, peer averages excluding self, a correlation
# matrix, an exact rolling median, and parameterized sessionization.
#
# Parity rules (repo standard): money as integer cents; BIGINT-cast
# counts; identical aliases in plan and oracle; collected lists
# CSV-joined; derived doubles display-rounded; timestamps compared in
# integer microseconds (``unix_micros`` ↔ ``epoch_us``); every window
# order is a TOTAL order (ties pinned by key columns).
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Pivot / arrays / rank breadth
# ---------------------------------------------------------------------------


@register(
    "pivot_multi_agg_status",
    oracle="""
        SELECT o_orderpriority AS priority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS f_cents,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS o_cents,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT) AS p_cents
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("reshape", "pivot", "multi-agg", "extension"),
)
def q_pivot_multi_agg_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate PIVOT: count AND revenue cents per order status,
    one output column pair per status. Explicit pivot values keep the
    plan a single Expand+HashAggregate (no extra distinct-values job —
    the two-scan pitfall of `pivot(col)` without a value list), and
    empty cells are coalesced to the oracle's FILTER-count zeros."""
    piv = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("cents"))
    )
    cols = [F.col("priority")]
    for s in ("F", "O", "P"):
        cols.append(F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"{s.lower()}_n"))
        cols.append(
            F.coalesce(F.col(f"{s}_cents"), F.lit(0)).cast("long").alias(f"{s.lower()}_cents")
        )
    return piv.select(*cols)


@register(
    "array_lambda_breadth",
    oracle="""
        WITH arrs AS (
            SELECT l_orderkey AS orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))) AS l
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT orderkey,
               CAST(len(l) AS BIGINT) AS n_items,
               CAST(len(list_filter(l, x -> x >= 25)) AS BIGINT) AS n_ge25,
               len(list_filter(l, x -> x >= 49)) > 0 AS any_49,
               len(list_filter(l, x -> x <= 0)) = 0 AS all_pos,
               CAST(list_sum(list_transform(l, x -> x * 2)) AS BIGINT) AS doubled_sum,
               CASE WHEN len(l) >= 2 THEN
                   CAST(list_max(list_transform(range(2, len(l) + 1),
                                                i -> l[i] - l[i - 1])) AS BIGINT)
               END AS max_gap
        FROM arrs
    """,
    tags=("functions", "array", "lambda", "extension"),
)
def q_array_lambda_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas over per-order sorted quantity lists:
    filter (conditional count), exists / forall (quantified
    predicates), transform+aggregate (map-fold without exploding), and
    zip_with against the array's own tail (max adjacent gap in the
    sorted list). Everything after the one grouped collect is a pure
    JVM projection — the lambda surface SURVEY §2.8 maps to native
    Spark; no explode, no second shuffle. Quantities ride as BIGINT so
    the fold and gaps are exact in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    arrs = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.array_sort(F.collect_list(F.col("l_quantity").cast("long"))).alias("l")
    )
    l = F.col("l")
    n = F.size(l)
    gaps = F.zip_with(
        F.slice(l, 2, n - 1), F.slice(l, 1, n - 1), lambda a, b: a - b
    )
    return arrs.select(
        "orderkey",
        n.cast("long").alias("n_items"),
        F.size(F.filter(l, lambda x: x >= 25)).cast("long").alias("n_ge25"),
        F.exists(l, lambda x: x >= 49).alias("any_49"),
        F.forall(l, lambda x: x > 0).alias("all_pos"),
        F.aggregate(
            F.transform(l, lambda x: x * 2), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("doubled_sum"),
        F.when(n >= 2, F.array_max(gaps).cast("long")).alias("max_gap"),
    )


@register(
    "hypothetical_rank_price",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               count(*) FILTER (WHERE CAST(l_quantity AS BIGINT) < 25) + 1 AS hyp_rank,
               CAST(count(DISTINCT CASE WHEN CAST(l_quantity AS BIGINT) < 25
                                        THEN CAST(l_quantity AS BIGINT) END) + 1
                    AS BIGINT) AS hyp_dense_rank,
               round(count(*) FILTER (WHERE CAST(l_quantity AS BIGINT) < 25)
                     / CAST(count(*) AS DOUBLE), 6) AS hyp_percent_rank
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "hypothetical-rank", "extension"),
)
def q_hypothetical_rank_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypothetical-set rank: the RANK / DENSE_RANK / PERCENT_RANK a
    constant quantity (25) WOULD take inside each return-flag group —
    the ANSI `RANK(v) WITHIN GROUP (ORDER BY x)` family, which neither
    engine ships, restated as pure conditional aggregates (count of
    strictly-smaller rows + 1). One hash aggregate, no window, no sort:
    the form that stays a single shuffle at any scale."""
    q = F.col("l_quantity").cast("long")
    below = F.count(F.when(q < 25, 1))
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            (below + 1).alias("hyp_rank"),
            (F.count_distinct(F.when(q < 25, q)) + 1).cast("long").alias("hyp_dense_rank"),
            F.round(below / F.count("*").cast("double"), 6).alias("hyp_percent_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar / change events / signatures
# ---------------------------------------------------------------------------


@register(
    "iso_week_revenue",
    oracle="""
        SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
               CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2
    """,
    tags=("timeseries", "calendar", "iso-week", "extension"),
)
def q_iso_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by ISO year + ISO week. The tricky parity cell is the
    year boundary (Jan 1 can belong to ISO week 52/53 of the PREVIOUS
    iso-year): Spark has ISO `weekofyear` but no isoyear, so the ISO
    year is derived as the calendar year of the week's THURSDAY
    (date − weekday + 3, weekday 0 = Monday) — the ISO-8601 definition
    itself, exact for every date. Pure projection + one hash agg."""
    o = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    thursday = F.date_add(F.date_sub(d, F.weekday(d)), 3)
    return (
        o.select(
            F.year(thursday).cast("long").alias("iso_year"),
            F.weekofyear(d).cast("long").alias("iso_week"),
            _cents().alias("cents"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("rev_cents"))
    )


@register(
    "status_change_count",
    oracle="""
        WITH seq AS (
            SELECT o_custkey,
                   o_orderstatus,
                   lag(o_orderstatus) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS prev_status
            FROM orders
        )
        SELECT o_custkey, count(*) AS n_orders,
               count(*) FILTER (
                   WHERE prev_status IS NOT NULL AND prev_status <> o_orderstatus
               ) AS n_changes
        FROM seq GROUP BY o_custkey
    """,
    tags=("window", "change-event", "extension"),
)
def q_status_change_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL_CHANGE_EVENT, restated: per customer, how many times
    the order status flips across the date-ordered order sequence. Tie
    dates are pinned by orderkey so the lag is a total order in both
    engines. One shuffle on custkey serves window and aggregate."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    return seq.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.count(
            F.when(
                F.col("prev_status").isNotNull()
                & (F.col("prev_status") != F.col("o_orderstatus")),
                1,
            )
        ).alias("n_changes"),
    )


@register(
    "status_set_signature",
    oracle="""
        WITH sig AS (
            SELECT o_custkey,
                   string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS signature,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT signature,
               count(*) AS n_customers,
               round(avg(CAST(n_orders AS DOUBLE)), 4) AS avg_orders
        FROM sig GROUP BY signature
    """,
    tags=("agg", "set-signature", "extension"),
)
def q_status_set_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group customers by their EXACT set of order statuses — the
    set-signature (sorted distinct CSV) becomes the grouping key, the
    cohorting idiom behind 'customers who have both open and finished
    orders'. collect_set dedups inside the aggregate (one shuffle);
    the second aggregate groups the handful of signatures."""
    sig = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
                "signature"
            ),
            F.count("*").alias("n_orders"),
        )
    )
    return sig.groupBy("signature").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg(F.col("n_orders").cast("double")), 4).alias("avg_orders"),
    )


# ---------------------------------------------------------------------------
# Null-safe joins / intervals / as-of
# ---------------------------------------------------------------------------


@register(
    "null_safe_join_events",
    oracle="""
        WITH a AS (
            SELECT nullif(event_type, 'view') AS k, count(*) AS n_all
            FROM events GROUP BY 1
        ),
        b AS (
            SELECT nullif(event_type, 'view') AS k, count(*) AS n_high
            FROM events WHERE value > 50 GROUP BY 1
        )
        SELECT a.k AS event_key, a.n_all,
               CAST(coalesce(b.n_high, 0) AS BIGINT) AS n_high
        FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    tags=("join", "null-safe", "extension"),
)
def q_null_safe_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the key
    is NULLIF-derived, so one group IS the NULL key, and a plain
    equi-join would silently drop it — the classic bug this operator
    exists to avoid. Both sides are pre-aggregated (≤ |event-type
    domain| rows), so the join is broadcast-sized by construction."""
    ev = read_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("view")).alias("k")
    a = ev.groupBy(k).agg(F.count("*").alias("n_all"))
    b = ev.where(F.col("value") > 50).groupBy(k).agg(F.count("*").alias("n_high"))
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]), "left")
        .select(
            a["k"].alias("event_key"),
            "n_all",
            F.coalesce(F.col("n_high"), F.lit(0)).cast("long").alias("n_high"),
        )
    )


@register(
    "interval_union_coverage",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id,
                   CAST(epoch_us(ts) AS BIGINT) AS s,
                   CAST(epoch_us(ts) AS BIGINT) + 600000000 AS e
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        )
                   THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ),
        merged AS (
            SELECT user_id, island, min(s) AS ms, max(e) AS me
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               count(*) AS n_islands,
               CAST(sum(me - ms) AS BIGINT) AS covered_us
        FROM merged GROUP BY user_id
    """,
    tags=("timeseries", "gaps-islands", "interval-union", "extension"),
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage (gaps-and-islands union): each event
    opens a 10-minute activity interval; overlapping intervals merge,
    and the answer is the UNION length per user — the classic 'total
    active time' that a naive sum of durations double-counts. A row
    starts a new island iff it begins after the running max end of all
    preceding intervals; island id = running flag sum; an island's
    union length is exactly max(end) − min(start) because by
    construction it has no internal gap. Microsecond integers end to
    end; one shuffle on user_id serves both windows and the final
    aggregates. BOTH windows order by (s, event_id) — the same total
    order — because a running ROWS sum is order-sensitive per row
    within a tie group: under an (s, e)-only order, a same-timestamp
    row sorted ahead of its group's flag-1 row would join the previous
    island and overcount coverage."""
    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + F.lit(600_000_000)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.max("e").over(w_prev).isNull() | (F.col("s") > F.max("e").over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).alias("covered_us"),
    )


@register(
    "asof_join_nearest",
    oracle="""
        WITH u AS (
            SELECT user_id, event_id,
                   CAST(epoch_us(ts) AS BIGINT) AS t,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                   CASE WHEN event_type = 'click' THEN CAST(epoch_us(ts) AS BIGINT) END AS ct,
                   CASE WHEN event_type = 'click' THEN value END AS cv
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        filled AS (
            SELECT user_id, event_id, t, is_p,
                   last_value(ct IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS back_t,
                   last_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS back_v,
                   first_value(ct IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS fwd_t,
                   first_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS fwd_v
            FROM u
        )
        SELECT event_id, user_id,
               CASE WHEN fwd_t IS NULL
                         OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                    THEN back_t ELSE fwd_t END AS click_t,
               CASE WHEN fwd_t IS NULL
                         OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                    THEN back_v ELSE fwd_v END AS click_value,
               CASE WHEN fwd_t IS NULL
                         OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                    THEN t - back_t ELSE fwd_t - t END AS dt_us
        FROM filled WHERE is_p = 1
    """,
    tags=("join", "asof", "nearest", "extension"),
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each purchase pairs with its
    CLOSEST click (either direction), ties to the earlier (backward)
    side — the variant timeseries stores call `asof nearest` (backward
    and forward already exist in join.py / timeseries.py). Same
    single-shuffle tagged-union shape as ``asof_join``: one sort per
    user serves BOTH the backward last-fill and the forward first-fill
    (same window order, two frames), never a per-row lookup. Clicks
    sort before purchases at equal timestamps (tag order), so a
    same-instant click is 'backward' with dt 0; same-(user, ts) click
    duplicates are pinned by event_id (the forward frame takes the
    smallest id, the backward frame the largest — stated in the oracle
    by the identical window order)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts").cast("timestamp"))).alias("ct"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("cv"),
    )
    order = [F.col("t"), F.col("is_p"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    filled = u.select(
        "event_id",
        "user_id",
        "t",
        "is_p",
        F.last("ct", ignorenulls=True).over(w_back).alias("back_t"),
        F.last("cv", ignorenulls=True).over(w_back).alias("back_v"),
        F.first("ct", ignorenulls=True).over(w_fwd).alias("fwd_t"),
        F.first("cv", ignorenulls=True).over(w_fwd).alias("fwd_v"),
    )
    take_back = F.col("fwd_t").isNull() | (
        F.col("back_t").isNotNull()
        & (F.col("t") - F.col("back_t") <= F.col("fwd_t") - F.col("t"))
    )
    return filled.where(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        F.when(take_back, F.col("back_t")).otherwise(F.col("fwd_t")).alias("click_t"),
        F.when(take_back, F.col("back_v")).otherwise(F.col("fwd_v")).alias("click_value"),
        F.when(take_back, F.col("t") - F.col("back_t"))
        .otherwise(F.col("fwd_t") - F.col("t"))
        .alias("dt_us"),
    )


# ---------------------------------------------------------------------------
# Distribution cuts / heatmaps / correlation
# ---------------------------------------------------------------------------


@register(
    "pareto_80_20_customers",
    oracle="""
        WITH spend AS (
            SELECT c.c_nationkey, o.o_custkey,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT c_nationkey, cents,
                   row_number() OVER (
                       PARTITION BY c_nationkey ORDER BY cents DESC, o_custkey
                   ) AS rn,
                   sum(cents) OVER (
                       PARTITION BY c_nationkey ORDER BY cents DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   sum(cents) OVER (PARTITION BY c_nationkey) AS total,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM spend
        )
        SELECT c_nationkey,
               CAST(min(n) AS BIGINT) AS n_customers,
               CAST(min(rn) FILTER (WHERE cum * 5 >= total * 4) AS BIGINT) AS k_for_80pct,
               round(min(rn) FILTER (WHERE cum * 5 >= total * 4)
                     / CAST(min(n) AS DOUBLE), 6) AS share_of_customers
        FROM ranked GROUP BY c_nationkey
    """,
    tags=("window", "pareto", "cumulative-share", "extension"),
)
def q_pareto_80_20_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto cut: per nation, the smallest number of (top-spending)
    customers covering ≥ 80 % of revenue. The membership predicate is
    pure integer arithmetic (cum·5 ≥ total·4) — never a raw double
    comparison. The per-nation window sorts |customers|/25 rows in one
    task — same accepted class as ntile_decile_customer_spend
    (SF-proportional per-key sort; at extreme SF this wants a
    range-partitioned prefix sum, documented not hidden)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(_cents()).alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = spend.select(
        "c_nationkey",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cents").over(Window.partitionBy("c_nationkey")).alias("total"),
        F.count("*").over(Window.partitionBy("c_nationkey")).alias("n"),
    )
    return ranked.groupBy("c_nationkey").agg(
        F.min("n").cast("long").alias("n_customers"),
        F.min(F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rn")))
        .cast("long")
        .alias("k_for_80pct"),
        F.round(
            F.min(F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rn")))
            / F.min("n").cast("double"),
            6,
        ).alias("share_of_customers"),
    )


@register(
    "weekday_hour_heatmap",
    oracle="""
        SELECT CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hr,
               count(*) AS n,
               round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                     / 100.0 / count(value), 4) AS avg_value
        FROM events GROUP BY 1, 2
    """,
    tags=("timeseries", "calendar", "heatmap", "extension"),
)
def q_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (ISO weekday 1 = Monday).
    Pure projection + one hash agg onto a ≤ 168-cell grid — the
    map-side partial aggregate collapses each task to the grid size,
    so the shuffle is constant-width at any SF."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
            "value",
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").alias("n"),
            # round-11 money completion: exact-cents mean, one pinned
            # double divide chain mirrored in the oracle
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0)
                / F.count("value"),
                4,
            ).alias("avg_value"),
        )
    )


@register(
    "qty_discount_heatmap",
    oracle="""
        SELECT CAST(ceil(l_quantity / 10.0) AS BIGINT) AS qty_band,
               CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        FROM lineitem GROUP BY 1, 2
    """,
    tags=("agg", "joint-distribution", "extension"),
)
def q_qty_discount_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint distribution of quantity band × discount percent — the
    2-D histogram an analyst reads before trusting a univariate one.
    Both axes are VALUE-domain grids (5 bands × ~11 discount points),
    not rank-based tiles, so there is no global sort anywhere: one
    hash aggregate onto a bounded grid."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.ceil(F.col("l_quantity") / 10.0).cast("long").alias("qty_band"),
            F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("qty_band", "disc_pct")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("price_cents"))
    )


@register(
    "corr_matrix_measures",
    oracle="""
        WITH m AS (
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
                   round(corr(l_quantity, l_discount), 6) AS qty_disc,
                   round(corr(l_quantity, l_tax), 6) AS qty_tax,
                   round(corr(l_extendedprice, l_discount), 6) AS price_disc,
                   round(corr(l_extendedprice, l_tax), 6) AS price_tax,
                   round(corr(l_discount, l_tax), 6) AS disc_tax
            FROM lineitem
        )
        SELECT 'qty_price' AS pair, qty_price AS corr FROM m
        UNION ALL SELECT 'qty_disc', qty_disc FROM m
        UNION ALL SELECT 'qty_tax', qty_tax FROM m
        UNION ALL SELECT 'price_disc', price_disc FROM m
        UNION ALL SELECT 'price_tax', price_tax FROM m
        UNION ALL SELECT 'disc_tax', disc_tax FROM m
    """,
    tags=("stats", "correlation-matrix", "extension"),
)
def q_corr_matrix_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four lineitem
    measures — all six pairs from ONE aggregate pass (no six scans),
    then unpivoted to (pair, corr) rows. Uses stats.safe_corr (moment
    form + zero-variance NULL guard); the ~1e-12 moment-cancellation
    noise vs the engines' co-moment kernels is absorbed by the 6 dp
    display round (accepted class, same as spearman_rank_corr)."""
    from velox_hadoop_spark.operators.stats import safe_corr

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_extendedprice").cast("double").alias("p"),
        F.col("l_discount").cast("double").alias("d"),
        F.col("l_tax").cast("double").alias("t"),
    )
    pairs = {
        "qty_price": ("q", "p"),
        "qty_disc": ("q", "d"),
        "qty_tax": ("q", "t"),
        "price_disc": ("p", "d"),
        "price_tax": ("p", "t"),
        "disc_tax": ("d", "t"),
    }
    agg = li.agg(
        *[
            F.round(safe_corr(F.col(a), F.col(b)), 6).alias(name)
            for name, (a, b) in pairs.items()
        ]
    )
    stack_args = ", ".join(f"'{name}', {name}" for name in pairs)
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (pair, corr)")
    )


@register(
    "rolling_median_7d",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        win AS (
            SELECT day, cents,
                   list_sort(list(cents) OVER (
                       ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   )) AS l
            FROM daily
        )
        SELECT day, cents,
               (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2.0 AS med7_cents
        FROM win
    """,
    tags=("timeseries", "rolling-median", "extension"),
)
def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day rolling MEDIAN of daily revenue — the
    robust twin of the rolling mean, which neither engine ships as a
    window builtin over arbitrary frames. The frame is ≤ 7 values, so
    the median is computed literally: collect the frame as a sorted
    array and average the two middle elements ((n+1)÷2 and n÷2+1 —
    equal when n is odd), stated IDENTICALLY in both engines so the
    even/odd and ramp-up (first 6 days) cells agree bit-for-bit.
    Single-partition window over the calendar-bounded daily spine
    (~2.4k rows at any SF) — the documented accepted class."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents()).alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day", "cents", F.sort_array(F.collect_list("cents").over(w)).alias("l")
    )
    n = F.size("l")
    mid1 = F.element_at("l", ((n + 1) / 2).cast("int"))
    mid2 = F.element_at("l", (n / 2 + 1).cast("int"))
    return win.select(
        "day", "cents", ((mid1 + mid2) / 2.0).alias("med7_cents")
    )


def _session_summary_oracle(gap_minutes: int) -> str:
    """One gap parameterization of the events_session_10m island SQL,
    aggregated to a single summary row carrying the gap as a column."""
    return f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '{gap_minutes} minutes' OR
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
            FROM flagged
        ),
        sessions AS (
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT CAST({gap_minutes} AS BIGINT) AS gap_minutes,
               count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(avg(CAST(n_events AS DOUBLE)), 4) AS avg_events,
               round(avg(CAST(span_us AS DOUBLE)) / 1e6, 4) AS avg_span_sec
        FROM sessions
    """


@register(
    "events_session_gap_param",
    oracle=" UNION ALL ".join(
        f"SELECT * FROM ({_session_summary_oracle(g)})" for g in (15, 60)
    ),
    tags=("streaming", "session", "gap-parameterized", "extension"),
)
def q_events_session_gap_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-parameterized sessionization: the SAME session kernel
    (streaming.events.session_agg — Spark's session_window, whose
    batch twin is the island SQL stated in the oracle) run at 15- and
    60-minute inactivity gaps, summarized side by side with the gap as
    a column — the sensitivity sweep a sessionization owner runs
    before freezing the gap constant. Two scans (one per gap), each
    one shuffle on user_id."""
    from velox_hadoop_spark.streaming.events import session_agg

    ev = read_table(spark, sf_dir, "events")
    outs = []
    for gap in (15, 60):
        s = session_agg(ev, f"{gap} minutes")
        summary = s.agg(
                F.count("*").alias("n_sessions"),
                F.sum("n_events").cast("long").alias("n_events"),
                F.round(F.avg(F.col("n_events").cast("double")), 4).alias("avg_events"),
                F.round(
                    F.avg(
                        (
                            F.unix_micros(F.col("session_end").cast("timestamp")) - F.unix_micros(F.col("session_start").cast("timestamp"))
                        ).cast("double")
                    )
                    / 1e6,
                    4,
                ).alias("avg_span_sec"),
        )
        outs.append(
            summary.select(
                F.lit(gap).cast("long").alias("gap_minutes"),
                "n_sessions",
                "n_events",
                "avg_events",
                "avg_span_sec",
            )
        )
    return outs[0].unionByName(outs[1])


@register(
    "window_peer_avg_exclude_self",
    oracle="""
        WITH b AS (
            SELECT c_custkey, c_nationkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
            FROM customer
        ),
        stats AS (
            SELECT c_custkey, c_nationkey, bal_cents,
                   sum(bal_cents) OVER (PARTITION BY c_nationkey) AS tot,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM b
        )
        SELECT c_custkey, c_nationkey, bal_cents,
               CASE WHEN n > 1 THEN
                   floor((tot - bal_cents) / (100.0 * (n - 1)) * 10000 + 0.5) / 10000
               END AS peer_avg_bal
        FROM stats
    """,
    tags=("window", "peer-average", "extension"),
)
def q_window_peer_avg_exclude_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer average EXCLUDING the current row — ANSI's `EXCLUDE CURRENT
    ROW` frame clause, which Spark's window API lacks, restated
    algebraically: (group sum − own value) / (n − 1), NULL for a
    singleton group (no peers ≠ zero peers). Integer cents under the
    subtraction; one unordered window (no sort) on nationkey."""
    b = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    w = Window.partitionBy("c_nationkey")
    stats = b.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.sum("bal_cents").over(w).alias("tot"),
        F.count("*").over(w).alias("n"),
    )
    return stats.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.when(
            F.col("n") > 1,
            # fix4 (floor(x·1e4 + 0.5)/1e4) instead of round(): the two
            # engines' double-round implementations disagree on exact
            # .xxxx5 ratio boundaries; this states ONE deterministic
            # half-up rule both can evaluate identically (llmops2._fix4)
            F.floor(
                (F.col("tot") - F.col("bal_cents"))
                / (100.0 * (F.col("n") - 1))
                * 10000
                + 0.5
            )
            / 10000,
        ).alias("peer_avg_bal"),
    )


# ---------------------------------------------------------------------------
# SQL breadth.
#
# Regexp count/position functions, per-user event path n-grams,
# position-based multi-touch attribution, year-over-year quarter growth,
# and weighted quartiles — the remaining everyday-SQL surface after
# the sections above.
#
# Reference parity: the regex surface extends the reference's Grep
# pipeline (Grep.java:62-100 — match count per line) to count/position
# aggregates; the rest is the window/aggregate breadth the reference's
# aggregation framework implies (Wordcount.java semantics).
# ---------------------------------------------------------------------------


ATTR_FIRST_W = 0.4  # position-based attribution: 40% first touch
ATTR_LAST_W = 0.4   # 40% last touch, middles share the remaining 20%


@register(
    "regexp_count_positions",
    oracle=r"""
        WITH m AS (
            SELECT source,
                   len(regexp_extract_all(text, '[aeiou][aeiou]+')) AS n_vruns,
                   strpos(text, 'table') AS first_table_pos
            FROM documents
        )
        SELECT source,
               CAST(sum(n_vruns) AS BIGINT) AS total_vowel_runs,
               CAST(count(*) FILTER (WHERE first_table_pos > 0) AS BIGINT)
                   AS docs_with_table,
               ROUND(avg(first_table_pos) FILTER (WHERE first_table_pos > 0), 6)
                   AS avg_first_table_pos
        FROM m GROUP BY source
    """,
    tags=("sql-breadth", "regexp", "extension"),
)
def q_regexp_count_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count / regexp_instr breadth: per source, total multi-
    vowel runs (a real regex count), how many docs mention a literal
    term, and the average first-match position among them. DuckDB has
    no regexp_count/regexp_instr, so the oracle states the equivalent
    len(regexp_extract_all) and strpos forms — the literal-pattern
    case where instr and regexp_instr provably coincide. Pure
    one-scan codegen'd expressions; avg over an empty match set is
    NULL in both engines (FILTER vs conditional aggregate)."""
    m = read_table(spark, sf_dir, "documents").select(
        "source",
        F.expr("regexp_count(text, '[aeiou][aeiou]+')").alias("n_vruns"),
        F.expr("regexp_instr(text, 'table')").alias("first_table_pos"),
    )
    matched = F.col("first_table_pos") > 0
    return m.groupBy("source").agg(
        F.sum("n_vruns").cast("long").alias("total_vowel_runs"),
        F.count(F.when(matched, 1)).cast("long").alias("docs_with_table"),
        F.round(F.avg(F.when(matched, F.col("first_table_pos"))), 6).alias(
            "avg_first_table_pos"
        ),
    )


@register(
    "event_path_3grams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || t2 || '>' || t3 AS path,
               count(*) AS n_occurrences
        FROM seq WHERE t3 IS NOT NULL
        GROUP BY 1
    """,
    tags=("sql-breadth", "sequence", "path-analysis", "extension"),
)
def q_event_path_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: every consecutive 3-step event-type
    path per user journey, counted corpus-wide — the n-gram view of
    event_type_transitions (which is the 2-step matrix). Order within
    a user is pinned to (ts, event_id) — the repo's island-window
    lesson: ties on ts alone would make lead() nondeterministic. One
    user-keyed window (per-partition sort bounded by a user's
    journey), one |types|³-bounded aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
    )


@register(
    "attribution_position_based",
    oracle=f"""
        WITH touches AS (
            SELECT user_id, event_type,
                   row_number() OVER w AS pos,
                   count(*) OVER (PARTITION BY user_id) AS k
            FROM events
            WHERE event_type IN ('view', 'click')
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        converters AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ),
        ct AS (
            SELECT t.event_type, t.pos, t.k
            FROM touches t JOIN converters c ON t.user_id = c.user_id
        ),
        base AS (
            SELECT event_type,
                   count(*) AS n_touches,
                   count(*) FILTER (WHERE k = 1) AS n_k1,
                   count(*) FILTER (WHERE k = 2) AS n_k2,
                   count(*) FILTER (WHERE k >= 3 AND (pos = 1 OR pos = k))
                       AS n_ends
            FROM ct GROUP BY event_type
        ),
        mids AS (
            SELECT event_type, k, count(*) AS m
            FROM ct WHERE k >= 3 AND pos > 1 AND pos < k
            GROUP BY event_type, k
        ),
        midfold AS (
            SELECT event_type,
                   list_sum(list_transform(
                       list({{'k': k, 'm': m}} ORDER BY k),
                       r -> r.m * CAST({(1.0 - ATTR_FIRST_W - ATTR_LAST_W)!r} AS DOUBLE)
                            / (r.k - 2)
                   )) AS mid_credit
            FROM mids GROUP BY event_type
        )
        SELECT b.event_type,
               CAST(b.n_touches AS BIGINT) AS n_touches,
               ROUND(b.n_k1 + 0.5 * b.n_k2
                     + CAST({ATTR_FIRST_W!r} AS DOUBLE) * b.n_ends
                     + coalesce(f.mid_credit, 0.0), 6) AS total_credit
        FROM base b LEFT JOIN midfold f ON b.event_type = f.event_type
    """,
    tags=("sql-breadth", "attribution", "position-based", "extension"),
)
def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: converting
    users' view/click touches share conversion credit 40% first /
    40% last / 20% split across the middle (k=1 → 1.0, k=2 → .5/.5) —
    beside the existing last-touch model, this is the other standard
    the marketing-analytics surface needs. Total credit conserves to
    the converter count (pinned by a brute-force recompute).

    Numeric shape: total_credit is NEVER a free-order SUM of per-row
    double credits (the accumulation-order class that flipped the
    Brown smoother's 4dp rounding) — the aggregate collapses to EXACT
    integer counters (k=1, k=2, first/last) plus a per-(type, k)
    middle count, and the only non-trivial double sum is an ORDERED
    fold over the tiny k-ascending (k, m) list, so both engines
    execute the identical float-op sequence. One user-keyed window
    for positions, a converters semi-join, domain-bounded aggregates."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("user_id")).alias("k"),
    )
    converters = (
        ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    ct = touches.join(converters, "user_id").select("event_type", "pos", "k")
    base = ct.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.count(F.when(F.col("k") == 1, 1)).alias("n_k1"),
        F.count(F.when(F.col("k") == 2, 1)).alias("n_k2"),
        F.count(
            F.when(
                (F.col("k") >= 3)
                & ((F.col("pos") == 1) | (F.col("pos") == F.col("k"))),
                1,
            )
        ).alias("n_ends"),
    )
    mids = (
        ct.where((F.col("k") >= 3) & (F.col("pos") > 1) & (F.col("pos") < F.col("k")))
        .groupBy("event_type", "k")
        .agg(F.count("*").alias("m"))
    )
    mid_w = 1.0 - ATTR_FIRST_W - ATTR_LAST_W
    midfold = mids.groupBy("event_type").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("k"), F.col("m")))
            ),
            F.lit(0.0),
            lambda acc, r: acc + r["m"] * F.lit(mid_w) / (r["k"] - 2),
        ).alias("mid_credit")
    )
    return base.join(midfold, "event_type", "left").select(
        "event_type",
        "n_touches",
        F.round(
            F.col("n_k1")
            + 0.5 * F.col("n_k2")
            + ATTR_FIRST_W * F.col("n_ends")
            + F.coalesce(F.col("mid_credit"), F.lit(0.0)),
            6,
        ).alias("total_credit"),
    )


@register(
    "yoy_quarter_growth",
    oracle="""
        WITH q AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_c
            FROM orders GROUP BY 1, 2
        )
        SELECT yr, qtr, rev_c / 100.0 AS revenue,
               ROUND((rev_c - lag(rev_c, 4) OVER (ORDER BY yr, qtr))
                     / (lag(rev_c, 4) OVER (ORDER BY yr, qtr) / 100.0) / 100.0,
                     6) AS yoy_growth
        FROM q
    """,
    tags=("sql-breadth", "window", "yoy", "extension"),
)
def q_yoy_quarter_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year quarterly revenue growth: lag(4) over the
    quarter spine (the seasonal-offset lag the MoM query doesn't
    cover). Revenue folds to integer cents first; the growth ratio is
    the only display-rounded double, NULL for the first year in both
    engines. The ordered window runs over the quarter spine —
    calendar-bounded rows regardless of fact volume."""
    q = read_table(spark, sf_dir, "orders").groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    )
    w = Window.orderBy("yr", "qtr")
    prev = F.lag("rev_c", 4).over(w)
    return q.select(
        "yr",
        "qtr",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.round(
            (F.col("rev_c") - prev) / (prev / 100.0) / 100.0, 6
        ).alias("yoy_growth"),
    )


@register(
    "weighted_quartiles_quantity",
    oracle="""
        WITH wq AS (
            SELECT l_returnflag, l_quantity,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
            FROM lineitem GROUP BY l_returnflag, l_quantity
        ),
        cum AS (
            SELECT l_returnflag, l_quantity,
                   SUM(w) OVER (
                       PARTITION BY l_returnflag ORDER BY l_quantity
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS tw
            FROM wq
        )
        SELECT l_returnflag,
               ROUND(min(l_quantity) FILTER (WHERE cw * 4 >= tw), 2) AS p25,
               ROUND(min(l_quantity) FILTER (WHERE cw * 2 >= tw), 2) AS p50,
               ROUND(min(l_quantity) FILTER (WHERE cw * 4 >= tw * 3), 2) AS p75
        FROM cum GROUP BY l_returnflag
    """,
    tags=("sql-breadth", "weighted-percentile", "extension"),
)
def q_weighted_quartiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted quantity quartiles per return flag — the
    quartile generalization of weighted_median_quantity, all three
    cuts from ONE cumulative-weight window (the membership predicates
    cw·4 ≥ tw / cw·2 ≥ tw / cw·4 ≥ 3·tw are exact integer-cents
    arithmetic, the repo's no-float-membership rule). The p50 column
    must equal weighted_median_quantity's answer — pinned by a
    cross-query test. Window input is the distinct-value frame
    (quantity domain ≤ 50 rows/flag), not the fact rows."""
    li = read_table(spark, sf_dir, "lineitem")
    wq = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = wq.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    pick = lambda cond, name: F.round(  # noqa: E731
        F.min(F.when(cond, F.col("l_quantity"))), 2
    ).alias(name)
    return cum.groupBy("l_returnflag").agg(
        pick(F.col("cw") * 4 >= F.col("tw"), "p25"),
        pick(F.col("cw") * 2 >= F.col("tw"), "p50"),
        pick(F.col("cw") * 4 >= F.col("tw") * 3, "p75"),
    )


@register(
    "revenue_share_two_level",
    oracle="""
        WITH rn AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT region, nation,
               cents / 100.0 AS revenue,
               ROUND(cents / CAST(sum(cents) OVER (PARTITION BY region) AS DOUBLE),
                     6) AS share_in_region,
               ROUND(sum(cents) OVER (PARTITION BY region)
                     / CAST(sum(cents) OVER () AS DOUBLE), 6) AS region_share,
               ROUND(cents / CAST(sum(cents) OVER () AS DOUBLE), 6)
                   AS share_of_total
        FROM rn
    """,
    tags=("sql-breadth", "ratio-to-report", "two-level", "extension"),
)
def q_revenue_share_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level ratio-to-report: each nation's revenue share WITHIN
    its region, the region's share of the total, and the nation's
    share of the total — the nested percent-of-parent layout every BI
    drilldown renders (the single-level nation_revenue_share only
    gives the last column). The fact table folds to integer cents at
    the (region, nation) grain FIRST, so both window sums run over the
    125-row dimension grid; each ratio is one double division of
    identical exact integers. Multiplicative consistency
    (share_in_region × region_share ≈ share_of_total) is pinned by a
    brute-force test."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rn = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rn.select(
        "region",
        "nation",
        (F.col("cents") / 100.0).alias("revenue"),
        F.round(
            F.col("cents") / F.sum("cents").over(w_reg).cast("double"), 6
        ).alias("share_in_region"),
        F.round(
            F.sum("cents").over(w_reg) / F.sum("cents").over(w_all).cast("double"),
            6,
        ).alias("region_share"),
        F.round(
            F.col("cents") / F.sum("cents").over(w_all).cast("double"), 6
        ).alias("share_of_total"),
    )


@register(
    "conversion_paths_top",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        conv AS (
            SELECT event_type || '>' || t2 AS prefix
            FROM seq WHERE t3 = 'purchase'
        ),
        tot AS (SELECT count(*) AS n FROM conv)
        SELECT prefix, count(*) AS n_conversions,
               ROUND(count(*) / CAST((SELECT n FROM tot) AS DOUBLE), 6)
                   AS share
        FROM conv GROUP BY prefix
    """,
    tags=("sql-breadth", "funnel", "path-analysis", "extension"),
)
def q_conversion_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-path mining: the two events immediately PRECEDING
    each purchase in a user's journey, counted and shared — which
    approach paths actually convert (the directed complement of
    event_path_3grams, which counts all paths). Same (ts, event_id)-
    pinned user window; the share denominator is a broadcast scalar.
    Share conservation (Σ shares = 1) is pinned in tests."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = read_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    conv = seq.where(F.col("t3") == "purchase").select(
        F.concat_ws(">", "event_type", "t2").alias("prefix")
    )
    tot = conv.agg(F.count("*").alias("n"))
    return (
        conv.groupBy("prefix")
        .agg(F.count("*").alias("n_conversions"))
        .crossJoin(F.broadcast(tot))
        .select(
            "prefix",
            "n_conversions",
            F.round(F.col("n_conversions") / F.col("n").cast("double"), 6).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SQL-surface breadth.
#
# ANSI try_* arithmetic (the overflow/zero-division NULL semantics a
# 100 TB pipeline needs instead of job-killing exceptions) and the
# width_bucket equi-width histogram builtin.
# ---------------------------------------------------------------------------


WB_LO, WB_HI, WB_N = 0.0, 500000.0, 20  # bucket width 25000, exact in binary


@register(
    "try_arithmetic_null_report",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_custkey % 100 AS den,
                   o_orderstatus AS st
            FROM orders
        ),
        t AS (
            SELECT CASE WHEN CAST(cents AS HUGEINT) * cents * 4000
                             > 9223372036854775807
                        THEN NULL ELSE cents * cents * 4000 END AS ov,
                   CASE WHEN den = 0 THEN NULL
                        ELSE cents / CAST(den AS DOUBLE) END AS dv,
                   TRY_CAST(st AS BIGINT) AS sc
            FROM c
        )
        SELECT count(*) AS n,
               CAST(count(*) - count(ov) AS BIGINT) AS n_overflow_null,
               CAST(count(*) - count(dv) AS BIGINT) AS n_divzero_null,
               CAST(count(sc) AS BIGINT) AS n_status_numeric,
               CAST(min(ov) AS BIGINT) AS min_ok_product,
               CAST(max(ov) AS BIGINT) AS max_ok_product
        FROM t
    """,
    tags=("sql-breadth", "try-arithmetic", "ansi", "extension"),
)
def q_try_arithmetic_null_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI try_* arithmetic surface: try_multiply turns int64 overflow
    into NULL (cents² × 4000 overflows for orders above ~$480k — a
    data-dependent mix, 601 rows at sf0.01), try_divide turns /0 into
    NULL, try_cast turns a non-numeric status into NULL — the
    null-on-error semantics that keep a 100 TB job alive where plain
    ANSI ops would kill the stage. The oracle states the expected
    results with explicit guards (DuckDB's default arithmetic already
    widens, so the CASE encodes the int64 boundary Spark enforces)."""
    c = read_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_custkey") % 100).alias("den"),
        F.col("o_orderstatus").alias("st"),
    )
    t = c.select(
        F.try_multiply(F.col("cents") * F.col("cents"), F.lit(4000).cast("long")).alias(
            "ov"
        ),
        F.try_divide(F.col("cents"), F.col("den")).alias("dv"),
        F.expr("try_cast(st AS BIGINT)").alias("sc"),  # a plain cast throws under ANSI
    )
    return t.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count("ov")).cast("long").alias("n_overflow_null"),
        (F.count("*") - F.count("dv")).cast("long").alias("n_divzero_null"),
        F.count("sc").cast("long").alias("n_status_numeric"),
        F.min("ov").cast("long").alias("min_ok_product"),
        F.max("ov").cast("long").alias("max_ok_product"),
    )


@register(
    "width_bucket_price_histogram",
    oracle=f"""
        WITH b AS (
            SELECT CASE WHEN o_totalprice < {WB_LO!r} THEN 0
                        WHEN o_totalprice >= {WB_HI!r} THEN {WB_N + 1}
                        ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1
                   END AS bucket,
                   o_totalprice AS p
            FROM orders
        )
        SELECT bucket, count(*) AS n_orders,
               ROUND(min(p), 2) AS min_price,
               ROUND(max(p), 2) AS max_price
        FROM b GROUP BY bucket
    """,
    tags=("sql-breadth", "width-bucket", "histogram", "extension"),
)
def q_width_bucket_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram via the width_bucket builtin
    (buckets 1..20 over [0, 500000), 0/21 for out-of-range). The
    bucket width 25000 is exact in binary and the low bound is 0, so
    Spark's (x−lo)/width and the oracle's floor(x/25000)+1 are the
    IDENTICAL IEEE computation — boundary prices land in the same
    bucket in both engines. One partial+final aggregate; the histogram
    is 22-row bounded at any scale."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                F.col("o_totalprice"), F.lit(WB_LO), F.lit(WB_HI), F.lit(WB_N)
            ).alias("bucket"),
            F.col("o_totalprice").alias("p"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("p"), 2).alias("min_price"),
            F.round(F.max("p"), 2).alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-function breadth: math, conditionals, timestamps,
# cryptographic digests.
#
# Completes the function-surface families started by string_functions /
# date_functions / array_functions (tpch_more.py): every column is a
# JVM codegen expression evaluated in the scan's projection — no UDFs,
# no shuffles beyond what the query itself needs.
#
# Float discipline: transcendental results (exp/ln/trig/pow) depend on
# the engine's libm in the last ulp, so every such column is fixed to 6
# decimals with the repo-standard ``floor(x*1e6 + 0.5)/1e6`` form — the
# same IEEE ops in both engines, immune to the HALF_UP-vs-double
# rounding split that plain round() has on exact .5 ties. sqrt is
# IEEE-correctly-rounded and ships raw.
# ---------------------------------------------------------------------------


def _fix6(c: Column) -> Column:
    return F.floor(c * 1000000 + 0.5) / 1000000


_DUCK_FIX6 = "floor(({}) * 1000000 + 0.5) / 1000000"


@register(
    "math_functions",
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               sqrt(l_extendedprice) AS price_sqrt,
               {_DUCK_FIX6.format("cbrt(l_extendedprice)")} AS price_cbrt,
               {_DUCK_FIX6.format("exp(l_discount)")} AS disc_exp,
               {_DUCK_FIX6.format("ln(l_extendedprice)")} AS price_ln,
               {_DUCK_FIX6.format("log10(l_extendedprice)")} AS price_log10,
               {_DUCK_FIX6.format("log2(l_extendedprice)")} AS price_log2,
               {_DUCK_FIX6.format("pow(1 + l_discount, 3)")} AS growth_pow,
               {_DUCK_FIX6.format("sin(l_discount)")} AS disc_sin,
               {_DUCK_FIX6.format("atan2(l_discount, 0.5)")} AS disc_atan2,
               CAST(sign(l_extendedprice - 30000) AS DOUBLE) AS above_30k,
               CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_hundreds,
               CAST(ceil(l_extendedprice / 100) AS BIGINT) AS price_hundreds_up,
               round(l_extendedprice, -2) AS price_round_h
        FROM lineitem
        WHERE l_orderkey % 97 = 0
    """,
    tags=("functions", "math", "extension"),
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function breadth: roots, exp/logs, power, trig, sign,
    floor/ceil and negative-digit rounding, on a pushed-down 1/97
    key-sampled lineitem slice."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 97 == 0)
    price, disc = F.col("l_extendedprice"), F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt(price).alias("price_sqrt"),
        _fix6(F.cbrt(price)).alias("price_cbrt"),
        _fix6(F.exp(disc)).alias("disc_exp"),
        _fix6(F.log(price)).alias("price_ln"),
        _fix6(F.log10(price)).alias("price_log10"),
        _fix6(F.log2(price)).alias("price_log2"),
        _fix6(F.pow(disc + 1, 3)).alias("growth_pow"),
        _fix6(F.sin(disc)).alias("disc_sin"),
        _fix6(F.atan2(disc, F.lit(0.5))).alias("disc_atan2"),
        F.signum(price - 30000).alias("above_30k"),
        F.floor(price / 100).alias("price_hundreds"),
        F.ceil(price / 100).alias("price_hundreds_up"),
        F.round(price, -2).alias("price_round_h"),
    )


@register(
    "conditional_functions",
    oracle="""
        SELECT o_orderkey,
               CASE o_orderstatus WHEN 'F' THEN 'final'
                                  WHEN 'O' THEN 'open'
                                  ELSE 'other' END AS status_cat,
               nullif(o_orderstatus, 'P') AS status_or_null,
               coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_filled,
               CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL
                    THEN 'known' ELSE 'tbd' END AS nvl2_equiv,
               least(o_totalprice, 250000.0) AS price_capped,
               greatest(o_totalprice, 1000.0) AS price_floored,
               o_totalprice / nullif(o_custkey % 3, 0) AS try_div,
               CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS bucket
        FROM orders
    """,
    tags=("functions", "conditional", "extension"),
)
def q_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-expression breadth: simple + searched CASE, nullif /
    coalesce / nvl2, least / greatest clamps, and try_divide's
    null-on-zero contract (the oracle states it as x / nullif(d, 0) —
    the ANSI equivalent). Divisors are 1, 2, or NULL, so every
    surviving quotient is an exact binary scaling — no rounding
    needed."""
    orders = read_table(spark, sf_dir, "orders")
    status = F.col("o_orderstatus")
    return orders.select(
        "o_orderkey",
        F.when(status == "F", "final")
        .when(status == "O", "open")
        .otherwise("other")
        .alias("status_cat"),
        F.nullif(status, F.lit("P")).alias("status_or_null"),
        F.coalesce(F.nullif(status, F.lit("P")), F.lit("pending")).alias("status_filled"),
        F.nvl2(F.nullif(status, F.lit("P")), F.lit("known"), F.lit("tbd")).alias("nvl2_equiv"),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("price_capped"),
        F.greatest(F.col("o_totalprice"), F.lit(1000.0)).alias("price_floored"),
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3).alias("try_div"),
        F.when(F.col("o_totalprice") > 250000, "big").otherwise("small").alias("bucket"),
    )


@register(
    "timestamp_functions",
    oracle="""
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               CAST(extract(minute FROM ts) AS BIGINT) AS m,
               CAST(extract(second FROM ts) AS BIGINT) AS s,
               strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
               make_date(CAST(extract(year FROM ts) AS INTEGER),
                         CAST(extract(month FROM ts) AS INTEGER),
                         CAST(extract(day FROM ts) AS INTEGER)) AS d
        FROM events
        WHERE event_id % 53 = 0
    """,
    tags=("functions", "timestamp", "extension"),
)
def q_timestamp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-function breadth on a key-sampled event slice: epoch
    seconds (floored, matching unix_timestamp's truncation), hour
    truncation, minute/second extraction, strftime-style formatting,
    and date reconstruction from extracted fields. The UTC session
    pin (driver contract) makes epoch and formatting identical to
    DuckDB's naive timestamps."""
    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") % 53 == 0)
    ts = F.col("ts")
    return ev.select(
        "event_id",
        F.unix_timestamp(ts).alias("epoch_s"),
        F.date_trunc("hour", ts).alias("hour_start"),
        F.minute(ts).cast("long").alias("m"),
        F.second(ts).cast("long").alias("s"),
        F.date_format(ts, "yyyy-MM-dd HH:mm").alias("fmt"),
        F.make_date(F.year(ts), F.month(ts), F.dayofmonth(ts)).alias("d"),
    )


@register(
    "hash_functions",
    oracle="""
        SELECT doc_id,
               md5(text) AS text_md5,
               sha256(text) AS text_sha256,
               md5(lang || '|' || text) AS keyed_md5,
               substr(md5(text), 1, 8) AS md5_prefix
        FROM documents
        WHERE doc_id % 7 = 0
    """,
    tags=("functions", "hash", "extension"),
)
def q_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-function parity: md5 and sha-256 hex (the digests the
    engine's dedup/checksum operators ride on — cross-engine equality
    here is what makes those oracles trustworthy), plus a keyed digest
    over a delimited concat and a truncated bucket prefix."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("text"))).alias("keyed_md5"),
        F.substring(F.md5("text"), 1, 8).alias("md5_prefix"),
    )
