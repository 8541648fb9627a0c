"""Time-series operators: spine generation, gap-fill, forward-fill,
resampling, interval and as-of joins, smoothing and changepoints.
[extension]

The hypertable/rollup pattern: aggregate events to a fixed grain, then
densify the result so every (entity, bucket) exists — missing buckets
get zero counts and a forward-filled carry of the last observed value.
The reference has no time semantics at all (its only timestamps are
profiling counters, reference: src/main/java/org/dicl/velox/mapreduce/
LeanRecordReader.java:88-91); this is the batch face of the streaming
windows in ``streaming/events.py``.

Scale notes: the spine is ``users × days`` — built from a broadcast
1-row min/max aggregate and an exploded ``sequence()``, so its size is
bounded by entity-count × grain and never by event volume. The dense
join is an equi-join on (entity, bucket) and the forward-fill is one
window shuffle on the entity key. Nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.join import asof_join
from velox_hadoop_spark.plans.registry import register


def daily_rollup(events: DataFrame) -> DataFrame:
    """Events → one row per (user, day) with count and rounded value sum."""
    from velox_hadoop_spark.functions.money import sum_money_cents

    return events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        sum_money_cents("value").alias("day_value"),
    )


def gap_fill_daily(events: DataFrame) -> DataFrame:
    """Densified per-user daily series over the global [min, max] day
    range: absent days appear with ``n_events = 0`` and ``day_value``
    NULL, and ``filled_value`` carries the last observed day_value
    forward (leading gaps stay NULL).
    """
    daily = daily_rollup(events)
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    spine = events.select("user_id").distinct().crossJoin(F.broadcast(days))
    ffill = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            "day_value",
            F.last("day_value", ignorenulls=True).over(ffill).alias("filled_value"),
        )
    )


@register(
    "events_gap_fill_daily",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('day', min(ts)) AS d0,
                   date_trunc('day', max(ts)) AS d1
            FROM events
        ),
        days AS (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d
        ),
        daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   count(*) AS n_events,
                   ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS day_value
            FROM events GROUP BY user_id, day
        )
        SELECT s.user_id, s.day,
               coalesce(d.n_events, 0) AS n_events,
               d.day_value,
               last_value(d.day_value IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM spine s LEFT JOIN daily d
          ON s.user_id = d.user_id AND s.day = d.day
    """,
    tags=("timeseries", "gap-fill", "extension"),
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily event series with forward-filled values."""
    return gap_fill_daily(read_table(spark, sf_dir, "events"))


EPOCH = "2024-01-01"  # week-index origin (first event day in the corpus)


def retention_cohorts(events: DataFrame, epoch: str = EPOCH) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in every later week they return.

    Week index = floor(days-since-epoch / 7) — a pure arithmetic
    bucketing (no engine-specific week-truncation semantics). The
    (user, week) stream is deduped FIRST, so everything downstream is
    bounded by active-users × weeks, not event volume; the cohort
    lookup is one equi-join on user_id reusing the dedup's hash
    partitioning.
    """
    wk = events.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit(epoch).cast("date")) / 7
        ).cast("long").alias("w"),
    ).distinct()
    coh = wk.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (
        wk.join(coh, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("w") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "retention_cohorts",
    oracle=f"""
        WITH wk AS (
            SELECT DISTINCT user_id,
                   (CAST(ts AS DATE) - DATE '{EPOCH}') // 7 AS w
            FROM events
        ),
        coh AS (SELECT user_id, min(w) AS cohort FROM wk GROUP BY user_id)
        SELECT CAST(c.cohort AS BIGINT) AS cohort_week,
               CAST(w.w - c.cohort AS BIGINT) AS week_offset,
               count(DISTINCT w.user_id) AS n_users
        FROM wk w JOIN coh c ON w.user_id = c.user_id
        GROUP BY 1, 2
    """,
    tags=("timeseries", "retention", "extension"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events table."""
    return retention_cohorts(read_table(spark, sf_dir, "events"))


@register(
    "retention_cohort_segment_matrix",
    oracle=f"""
        WITH wk AS (
            SELECT DISTINCT user_id,
                   (CAST(ts AS DATE) - DATE '{EPOCH}') // 7 AS w
            FROM events
        ),
        coh AS (SELECT user_id, min(w) AS cohort FROM wk GROUP BY user_id)
        SELECT CAST(c.cohort AS BIGINT) AS cohort_week,
               cu.c_mktsegment AS segment,
               CAST(w.w - c.cohort AS BIGINT) AS week_offset,
               count(DISTINCT w.user_id) AS n_users
        FROM wk w
        JOIN coh c ON w.user_id = c.user_id
        JOIN customer cu ON w.user_id = cu.c_custkey
        GROUP BY 1, 2, 3
    """,
    tags=("timeseries", "retention", "cohort", "extension"),
)
def q_retention_cohort_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional retention: acquisition-week cohort × customer
    market segment × week offset — the slice the BI layer asks for
    right after the 1-D matrix ("is week-4 retention worse for the
    BUILDING segment?"). Same arithmetic week bucketing and
    dedup-first shape as ``retention_cohorts``; the segment dimension
    arrives through one equi-join on user_id (SF-proportional dim, so
    the join strategy is left to the planner), and the output is
    bounded by cohorts × segments × offsets, never event volume."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    wk = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit(EPOCH).cast("date")) / 7
        ).cast("long").alias("w"),
    ).distinct()
    coh = wk.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (
        wk.join(coh, "user_id")
        .join(cust, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            "segment",
            (F.col("w") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# OHLC resampling, interval self-overlap joins, and cumulative
# first-seen user accumulation — the remaining shapes a time-series
# user expects after the round-3 family (gap fill, EWMA, seasonal
# anomaly, interarrival, rollups).
# ---------------------------------------------------------------------------


@register(
    "resample_weekly_ohlc",
    oracle="""
        WITH px AS (
            SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS wk,
                   o_totalprice,
                   first_value(o_totalprice) OVER w AS open,
                   last_value(o_totalprice) OVER w AS close
            FROM orders
            WINDOW w AS (
                PARTITION BY date_trunc('week', CAST(o_orderdate AS DATE))
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
            )
        )
        SELECT wk, max(open) AS open, max(o_totalprice) AS high,
               min(o_totalprice) AS low, max(close) AS close,
               count(*) AS n_orders
        FROM px GROUP BY wk
    """,
    tags=("timeseries", "resample", "ohlc", "extension"),
)
def q_resample_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC resample of order prices: open/close are the first/
    last order of the week under the total (date, orderkey) order,
    high/low the extremes. The open/close window and the final group
    both key on the week, so the table shuffles once on wk and the
    full-frame window never crosses partitions. Raw price values only
    — no sums, no rounding seams."""
    orders = read_table(spark, sf_dir, "orders")
    wk = F.date_trunc("week", F.col("o_orderdate").cast("date")).cast("date")
    w = (
        Window.partitionBy("wk")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    px = orders.withColumn("wk", wk).select(
        "wk",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("open"),
        F.last("o_totalprice").over(w).alias("close"),
    )
    return px.groupBy("wk").agg(
        F.max("open").alias("open"),
        F.max("o_totalprice").alias("high"),
        F.min("o_totalprice").alias("low"),
        F.max("close").alias("close"),
        F.count("*").alias("n_orders"),
    )


@register(
    "interval_overlap_pairs",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
        )
        SELECT a.user_id, count(*) AS n_overlapping
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND abs(a.t_us - b.t_us) < 300000000
        GROUP BY a.user_id
    """,
    tags=("timeseries", "interval-join", "extension"),
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-overlap join: each event opens a 5-minute window;
    count per user the unordered pairs of events whose windows overlap
    (|t_a - t_b| < 5 min). The join is an EQUI-join on user_id with
    the overlap as a residual predicate — per-user work is bounded by
    that user's event count, never the table (the all-pairs danger of
    interval joins is confined to a key). Time arithmetic rides
    integer microseconds (unix_micros / epoch_us), so the strict
    boundary cannot wobble in double."""
    ev = read_table(spark, sf_dir, "events")
    # ts may arrive as TIMESTAMP_NTZ (parquet ns sources): unix_micros
    # requires an instant, and the driver contract pins the session to
    # UTC, so the cast is wall-clock-preserving in both engines.
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    a = iv.select(
        F.col("user_id"),
        F.col("event_id").alias("a_id"),
        F.col("t_us").alias("a_us"),
    )
    b = iv.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("t_us").alias("b_us"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) < 300_000_000),
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_overlapping"))


@register(
    "cumulative_distinct_users",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT d, count(*) AS new_users FROM first_seen GROUP BY d
        )
        SELECT d, new_users,
               CAST(sum(new_users) OVER (
                   ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM daily
    """,
    tags=("timeseries", "distinct-accumulation", "extension"),
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user curve: each user counts once, on their
    first-seen day, and the running sum of those first-seen counts IS
    the distinct-to-date total — the decomposition that turns an
    unbounded running COUNT(DISTINCT) into two keyed aggregates plus
    a prefix sum over |days| rows (the only single-partition step is
    bounded by the calendar, not the data)."""
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# The scale-safe banded interval join (the production refinement of
# ``interval_overlap_pairs``), time-weighted averaging, forward as-of
# join, a watermark/late-data accounting batch twin for the streaming
# surface, session-length distribution, and per-source freshness SLAs.
# ---------------------------------------------------------------------------


_OVERLAP_US = 300_000_000  # 5 minutes in microseconds (shared with
# interval_overlap_pairs — the banded variant must answer identically)


@register(
    "interval_overlap_pairs_banded",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
        )
        SELECT a.user_id, count(*) AS n_overlapping
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND abs(a.t_us - b.t_us) < 300000000
        GROUP BY a.user_id
    """,
    tags=("timeseries", "interval-join", "banded", "extension"),
)
def q_interval_overlap_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe refinement of ``interval_overlap_pairs``: instead
    of an equi-join on user_id alone (per-key quadratic — a hot user
    with 10^6 events makes 10^12 residual comparisons), the join key is
    (user_id, time bucket) where the bucket width equals the overlap
    window. Side B explodes each event to its bucket and both
    neighbors, so every |Δt| < width pair meets in EXACTLY the bucket
    of side A's event (bucket(b) can differ from bucket(a) by at most
    1) — counted once, no dedup needed. Residual work per task is now
    bounded by events-per-(user, 5-minute bucket), not events-per-user.
    The oracle is the plain interval join: the banding is a physical
    optimization and must not change the answer."""
    iv = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    width = F.lit(_OVERLAP_US).cast("long")
    a = iv.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("t_us").alias("a_us"),
        (F.col("t_us") / width).cast("long").alias("bucket"),
    )
    b = iv.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("t_us").alias("b_us"),
        F.explode(
            F.array(
                (F.col("t_us") / width).cast("long") - 1,
                (F.col("t_us") / width).cast("long"),
                (F.col("t_us") / width).cast("long") + 1,
            )
        ).alias("b_bucket"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("bucket") == F.col("b_bucket"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) < width),
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_overlapping"))


@register(
    "time_weighted_avg_value",
    oracle="""
        WITH iv AS (
            SELECT user_id, epoch_us(ts) AS t_us,
                   CAST(round(value * 10000) AS BIGINT) AS v_fp,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_us
            FROM events
        ),
        agg AS (
            -- HUGEINT product: v_fp (≤ ~5e6) times a month-long gap in
            -- MICROS (~2.6e12) bounds a single interval at ~1.3e19 >
            -- int64 — DuckDB threw on the BIGINT multiply while Spark
            -- wrapped silently (round-9 review find; measured 20% of
            -- int64 consumed at sf0.01 already)
            SELECT user_id,
                   sum(CAST(v_fp AS HUGEINT) * (next_us - t_us)) AS wsum,
                   CAST(max(next_us) - min(t_us) AS BIGINT) AS span_us
            FROM iv WHERE next_us IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id,
               round(CAST(wsum AS DOUBLE) / span_us / 10000.0, 6) AS twa_value
        FROM agg WHERE span_us > 0
    """,
    tags=("timeseries", "time-weighted", "extension"),
)
def q_time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the step function each user's event
    values trace: Σ value_i · (t_{i+1} − t_i) / (t_last − t_first).
    Values ride 4-dp fixed-point integers and times integer micros, so
    the weighted sum is EXACT in any summation order (a raw double
    Σ(v·Δt) would hash-differ between engines on large users); one
    window + one grouped aggregate, both keyed on user_id — a single
    shuffle. The span is max(next_us) − min(t_us) over the weighted
    rows = t_last − t_first exactly (the last weighted row's next_us
    IS t_last; a max(t_us) here would stop one interval short and
    inflate the average). Single-event users (no interval, zero-width
    step function) are excluded by contract."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value") * 10000).cast("long").alias("v_fp"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w).alias("next_us"),
    )
    agg = (
        iv.where(F.col("next_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("v_fp").cast("decimal(38,0)")
                * (F.col("next_us") - F.col("t_us"))
            ).alias("wsum"),
            (F.max("next_us") - F.min("t_us")).alias("span_us"),
        )
    )
    return agg.where(F.col("span_us") > 0).select(
        "user_id",
        F.round(
            F.col("wsum").cast("double") / F.col("span_us") / 10000.0, 6
        ).alias("twa_value"),
    )


@register(
    "asof_join_forward",
    oracle="""
        WITH views AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'view'
        ),
        purch AS (
            SELECT user_id, ts, max(value) AS p_value FROM events
            WHERE event_type = 'purchase' GROUP BY user_id, ts
        )
        SELECT v.event_id, v.user_id, v.ts, v.value,
               (SELECT p.p_value FROM purch p
                WHERE p.user_id = v.user_id AND p.ts >= v.ts
                ORDER BY p.ts ASC, p.p_value DESC LIMIT 1) AS next_purchase_val
        FROM views v
    """,
    tags=("timeseries", "asof-join", "forward", "extension"),
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each view, the value of the user's next
    purchase at-or-after the view timestamp — the mirror of the
    backward as-of (``asof_join_events``), implemented with the same
    tagged-union + fill window run BACKWARD (last→first): one shuffle
    on the key, linear in rows, no correlated lookup per row. Purchase
    rows are pre-deduped per (user, ts) by max value, pinning the
    same-(key, ts) tie exactly as the backward kernel does."""
    ev = read_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    l = views.withColumn("__tag", F.lit(1)).withColumn(
        "__pv", F.lit(None).cast("double")
    )
    r = purch.select(
        "user_id",
        F.col("ts"),
        F.lit(0).alias("__tag"),
        F.col("p_value").alias("__pv"),
    ).withColumn("event_id", F.lit(None).cast("long")).withColumn(
        "value", F.lit(None).cast("double")
    )
    unioned = l.select("event_id", "user_id", "ts", "value", "__tag", "__pv").unionByName(
        r.select("event_id", "user_id", "ts", "value", "__tag", "__pv")
    )
    # Backward fill: order DESC so "next at-or-after" becomes "last seen
    # so far". At equal ts the purchase row must be visible to the view
    # row → purchases (tag 0) sort before views (tag 1) descending-wise
    # via __tag ASC; ties between purchases at the same ts are pre-
    # collapsed above.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "__tag",
        F.last("__pv", ignorenulls=True).over(w).alias("next_purchase_val"),
    )
    return filled.where(F.col("__tag") == 1).drop("__tag")


@register(
    "watermark_late_accounting",
    oracle="""
        WITH arr AS (
            SELECT event_id, ts, epoch_us(ts) AS t_us,
                   max(epoch_us(ts)) OVER (
                       ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - 600000000 AS wm_us
            FROM events
        )
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
               count(*) AS n_total,
               count(*) FILTER (WHERE t_us < wm_us) AS n_late_dropped,
               count(*) FILTER (WHERE t_us >= wm_us) AS n_kept
        FROM arr GROUP BY 1
    """,
    tags=("streaming", "watermark", "batch-twin", "extension"),
)
def q_watermark_late_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark / late-data accounting, batch twin: replay events in
    arrival order (event_id — the generator's ingestion order), carry
    the running max event time minus a 10-minute delay as the
    watermark, and report per tumbling hour how many events a
    streaming job WOULD have dropped as too-late vs kept. This is the
    sizing report you run before picking ``withWatermark``'s delay.

    Scale shape: the running max is a GLOBAL prefix scan, computed in
    two staged passes instead of one single-partition window — (1)
    per-arrival-bucket max (1M-event buckets, an ordinary grouped
    agg), (2) exclusive prefix max ACROSS buckets via a window over
    |data|/1M rows (a million-fold reduction; ~10⁶ rows even at 10¹²
    events), joined back UNHINTED — AQE broadcasts the fold table
    while it is small and falls back to a shuffle join at extreme
    scale — and folded with the within-bucket running max (window
    keyed on bucket — partition-parallel). The oracle states the
    plain global window; the staged plan must answer identically."""
    ev = read_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = (F.col("event_id") / 1_000_000).cast("long")
    base = ev.select(
        "event_id",
        "ts",
        t_us.alias("t_us"),
        bucket.alias("__bkt"),
    )
    # stage 1: per-bucket max arrival-time
    bmax = base.groupBy("__bkt").agg(F.max("t_us").alias("__bmax"))
    # stage 2: exclusive prefix max over buckets (|buckets| rows)
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    prior = bmax.select(
        "__bkt", F.max("__bmax").over(wb).alias("__prior")
    )
    # stage 3: within-bucket running max (keyed window), folded with the
    # prior-bucket max => exact global running max in arrival order
    wi = (
        Window.partitionBy("__bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        base.join(prior, "__bkt")
        .select(
            "event_id",
            "ts",
            "t_us",
            # greatest() skips NULLs: __prior is NULL only for the first
            # bucket, where the within-bucket running max alone is exact
            F.greatest(F.max("t_us").over(wi), F.col("__prior")).alias("__runmax"),
        )
        .withColumn("wm_us", F.col("__runmax") - F.lit(600_000_000))
    )
    return run.groupBy(
        F.date_trunc("hour", "ts").alias("win_start")
    ).agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("t_us") < F.col("wm_us"), 1)).alias("n_late_dropped"),
        F.count(F.when(F.col("t_us") >= F.col("wm_us"), 1)).alias("n_kept"),
    )


@register(
    "session_length_histogram",
    oracle="""
        WITH marks AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sess_id
            FROM marks
        ),
        lengths AS (
            SELECT user_id, sess_id,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000 AS mins
            FROM sess GROUP BY user_id, sess_id
        )
        SELECT CAST(least(floor(mins / 5), 6) AS BIGINT) AS bucket_5min,
               count(*) AS n_sessions
        FROM lengths GROUP BY 1
    """,
    tags=("timeseries", "sessionization", "histogram", "extension"),
)
def q_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution: 10-minute-gap sessions (the
    events_session_10m rule), bucketed into 5-minute duration bands
    with a capped tail (≥30 min). Duration math rides integer micros;
    the bucket index is exact integer floor-division, so band
    membership cannot wobble in double. Both windows order by
    (ts, event_id) — the repo's documented sessionization tiebreak: a
    ts-only ROWS frame would make session membership of same-timestamp
    events partition-order-dependent."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    marks = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                t_us - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > 600_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marks.select(
        "user_id", "ts", F.sum("new_sess").over(ws).alias("sess_id")
    )
    lengths = sess.groupBy("user_id", "sess_id").agg(
        (
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 60_000_000
        ).alias("mins")
    )
    return lengths.groupBy(
        F.least(F.floor(F.col("mins") / 5), F.lit(6)).cast("long").alias("bucket_5min")
    ).agg(F.count("*").alias("n_sessions"))


@register(
    "data_freshness_sla",
    oracle="""
        WITH per_type AS (
            SELECT event_type, max(ts) AS latest_ts, count(*) AS n_events
            FROM events GROUP BY event_type
        ),
        g AS (SELECT max(ts) AS global_max FROM events)
        SELECT p.event_type, p.latest_ts, p.n_events,
               CAST(floor((epoch_us(g.global_max) - epoch_us(p.latest_ts)) / 60000000) AS BIGINT)
                   AS lag_minutes,
               ((epoch_us(g.global_max) - epoch_us(p.latest_ts)) / 60000000 <= 60)
                   AS sla_ok
        FROM per_type p CROSS JOIN g
    """,
    tags=("ops", "freshness", "sla", "extension"),
)
def q_data_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness SLA: each event type's latest timestamp,
    its lag behind the globally freshest event (integer minutes), and
    a 60-minute SLA verdict. The global max is a 1-row broadcast
    scalar; per-type stats are one grouped aggregate — the monitoring
    query every ingestion pipeline runs."""
    ev = read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count("*").alias("n_events")
    )
    g = ev.agg(F.max("ts").alias("global_max"))
    lag_min = (
        (
            F.unix_micros(F.col("global_max").cast("timestamp"))
            - F.unix_micros(F.col("latest_ts").cast("timestamp"))
        )
        / 60_000_000
    )
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        "latest_ts",
        "n_events",
        # explicit floor: a bare double→BIGINT cast TRUNCATES in Spark
        # but ROUNDS in DuckDB — floor() pins one rule in both engines
        F.floor(lag_min).cast("long").alias("lag_minutes"),
        (lag_min <= 60).alias("sla_ok"),
    )


# ---------------------------------------------------------------------------
# Grouped / multi-key as-of joins (the per-symbol fill family a market-
# data or feature-store pipeline runs constantly), tolerance-bounded
# as-of, LOCF gap fill onto a per-group daily spine, MACD smoothing, and
# Kendall rank correlation over the day domain.
#
# Reference parity: the reference engine's join surface is the
# repartition/broadcast equi-join family (LeanJoin.java.bak:105-140,
# Step3Mapper.java:22-76); the as-of variants here are the standard
# extension of that surface to ordered keys, expressed as tagged-union +
# fill windows (one shuffle, no per-row lookups) rather than a
# correlated lookup per probe row.
# ---------------------------------------------------------------------------


# MACD spans (classic 12/26/9) expressed as smoothing factors
# alpha = 2/(span+1); the EMA is evaluated in truncated-window form
# over the daily spine (horizon below), like ewma_daily_revenue —
# the exact recursive form is not a relational expression, and the
# truncated form is what both engines can state identically.
MACD_FAST = 2.0 / 13.0
MACD_SLOW = 2.0 / 27.0
MACD_SIGNAL = 2.0 / 10.0
MACD_HORIZON = 60  # days; residual tail weight (1-a)^60 < 0.5% for all three

ASOF_TOLERANCE_S = 600  # tolerance-bounded as-of: 10 minutes


# ---------------------------------------------------------------------------
# Multi-key (grouped) backward as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_join_grouped_backward",
    oracle="""
        WITH views AS (
            SELECT user_id, CAST(ts AS DATE) AS d, ts, max(value) AS v
            FROM events WHERE event_type = 'view'
            GROUP BY user_id, CAST(ts AS DATE), ts
        ),
        p AS (
            SELECT event_id, user_id, CAST(ts AS DATE) AS d, ts, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.d, p.ts, p.value,
               (SELECT v.v FROM views v
                WHERE v.user_id = p.user_id AND v.d = p.d AND v.ts <= p.ts
                ORDER BY v.ts DESC, v.v DESC LIMIT 1) AS asof_view_value
        FROM p
    """,
    tags=("timeseries", "asof-join", "multi-key", "extension"),
)
def q_asof_join_grouped_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-KEY backward as-of join: for each purchase, the most
    recent view value at-or-before its timestamp within the same
    (user, calendar day) — the per-symbol/per-session variant of
    ``asof_join_events``. The composite key goes straight into the
    shared tagged-union kernel (``join.asof_join``), whose fill window
    now partitions on BOTH key columns: each window partition is one
    user-day, so the sort is local and bounded no matter how long the
    user's full history grows — the property the single-key form loses
    on multi-year hot users. The oracle is a correlated subquery
    (independent formulation, not a mirror of the fill window). Views
    on the same (user, day, ts) are pre-collapsed by max value, the
    kernel's documented tie rule."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "ts",
        "value",
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"), "ts")
        .agg(F.max("value").alias("v"))
    )
    out = asof_join(
        purchases,
        views,
        key=["user_id", "d"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["v"],
    )
    return out.select(
        "event_id", "user_id", "d", "ts", "value", F.col("asof_v").alias("asof_view_value")
    )


# ---------------------------------------------------------------------------
# Tolerance-bounded backward as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_join_tolerance",
    oracle=f"""
        WITH clicks AS (
            SELECT user_id, ts, max(value) AS v
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        p AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts, p.value,
               (SELECT c.v FROM clicks c
                WHERE c.user_id = p.user_id
                  AND c.ts <= p.ts
                  AND c.ts >= p.ts - INTERVAL {ASOF_TOLERANCE_S} SECOND
                ORDER BY c.ts DESC, c.v DESC LIMIT 1) AS click_value_10m
        FROM p
    """,
    tags=("timeseries", "asof-join", "tolerance", "extension"),
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded backward as-of: each purchase gets the user's
    most recent click value, but only if it is at most 10 minutes
    stale — older state is NULL (the staleness contract every
    feature-store point-in-time join carries). Same tagged-union +
    fill-window shape as the unbounded kernel, except the fill carries
    a (ts, value) STRUCT so the staleness of the carried click is
    known at the probe row, where one comparison nulls out expired
    state — no second join, no correlated lookup. The oracle is the
    independent correlated-subquery formulation with the window bound
    in the WHERE clause."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    l = purchases.withColumn("__tag", F.lit(1)).withColumn(
        "__cv", F.lit(None).cast("struct<ts:timestamp,v:double>")
    )
    r = clicks.select(
        "user_id",
        "ts",
        F.lit(0).alias("__tag"),
        F.struct(F.col("ts"), F.col("v")).alias("__cv"),
    ).select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        "__tag",
        "__cv",
    )
    unioned = l.select("event_id", "user_id", "ts", "value", "__tag", "__cv").unionByName(r)
    # click (tag 0) sorts before the purchase at equal ts → inclusive;
    # struct order (ts, v) makes the max-value same-ts click the carried
    # one, matching the pre-collapse + ORDER BY v DESC tie rule
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__tag", "__cv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "__tag",
        F.last("__cv", ignorenulls=True).over(w).alias("__last"),
    ).where(F.col("__tag") == 1)
    fresh = F.col("__last.ts") >= F.col("ts") - F.expr(
        f"INTERVAL {ASOF_TOLERANCE_S} SECOND"
    )
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("__last.v")).alias("click_value_10m"),
    )


# ---------------------------------------------------------------------------
# Grouped LOCF gap fill onto a per-group daily spine
# ---------------------------------------------------------------------------


@register(
    "grouped_locf_daily_fill",
    oracle="""
        WITH obs AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                         / 100.0 / count(value), 6) AS day_avg
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        spine AS (
            SELECT t.event_type, dd.d
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) dd
        ),
        filled AS (
            SELECT s.event_type, s.d, o.day_avg,
                   last_value(o.day_avg IGNORE NULLS) OVER (
                       PARTITION BY s.event_type ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS filled_avg,
                   last_value(o.d IGNORE NULLS) OVER (
                       PARTITION BY s.event_type ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS src_d
            FROM spine s LEFT JOIN obs o
              ON o.event_type = s.event_type AND o.d = s.d
        )
        SELECT event_type, d, filled_avg,
               CAST(date_diff('day', src_d, d) AS BIGINT) AS gap_days
        FROM filled WHERE filled_avg IS NOT NULL
    """,
    tags=("timeseries", "gap-fill", "locf", "grouped", "extension"),
)
def q_grouped_locf_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group LOCF (last observation carried forward) onto a daily
    spine: every (event_type, day) cell of the observed calendar gets
    the group's latest daily average at-or-before that day, plus how
    stale it is (gap_days) — the forward-fill every per-symbol price
    or sensor table needs before resampling. Scale shape: the fact
    table collapses to the (group × day) grain FIRST, so the spine is
    |groups| × |calendar| — bounded by the calendar, independent of
    fact rows — and the LOCF window partitions per group over that
    spine (a few thousand rows per group even at decades of days).
    Leading days before a group's first observation are dropped (no
    value to carry), exactly as the oracle's IS NOT NULL does."""
    ev = read_table(spark, sf_dir, "events")
    # round-11 money completion: the daily mean folds exact integer
    # cents (free-order-safe), one pinned double divide chain mirrored
    # in the oracle
    obs = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.lit(100.0)
            / F.count("value"),
            6,
        ).alias("day_avg")
    )
    types = ev.select("event_type").distinct()
    days = ev.select(F.col("ts").cast("date").alias("d")).distinct()
    spine = types.crossJoin(days)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(obs, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.last("day_avg", ignorenulls=True).over(w).alias("filled_avg"),
            F.last(F.when(F.col("day_avg").isNotNull(), F.col("d")), ignorenulls=True)
            .over(w)
            .alias("src_d"),
        )
    )
    return filled.where(F.col("filled_avg").isNotNull()).select(
        "event_type",
        "d",
        "filled_avg",
        F.datediff("d", "src_d").cast("long").alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# MACD over daily revenue
# ---------------------------------------------------------------------------


def _duck_trunc_ema(
    value: str,
    alpha: float,
    src: str = "daily",
    horizon: int = MACD_HORIZON,
    decay: float | None = None,
) -> str:
    """Truncated-window EMA fragment (DuckDB): weights (1-a)^age over a
    MACD_HORIZON-day lookback, adaptively normalized (same early-window
    behavior as pandas ewm(adjust=True)).

    Evaluated as an ORDERED SEQUENTIAL FOLD — list(… ORDER BY d) over
    the range frame, then list_sum(list_transform(…)) — never a plain
    SUM over join rows: double addition is non-associative, and a
    free-order SUM left each engine within one ulp of the other, which
    flipped a 4dp floor-rounding exactly on a .00005 boundary (caught
    at sf0.01 in the Brown smoother's second pass). The Spark twin
    folds the same frame in the same ascending-day order (collect_list
    + aggregate), so both engines execute the IDENTICAL float-op
    sequence — bit-equal results, no rounding luck. The decay constant
    is interpolated from one Python double (a textual ``1 - 0.3``
    would parse as DECIMAL arithmetic here)."""
    decay = (1.0 - alpha) if decay is None else decay
    wexpr = f"power({decay!r}, date_diff('day', r.bd, d))"
    return f"""
        SELECT d,
               list_sum(list_transform(lst, r -> r.x * {wexpr}))
                   / list_sum(list_transform(lst, r -> {wexpr})) AS ema
        FROM (
            SELECT d,
                   list({{'bd': d, 'x': {value}}}) OVER (
                       ORDER BY d
                       RANGE BETWEEN INTERVAL {horizon - 1} DAY PRECEDING
                       AND CURRENT ROW
                   ) AS lst
            FROM {src}
        )
    """


def trunc_ema_ordered(
    src: DataFrame,
    value: str,
    alpha: float,
    out: str,
    horizon: int = MACD_HORIZON,
    decay: float | None = None,
) -> DataFrame:
    """Spark twin of ``_duck_trunc_ema``: the same truncated EMA as an
    ordered fold over a range-frame window. collect_list over the
    ordered frame accumulates in ascending-day order; F.aggregate folds
    sequentially — the float-op sequence matches DuckDB's list_sum
    exactly (see the DuckDB fragment's docstring for why a free-order
    SUM cannot be used). The window is global over the DAY SPINE —
    calendar-bounded rows, the same single-partition class as the
    other spine windows (yoy, extrema), never fact-row-sized."""
    decay = (1.0 - alpha) if decay is None else decay
    od = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = Window.orderBy(od).rangeBetween(-(horizon - 1), 0)
    frame = src.select(
        "d",
        F.collect_list(
            F.struct(F.col("d").alias("bd"), F.col(value).alias("x"))
        )
        .over(w)
        .alias("lst"),
    )
    wexp = lambda r: F.pow(  # noqa: E731
        F.lit(decay), F.datediff(F.col("d"), r["bd"])
    )
    num = F.aggregate(
        F.col("lst"), F.lit(0.0), lambda acc, r: acc + r["x"] * wexp(r)
    )
    den = F.aggregate(F.col("lst"), F.lit(0.0), lambda acc, r: acc + wexp(r))
    return frame.select("d", (num / den).alias(out))


@register(
    "macd_daily_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS rev
            FROM orders GROUP BY 1
        ),
        fast AS ({_duck_trunc_ema("rev", MACD_FAST)}),
        slow AS ({_duck_trunc_ema("rev", MACD_SLOW)}),
        macd AS (
            SELECT f.d,
                   floor((f.ema - s.ema) * 10000 + 0.5) / 10000 AS macd
            FROM fast f JOIN slow s ON f.d = s.d
        ),
        sig AS (
            SELECT d, floor(ema * 10000 + 0.5) / 10000 AS signal
            FROM ({_duck_trunc_ema("macd", MACD_SIGNAL, src="macd")})
        )
        SELECT m.d, m.macd, g.signal,
               floor((m.macd - g.signal) * 10000 + 0.5) / 10000 AS histogram
        FROM macd m JOIN sig g ON m.d = g.d
    """,
    tags=("timeseries", "finance", "macd", "extension"),
)
def q_macd_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12/26/9) over daily order revenue: fast EMA minus slow
    EMA, a 9-span signal EMA over the MACD line, and their histogram —
    the standard momentum triple. EMAs are evaluated in truncated-
    window form (60-day horizon, adaptive normalization; residual tail
    weight < 0.5%) because the exact recursive form is not relational;
    both engines state the identical formula, and a plain-Python
    brute-force recompute pins it independently of the mirrored
    oracle (tests/test_round8_parity.py).

    Scale shape: revenue collapses to the day grain FIRST, so every
    window here runs on the calendar-bounded day spine (≈2.4k rows
    regardless of fact volume). Both engines evaluate every EMA as the
    SAME ordered sequential fold (see trunc_ema_ordered /
    _duck_trunc_ema) — bit-identical doubles end to end, so the 4dp
    rounding is pure display, not a parity crutch."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev")
    )
    fast = trunc_ema_ordered(daily, "rev", MACD_FAST, "ema_f")
    slow = trunc_ema_ordered(daily, "rev", MACD_SLOW, "ema_s")
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    macd = fast.join(slow, "d").select(
        "d", r4(F.col("ema_f") - F.col("ema_s")).alias("macd")
    )
    sig = trunc_ema_ordered(macd, "macd", MACD_SIGNAL, "sig_raw").select(
        "d", r4(F.col("sig_raw")).alias("signal")
    )
    return macd.join(sig, "d").select(
        "d",
        "macd",
        "signal",
        r4(F.col("macd") - F.col("signal")).alias("histogram"),
    )


# ---------------------------------------------------------------------------
# Kendall rank correlation (tau-b) over the day domain
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT CASE WHEN sign(a.rev_c - b.rev_c) = sign(a.n_orders - b.n_orders)
                         AND a.rev_c <> b.rev_c AND a.n_orders <> b.n_orders
                        THEN 1 ELSE 0 END AS conc,
                   CASE WHEN sign(a.rev_c - b.rev_c) = -sign(a.n_orders - b.n_orders)
                         AND a.rev_c <> b.rev_c AND a.n_orders <> b.n_orders
                        THEN 1 ELSE 0 END AS disc,
                   CASE WHEN a.rev_c = b.rev_c AND a.n_orders <> b.n_orders
                        THEN 1 ELSE 0 END AS tie_x,
                   CASE WHEN a.rev_c <> b.rev_c AND a.n_orders = b.n_orders
                        THEN 1 ELSE 0 END AS tie_y
            FROM daily a JOIN daily b ON a.d < b.d
        )
        SELECT CAST(sum(conc) AS BIGINT) AS n_concordant,
               CAST(sum(disc) AS BIGINT) AS n_discordant,
               ROUND(
                   (sum(conc) - sum(disc))
                   / sqrt((sum(conc) + sum(disc) + sum(tie_x))
                          * (sum(conc) + sum(disc) + sum(tie_y))),
                   6) AS tau_b
        FROM pairs
    """,
    tags=("stats", "rank-correlation", "kendall", "extension"),
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily order count:
    concordant minus discordant day pairs over the tie-corrected
    geometric mean (the rank correlation robust to the heavy ties a
    count column has). All comparisons run on INTEGER cents and
    counts, so concordance is exact — no float membership predicate.

    Scale shape: like spearman_rank_corr, the statistic is computed
    over the DAY domain, not the fact rows — the self-join is
    calendar-bounded (≈2.4k days → ~3M pairs at any SF) with one side
    broadcast, after a single grouped aggregate over the fact table.
    A plain-Python brute-force recompute pins the formula
    independently of the mirrored oracle."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"),
        F.count("*").alias("n_orders"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    dx = F.col("a.rev_c") - F.col("b.rev_c")
    dy = F.col("a.n_orders") - F.col("b.n_orders")
    # concordance via SIGN comparison, never dx*dy: the product of two
    # BIGINT deltas overflows int64 once daily revenue reaches ~1e13
    # cents (ANSI aborts; non-ANSI silently flips the sign) — the same
    # overflow class the Jarque-Bera kernel designs out
    both = (dx != 0) & (dy != 0)
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).select(
        F.when(both & (F.signum(dx) == F.signum(dy)), 1).otherwise(0).alias("conc"),
        F.when(both & (F.signum(dx) == -F.signum(dy)), 1).otherwise(0).alias("disc"),
        F.when((dx == 0) & (dy != 0), 1).otherwise(0).alias("tie_x"),
        F.when((dx != 0) & (dy == 0), 1).otherwise(0).alias("tie_y"),
    )
    agg = pairs.agg(
        F.sum("conc").alias("C"),
        F.sum("disc").alias("D"),
        F.sum("tie_x").alias("TX"),
        F.sum("tie_y").alias("TY"),
    )
    return agg.select(
        F.col("C").cast("long").alias("n_concordant"),
        F.col("D").cast("long").alias("n_discordant"),
        F.round(
            (F.col("C") - F.col("D"))
            / F.sqrt(
                (F.col("C") + F.col("D") + F.col("TX"))
                * (F.col("C") + F.col("D") + F.col("TY"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Brown double exponential smoothing (level + trend)
# ---------------------------------------------------------------------------

BROWN_ALPHA = 0.3  # smoothing factor for both EMA passes
# the trend gain is computed ONCE in Python and interpolated verbatim
# into BOTH engines: a textual "0.3 / 0.7" parses as DECIMAL division
# in DuckDB (0.428571...) vs the Python double in Spark — enough to
# flip the 4dp floor rounding exactly on a boundary
BROWN_K = BROWN_ALPHA / (1.0 - BROWN_ALPHA)


@register(
    "brown_double_smoothing_daily",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS rev
            FROM orders GROUP BY 1
        ),
        s1 AS ({_duck_trunc_ema("rev", BROWN_ALPHA)}),
        s1r AS (SELECT d, floor(ema * 10000 + 0.5) / 10000 AS s1 FROM s1),
        s2 AS ({_duck_trunc_ema("s1", BROWN_ALPHA, src="s1r")}),
        s2r AS (SELECT d, floor(ema * 10000 + 0.5) / 10000 AS s2 FROM s2)
        SELECT s1r.d,
               floor((2 * s1 - s2) * 10000 + 0.5) / 10000 AS level,
               floor({BROWN_K!r} * (s1 - s2)
                     * 10000 + 0.5) / 10000 AS trend,
               floor((2 * s1 - s2
                      + {BROWN_K!r} * (s1 - s2))
                     * 10000 + 0.5) / 10000 AS forecast_1d
        FROM s1r JOIN s2r ON s1r.d = s2r.d
    """,
    tags=("timeseries", "smoothing", "brown", "extension"),
)
def q_brown_double_smoothing_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown double exponential smoothing of daily revenue: two
    stacked truncated-window EMAs give level = 2·S1 − S2, trend =
    α/(1−α)·(S1 − S2), and the one-day-ahead forecast — the
    trend-aware smoother a demand-forecast pipeline runs after plain
    EWMA (the exact recursive Holt form is not relational; Brown's
    double-EMA variant is, under the same 60-day truncation as MACD).
    Both EMA passes run through the shared ordered-fold kernel
    (trunc_ema_ordered — bit-identical to the oracle's list fold; a
    free-order SUM flipped this query's second pass on a 4dp rounding
    boundary at sf0.01, which is why the kernel exists). Brute-force
    recompute in tests/test_round8_parity.py."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev")
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    s1 = trunc_ema_ordered(daily, "rev", BROWN_ALPHA, "e1").select(
        "d", r4(F.col("e1")).alias("s1")
    )
    s2 = trunc_ema_ordered(s1, "s1", BROWN_ALPHA, "e2").select(
        "d", r4(F.col("e2")).alias("s2")
    )
    k = BROWN_K
    return s1.join(s2, "d").select(
        "d",
        r4(2 * F.col("s1") - F.col("s2")).alias("level"),
        r4(F.lit(k) * (F.col("s1") - F.col("s2"))).alias("trend"),
        r4(
            2 * F.col("s1")
            - F.col("s2")
            + F.lit(k) * (F.col("s1") - F.col("s2"))
        ).alias("forecast_1d"),
    )


# ---------------------------------------------------------------------------
# Local extrema (turning points) of daily revenue
# ---------------------------------------------------------------------------


@register(
    "local_extrema_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_c
            FROM orders GROUP BY 1
        ),
        ctx AS (
            SELECT d, rev_c,
                   lag(rev_c) OVER (ORDER BY d) AS prv,
                   lead(rev_c) OVER (ORDER BY d) AS nxt
            FROM daily
        )
        SELECT d, rev_c / 100.0 AS revenue,
               CASE WHEN rev_c > prv AND rev_c > nxt THEN 'max'
                    ELSE 'min' END AS kind
        FROM ctx
        WHERE (rev_c > prv AND rev_c > nxt)
           OR (rev_c < prv AND rev_c < nxt)
    """,
    tags=("timeseries", "turning-points", "extension"),
)
def q_local_extrema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning points of the daily revenue series: days STRICTLY above
    (local max) or below (local min) both calendar neighbors — the
    peak/trough detector behind drawdown and changepoint reports.
    Comparisons run on integer cents (exact; a one-cent plateau is a
    tie and correctly NOT an extremum); boundary days with a NULL
    neighbor never qualify in either engine (NULL comparisons are
    not-true). One calendar-bounded ordered window over the day
    spine."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    )
    w = Window.orderBy("d")
    ctx = daily.select(
        "d",
        "rev_c",
        F.lag("rev_c").over(w).alias("prv"),
        F.lead("rev_c").over(w).alias("nxt"),
    )
    is_max = (F.col("rev_c") > F.col("prv")) & (F.col("rev_c") > F.col("nxt"))
    is_min = (F.col("rev_c") < F.col("prv")) & (F.col("rev_c") < F.col("nxt"))
    return ctx.where(is_max | is_min).select(
        "d",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.when(is_max, "max").otherwise("min").alias("kind"),
    )


# ---------------------------------------------------------------------------
# Time-to-convert percentiles (first view → first purchase)
# ---------------------------------------------------------------------------


@register(
    "time_to_convert_percentiles",
    oracle="""
        WITH fv AS (
            SELECT user_id, min(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        fp AS (
            SELECT f.user_id,
                   (epoch_us(min(p.ts)) - epoch_us(f.v_ts)) // 1000000 AS gap_s
            FROM fv f JOIN events p
              ON p.user_id = f.user_id
             AND p.event_type = 'purchase'
             AND p.ts >= f.v_ts
            GROUP BY f.user_id, f.v_ts
        ),
        gaps AS (SELECT CAST(gap_s AS BIGINT) AS g, count(*) AS c FROM fp GROUP BY 1),
        cum AS (
            SELECT g,
                   SUM(c) OVER (ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                   SUM(c) OVER () AS tw
            FROM gaps
        )
        SELECT CAST(any_value(tw) AS BIGINT) AS n_converters,
               CAST(min(g) FILTER (WHERE cw * 4 >= tw) AS BIGINT) AS p25_s,
               CAST(min(g) FILTER (WHERE cw * 2 >= tw) AS BIGINT) AS p50_s,
               CAST(min(g) FILTER (WHERE cw * 4 >= tw * 3) AS BIGINT) AS p75_s
        FROM cum
    """,
    tags=("timeseries", "funnel", "percentiles", "extension"),
)
def q_time_to_convert_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency quartiles: seconds from each user's FIRST
    view to their first purchase at-or-after it, summarized as
    p25/p50/p75 — the funnel-health number the per-stage counts
    (funnel_view_click_purchase) don't give. Percentile picks use the
    integer cumulative-count rule over the distinct-gap frame (the
    weighted_median membership discipline: cw·4 ≥ tw never rides a
    float, and both engines agree exactly — unlike interpolated
    quantiles whose midpoints differ per engine). Two grouped
    aggregates and one gap-domain window; no correlated per-user
    lookup (the first-purchase-after-view is a groupBy over the
    range-joined pairs, which AQE keeps a broadcast of the small
    first-view side)."""
    ev = read_table(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    fp = (
        fv.join(p, "user_id")
        .where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id", "v_ts")
        .agg(
            (
                F.unix_micros(F.min("ts").cast("timestamp"))
                - F.unix_micros(F.col("v_ts").cast("timestamp"))
            ).alias("gap_us")
        )
        # integer floor division in BOTH engines: a double divide +
        # cast would TRUNCATE here but ROUND in DuckDB's BIGINT cast
        .select(F.expr("gap_us DIV 1000000").alias("g"))
    )
    gaps = fp.groupBy("g").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = gaps.select(
        "g",
        F.sum("c").over(wcum).alias("cw"),
        F.sum("c").over(Window.partitionBy()).alias("tw"),
    )
    pick = lambda cond, name: F.min(F.when(cond, F.col("g"))).cast("long").alias(name)  # noqa: E731
    return cum.agg(
        F.any_value("tw").cast("long").alias("n_converters"),
        pick(F.col("cw") * 4 >= F.col("tw"), "p25_s"),
        pick(F.col("cw") * 2 >= F.col("tw"), "p50_s"),
        pick(F.col("cw") * 4 >= F.col("tw") * 3, "p75_s"),
    )


# ---------------------------------------------------------------------------
# Rolling 30-day OLS slope of daily revenue
# ---------------------------------------------------------------------------

OLS_WINDOW_D = 30
# x anchor near the TPC-H date midpoint: keeps |x| ~1e3 so x*x and
# n*sxx-sx*sx stay deep inside int64 at any SF (x*y still rides
# decimal/HUGEINT — y alone is SF-proportional)
OLS_X_ANCHOR = "1995-06-01"


@register(
    "rolling_ols_slope_30d",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   date_diff('day', DATE '{OLS_X_ANCHOR}', CAST(o_orderdate AS DATE))
                       AS x,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS y
            FROM orders GROUP BY 1, 2
        ),
        win AS (
            SELECT d,
                   count(*) OVER w AS n,
                   sum(x) OVER w AS sx,
                   sum(CAST(y AS HUGEINT)) OVER w AS sy,
                   sum(CAST(x AS HUGEINT) * y) OVER w AS sxy,
                   sum(x * x) OVER w AS sxx
            FROM daily
            WINDOW w AS (ORDER BY d
                RANGE BETWEEN INTERVAL {OLS_WINDOW_D - 1} DAY PRECEDING
                AND CURRENT ROW)
        )
        SELECT d, CAST(n AS BIGINT) AS n_days,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                     / 100.0, 6) AS slope_per_day
        FROM win
        WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
    tags=("timeseries", "regression", "rolling", "extension"),
)
def q_rolling_ols_slope_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS trend slope of daily revenue (dollars/day):
    the windowed least-squares fit a monitoring dashboard draws under
    the revenue line. The five sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) are EXACT integer window sums (x = days since epoch, y =
    integer cents), so both engines feed the closed-form slope
    identical integers — the only doubles are two single divisions,
    not order-dependent accumulations (the ordered-fold concern the
    EMA kernel handles does not arise). One calendar-bounded range
    window over the day spine; single-day windows emit nothing (zero
    x-variance guard, both engines)."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    ).withColumn(
        "x", F.datediff(F.col("d"), F.lit(OLS_X_ANCHOR).cast("date")).cast("long")
    )
    w = (
        Window.orderBy("x")
        .rangeBetween(-(OLS_WINDOW_D - 1), 0)
    )
    # Σxy and Σy ride decimal(38,0): x is anchored near the data's
    # midpoint (|x| stays ~1e3), but y is SF-proportional cents, so
    # the raw x*y window sum overflows int64 around 10 TB; decimal
    # sums stay exact (DuckDB twin: HUGEINT) and both engines feed
    # the closed-form slope identical integers
    win = daily.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).over(w).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    return win.where(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    ).select(
        "d",
        F.col("n").cast("long").alias("n_days"),
        F.round(
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / denom
            / 100.0,
            6,
        ).alias("slope_per_day"),
    )


# ---------------------------------------------------------------------------
# Volume-weighted pricing, SSE changepoint detection, trailing-window
# z-score anomalies, and interval-sweep order backlog — the remaining
# standard members of the daily-revenue analytics family.
#
# Numeric discipline (the r8 overflow/ordering classes, applied from the
# start): every SF-proportional sum of squares rides decimal(38,0) /
# HUGEINT, never int64; every rank/argmin membership decision rides
# either exact integers or doubles derived from exact integers through a
# PINNED op sequence (+,-,*,/ are IEEE-determined — no libm — so both
# engines produce bit-identical doubles); z-score row membership uses
# the repo's 4-dp floor-grid rule.
# ---------------------------------------------------------------------------


ZSCORE_WINDOW_D = 30  # trailing window (days), current day excluded
ZSCORE_MIN_DAYS = 10
ZSCORE_T = 2.5

_DAILY_ORACLE = """
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))


# ---------------------------------------------------------------------------
# Weekly VWAP
# ---------------------------------------------------------------------------


@register(
    "vwap_weekly_lineitem",
    oracle="""
        SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
               count(*) AS n_lines,
               CAST(sum(l_quantity) AS BIGINT) AS total_qty,
               ROUND(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE)
                     / sum(l_quantity) / 100.0, 6) AS vwap
        FROM lineitem GROUP BY 1
    """,
    tags=("timeseries", "vwap", "extension"),
)
def q_vwap_weekly_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly volume-weighted average unit price over lineitem:
    Σ extendedprice / Σ quantity per ship week (extendedprice is
    qty × unit price, so the ratio IS the quantity-weighted price).
    Revenue folds to integer cents; quantities are integral doubles
    (≤ 2⁵³, so their sum is order-independent and exact), making the
    displayed ratio a deterministic double in both engines. One
    partial+final aggregate keyed by the calendar week."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week_start")
    ).agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("double")
            / F.sum("l_quantity")
            / 100.0,
            6,
        ).alias("vwap"),
    )


# ---------------------------------------------------------------------------
# Single changepoint by SSE split (binary segmentation, first cut)
# ---------------------------------------------------------------------------


@register(
    "changepoint_sse_split_daily",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        cum AS (
            SELECT d, rev_c,
                   row_number() OVER (ORDER BY d) AS j,
                   sum(rev_c) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q
            FROM daily
        ),
        tot AS (
            SELECT count(*) AS n, sum(rev_c) AS sn,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) AS qn
            FROM daily
        ),
        costs AS (
            SELECT c.d, c.j, t.n,
                   (CAST(c.q AS DOUBLE)
                    - CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE) / c.j)
                   + (CAST(t.qn - c.q AS DOUBLE)
                      - CAST(t.sn - c.s AS DOUBLE) * CAST(t.sn - c.s AS DOUBLE)
                        / (t.n - c.j)) AS cost,
                   CAST(c.s AS DOUBLE) / c.j / 100.0 AS mean_left,
                   CAST(t.sn - c.s AS DOUBLE) / (t.n - c.j) / 100.0 AS mean_right
            FROM cum c CROSS JOIN tot t
            WHERE c.j < t.n
        )
        SELECT d AS split_day, CAST(j AS BIGINT) AS n_left,
               CAST(n - j AS BIGINT) AS n_right,
               ROUND(cost, 4) AS sse_cents2,
               ROUND(mean_left, 6) AS mean_left,
               ROUND(mean_right, 6) AS mean_right
        FROM (
            SELECT *, row_number() OVER (ORDER BY cost ASC, d ASC) AS rn
            FROM costs
        ) WHERE rn = 1
    """,
    tags=("timeseries", "changepoint", "extension"),
)
def q_changepoint_sse_split_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of the daily-revenue series: the split
    day minimizing total within-segment SSE (binary segmentation's
    first cut). Costs come from exact integer prefix sums (Σx as
    BIGINT, Σx² as decimal(38,0)/HUGEINT — the int64-overflow class)
    converted once to double through the identical op sequence in both
    engines, so the argmin is bit-deterministic; ties break on the
    earlier day. Windows run over the calendar-bounded day spine."""
    daily = _daily(spark, sf_dir)
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sq = F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")
    cum = daily.select(
        "d",
        "rev_c",
        F.row_number().over(Window.orderBy("d")).alias("j"),
        F.sum("rev_c").over(wc).alias("s"),
        F.sum(sq).over(wc).alias("q"),
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("rev_c").alias("sn"),
        F.sum(sq).alias("qn"),
    )
    sd, jd = F.col("s").cast("double"), F.col("j")
    rs = (F.col("sn") - F.col("s")).cast("double")
    cost = (
        F.col("q").cast("double") - sd * sd / jd
    ) + (
        (F.col("qn") - F.col("q")).cast("double") - rs * rs / (F.col("n") - jd)
    )
    costs = (
        cum.crossJoin(tot)
        .where(F.col("j") < F.col("n"))
        .select(
            "d",
            "j",
            "n",
            cost.alias("cost"),
            (sd / jd / 100.0).alias("mean_left"),
            (rs / (F.col("n") - jd) / 100.0).alias("mean_right"),
        )
    )
    w = Window.orderBy(F.asc("cost"), F.asc("d"))
    return (
        costs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("d").alias("split_day"),
            F.col("j").cast("long").alias("n_left"),
            (F.col("n") - F.col("j")).cast("long").alias("n_right"),
            F.round("cost", 4).alias("sse_cents2"),
            F.round("mean_left", 6).alias("mean_left"),
            F.round("mean_right", 6).alias("mean_right"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing-30d z-score anomalies (current day excluded)
# ---------------------------------------------------------------------------


@register(
    "rolling_zscore_anomaly_days",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        od AS (
            SELECT d, rev_c, datediff('day', DATE '1970-01-01', d) AS od
            FROM daily
        ),
        win AS (
            SELECT d, rev_c,
                   count(*) OVER w AS n30,
                   sum(rev_c) OVER w AS s30,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) OVER w AS q30
            FROM od
            WINDOW w AS (ORDER BY od
                RANGE BETWEEN {ZSCORE_WINDOW_D} PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT d, rev_c, n30,
                   (rev_c - CAST(s30 AS DOUBLE) / n30)
                   / sqrt((CAST(q30 AS DOUBLE)
                           - CAST(s30 AS DOUBLE) * CAST(s30 AS DOUBLE) / n30)
                          / (n30 - 1)) AS z
            FROM win
            WHERE n30 >= {ZSCORE_MIN_DAYS}
              AND (CAST(q30 AS DOUBLE)
                   - CAST(s30 AS DOUBLE) * CAST(s30 AS DOUBLE) / n30) > 0
        )
        SELECT d, rev_c / 100.0 AS revenue,
               CAST(n30 AS BIGINT) AS n_days,
               ROUND(z, 4) AS z
        FROM z
        WHERE floor(abs(z) * 10000 + 0.5) / 10000 > {ZSCORE_T}
    """,
    tags=("timeseries", "anomaly", "z-score", "extension"),
)
def q_rolling_zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue sits more than 2.5 trailing sample standard
    deviations from the trailing 30-day mean (current day EXCLUDED —
    the anomaly is judged against its own past, the monitoring form).
    Moments come from exact integer window sums (Σx², decimal-38 /
    HUGEINT); membership rides the repo's 4-dp floor grid; a
    zero-variance window is skipped in both engines. The range window
    runs over the calendar-bounded day spine."""
    daily = _daily(spark, sf_dir).withColumn(
        "od", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    )
    w = Window.orderBy("od").rangeBetween(-ZSCORE_WINDOW_D, -1)
    sq = F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")
    win = daily.select(
        "d",
        "rev_c",
        F.count("*").over(w).alias("n30"),
        F.sum("rev_c").over(w).alias("s30"),
        F.sum(sq).over(w).alias("q30"),
    )
    mu = F.col("s30").cast("double") / F.col("n30")
    ss = F.col("q30").cast("double") - F.col("s30").cast("double") * F.col(
        "s30"
    ).cast("double") / F.col("n30")
    z = (F.col("rev_c") - mu) / F.sqrt(ss / (F.col("n30") - 1))
    zed = (
        win.where((F.col("n30") >= ZSCORE_MIN_DAYS) & (ss > 0))
        .select("d", "rev_c", "n30", z.alias("z"))
    )
    return zed.where(
        F.floor(F.abs(F.col("z")) * 10000 + F.lit(0.5)) / 10000 > ZSCORE_T
    ).select(
        "d",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.col("n30").cast("long").alias("n_days"),
        F.round("z", 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# Open-order backlog (interval +1/-1 sweep)
# ---------------------------------------------------------------------------


@register(
    "open_order_backlog_daily",
    oracle="""
        WITH closes AS (
            SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS cd
            FROM lineitem GROUP BY l_orderkey
        ),
        spans AS (
            SELECT CAST(o.o_orderdate AS DATE) AS od, c.cd
            FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
        ),
        opens AS (SELECT od AS d, count(*) AS n FROM spans GROUP BY od),
        closed AS (SELECT cd AS d, count(*) AS n FROM spans GROUP BY cd),
        days AS (
            SELECT coalesce(o.d, c.d) AS d,
                   coalesce(o.n, 0) AS n_opened,
                   coalesce(c.n, 0) AS n_closed
            FROM opens o FULL OUTER JOIN closed c ON o.d = c.d
        )
        SELECT d,
               CAST(n_opened AS BIGINT) AS n_opened,
               CAST(n_closed AS BIGINT) AS n_closed,
               CAST(sum(n_opened - n_closed) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS open_backlog
        FROM days
    """,
    tags=("timeseries", "interval-sweep", "backlog", "extension"),
)
def q_open_order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-day open-order backlog via the interval +1/−1 sweep: an
    order opens on its order date and closes when its last line ships
    (closed orders leave the backlog at end of close day). The sweep
    is two domain-bounded daily aggregates and one running sum over
    the calendar spine — never a day × open-order join, which is the
    quadratic trap at scale. Final backlog is 0 by construction (every
    order with lineitems eventually ships), pinned in tests."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    closes = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("cd")
    )
    spans = orders.join(
        closes, orders.o_orderkey == closes.l_orderkey
    ).select(F.to_date("o_orderdate").alias("od"), "cd")
    opens = spans.groupBy(F.col("od").alias("d")).agg(F.count("*").alias("n_o"))
    closed = spans.groupBy(F.col("cd").alias("d")).agg(F.count("*").alias("n_c"))
    days = (
        opens.join(closed, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_o", F.lit(0)).alias("n_opened"),
            F.coalesce("n_c", F.lit(0)).alias("n_closed"),
        )
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return days.select(
        "d",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum(F.col("n_opened") - F.col("n_closed")).over(wc).cast("long").alias(
            "open_backlog"
        ),
    )


# ---------------------------------------------------------------------------
# Peak trailing-1h event rate per user
# ---------------------------------------------------------------------------


@register(
    "peak_hourly_rate_per_user",
    oracle="""
        WITH e AS (
            -- floor(epoch(ts)): DuckDB's epoch() keeps fractional
            -- seconds while Spark's unix_timestamp truncates; an
            -- unfloored axis shifts the RANGE window bounds by the
            -- fraction and admits different rows per engine (the
            -- sqlbreadth.py timestamp-parity rule; caught in the round-9
            -- review pass)
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
        ),
        rates AS (
            SELECT user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY es
                       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
                   ) AS r
            FROM e
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(r) AS BIGINT) AS peak_1h
        FROM rates GROUP BY user_id
    """,
    tags=("timeseries", "events", "burst", "extension"),
)
def q_peak_hourly_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak trailing-one-hour event rate per user: for every event, the
    count of that user's events in (t−3599s, t], maxed per user — the
    burst-detection number a rate-limiter or bot filter keys on. The
    range window is keyed per user (bounded by one user's activity) on
    integer epoch seconds; counts are exact, so the whole row is
    integer-deterministic. One shuffle on user_id."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es").rangeBetween(-3599, 0)
    rates = e.select("user_id", F.count("*").over(w).alias("r"))
    return rates.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("r").cast("long").alias("peak_1h"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest (forecast = value 7 calendar days earlier)
# ---------------------------------------------------------------------------


@register(
    "seasonal_naive_backtest",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        j AS (
            SELECT a.d, a.rev_c AS actual_c, b.rev_c AS forecast_c,
                   CAST(floor(1000000.0 * abs(a.rev_c - b.rev_c) / a.rev_c + 0.5)
                        AS BIGINT) AS ape_u
            FROM daily a JOIN daily b ON b.d = a.d - 7
            WHERE a.rev_c > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(CASE WHEN forecast_c > actual_c THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over,
               CAST(sum(CASE WHEN forecast_c < actual_c THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_under,
               ROUND(sum(ape_u) / (count(*) * 1000000.0), 6) AS mape
        FROM j
    """,
    tags=("timeseries", "forecast", "backtest", "extension"),
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue as
    the SAME WEEKDAY one week earlier (the benchmark every real
    forecaster must beat — if Holt/ARIMA can't out-MAPE naive-7, ship
    naive-7), scored by in-sample MAPE plus over/under-forecast day
    counts. The lag is a CALENDAR self-join on d−7, not a row lag, so
    missing days never misalign the season. Revenues are exact integer
    cents; each day's absolute percentage error is quantized to integer
    micro-units (floor ·1e6 + 0.5 of a double computed from exact
    integers — bit-identical in both engines), so the MAPE numerator is
    an exact integer sum with no free-order float accumulation. One
    grouped aggregate + one calendar-bounded self-join (day-domain
    sized: ~2.4k rows at ANY SF), one scalar aggregate."""
    daily = _daily(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    j = (
        a.join(F.broadcast(b), F.col("b.d") == F.date_sub(F.col("a.d"), 7))
        .where(F.col("a.rev_c") > 0)
        .select(
            F.col("a.rev_c").alias("actual_c"),
            F.col("b.rev_c").alias("forecast_c"),
            F.floor(
                1000000.0
                * F.abs(F.col("a.rev_c") - F.col("b.rev_c"))
                / F.col("a.rev_c")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("ape_u"),
        )
    )
    return j.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(F.col("forecast_c") > F.col("actual_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_over"),
        F.sum(F.when(F.col("forecast_c") < F.col("actual_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_under"),
        F.round(F.sum("ape_u") / (F.count("*") * F.lit(1000000.0)), 6).alias("mape"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonality strength (variance decomposition, eta-squared)
# ---------------------------------------------------------------------------


@register(
    "weekday_seasonality_strength",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        g AS (
            SELECT dayofweek(d) + 1 AS dow,
                   count(*) AS ng,
                   CAST(sum(rev_c) AS BIGINT) AS sg
            FROM daily GROUP BY 1
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rev_c) AS BIGINT) AS s,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) AS ssq
            FROM daily
        ),
        terms AS (
            SELECT CAST(floor(
                       1000000.0 * ng
                       * ((CAST(sg AS DOUBLE) / ng - CAST(t.s AS DOUBLE) / t.n)
                          / (CAST(t.s AS DOUBLE) / t.n))
                       * ((CAST(sg AS DOUBLE) / ng - CAST(t.s AS DOUBLE) / t.n)
                          / (CAST(t.s AS DOUBLE) / t.n))
                       + 0.5) AS BIGINT) AS ssb_u
            FROM g CROSS JOIN t
        ),
        agg AS (
            SELECT (SELECT CAST(sum(ssb_u) AS BIGINT) FROM terms) AS ssb_rel_u,
                   CAST(floor(1000000.0
                              * (CAST(t.ssq AS DOUBLE)
                                 / ((CAST(t.s AS DOUBLE) / t.n)
                                    * (CAST(t.s AS DOUBLE) / t.n))
                                 - t.n) + 0.5)
                        AS BIGINT) AS sst_rel_u,
                   t.n AS n_days
            FROM t
        )
        SELECT n_days, ssb_rel_u, sst_rel_u,
               ROUND(CAST(ssb_rel_u AS DOUBLE) / sst_rel_u, 6) AS eta_squared
        FROM agg
        WHERE sst_rel_u > 0
    """,
    tags=("timeseries", "seasonality", "variance-decomposition", "extension"),
)
def q_weekday_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of daily-revenue variance the weekday explains:
    η² = SS_between(weekday) / SS_total over the daily series — the
    seasonality-strength number that decides whether a forecaster needs
    a weekly component at all (read next to ``seasonal_naive_backtest``:
    high η² ⇒ naive-7 is hard to beat). Exactness discipline: group
    sums and the total sum-of-squares are exact integers (cents /
    HUGEINT-cents²); each of the 7 between-group terms is computed in
    double FROM those exact integers, NORMALIZED by the mean daily
    revenue (η² is scale-free, so relative terms never outgrow int64
    at any SF — raw cents² already overflow int64 at sf0.01, which the
    gate caught), then quantized to integer micro-units BEFORE the
    cross-group sum — both engines sum 7 exact BIGINTs, no free-order
    float accumulation. The quantized relative SSB and SST are
    THEMSELVES output columns (hash-exact), with the ratio as the
    single displayed double."""
    daily = _daily(spark, sf_dir)
    g = daily.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.count("*").alias("ng"), F.sum("rev_c").alias("sg")
    )
    t = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev_c").alias("s"),
        F.sum(F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).alias("ssq"),
    )
    m = F.col("s").cast("double") / F.col("n")
    rel = (F.col("sg").cast("double") / F.col("ng") - m) / m
    terms = g.crossJoin(F.broadcast(t)).select(
        F.floor(F.lit(1000000.0) * F.col("ng") * rel * rel + F.lit(0.5))
        .cast("long")
        .alias("ssb_u")
    )
    ssb = terms.agg(F.sum("ssb_u").cast("long").alias("ssb_rel_u"))
    return (
        t.crossJoin(F.broadcast(ssb))
        .select(
            F.col("n").alias("n_days"),
            F.col("ssb_rel_u"),
            F.floor(
                F.lit(1000000.0)
                * (F.col("ssq").cast("double") / (m * m) - F.col("n"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("sst_rel_u"),
        )
        .where(F.col("sst_rel_u") > 0)
        .select(
            "n_days",
            "ssb_rel_u",
            "sst_rel_u",
            F.round(F.col("ssb_rel_u").cast("double") / F.col("sst_rel_u"), 6).alias(
                "eta_squared"
            ),
        )
    )
