"""Sequence / market-basket / seasonal mining operators. [extension]

Behavioral-analytics surface over the events and orders tables: Markov
transition matrices, association rules (support / confidence / lift),
exponentially-weighted smoothing, weekday-seasonal anomaly scoring,
RFM segmentation, and bipartite k-core peeling. The reference engine
(Java MapReduce wordcount/grep/join/pagerank, reference:
src/main/java/org/dicl/velox/benchmark/) has no sequence or basket
semantics; these are the operators a behavioral / training-data
pipeline layers on top of the same primitives (window lag/lead,
self-join on a shared key, grouped aggregation).

Scale notes, per operator:

* transitions — one shuffle on user_id serves the lag window; the
  (prev, next) matrix is at most |event_type|² rows. Scale-safe.
* affinity — in-row basket pair generation fans out quadratically PER
  ORDER, but order width is bounded by the data model (TPC-H ≤ 7 lines
  per order), so total fanout is linear in orders. No hot-key cap
  needed — unlike document shingles, the basket key cannot be hot.
* ewma / seasonal — operate on the DAILY grain, whose cardinality is
  bounded by the calendar (≈ 2.4k rows for the TPC-H date range), not
  by fact volume: one aggregate shrinks 100 TB to a broadcastable
  spine, and every non-equi join here is against that spine.
* rfm — windows are partitioned by market segment, never global: no
  single-partition NTILE serialization at scale.
* k-core — each peel round is two grouped degree counts + two
  broadcast-able semi-joins on the shrinking edge set; rounds are
  unrolled (fixed 3) so the oracle stays pure SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.pairs import id_pairs
from velox_hadoop_spark.operators.timeseries import _duck_trunc_ema, trunc_ema_ordered
from velox_hadoop_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "event_type_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )
        SELECT prev_type, next_type, n,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS prob
        FROM pairs
    """,
    tags=("mining", "markov", "sequence", "extension"),
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for each
    user's time-ordered event stream (ties broken by event_id), count
    consecutive (prev → next) pairs and normalize rows to transition
    probabilities.

    One shuffle on user_id feeds the lag window; the matrix aggregate
    and the row-normalizing window both run on the tiny
    |event_type|²-bounded result.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    row_total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(row_total), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules over order line items
# ---------------------------------------------------------------------------

_MIN_PAIR_SUPPORT = 2  # absolute co-occurrence floor for emitted rules


@register(
    "part_affinity_lift",
    oracle=f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        nord AS (SELECT count(DISTINCT ok) AS n_orders FROM baskets),
        item AS (SELECT pk, count(*) AS n_item FROM baskets GROUP BY pk),
        pair AS (
            SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_pair
            FROM baskets a JOIN baskets b
              ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
            HAVING count(*) >= {_MIN_PAIR_SUPPORT}
        )
        SELECT p1, p2, n_pair,
               ROUND(n_pair * 1.0 / n_orders, 6) AS support,
               ROUND(n_pair * 1.0 / i1.n_item, 6) AS confidence,
               ROUND((n_pair * 1.0 * n_orders) / (i1.n_item * i2.n_item), 4)
                   AS lift
        FROM pair
        CROSS JOIN nord
        JOIN item i1 ON pair.p1 = i1.pk
        JOIN item i2 ON pair.p2 = i2.pk
    """,
    tags=("mining", "market-basket", "association-rules", "extension"),
)
def q_part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-ordered parts: support, confidence
    (P(p2|p1)), and lift for every part pair appearing in ≥ 2 shared
    orders.

    The pair join is a self equi-join on the order key — fanout is
    C(width, 2) per order with width bounded by the data model, so the
    join output is linear in order count (no hot-key cap needed, unlike
    unbounded document-shingle joins). The 1-row order-count aggregate
    is force-broadcast; the per-item count frames are part-cardinality
    (SF-proportional), so their equi-joins are left to Catalyst/AQE —
    broadcast when small, shuffled when not.
    """
    li = read_table(spark, sf_dir, "lineitem")
    # ONE groupBy replaces [distinct + basket self-join]: each order's
    # distinct part set is collected in-row (collect_set dedups inside
    # the aggregate), and the order count, per-item counts, and co-order
    # pair counts all derive from the same persisted grouped frame —
    # the in-row upper-triangle pair generation is the same
    # bucket-grouping shape as the dedup module's banded self-joins.
    grouped = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("pks"))
        .persist()
    )
    n_orders = grouped.agg(F.count("*").alias("n_orders"))
    item = (
        grouped.select(F.explode("pks").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("n_item"))
    )
    pair_structs = id_pairs(F.col("pks"), "p1", "p2")
    pair = (
        grouped.where(F.size("pks") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy("p.p1", "p.p2")
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= _MIN_PAIR_SUPPORT)
    )
    i1 = item.select(F.col("pk").alias("p1"), F.col("n_item").alias("n1"))
    i2 = item.select(F.col("pk").alias("p2"), F.col("n_item").alias("n2"))
    return (
        pair.crossJoin(F.broadcast(n_orders))
        .join(i1, "p1")
        .join(i2, "p2")
        .select(
            "p1",
            "p2",
            "n_pair",
            F.round(F.col("n_pair") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_pair") / F.col("n1"), 6).alias("confidence"),
            # numerator in DOUBLE: long*long wraps silently past 2^63
            # (n_orders ~1e11 x a hot pair ~1e8 at the 100 TB scale)
            # while the oracle multiplies in double — match it
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_orders"))
                / (F.col("n1").cast("double") * F.col("n2")),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average of daily revenue
# ---------------------------------------------------------------------------

_EWMA_DECAY = 0.8  # weight multiplier per day of age
_EWMA_WINDOW = 28  # truncation horizon: 0.8^28 ≈ 2e-3 residual weight


def _ewma_oracle() -> str:
    return f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS rev
            FROM orders GROUP BY 1
        ),
        ema AS ({_duck_trunc_ema("rev", alpha=1.0 - _EWMA_DECAY,
                                 horizon=_EWMA_WINDOW, decay=_EWMA_DECAY)})
        SELECT daily.d, daily.rev,
               floor(ema.ema * 10000 + 0.5) / 10000 AS ewma
        FROM daily JOIN ema ON daily.d = ema.d
    """


@register(
    "ewma_daily_revenue",
    oracle=_ewma_oracle(),
    tags=("mining", "timeseries", "ewma", "extension"),
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue,
    truncated to a 28-day horizon (residual tail weight ≈ 0.2%%, which
    also keeps the smoothing expressible as a bounded window — the
    exact recursive form is not a relational expression).

    The fact table collapses to the daily grain FIRST, so the window
    runs on a calendar-bounded spine (≈ 2.4k rows for the full TPC-H
    date range regardless of fact volume).

    Parity hardening (round 8): the weighted ratio runs through the
    shared ORDERED-FOLD kernel (timeseries.trunc_ema_ordered) — the
    previous free-order SUM over the 28-term dot product left the
    engines one ulp apart on ~1e6-scale values, where the 4dp floor
    grid makes a boundary flip a live per-sweep hazard (measured on
    the Brown smoother, the identical shape); the fold makes both
    engines execute the same float-op sequence, so the rounding is
    display-only. Daily revenue itself is summed as integer cents, so
    `rev` is the same double in both engines at any SF."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev")
    )
    ema = trunc_ema_ordered(
        daily, "rev", alpha=1.0 - _EWMA_DECAY, out="ema",
        horizon=_EWMA_WINDOW, decay=_EWMA_DECAY,
    )
    return daily.join(ema, "d").select(
        "d",
        "rev",
        (F.floor(F.col("ema") * 10000 + F.lit(0.5)) / 10000).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Weekday-seasonal anomaly scoring of daily revenue
# ---------------------------------------------------------------------------


@register(
    "seasonal_weekday_anomaly",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INTEGER) AS dow,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS rev
            FROM orders GROUP BY 1, 2
        ),
        season AS (
            SELECT dow, avg(rev) AS mu, stddev_samp(rev) AS sigma
            FROM daily GROUP BY dow
        )
        SELECT d, daily.dow, rev,
               ROUND((rev - mu) / sigma, 4) AS z
        FROM daily JOIN season ON daily.dow = season.dow
        WHERE floor(abs((rev - mu) / sigma) * 10000 + 0.5) / 10000 > 2
    """,
    tags=("mining", "timeseries", "anomaly", "extension"),
)
def q_seasonal_weekday_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue deviates > 2σ from their own weekday's mean —
    seasonality-aware anomaly detection (a Monday is only anomalous
    relative to Mondays).

    dow is normalized to DuckDB's Sunday=0 convention (Spark's
    dayofweek is Sunday=1). The 7-row seasonal profile is broadcast
    back onto the calendar-bounded daily spine.
    """
    orders = read_table(spark, sf_dir, "orders")
    # daily rev as an exact integer-cent sum (the ewma/HHI convention):
    # a ROUND(SUM(double)) rev at a 2-dp boundary could round apart
    # between engines and, because rev feeds the 2-sigma MEMBERSHIP
    # filter, flip whole rows in and out of the result
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("dow"),
    ).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev")
    )
    season = daily.groupBy("dow").agg(
        F.avg("rev").alias("mu"), F.stddev_samp("rev").alias("sigma")
    )
    z = (F.col("rev") - F.col("mu")) / F.col("sigma")
    # membership on the 4-dp grid (floor form — identical IEEE math in
    # both engines), not the raw double: avg/stddev accumulation order
    # differs across engines, so a z within ulps of 2.0 must not decide
    # row membership
    return (
        daily.join(F.broadcast(season), "dow")
        .where(F.floor(F.abs(z) * 10000 + F.lit(0.5)) / 10000 > 2)
        .select("d", "dow", "rev", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    oracle="""
        WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        cust AS (
            SELECT o.o_custkey AS ck, c.c_mktsegment AS seg,
                   date_diff('day', max(CAST(o.o_orderdate AS DATE)), any_value(anchor.maxd))
                       AS recency,
                   count(*) AS frequency,
                   SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS monetary_c
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            CROSS JOIN anchor
            GROUP BY o.o_custkey, c.c_mktsegment
        ),
        scored AS (
            SELECT seg,
                   CAST(ntile(4) OVER (
                       PARTITION BY seg ORDER BY recency DESC, ck
                   ) AS BIGINT) AS r_score,
                   CAST(ntile(4) OVER (
                       PARTITION BY seg ORDER BY frequency, ck
                   ) AS BIGINT) AS f_score,
                   CAST(ntile(4) OVER (
                       PARTITION BY seg ORDER BY monetary_c, ck
                   ) AS BIGINT) AS m_score,
                   monetary_c
            FROM cust
        )
        SELECT seg, r_score * 100 + f_score * 10 + m_score AS rfm,
               count(*) AS n_customers,
               CAST(SUM(monetary_c) AS DOUBLE) / 100.0 AS total_monetary
        FROM scored
        GROUP BY seg, r_score * 100 + f_score * 10 + m_score
    """,
    tags=("mining", "segmentation", "window", "extension"),
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer compute Recency (days since last
    order, against the global max order date), Frequency (order count),
    Monetary (total spend); quartile-score each dimension WITHIN the
    customer's market segment and report segment × RFM-code rollups.

    Quartiles are NTILE windows partitioned by market segment — never a
    global single-partition sort. Ordering ties are broken by custkey
    so the tiling is deterministic and oracle-reproducible. The 1-row
    anchor date is broadcast via crossJoin.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    anchor = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    per_cust = (
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == cust.c_custkey,
        )
        .crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("ck"), F.col("c_mktsegment").alias("seg"))
        .agg(
            F.datediff(
                F.first("maxd"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency"),
            F.count("*").alias("frequency"),
            # integer cents, not ROUND(SUM(double)): the m_score NTILE
            # orders by this value, and a double sum within an ulp of a
            # half-cent boundary rounds apart across engines (and across
            # Spark runs), flipping quartile assignments — the ranking
            # variant of the free-order-SUM class (round-9 review find)
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_c"
            ),
        )
    )
    seg = Window.partitionBy("seg")
    scored = per_cust.select(
        "seg",
        "monetary_c",
        F.ntile(4).over(seg.orderBy(F.col("recency").desc(), "ck")).cast("long").alias("r_score"),
        F.ntile(4).over(seg.orderBy("frequency", "ck")).cast("long").alias("f_score"),
        F.ntile(4).over(seg.orderBy("monetary_c", "ck")).cast("long").alias("m_score"),
    )
    return scored.groupBy(
        "seg",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias("rfm"),
    ).agg(
        F.count("*").alias("n_customers"),
        (F.sum("monetary_c").cast("double") / 100.0).alias("total_monetary"),
    )


# ---------------------------------------------------------------------------
# Bipartite k-core peeling (3 unrolled rounds)
# ---------------------------------------------------------------------------

_KCORE_K = 20  # minimum degree kept on BOTH sides of the bipartite graph


def _peel_once(edges: DataFrame, k: int) -> DataFrame:
    """One peel round: recompute both side degrees over the surviving
    edge set and keep edges whose endpoints both still have degree ≥ k.

    Each side's degree rides a count-window over the edge frame — two
    exchanges per round total, each annotating every edge in place.
    The former two-groupBy-plus-two-join shape paid the same two |E|
    exchanges PLUS a |V|-row aggregate/join per side (broadcastable
    locally, a third and fourth exchange at 100 TB where node counts
    outgrow any broadcast). WindowExec buffers one key group at a time
    in a spill-backed array, so a hot part costs disk, never memory —
    the same trade as the PageRank degree annotation (graph.py)."""
    sdeg = F.count(F.lit(1)).over(Window.partitionBy("s"))
    pdeg = F.count(F.lit(1)).over(Window.partitionBy("part"))
    return (
        edges.withColumn("sd", sdeg)
        .withColumn("pd", pdeg)
        .where((F.col("sd") >= k) & (F.col("pd") >= k))
        .select("s", "part")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled SQL mirror of ``rounds`` peel passes — as a NAMED-CTE
    chain (r0 -> r1 -> ...), not textual inlining: inlining the prior
    round three times per pass grows the SQL 3^rounds and makes DuckDB
    re-execute the base edge scan dozens of times."""
    ctes = ["r0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS part FROM lineitem)"]
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        ctes.append(
            f"""r{i} AS (
                SELECT e.s, e.part FROM {prev} e
                JOIN (SELECT s, count(*) AS sd FROM {prev} GROUP BY s) sd
                  ON e.s = sd.s AND sd.sd >= {k}
                JOIN (SELECT part, count(*) AS pd FROM {prev} GROUP BY part) pd
                  ON e.part = pd.part AND pd.pd >= {k}
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT s, count(*) AS core_degree
        FROM r{rounds}
        GROUP BY s
    """


@register(
    "kcore_suppliers",
    oracle=_kcore_oracle(_KCORE_K, 3),
    tags=("graph", "kcore", "iterative", "extension"),
)
def q_kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite k-core peel of the supplier↔part graph: 3 unrolled
    rounds of "drop every node with degree < k, recompute", then each
    surviving supplier's in-core degree. The dense-subgraph primitive
    behind spam/bot-cluster detection.

    Fixed unrolled rounds (like the fixed-iteration PageRank,
    operators/graph.py) keep the oracle pure SQL; the driver
    convergence-loop variant of the same pattern is demonstrated by
    pagerank_converged. Each round's degree frames shrink
    monotonically, and the per-round joins are AQE-broadcastable once
    the core stops shrinking.
    """
    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("part")
    ).distinct()
    # persist each round's surviving edge set: a round references its
    # input three times (both degree aggregates + the join), so without
    # a materialization point the unrolled plan re-derives every prior
    # round 3^depth times (exchange reuse catches some, not all — and
    # at cluster scale a re-derivation is a full extra shuffle).
    # Each round is materialized eagerly (count) so the SUPERSEDED
    # round's cache can be freed immediately — same frontier discipline
    # as the BFS loop (graph.py): only the final edge set stays cached.
    edges = edges.persist()
    for _ in range(3):
        nxt = _peel_once(edges, _KCORE_K).persist()
        nxt.count()
        edges.unpersist()
        edges = nxt
    return edges.groupBy("s").agg(F.count("*").alias("core_degree"))


# ---------------------------------------------------------------------------
# Product-analytics: DAU/MAU stickiness
# ---------------------------------------------------------------------------


@register(
    "dau_mau_stickiness",
    oracle="""
        WITH dau AS (
            SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
                   CAST(ts AS DATE) AS day,
                   count(DISTINCT user_id) AS dau
            FROM events GROUP BY 1, 2
        ),
        mau AS (
            SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
                   count(DISTINCT user_id) AS mau
            FROM events GROUP BY 1
        )
        SELECT dau.month,
               ROUND(avg(dau), 2) AS avg_dau,
               any_value(mau) AS mau,
               ROUND(avg(dau) / any_value(mau), 6) AS stickiness
        FROM dau JOIN mau ON dau.month = mau.month
        GROUP BY dau.month
    """,
    tags=("mining", "product-analytics", "extension"),
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly stickiness = avg(DAU)/MAU — the two-grain distinct-user
    metric every product pipeline ships. Day- and month-grain distinct
    counts are separate aggregates joined on month (a distinct count is
    not re-mergeable across grains, so each grain aggregates from the
    fact table; both shuffles are keyed on (time-bucket, user) partials
    first, so volume is bounded by active-user cardinality)."""
    ev = read_table(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = ev.groupBy(F.date_trunc("month", "ts").cast("date").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), "month")
        .groupBy("month")
        .agg(
            F.round(F.avg("dau"), 2).alias("avg_dau"),
            F.first("mau").alias("mau"),
            F.round(F.avg("dau") / F.first("mau"), 6).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# Degree-distribution power-law fit (graph + regression composition)
# ---------------------------------------------------------------------------


@register(
    "degree_powerlaw_fit",
    oracle="""
        WITH e AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS s FROM lineitem),
        deg AS (SELECT part, count(*) AS d FROM e GROUP BY part),
        hist AS (SELECT d, count(*) AS n_parts FROM deg GROUP BY d)
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               ROUND(regr_slope(ln(n_parts), ln(d)), 4) AS alpha,
               ROUND(regr_intercept(ln(n_parts), ln(d)), 4) AS c,
               ROUND(regr_r2(ln(n_parts), ln(d)), 4) AS r2
        FROM hist
    """,
    tags=("mining", "graph", "regression", "extension"),
)
def q_degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS fit of the part-degree distribution (count of parts
    with degree d vs d) — the standard "is this graph scale-free?"
    diagnostic, composed from the engine's own primitives: distinct-
    edge aggregate → degree histogram → single-pass regression moments.
    The histogram is at most max-degree rows, so everything after the
    first aggregate is broadcast-sized at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = e.groupBy("part").agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("n_parts"))
    lx, ly = F.log(F.col("d")), F.log(F.col("n_parts"))
    return hist.agg(
        F.count("*").alias("n_points"),
        F.round(F.regr_slope(ly, lx), 4).alias("alpha"),
        F.round(F.regr_intercept(ly, lx), 4).alias("c"),
        F.round(F.regr_r2(ly, lx), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution over the event stream
# ---------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7


@register(
    "attribution_last_touch",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, ts, event_type,
                   max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS last_click_ts
            FROM events
            WHERE event_type IN ('click', 'purchase')
        )
        SELECT CAST(ts AS DATE) AS day,
               count(*) AS n_purchases,
               count(CASE WHEN last_click_ts IS NOT NULL
                          AND date_diff('day', CAST(last_click_ts AS DATE), CAST(ts AS DATE))
                              <= {_ATTR_WINDOW_DAYS}
                     THEN 1 END) AS n_attributed
        FROM seq
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("mining", "attribution", "window", "extension"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is attributed
    to the user's most recent preceding click if it happened within a
    7-day lookback. One running-max window over the (click ∪ purchase)
    stream carries the last click timestamp forward — the single-pass
    form of a per-purchase point lookup (the naive formulation is a
    per-row as-of join; this shares ONE shuffle on user_id across
    every purchase).
    """
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.select(
        "ts",
        "event_type",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w).alias(
            "last_click_ts"
        ),
    )
    attributed = (
        F.col("last_click_ts").isNotNull()
        & (
            F.datediff(F.col("ts").cast("date"), F.col("last_click_ts").cast("date"))
            <= _ATTR_WINDOW_DAYS
        )
    )
    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.count(F.when(attributed, 1)).alias("n_attributed"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value curve
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv_curve",
    oracle="""
        WITH om AS (
            SELECT o_custkey AS ck,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS rev_c
            FROM orders
        ),
        cohorts AS (SELECT ck, min(m) AS cohort FROM om GROUP BY ck),
        aged AS (
            SELECT c.cohort,
                   CAST(date_diff('month', c.cohort, om.m) AS BIGINT) AS age,
                   om.rev_c, om.ck
            FROM om JOIN cohorts c ON om.ck = c.ck
        ),
        per AS (
            SELECT cohort, age,
                   SUM(rev_c) AS revenue_c,
                   count(DISTINCT ck) AS n_active
            FROM aged GROUP BY cohort, age
        )
        SELECT cohort, age,
               CAST(revenue_c AS DOUBLE) / 100.0 AS revenue, n_active,
               CAST(SUM(revenue_c) OVER (
                   PARTITION BY cohort ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100.0 AS cum_revenue
        FROM per
    """,
    tags=("mining", "cohort", "ltv", "extension"),
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue accumulated by cohort age in months — the retention
    economics companion to the activity-based cohort table.

    The cohort assignment is one groupBy on customer; the age join
    re-keys the fact rows by customer once (AQE broadcasts the cohort
    frame when small); the cumulative window runs over the tiny
    (cohort × age) grid. The prefix sum is order-deterministic in both
    engines, so the rounded running total is oracle-exact.
    """
    om = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        # integer cents end-to-end: ROUND(SUM(double)) at a half-cent
        # boundary can round apart across engines, and the cumulative
        # window would propagate one flipped cell down the whole cohort
        # curve (round-9 review find)
        F.round(F.col("o_totalprice") * 100).cast("long").alias("rev_c"),
    )
    cohorts = om.groupBy("ck").agg(F.min("m").alias("cohort"))
    aged = om.join(cohorts, "ck").select(
        "cohort",
        F.months_between(F.col("m"), F.col("cohort")).cast("long").alias("age"),
        "rev_c",
        "ck",
    )
    per = aged.groupBy("cohort", "age").agg(
        F.sum("rev_c").alias("revenue_c"),
        F.countDistinct("ck").alias("n_active"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort",
        "age",
        (F.col("revenue_c").cast("double") / 100.0).alias("revenue"),
        "n_active",
        (F.sum("revenue_c").over(w).cast("double") / 100.0).alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# Three-step strictly-ordered funnel
# ---------------------------------------------------------------------------


@register(
    "funnel_view_click_purchase",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS c_ts
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
            WHERE e.event_type = 'click'
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
            WHERE e.event_type = 'purchase'
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked_after,
               (SELECT count(*) FROM p) AS n_purchased_after,
               ROUND((SELECT count(*) FROM c) * 1.0
                     / nullif((SELECT count(*) FROM v), 0), 6) AS click_rate,
               ROUND((SELECT count(*) FROM p) * 1.0
                     / nullif((SELECT count(*) FROM c), 0), 6) AS purchase_rate
    """,
    tags=("mining", "funnel", "extension"),
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 3-step funnel: first view → first click AFTER
    that view → first purchase AFTER that click (each step's anchor is
    the previous step's milestone, not a global first — the chained-min
    formulation that a per-user pivot cannot express).

    Each chaining step is one filtered aggregate joined back on
    user_id; milestone frames only shrink down the funnel, so the two
    inner joins get cheaper per step and the final five-number report
    is a crossJoin of 1-row aggregates.
    """
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    nv = v.agg(F.count("*").alias("n_viewed"))
    nc = c.agg(F.count("*").alias("n_clicked_after"))
    np_ = p.agg(F.count("*").alias("n_purchased_after"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_viewed",
            "n_clicked_after",
            "n_purchased_after",
            # nullif: an empty view stage reports NULL rates like the
            # oracle, not an ANSI DIVIDE_BY_ZERO (empty-sweep parity)
            F.round(
                F.col("n_clicked_after") / F.nullif(F.col("n_viewed"), F.lit(0)), 6
            ).alias("click_rate"),
            F.round(
                F.col("n_purchased_after")
                / F.nullif(F.col("n_clicked_after"), F.lit(0)),
                6,
            ).alias("purchase_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Operational SLI: hourly error rate with rolling burn rate
# ---------------------------------------------------------------------------

_SLO_TARGET = 0.25  # error budget: events flagged 'error' may be up to 25%


@register(
    "error_rate_burn",
    oracle=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                   count(*) AS n_events,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
            FROM events GROUP BY 1
        ),
        rated AS (
            SELECT hour, n_events, n_errors,
                   ROUND(n_errors * 1.0 / n_events, 6) AS err_rate,
                   ROUND(SUM(n_errors) OVER w * 1.0 / SUM(n_events) OVER w, 6)
                       AS err_rate_6h
            FROM hourly
            WINDOW w AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT hour, n_events, n_errors, err_rate, err_rate_6h,
               ROUND(err_rate_6h / {_SLO_TARGET}, 4) AS burn_rate
        FROM rated
    """,
    tags=("mining", "sli", "window", "extension"),
)
def q_error_rate_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational SLI report: hourly error rate plus a 6-hour rolling
    error rate and its burn-rate multiple against the error budget —
    the multiwindow alerting shape from SRE practice, over the same
    event stream the behavioral queries use.

    The fact table collapses to the hourly grain first; the rolling
    ratio is a ratio of two rolling SUMS (never an average of ratios —
    hours with different volumes would skew it), computed by one
    ordered window over the calendar-bounded hourly frame. The global
    ORDER BY window is safe at any scale because its input is
    calendar-bounded, not data-bounded.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    w = Window.orderBy("hour").rowsBetween(-5, Window.currentRow)
    rated = hourly.select(
        "hour",
        "n_events",
        "n_errors",
        F.round(F.col("n_errors") / F.col("n_events"), 6).alias("err_rate"),
        F.round(
            F.sum("n_errors").over(w) / F.sum("n_events").over(w), 6
        ).alias("err_rate_6h"),
    )
    return rated.select(
        "*", F.round(F.col("err_rate_6h") / _SLO_TARGET, 4).alias("burn_rate")
    )


# ---------------------------------------------------------------------------
# Discount elasticity by brand (join + regression composition)
# ---------------------------------------------------------------------------


@register(
    "discount_elasticity_by_brand",
    oracle="""
        SELECT p.p_brand,
               CAST(count(*) AS BIGINT) AS n,
               ROUND(avg(l.l_discount), 6) AS avg_discount,
               ROUND(regr_slope(l.l_quantity, l.l_discount), 4) AS qty_per_discount,
               ROUND(regr_r2(l.l_quantity, l.l_discount), 6) AS r2
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    """,
    tags=("mining", "regression", "join", "extension"),
)
def q_discount_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity proxy: the OLS slope of shipped
    quantity against discount across a brand's line items (does
    discounting move volume?). The dimension join is an equi-join on
    the part table pruned to (partkey, brand) — part is SF-proportional
    so the strategy is left to Catalyst/AQE; the regression is a
    single-pass moment aggregate on the fact side.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_discount"), 6).alias("avg_discount"),
            F.round(F.regr_slope("l_quantity", "l_discount"), 4).alias("qty_per_discount"),
            F.round(F.regr_r2("l_quantity", "l_discount"), 6).alias("r2"),
        )
    )


# ---------------------------------------------------------------------------
# Spend-quartile migration matrix between two periods
# ---------------------------------------------------------------------------

_MIGRATION_SPLIT = "1996-01-01"  # period A strictly before, B at/after


@register(
    "spend_quartile_migration",
    oracle=f"""
        WITH spend AS (
            SELECT c.c_mktsegment AS seg, o.o_custkey AS ck,
                   SUM(CASE WHEN o.o_orderdate < DATE '{_MIGRATION_SPLIT}'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS spend_a,
                   SUM(CASE WHEN o.o_orderdate >= DATE '{_MIGRATION_SPLIT}'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS spend_b
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        tiled AS (
            SELECT seg,
                   CAST(ntile(4) OVER (
                       PARTITION BY seg ORDER BY spend_a, ck
                   ) AS BIGINT) AS q_before,
                   CAST(ntile(4) OVER (
                       PARTITION BY seg ORDER BY spend_b, ck
                   ) AS BIGINT) AS q_after
            FROM spend
        )
        SELECT seg, q_before, q_after, count(*) AS n_customers
        FROM tiled GROUP BY seg, q_before, q_after
    """,
    tags=("mining", "segmentation", "migration", "extension"),
)
def q_spend_quartile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-quartile migration matrix: quartile by spend
    before vs after a split date (within market segment, ties broken by
    custkey) cross-tabulated — who moved up, who churned down. The
    upgrade-path / churn-risk view built purely from ranking windows
    partitioned by segment (no global sort at any scale).
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    split = F.lit(_MIGRATION_SPLIT).cast("date")
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("ck"))
        .agg(
            # integer cents: these values are NTILE ORDER BY keys, so a
            # free-order double sum at a rounding boundary would flip
            # quartile cells across engines (round-9 review find)
            F.sum(
                F.when(
                    F.col("o_orderdate").cast("date") < split,
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("spend_a"),
            F.sum(
                F.when(
                    F.col("o_orderdate").cast("date") >= split,
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("spend_b"),
        )
    )
    seg = Window.partitionBy("seg")
    tiled = spend.select(
        "seg",
        F.ntile(4).over(seg.orderBy("spend_a", "ck")).cast("long").alias("q_before"),
        F.ntile(4).over(seg.orderBy("spend_b", "ck")).cast("long").alias("q_after"),
    )
    return tiled.groupBy("seg", "q_before", "q_after").agg(
        F.count("*").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Supply-chain fill latency percentiles
# ---------------------------------------------------------------------------


@register(
    "order_fill_latency",
    oracle="""
        WITH fill AS (
            SELECT o.o_orderpriority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(min(l.l_shipdate) AS DATE)) AS first_ship_days,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(max(l.l_shipdate) AS DATE)) AS full_ship_days
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               ROUND(quantile_cont(first_ship_days, 0.5), 4) AS p50_first,
               ROUND(quantile_cont(first_ship_days, 0.95), 4) AS p95_first,
               ROUND(quantile_cont(full_ship_days, 0.5), 4) AS p50_full,
               ROUND(quantile_cont(full_ship_days, 0.95), 4) AS p95_full
        FROM fill GROUP BY o_orderpriority
    """,
    tags=("mining", "latency", "percentile", "extension"),
)
def q_order_fill_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fill latency SLAs per priority class: days from order to
    FIRST shipment (responsiveness) and to LAST shipment (completion),
    summarized as exact interpolated p50/p95 — the supply-chain twin of
    the operational SLI report.

    One join keyed on orderkey feeds a per-order min/max aggregate
    (partial-agg friendly), then exact percentiles run per priority
    class over the order-cardinality frame.
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    fill = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(
                F.min(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).alias("first_ship_days"),
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).alias("full_ship_days"),
        )
    )
    return fill.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.expr("percentile(first_ship_days, 0.5)"), 4).alias("p50_first"),
        F.round(F.expr("percentile(first_ship_days, 0.95)"), 4).alias("p95_first"),
        F.round(F.expr("percentile(full_ship_days, 0.5)"), 4).alias("p50_full"),
        F.round(F.expr("percentile(full_ship_days, 0.95)"), 4).alias("p95_full"),
    )


# ---------------------------------------------------------------------------
# Supplier revenue concentration (Herfindahl index) per nation
# ---------------------------------------------------------------------------


@register(
    "supplier_concentration_hhi",
    oracle="""
        WITH rev AS (
            SELECT s.s_nationkey, l.l_suppkey,
                   CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                       * 10000) AS BIGINT)) AS BIGINT) AS r
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey, l.l_suppkey
        ),
        agg AS (SELECT s_nationkey,
                       CAST(SUM(r) AS BIGINT) AS t,
                       count(*) AS n_suppliers,
                       SUM(CAST(r AS HUGEINT) * r) AS r2
                FROM rev GROUP BY s_nationkey)
        SELECT n.n_name,
               agg.n_suppliers,
               floor(CAST(r2 AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
                     * 1000000 + 0.5) / 1000000 AS hhi
        FROM agg
        JOIN nation n ON agg.s_nationkey = n.n_nationkey
    """,
    tags=("mining", "concentration", "extension"),
)
def q_supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each nation (1/n = perfectly even, →1 = monopolized) — the
    market-structure diagnostic, composed as: per-supplier revenue
    aggregate → one per-nation aggregate → exact ratio.

    Parity hardening (no double-SUM anywhere): per-supplier revenue is
    summed as integer ten-thousandths (line revenue is an exact
    4-decimal rational), so r and t are exact integers. Because t is
    constant within a nation, HHI = Σ(r/t)² = (Σr²)/t² — the numerator
    is an exact wide-integer sum (decimal(38,0) in Spark, HUGEINT in
    DuckDB), and the ONLY floating-point step is one final division of
    engine-identical exact operands, so the floor(x*1e6+0.5)/1e6
    rounding can never straddle a summation-order ulp. This also drops
    the rev→tot rejoin the share-based form needed — one aggregate per
    nation instead of an aggregate plus a broadcast-back join.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            ).alias("r")
        )
    )
    rdec = F.col("r").cast("decimal(38,0)")
    agg = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("t"),
        F.count("*").alias("n_suppliers"),
        F.sum(rdec * rdec).alias("r2"),
    )
    hhi = (
        F.floor(
            F.col("r2").cast("double")
            / (F.col("t").cast("double") * F.col("t").cast("double"))
            * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    return (
        agg.join(F.broadcast(nation), agg.s_nationkey == nation.n_nationkey)
        .select("n_name", "n_suppliers", hhi.alias("hhi"))
    )


# ---------------------------------------------------------------------------
# Order inter-arrival time distribution
# ---------------------------------------------------------------------------


@register(
    "order_interarrival_histogram",
    oracle="""
        WITH seq AS (
            SELECT o_custkey,
                   date_diff('day',
                       lag(CAST(o_orderdate AS DATE)) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                       ),
                       CAST(o_orderdate AS DATE)) AS gap_days
            FROM orders
        )
        SELECT CAST(floor(gap_days / 30) AS BIGINT) AS gap_month_bucket,
               count(*) AS n_gaps,
               ROUND(avg(gap_days), 4) AS avg_gap_days
        FROM seq WHERE gap_days IS NOT NULL
        GROUP BY 1
    """,
    tags=("mining", "interarrival", "window", "extension"),
)
def q_order_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of days between a customer's consecutive orders,
    bucketed to 30-day bands — the inter-arrival-time profile behind
    churn models and reorder-reminder products. One lag window on the
    customer key (ties broken by orderkey), then a bounded histogram
    aggregate.
    """
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return seq.groupBy(
        F.floor(F.col("gap_days") / 30).cast("long").alias("gap_month_bucket")
    ).agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
    )
