"""Statistical tests, series statistics and effect sizes. [extension]

The inference/diagnostic statistics an analyst reaches for after the
first-moment families (``mining.py``'s chi2 / KS / Benford / Gini,
``sqlbreadth.py``'s regression / moment functions): rank correlation
(Spearman), one-way ANOVA F, autocorrelation of a daily series, max
drawdown, an exact integer-arithmetic CUSUM changepoint, the Theil
inequality index, and the Mann-Whitney U rank-sum test.

Determinism rules (same as the rest of the repo):
  * money always rides as integer cents; rank sums are exact multiples
    of 0.5 (< 2^53, exact in double); the CUSUM statistic is kept in
    scaled-integer space (n·Σx − t·S) so the argmax is an int64
    comparison, never a float one.
  * ratio statistics (rho, F, acf, theil, z) are display-rounded at
    6 dp in BOTH engines — the accepted ROUND(aggregate-of-double)
    class; no membership predicate rides a raw double.
  * rank statistics never sort the ROW set: average ranks come from
    the distinct-VALUE frame (count per value → prefix sum → avg rank,
    joined back to rows), so the one ordered window runs over the
    value domain — bounded by the generator's price/quantity domains,
    not by SF. The date filters on the Spearman / Mann-Whitney inputs
    are semantic (a month's snapshot), not the scale mechanism. The
    series statistics run over the per-DAY aggregate, whose length is
    calendar-bounded (~2.4k rows regardless of SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.timeseries import _DAILY_ORACLE, _daily
from velox_hadoop_spark.plans.registry import register


def safe_corr(x, y):
    """Pearson correlation as an aggregate expression with DuckDB's
    degenerate contract: NULL when either side has zero variance.

    Spark 4's ``F.corr`` THROWS DIVIDE_BY_ZERO under ANSI mode on a
    zero-variance input (DuckDB returns NULL), and an aggregate cannot
    be conditionally skipped — so the correlation is built from moment
    sums with the variance guard applied after aggregation. Pairs with
    a NULL on either side are excluded (the same pairwise-deletion rule
    ``corr`` uses in both engines). Inputs must already be DOUBLE: a
    long input would overflow int64 in the x² sum under ANSI. The
    moment form carries ~1e-12 relative cancellation noise vs the
    engines' one-pass co-moment kernels — absorbed by the callers'
    6 dp display round (accepted class)."""
    both = x.isNotNull() & y.isNotNull()
    xv = F.when(both, x)
    yv = F.when(both, y)
    n = F.count(xv).cast("double")
    sx, sy = F.sum(xv), F.sum(yv)
    cov = n * F.sum(xv * yv) - sx * sy
    vx = n * F.sum(xv * xv) - sx * sx
    vy = n * F.sum(yv * yv) - sy * sy
    return F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))


def _daily_rev_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev_cents) — total order revenue per calendar day, integer
    cents. The shared spine of the series statistics below; its length
    is bounded by the order-date calendar (~7 years), not by SF, so a
    global ORDER BY day window over it is scale-safe."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )


_DUCK_DAILY = """
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1
    )
"""

# Semantic input slices for the rank tests (one ship month / one order
# half-year): they pick WHICH snapshot is tested, not how it scales —
# a calendar slice of TPC-H still grows linearly with SF, which is why
# the rank machinery below is domain-bounded, not slice-bounded.
_SPEAR_LO, _SPEAR_HI = "1995-03-01", "1995-04-01"
_MW_LO, _MW_HI = "1995-01-01", "1995-07-01"


def avg_rank_map(df: DataFrame, part_cols: list[str], val_col: str) -> DataFrame:
    """Average pooled rank per DISTINCT value — the scale-safe rank
    kernel of the Spearman / Mann-Whitney statistics.

    ``rank() + (|ties|−1)/2`` over the row set needs a total order over
    every row of the partition — a single-task sort that grows with SF.
    The identical average ranks come from the distinct-value frame:
    count per value, ordered prefix sum, ``avg_rank = cum_before +
    (n+1)/2`` (min-rank is ``cum_before + 1``; the tie block's average
    adds ``(n−1)/2``). The one ordered window here runs over DISTINCT
    values, bounded by the column's generator domain (quantity: 50
    values; prices: the fixed cent range), not by the corpus; rows then
    re-acquire their rank by a plain value equi-join. Ranks are exact
    multiples of 0.5 at any size (int prefix + half)."""
    vals = df.groupBy(*part_cols, val_col).agg(F.count("*").alias("_n"))
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("_n").over(w), F.lit(0))
    return vals.select(
        *part_cols,
        val_col,
        (cum_before + (F.col("_n") + 1) / 2.0).alias("avg_rank"),
    )


@register(
    "spearman_rank_corr",
    oracle=f"""
        WITH x AS (
            SELECT l_returnflag AS flag, l_quantity AS a, l_extendedprice AS b
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{_SPEAR_LO} 00:00:00'
              AND l_shipdate <  TIMESTAMP '{_SPEAR_HI} 00:00:00'
        ),
        r AS (
            SELECT flag,
                   rank() OVER (PARTITION BY flag ORDER BY a)
                     + (count(*) OVER (PARTITION BY flag, a) - 1) / 2.0 AS ra,
                   rank() OVER (PARTITION BY flag ORDER BY b)
                     + (count(*) OVER (PARTITION BY flag, b) - 1) / 2.0 AS rb
            FROM x
        )
        SELECT flag, count(*) AS n,
               round(corr(ra, rb), 6) AS spearman_rho
        FROM r GROUP BY flag
    """,
    tags=("stats", "rank", "correlation", "extension"),
)
def q_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag, over one ship month.

    Average ranks for ties, the textbook definition, computed by the
    domain-bounded ``avg_rank_map`` kernel (the oracle's row-level
    ``rank() + (|ties|−1)/2`` windows express the same ranks — a
    row-sort is fine in a single-node reference, not in the
    distributed plan); rows re-acquire their two ranks by per-flag
    value joins, no row-ordered window anywhere. Rank values are exact
    multiples of 0.5, so the only float aggregate is the final
    correlation, display-rounded at 6 dp in both engines."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_SPEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_SPEAR_HI).cast("timestamp"))
    )
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("a"),
        F.col("l_extendedprice").alias("b"),
    )
    ra = avg_rank_map(x, ["flag"], "a").withColumnRenamed("avg_rank", "ra")
    rb = avg_rank_map(x, ["flag"], "b").withColumnRenamed("avg_rank", "rb")
    return (
        x.join(ra, ["flag", "a"])
        .join(rb, ["flag", "b"])
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.round(safe_corr(F.col("ra"), F.col("rb")), 6).alias(
                "spearman_rho"
            ),
        )
    )


@register(
    "anova_f_priority",
    oracle="""
        WITH g AS (
            SELECT o_orderpriority AS p,
                   count(*) AS n,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s,
                   sum(CAST(round(o_totalprice * 100) AS DOUBLE)
                       * CAST(round(o_totalprice * 100) AS DOUBLE)) AS ss
            FROM orders GROUP BY 1
        ),
        t AS (
            SELECT CAST(sum(n) AS BIGINT) AS big_n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(s) AS total
            FROM g
        ),
        parts AS (
            SELECT sum(n * power(CAST(s AS DOUBLE) / n
                                 - CAST(total AS DOUBLE) / big_n, 2)) AS ssb,
                   sum(CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * s / n) AS ssw
            FROM g, t
        )
        SELECT big_n AS n_rows, k AS n_groups,
               CAST(big_n - k AS BIGINT) AS df_within,
               CASE WHEN k > 1 AND big_n > k AND ssw > 0 THEN
                   round((ssb / (k - 1)) / (ssw / (big_n - k)), 6)
               END AS f_stat
        FROM t CROSS JOIN parts
    """,
    tags=("stats", "anova", "extension"),
)
def q_anova_f_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of order value across the five order
    priorities — does priority explain any of the price variance?

    Pure two-level aggregation, no windows: per-group n and Σx in exact
    integer cents; Σx² accumulates in DOUBLE (squared cents overflow
    int64 past ~10⁴ rows·group — ANSI mode fails loudly on the exact
    variant), feeding SSB/(k−1) over SSW/(n−k) from the group frame —
    k = 5 rows, so the final reduction is driver-trivial and the only
    shuffle is the groupBy. SSW's Σx² − (Σx)²/n cancellation leaves
    ~1e-12 relative noise between the engines, absorbed by the 6 dp
    display round on F — the accepted ROUND(aggregate-of-double)
    class; no membership predicate rides it."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cents_d = cents.cast("double")
    g = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("p"))
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents_d * cents_d).alias("ss"),
        )
    )
    t = g.agg(
        F.sum("n").alias("big_n"),
        F.count("*").alias("k"),
        F.sum("s").alias("total"),
    )
    # t is one row (global totals); no broadcast hint needed — AQE
    # broadcasts a 1-row side unconditionally (lint_plans rule)
    joined = g.crossJoin(t)
    parts = joined.agg(
        F.sum(
            F.col("n")
            * F.pow(
                F.col("s").cast("double") / F.col("n")
                - F.col("total").cast("double") / F.col("big_n"),
                2,
            )
        ).alias("ssb"),
        F.sum(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
    )
    # Final row comes from t (the totals frame), NOT from an aggregate
    # over the possibly-EMPTY joined frame: on an empty input DuckDB's
    # `SELECT ... FROM t` still sees k = 0 where a first()-over-empty
    # would yield NULL. F is guarded NULL when it is undefined: fewer
    # than two groups, no within degrees of freedom, or zero
    # within-group variance — identical CASE in the oracle.
    return t.crossJoin(parts).select(
        F.col("big_n").alias("n_rows"),
        F.col("k").alias("n_groups"),
        (F.col("big_n") - F.col("k")).alias("df_within"),
        F.when(
            (F.col("k") > 1) & (F.col("big_n") > F.col("k")) & (F.col("ssw") > 0),
            F.round(
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("big_n") - F.col("k"))),
                6,
            ),
        ).alias("f_stat"),
    )


_ACF_LAGS = 7


@register(
    "acf_daily_revenue",
    oracle=f"""
        WITH {_DUCK_DAILY},
        lagged AS (
            SELECT rev_cents AS x,
                   {", ".join(f"lag(rev_cents, {k}) OVER (ORDER BY day) AS x{k}" for k in range(1, _ACF_LAGS + 1))}
            FROM daily
        )
        {" UNION ALL ".join(
            f"SELECT CAST({k} AS BIGINT) AS lag, "
            f"CAST(count(x{k}) AS BIGINT) AS n_pairs, "
            f"round(corr(x, x{k}), 6) AS acf FROM lagged"
            for k in range(1, _ACF_LAGS + 1)
        )}
    """,
    tags=("stats", "timeseries", "autocorrelation", "extension"),
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1..7 — the weekly-
    seasonality diagnostic read before fitting any forecast.

    Positional lag over the day-ordered series (gap days shift the
    alignment identically in both engines), all seven lag columns from
    ONE window pass over the calendar-bounded daily frame, all seven
    correlations from ONE aggregate, then ``stack`` to long form — no
    per-lag rescan. ``corr`` drops the NULL head of each lag column in
    both engines; n_pairs records how many pairs each estimate used."""
    w = Window.orderBy("day")
    daily = _daily_rev_cents(spark, sf_dir)
    lagged = daily.select(
        F.col("rev_cents").alias("x"),
        *[
            F.lag("rev_cents", k).over(w).alias(f"x{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    aggs = []
    for k in range(1, _ACF_LAGS + 1):
        aggs.append(F.count(f"x{k}").alias(f"n{k}"))
        aggs.append(
            F.round(
                safe_corr(
                    F.col("x").cast("double"), F.col(f"x{k}").cast("double")
                ),
                6,
            ).alias(f"a{k}")
        )
    one = lagged.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), n{k}, a{k}" for k in range(1, _ACF_LAGS + 1)
    )
    return one.select(
        F.expr(f"stack({_ACF_LAGS}, {stack_args}) AS (lag, n_pairs, acf)")
    )


@register(
    "max_drawdown_daily_revenue",
    oracle=f"""
        WITH {_DUCK_DAILY},
        dd AS (
            SELECT day, rev_cents,
                   max(rev_cents) OVER (
                       ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS peak_cents
            FROM daily
        )
        SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
               CAST(peak_cents AS BIGINT) AS peak_cents,
               round((peak_cents - rev_cents) / CAST(peak_cents AS DOUBLE), 6)
                   AS drawdown
        FROM dd
        ORDER BY (peak_cents - rev_cents) / CAST(peak_cents AS DOUBLE) DESC,
                 day
        LIMIT 1
    """,
    tags=("stats", "timeseries", "drawdown", "extension"),
)
def q_max_drawdown_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst drawdown of the daily-revenue series: the day whose revenue
    sits furthest (relatively) below the running peak.

    Running peak via a ROWS UNBOUNDED PRECEDING max over the calendar-
    bounded daily frame; peak and value stay integer cents, so the one
    double is a single int64/int64 division — bit-identical IEEE in
    both engines, safe to ORDER BY (day tiebreak pins equal ratios)."""
    daily = _daily_rev_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn("peak_cents", F.max("rev_cents").over(w))
    ratio = (F.col("peak_cents") - F.col("rev_cents")) / F.col(
        "peak_cents"
    ).cast("double")
    return (
        dd.select(
            "day",
            "rev_cents",
            "peak_cents",
            F.round(ratio, 6).alias("drawdown"),
        )
        .orderBy(ratio.desc(), "day")
        .limit(1)
    )


@register(
    "cusum_changepoint_daily",
    oracle=f"""
        WITH {_DUCK_DAILY},
        t AS (SELECT count(*) AS n, sum(rev_cents) AS s FROM daily),
        c AS (
            SELECT day,
                   (SELECT n FROM t)
                     * sum(rev_cents) OVER (
                           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW)
                     - row_number() OVER (ORDER BY day) * (SELECT s FROM t)
                       AS cusum_scaled
            FROM daily
        )
        SELECT day AS change_day,
               CAST(cusum_scaled AS DOUBLE) AS cusum_scaled,
               CAST((SELECT n FROM t) AS BIGINT) AS n_days
        FROM c
        ORDER BY abs(cusum_scaled) DESC, day
        LIMIT 1
    """,
    tags=("stats", "timeseries", "changepoint", "extension"),
)
def q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint of the daily-revenue series: the day where the
    cumulative deviation from the global mean peaks in magnitude — the
    classic single-changepoint estimator.

    The statistic is kept in scaled-integer space: n·Σᵗx − t·S (n days,
    S total cents) is the textbook Σᵗ(x−μ) multiplied through by n, so
    the argmax is an EXACT wide-integer comparison — no float summation
    order anywhere. The products ride decimal(38,0) (DuckDB's windowed
    sum is already HUGEINT): n·Σx ≈ 2.4k × total-cents crosses int64
    near SF ≈ 170, far below the 100 TB target — int64 here wrapped in
    Spark while DuckDB's CAST threw (round-9 review find; the original
    docstring's "~10⁴ beyond" bound was wrong). Only the DISPLAYED
    statistic converts to double; the argmax ordering stays exact."""
    daily = _daily_rev_cents(spark, sf_dir)
    t = daily.agg(
        F.count("*").alias("n_days"), F.sum("rev_cents").alias("s")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # t is one row (n_days, total cents); AQE broadcasts it unhinted
    c = (
        daily.crossJoin(t)
        .withColumn("cum", F.sum("rev_cents").over(w))
        .withColumn("t_idx", F.row_number().over(Window.orderBy("day")))
        .select(
            F.col("day").alias("change_day"),
            (
                F.col("n_days").cast("decimal(38,0)") * F.col("cum")
                - F.col("t_idx").cast("decimal(38,0)") * F.col("s")
            ).alias("cusum_x"),
            "n_days",
        )
    )
    return (
        c.orderBy(F.abs(F.col("cusum_x")).desc(), "change_day")
        .limit(1)
        .select(
            "change_day",
            F.col("cusum_x").cast("double").alias("cusum_scaled"),
            "n_days",
        )
    )


_BB_WIN = 20


@register(
    "bollinger_breakout_days",
    oracle=f"""
        WITH {_DUCK_DAILY},
        rolled AS (
            SELECT day, rev_cents / 100.0 AS rev,
                   avg(rev_cents / 100.0) OVER w AS m,
                   stddev_samp(rev_cents / 100.0) OVER w AS sd,
                   count(*) OVER w AS nwin
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN {_BB_WIN - 1} PRECEDING
                                              AND CURRENT ROW)
        )
        SELECT day, rev, ROUND((rev - m) / sd, 4) AS z
        FROM rolled
        WHERE nwin = {_BB_WIN} AND sd > 0
          AND floor(abs((rev - m) / sd) * 10000 + 0.5) / 10000 > 2
    """,
    tags=("stats", "timeseries", "anomaly", "extension"),
)
def q_bollinger_breakout_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days breaking out of their trailing 20-day Bollinger band
    (|z| > 2 vs the rolling mean/σ) — the rolling cousin of
    ``seasonal_weekday_anomaly``'s weekday-profile z.

    One window pass over the calendar-bounded daily spine computes
    mean, σ, and the full-window count (a partial leading window must
    not emit — its σ is not a 20-day σ). Membership uses the repo's
    4-dp floor-grid rule, never the raw double z: the rolling avg and
    stddev accumulate in different orders across engines, so a z
    within ulps of 2.0 must not decide row membership."""
    daily = _daily_rev_cents(spark, sf_dir).select(
        "day", (F.col("rev_cents") / 100.0).alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-(_BB_WIN - 1), 0)
    rolled = daily.select(
        "day",
        "rev",
        F.avg("rev").over(w).alias("m"),
        F.stddev_samp("rev").over(w).alias("sd"),
        F.count("*").over(w).alias("nwin"),
    )
    z = (F.col("rev") - F.col("m")) / F.col("sd")
    return (
        rolled.where(
            (F.col("nwin") == _BB_WIN)
            & (F.col("sd") > 0)
            & (F.floor(F.abs(z) * 10000 + F.lit(0.5)) / 10000 > 2)
        )
        .select("day", "rev", F.round(z, 4).alias("z"))
    )


_RSI_WIN = 14


@register(
    "rsi_14_daily",
    oracle=f"""
        WITH {_DUCK_DAILY},
        deltas AS (
            SELECT day,
                   rev_cents - lag(rev_cents) OVER (ORDER BY day) AS d
            FROM daily
        ),
        gl AS (
            SELECT day,
                   sum(greatest(d, 0)) OVER w AS g,
                   sum(greatest(-d, 0)) OVER w AS l,
                   count(d) OVER w AS nwin
            FROM deltas WHERE d IS NOT NULL
            WINDOW w AS (ORDER BY day ROWS BETWEEN {_RSI_WIN - 1} PRECEDING
                                              AND CURRENT ROW)
        ),
        full_win AS (SELECT * FROM gl WHERE nwin = {_RSI_WIN})
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(count(*) FILTER (WHERE 3 * g > 7 * l) AS BIGINT)
                   AS n_overbought,
               CAST(count(*) FILTER (WHERE 7 * g < 3 * l) AS BIGINT)
                   AS n_oversold,
               CAST(count(*) FILTER (WHERE g + l = 0) AS BIGINT) AS n_flat,
               round(avg(CASE WHEN g + l > 0
                              THEN 100.0 * g / (g + l) END), 6) AS avg_rsi
        FROM full_win
    """,
    tags=("stats", "timeseries", "indicator", "extension"),
)
def q_rsi_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (simple-average form) of daily revenue, with the
    overbought/oversold census done in EXACT integer arithmetic:
    RSI > 70 ⟺ 100g > 70(g+l) ⟺ 3g > 7l and RSI < 30 ⟺ 7g < 3l, where
    g/l are int64 window sums of the positive/negative day-over-day
    cent deltas — so the classification counts can never ride a float
    boundary. Only the reported average RSI is a double (display-
    rounded). Days without a full 14-delta window are excluded; a
    zero-movement window (g+l=0, RSI undefined) is counted as flat and
    excluded from the average in both engines."""
    daily = _daily_rev_cents(spark, sf_dir)
    d = daily.select(
        "day",
        (
            F.col("rev_cents")
            - F.lag("rev_cents").over(Window.orderBy("day"))
        ).alias("d"),
    ).where(F.col("d").isNotNull())
    w = Window.orderBy("day").rowsBetween(-(_RSI_WIN - 1), 0)
    gl = d.select(
        F.sum(F.greatest(F.col("d"), F.lit(0))).over(w).alias("g"),
        F.sum(F.greatest(-F.col("d"), F.lit(0))).over(w).alias("l"),
        F.count("d").over(w).alias("nwin"),
    ).where(F.col("nwin") == _RSI_WIN)
    return gl.agg(
        F.count("*").alias("n_days"),
        F.count(F.when(3 * F.col("g") > 7 * F.col("l"), 1)).alias(
            "n_overbought"
        ),
        F.count(F.when(7 * F.col("g") < 3 * F.col("l"), 1)).alias("n_oversold"),
        F.count(F.when(F.col("g") + F.col("l") == 0, 1)).alias("n_flat"),
        F.round(
            F.avg(
                F.when(
                    F.col("g") + F.col("l") > 0,
                    100.0 * F.col("g") / (F.col("g") + F.col("l")),
                )
            ),
            6,
        ).alias("avg_rsi"),
    )


@register(
    "theil_index_spend",
    oracle="""
        WITH spend AS (
            SELECT c.c_nationkey AS nationkey,
                   sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_nationkey
        ),
        named AS (
            SELECT n.n_name AS nation, s.cents
            FROM spend s JOIN nation n ON n.n_nationkey = s.nationkey
        ),
        terms AS (
            SELECT nation,
                   (cents / avg(cents) OVER (PARTITION BY nation))
                     * ln(cents / avg(cents) OVER (PARTITION BY nation)) AS term
            FROM named
        )
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(avg(term), 6) AS theil
        FROM terms GROUP BY nation
    """,
    tags=("stats", "inequality", "extension"),
)
def q_theil_index_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality index of customer spend within each nation —
    the decomposable cousin of ``gini_spend_by_nation``: T = mean of
    (x/μ)·ln(x/μ) over the nation's buying customers.

    Spend is exact integer cents per customer (one groupBy); the
    per-nation mean comes from a window over the customer-spend frame
    partitioned by nation, so each element's (x/μ)ln(x/μ) term is a
    deterministic scalar and the final mean is the accepted
    ROUND(aggregate-of-double) class. Buying customers only — an inner
    join, so x > 0 and ln is always finite."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    spend = (
        read_table(spark, sf_dir, "orders")
        .join(
            read_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(cents).alias("cents"))
    )
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
    )
    mu = F.avg("cents").over(Window.partitionBy("nation"))
    term = (F.col("cents") / mu) * F.log(F.col("cents") / mu)
    return (
        spend.join(F.broadcast(nation), "c_nationkey")
        .select("nation", term.alias("term"))
        .groupBy("nation")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("term"), 6).alias("theil"),
        )
    )


@register(
    "mann_whitney_u",
    oracle=f"""
        WITH x AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
              AND o_orderdate >= TIMESTAMP '{_MW_LO} 00:00:00'
              AND o_orderdate <  TIMESTAMP '{_MW_HI} 00:00:00'
        ),
        r AS (
            -- DOUBLED rank units (2*rank + ties - 1 = 2*avg_rank): the
            -- rank sum stays an exact wide integer instead of a
            -- free-order double sum of 0.5-multiples, which loses
            -- exactness past 2^53 and diverges between engines
            -- (round-9 review find)
            SELECT g1,
                   rank() OVER (ORDER BY v) * 2
                     + count(*) OVER (PARTITION BY v) - 1 AS ar2
            FROM x
        ),
        agg AS (
            SELECT CAST(sum(g1) AS BIGINT) AS n1,
                   CAST(count(*) - sum(g1) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN g1 = 1 THEN ar2 ELSE 0 END) AS HUGEINT)
                       AS r1_2
            FROM r
        ),
        u AS (
            SELECT n1, n2,
                   r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1_2
            FROM agg
        )
        SELECT n1, n2,
               CAST(u1_2 AS DOUBLE) / 2.0 AS u1,
               CAST(2 * CAST(n1 AS HUGEINT) * n2 - u1_2 AS DOUBLE) / 2.0 AS u2,
               round((CAST(u1_2 AS DOUBLE) / 2.0
                      - CAST(n1 AS DOUBLE) * n2 / 2)
                     / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0),
                     6) AS z
        FROM u
    """,
    tags=("stats", "rank", "hypothesis-test", "extension"),
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do URGENT orders run larger than
    LOW orders (first half of 1995)?

    Average pooled ranks via the distinct-value form: per distinct
    cent value, (total count, group-1 count) in one groupBy, the
    domain-bounded prefix sum gives the value's average rank, and
    R₁ = Σ n1(v)·avg_rank(v) — algebraically identical to summing each
    group-1 row's rank (a tie block's ranks sum to count × average),
    which is what the oracle's row-level window computes. R₁ is an
    exact multiple of 0.5 so U₁/U₂ are exact; the normal-approximation
    z (no tie correction — documented) is the only display-rounded
    double, and it is NULL when either group is empty (σ_U = 0 —
    guarded: ANSI raises on the zero division where DuckDB yields
    NULL)."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        & (F.col("o_orderdate") >= F.lit(_MW_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_MW_HI).cast("timestamp"))
    )
    x = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g1"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    vals = x.groupBy("v").agg(
        F.count("*").alias("_n"), F.sum("g1").alias("_n1")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    # DOUBLED rank units: ar2 = 2*cum_before + n + 1 = 2*avg_rank is an
    # exact integer, so the rank sum rides decimal(38,0)/HUGEINT as an
    # exact wide integer instead of a free-order double sum of
    # 0.5-multiples (exactness lost past 2^53; round-9 review find)
    ranked = vals.select(
        "_n",
        "_n1",
        (
            2 * F.coalesce(F.sum("_n").over(w), F.lit(0))
            + F.col("_n")
            + 1
        ).alias("ar2"),
    )
    agg = ranked.agg(
        F.sum("_n1").cast("long").alias("n1"),
        (F.sum("_n") - F.sum("_n1")).cast("long").alias("n2"),
        F.sum(F.col("_n1").cast("decimal(38,0)") * F.col("ar2")).alias("r1_2"),
    )
    u1_2 = F.col("r1_2") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    u1d = u1_2.cast("double") / 2.0
    return agg.select(
        "n1",
        "n2",
        u1d.alias("u1"),
        (
            (
                2 * F.col("n1").cast("decimal(38,0)") * F.col("n2") - u1_2
            ).cast("double")
            / 2.0
        ).alias("u2"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.round(
                (u1d - F.col("n1").cast("double") * F.col("n2") / 2)
                / F.sqrt(
                    F.col("n1").cast("double")
                    * F.col("n2")
                    * (F.col("n1") + F.col("n2") + 1)
                    / 12.0
                ),
                6,
            ),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Statistical tests.
#
# Kruskal-Wallis (the k-group extension of Mann-Whitney), Jarque-Bera
# normality, Brown-Forsythe variance equality, and Cramér's V effect
# size — the remaining hypothesis-test surface an analytics engine's
# stats tail needs beyond round 6/7's Spearman/ANOVA/MW/KS family.
#
# All kernels follow the conventions at the top of this module: money as integer cents,
# rank statistics over the distinct-VALUE domain (generator-bounded,
# not corpus-bounded), divide-by-zero guards mirrored in both engines,
# display rounding only on final ratios. Each mirrored-oracle statistic
# ships with a plain-Python brute-force recompute
# (tests/test_round8_parity.py) — the round-7 program's rule.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across all order priorities
# ---------------------------------------------------------------------------


@register(
    "kruskal_wallis_priority",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        r AS (
            SELECT g, v,
                   rank() OVER (ORDER BY v)
                     + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar
            FROM x
        ),
        per_g AS (
            SELECT g, count(*) AS n_g, sum(ar) AS r_g FROM r GROUP BY g
        ),
        ties AS (
            SELECT sum(t * t * t - t) AS tie3
            FROM (SELECT count(*) AS t FROM x GROUP BY v)
        ),
        tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(r_g * r_g / n_g) AS s
            FROM per_g
        )
        SELECT n, k,
               ROUND(12.0 / (n * (n + 1.0)) * s - 3 * (n + 1), 6) AS h,
               ROUND((12.0 / (n * (n + 1.0)) * s - 3 * (n + 1))
                     / (1 - tie3 / (CAST(n AS DOUBLE) * n * n - n)), 6)
                   AS h_tie_corrected
        FROM tot, ties
        WHERE n > 0 AND k >= 2
          AND tie3 < CAST(n AS DOUBLE) * n * n - n
    """,
    tags=("stats", "rank", "hypothesis-test", "kruskal-wallis", "extension"),
)
def q_kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do order totals differ across the five order
    priorities? The k-group rank test, with the tie-corrected variant
    (ties are heavy on a cent grid).

    Rank kernel: the distinct-value average-rank form (the Spearman
    ``avg_rank_map`` algebra) — per distinct cent value, total and
    per-group counts in one aggregate, a domain-bounded prefix window
    for the pooled average rank, and R_g = Σ n_gv · avg_rank(v). The
    oracle instead ranks ROW-WISE with a global window — an
    independent formulation of the same statistic, so the hash check
    validates the distinct-domain algebra, not a mirror of it. Tie
    term Σ(t³−t) and all counts are exact integers; the only doubles
    are the two final display-rounded ratios (guard: the all-ties
    corpus where the correction denominator hits zero emits nothing,
    both engines)."""
    x = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    gv = x.groupBy("g", "v").agg(F.count("*").alias("n_gv"))
    vals = gv.groupBy("v").agg(F.sum("n_gv").alias("_n"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "_n",
        (
            F.coalesce(F.sum("_n").over(w), F.lit(0)) + (F.col("_n") + 1) / 2.0
        ).alias("avg_rank"),
    )
    per_g = (
        gv.join(ranked.select("v", "avg_rank"), "v")
        .groupBy("g")
        .agg(
            F.sum("n_gv").alias("n_g"),
            F.sum(F.col("n_gv") * F.col("avg_rank")).alias("r_g"),
        )
    )
    ties = vals.agg(
        F.sum(F.col("_n") * F.col("_n") * F.col("_n") - F.col("_n")).alias("tie3")
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("s"),
    )
    h = 12.0 / (F.col("n") * (F.col("n") + F.lit(1.0))) * F.col("s") - 3 * (
        F.col("n") + 1
    )
    n3n = F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    return (
        tot.crossJoin(ties)
        .where(
            (F.col("n") > 0) & (F.col("k") >= 2) & (F.col("tie3") < n3n)
        )
        .select(
            "n",
            "k",
            F.round(h, 6).alias("h"),
            F.round(h / (1 - F.col("tie3") / n3n), 6).alias("h_tie_corrected"),
        )
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality per priority
# ---------------------------------------------------------------------------


@register(
    "jarque_bera_order_values",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        mu AS (SELECT g, avg(v) AS m, count(*) AS n FROM x GROUP BY g),
        cm AS (
            SELECT x.g,
                   CAST(any_value(mu.n) AS BIGINT) AS n,
                   sum((v - m) * (v - m)) / any_value(mu.n) AS m2,
                   sum((v - m) * (v - m) * (v - m)) / any_value(mu.n) AS m3,
                   sum((v - m) * (v - m) * (v - m) * (v - m))
                       / any_value(mu.n) AS m4
            FROM x JOIN mu ON x.g = mu.g GROUP BY x.g
        )
        SELECT g, n,
               ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
               ROUND(m4 / (m2 * m2), 6) AS kurtosis,
               ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                     + POWER(m4 / (m2 * m2) - 3, 2) / 4.0), 6) AS jb
        FROM cm WHERE n >= 2 AND m2 > 0
    """,
    tags=("stats", "normality", "jarque-bera", "extension"),
)
def q_jarque_bera_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic of order totals per priority:
    population skewness and kurtosis from CENTERED moments, combined
    into JB = n/6·(S² + (K−3)²/4). Two-pass centered form instead of
    raw power sums: Σv⁴ on a cent grid overflows int64 (and strains
    decimal(38)) by sf1, while centered deviations stay ~10⁶ so their
    fourth powers sum safely in doubles at any SF — the overflow class
    the round-7 review caught in moment_stats is designed out rather
    than guarded. The group-mean join is a 5-row broadcast; everything
    else is one conditional aggregate per group. Zero-variance groups
    emit nothing (m2 > 0 guard, both engines)."""
    x = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    mu = x.groupBy("g").agg(F.avg("v").alias("m"), F.count("*").alias("n"))
    d = F.col("v") - F.col("m")
    cm = (
        x.join(mu, "g")
        .groupBy("g")
        .agg(
            F.any_value("n").cast("long").alias("n"),
            (F.sum(d * d) / F.any_value("n")).alias("m2"),
            (F.sum(d * d * d) / F.any_value("n")).alias("m3"),
            (F.sum(d * d * d * d) / F.any_value("n")).alias("m4"),
        )
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2"))
    return cm.where((F.col("n") >= 2) & (F.col("m2") > 0)).select(
        "g",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt - 3, 2) / 4.0), 6
        ).alias("jb"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test across priorities
# ---------------------------------------------------------------------------


@register(
    "brown_forsythe_priority",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        med AS (SELECT g, median(v) AS md FROM x GROUP BY g),
        z AS (
            SELECT x.g, abs(v - md) AS z FROM x JOIN med ON x.g = med.g
        ),
        per_g AS (
            SELECT g, count(*) AS n_g, avg(z) AS zbar_g, sum(z) AS zsum_g
            FROM z GROUP BY g
        ),
        tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(zsum_g) / sum(n_g) AS zbar
            FROM per_g
        ),
        between_ AS (
            SELECT sum(n_g * (zbar_g - zbar) * (zbar_g - zbar)) AS ssb
            FROM per_g, tot
        ),
        within_ AS (
            SELECT sum((z.z - p.zbar_g) * (z.z - p.zbar_g)) AS ssw
            FROM z JOIN per_g p ON z.g = p.g
        )
        SELECT n, k,
               ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
        FROM tot, between_, within_
        WHERE k >= 2 AND n > k AND ssw > 0
    """,
    tags=("stats", "variance", "brown-forsythe", "extension"),
)
def q_brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test: one-way ANOVA F computed
    on z = |v − group median| — the robust (median-centered) Levene
    variant. Group medians interpolate identically in both engines
    (exact .0/.5 values on the cent grid); the z frame is exact halves
    so every sum is FP-safe. Same staged shape as anova_f_priority:
    a 5-row median table broadcast back, one grouped aggregate, one
    1-row cross join; the zero-within-variance and k<2 degenerate
    corpora emit nothing in both engines (the guard class the round-7
    degenerate sweep pinned)."""
    x = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    med = x.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("md"))
    z = x.join(med, "g").select("g", F.abs(F.col("v") - F.col("md")).alias("z"))
    per_g = z.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.avg("z").alias("zbar_g"),
        F.sum("z").alias("zsum_g"),
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        (F.sum("zsum_g") / F.sum("n_g")).alias("zbar"),
    )
    ssb = per_g.crossJoin(tot.select("zbar")).agg(
        F.sum(
            F.col("n_g")
            * (F.col("zbar_g") - F.col("zbar"))
            * (F.col("zbar_g") - F.col("zbar"))
        ).alias("ssb")
    )
    ssw = (
        z.join(per_g.select("g", "zbar_g"), "g")
        .agg(
            F.sum(
                (F.col("z") - F.col("zbar_g")) * (F.col("z") - F.col("zbar_g"))
            ).alias("ssw")
        )
    )
    return (
        tot.crossJoin(ssb)
        .crossJoin(ssw)
        .where((F.col("k") >= 2) & (F.col("n") > F.col("k")) & (F.col("ssw") > 0))
        .select(
            "n",
            "k",
            F.round(
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Cramér's V between order status and priority
# ---------------------------------------------------------------------------


@register(
    "cramers_v_status_priority",
    oracle="""
        WITH obs AS (
            SELECT o_orderstatus AS r, o_orderpriority AS c,
                   count(*) AS o
            FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT r, sum(o) AS rtot FROM obs GROUP BY r),
        ct AS (SELECT c, sum(o) AS ctot FROM obs GROUP BY c),
        n AS (SELECT sum(o) AS n FROM obs),
        full_grid AS (
            SELECT rt.r, ct.c, rt.rtot, ct.ctot, coalesce(obs.o, 0) AS o
            FROM rt CROSS JOIN ct
            LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c
        ),
        chi AS (
            SELECT sum(POWER(o - CAST(rtot AS DOUBLE) * ctot / n.n, 2)
                       / (CAST(rtot AS DOUBLE) * ctot / n.n)) AS chi2,
                   CAST(any_value(n.n) AS BIGINT) AS n,
                   CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_cols
            FROM full_grid, n
        )
        SELECT n, n_rows, n_cols,
               ROUND(chi2, 6) AS chi2,
               ROUND(sqrt(chi2 / (n * (least(n_rows, n_cols) - 1))), 6)
                   AS cramers_v
        FROM chi
        WHERE n > 0 AND least(n_rows, n_cols) >= 2
    """,
    tags=("stats", "association", "cramers-v", "extension"),
)
def q_cramers_v_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between order status and priority: the
    full chi-squared over the r×c contingency table — INCLUDING
    zero-observation cells, which the plain groupBy misses and which
    bias chi² low if dropped (the grid is rebuilt as margins
    cross-join ⟕ observed) — normalized to [0,1] by n·(min(r,c)−1).
    The margins are dimension-bounded (statuses × priorities), so the
    grid build is a broadcast cross join of two tiny aggregates;
    single-category corpora emit nothing in both engines."""
    obs = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderstatus").alias("r"), F.col("o_orderpriority").alias("c")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("r").agg(F.sum("o").alias("rtot"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("ctot"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["r", "c"], "left")
        .select("r", "c", "rtot", "ctot", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    # one margin in DOUBLE before the product: rtot*ctot as BIGINT×BIGINT
    # overflows int64 once orders reach ~1e10 rows (several-TB SF) and
    # ANSI Spark would abort — the same overflow class the Kendall /
    # Jarque-Bera / rolling-OLS kernels design out. Expected counts only
    # feed the double chi², so no exactness is lost; the oracle mirrors
    # CAST(rtot AS DOUBLE) so both engines run the identical op sequence.
    exp = F.col("rtot").cast("double") * F.col("ctot") / F.col("n")
    chi = grid.crossJoin(n).agg(
        F.sum(F.pow(F.col("o") - exp, 2) / exp).alias("chi2"),
        F.any_value("n").cast("long").alias("n"),
        F.countDistinct("r").cast("long").alias("n_rows"),
        F.countDistinct("c").cast("long").alias("n_cols"),
    )
    return chi.where(
        (F.col("n") > 0) & (F.least("n_rows", "n_cols") >= 2)
    ).select(
        "n",
        "n_rows",
        "n_cols",
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * (F.least("n_rows", "n_cols") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Hypothesis tests and effect sizes.
#
# Goodness-of-fit (chi² vs uniform weekdays), the Wald–Wolfowitz runs
# test, Grubbs' max-outlier statistic, permutation entropy, and Cohen's
# d — extending the stats battery past the r8 set (Kruskal-Wallis,
# Jarque-Bera, Brown-Forsythe, Cramér's V).
#
# Numeric discipline carried forward: all moments fold from EXACT
# integer sums (Σx BIGINT, Σx² decimal-38/HUGEINT — the int64-overflow
# class); argmax membership rides exact integers (|n·x − S|); the only
# free-order double reduction (permutation-entropy Σ p·log2 p) is an
# ORDERED fold over the ≤ 8-row pattern domain in both engines (the r8
# Brown/EWMA rule); everything else is display-rounded doubles derived
# through pinned IEEE op sequences.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Chi-squared goodness-of-fit: weekday uniformity of order arrivals
# ---------------------------------------------------------------------------


@register(
    "chi2_gof_weekday_uniform",
    oracle="""
        WITH wd AS (
            SELECT dayname(o_orderdate) AS weekday, count(*) AS o
            FROM orders GROUP BY 1
        )
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_weekdays,
               ROUND(7.0 * CAST(sum(CAST(o AS HUGEINT) * o) AS DOUBLE)
                     / sum(o) - sum(o), 6) AS chi2
        FROM wd
        HAVING count(*) = 7
    """,
    tags=("stats", "chi-squared", "goodness-of-fit", "extension"),
)
def q_chi2_gof_weekday_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared goodness-of-fit of order arrivals against a uniform
    weekday distribution (df = 6). Algebraic form: with e = n/7,
    Σ(o−e)²/e collapses to 7·Σo²/n − n — Σo² is an EXACT integer
    (HUGEINT/decimal-38), so the statistic is one deterministic double
    expression instead of a free-order sum of seven per-cell doubles.
    Emits nothing unless all 7 weekdays are populated (degenerate
    corpora skip the test in both engines)."""
    wd = read_table(spark, sf_dir, "orders").groupBy(
        F.date_format("o_orderdate", "EEEE").alias("weekday")
    ).agg(F.count("*").alias("o"))
    agg = wd.agg(
        F.sum("o").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_weekdays"),
        F.sum(F.col("o").cast("decimal(38,0)") * F.col("o")).alias("q"),
    )
    return agg.where(F.col("n_weekdays") == 7).select(
        "n",
        "n_weekdays",
        F.round(
            7.0 * F.col("q").cast("double") / F.col("n") - F.col("n"), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily revenue (above/below median)
# ---------------------------------------------------------------------------


@register(
    "runs_test_daily_revenue",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        med AS (SELECT median(rev_c) AS m FROM daily),
        signs AS (
            SELECT d, CASE WHEN rev_c > m THEN 1 ELSE -1 END AS sgn
            FROM daily, med WHERE rev_c <> m
        ),
        marked AS (
            SELECT sgn,
                   CASE WHEN sgn <> lag(sgn) OVER (ORDER BY d)
                         OR lag(sgn) OVER (ORDER BY d) IS NULL
                        THEN 1 ELSE 0 END AS new_run
            FROM signs
        ),
        runs AS (
            SELECT sum(new_run) AS r,
                   sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n2
            FROM marked
        )
        SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
               CAST(r AS BIGINT) AS n_runs,
               ROUND((r - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1))
                     / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                            * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                            / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
                                   AS DOUBLE)),
                     6) AS z
        FROM runs
        WHERE n1 >= 1 AND n2 >= 1 AND 2 * n1 * n2 > n1 + n2
    """,
    tags=("stats", "runs-test", "randomness", "extension"),
)
def q_runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of daily revenue around
    its median: days strictly above/below the exact median form a ±1
    sequence; the run count's normal approximation z is reported.
    Median-equal days are excluded (the standard treatment; the median
    of BIGINT cents is the midpoint average, exactly representable).
    R, n₁, n₂ are exact integers; z is one pinned double expression.
    Degenerate corpora (all-equal, one-sided, σ=0) emit nothing in
    both engines."""
    daily = _daily(spark, sf_dir)
    med = daily.agg(F.median("rev_c").alias("m"))
    signs = (
        daily.crossJoin(med)
        .where(F.col("rev_c") != F.col("m"))
        .select("d", F.when(F.col("rev_c") > F.col("m"), 1).otherwise(-1).alias("sgn"))
    )
    w = Window.orderBy("d")
    runs = signs.select(
        F.when(
            F.lag("sgn").over(w).isNull() | (F.col("sgn") != F.lag("sgn").over(w)), 1
        )
        .otherwise(0)
        .alias("new_run"),
        "sgn",
    ).agg(
        F.sum("new_run").alias("r"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    # all products fold as exact integers first, ONE cast to double per
    # factor, pinned op order (A*B)/C — the z must be the identical
    # IEEE sequence in both engines (textual 2.0 in DuckDB would fold
    # DECIMAL arithmetic instead)
    mu = (2 * n1 * n2).cast("double") / (n1 + n2) + 1
    var = (
        (2 * n1 * n2).cast("double")
        * (2 * n1 * n2 - n1 - n2).cast("double")
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)).cast("double")
    )
    return runs.where(
        (n1 >= 1) & (n2 >= 1) & (2 * n1 * n2 > n1 + n2)
    ).select(
        n1.cast("long").alias("n_up"),
        n2.cast("long").alias("n_down"),
        r.cast("long").alias("n_runs"),
        F.round((r - mu) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Grubbs' max-outlier statistic on daily revenue
# ---------------------------------------------------------------------------


@register(
    "grubbs_statistic_daily",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        tot AS (
            SELECT count(*) AS n, sum(rev_c) AS s,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) AS q
            FROM daily
        ),
        dev AS (
            SELECT d, rev_c, n, s, q,
                   abs(CAST(n AS HUGEINT) * rev_c - s) AS idev
            FROM daily, tot
        )
        SELECT d AS peak_day, rev_c / 100.0 AS revenue,
               CAST(n AS BIGINT) AS n,
               ROUND((CAST(idev AS DOUBLE) / n)
                     / sqrt((CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                            / (n - 1)), 6) AS g
        FROM (
            SELECT *, row_number() OVER (ORDER BY idev DESC, d ASC) AS rn
            FROM dev
            WHERE n >= 3 AND CAST(q AS HUGEINT) * n > CAST(s AS HUGEINT) * s
        ) WHERE rn = 1
    """,
    tags=("stats", "outlier", "grubbs", "extension"),
)
def q_grubbs_statistic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' statistic G = max|x−x̄|/s over daily revenue, with the
    flagged day. The argmax rides the EXACT integer |n·x − S| (never a
    double deviation — the membership rule), ties to the earliest day;
    G itself is the displayed double from exact moment sums. The
    zero-variance guard n·Σx² > (Σx)² compares exact wide integers,
    the same form as moment_stats' skew guard."""
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("rev_c").alias("s"),
        F.sum(F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).alias("q"),
    )
    dev = daily.crossJoin(tot).select(
        "d",
        "rev_c",
        "n",
        "s",
        "q",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("rev_c") - F.col("s")
        ).alias("idev"),
    )
    guarded = dev.where(
        (F.col("n") >= 3)
        & (
            F.col("q").cast("decimal(38,0)") * F.col("n")
            > F.col("s").cast("decimal(38,0)") * F.col("s")
        )
    )
    w = Window.orderBy(F.desc("idev"), F.asc("d"))
    sd = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    return (
        guarded.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("d").alias("peak_day"),
            (F.col("rev_c") / 100.0).alias("revenue"),
            F.col("n").cast("long").alias("n"),
            F.round((F.col("idev").cast("double") / F.col("n")) / sd, 6).alias("g"),
        )
    )


# ---------------------------------------------------------------------------
# Permutation entropy (order-3 ordinal patterns) of daily revenue
# ---------------------------------------------------------------------------


@register(
    "permutation_entropy_daily",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        tri AS (
            SELECT rev_c AS x0,
                   lead(rev_c, 1) OVER (ORDER BY d) AS x1,
                   lead(rev_c, 2) OVER (ORDER BY d) AS x2
            FROM daily
        ),
        pat AS (
            SELECT 4 * (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END)
                 + 2 * (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END)
                 + (CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS p
            FROM tri WHERE x2 IS NOT NULL
        ),
        cnt AS (SELECT p, count(*) AS c FROM pat GROUP BY p),
        folded AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   list(CAST(c AS DOUBLE) ORDER BY p) AS cs
            FROM cnt
        )
        SELECT n AS n_triples, k AS n_patterns,
               ROUND(-list_sum(list_transform(
                   cs, x -> x / n * log2(x / n))), 6) + 0.0 AS entropy
        FROM folded
        WHERE n > 0
    """,
    tags=("stats", "entropy", "ordinal-pattern", "extension"),
)
def q_permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy of daily revenue (order-3 ordinal patterns,
    Bandt–Pompe): each consecutive day triple maps to its rank pattern
    (ties broken by position via <=, giving a deterministic 6-pattern
    code), and the Shannon entropy of the pattern distribution is the
    complexity score. Pattern counts are exact integers; the entropy
    reduction is an ORDERED fold over the ≤ 8-row pattern domain in
    both engines (free-order Σ p·log2 p is the r8 rounding-flip
    class)."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    tri = daily.select(
        F.col("rev_c").alias("x0"),
        F.lead("rev_c", 1).over(w).alias("x1"),
        F.lead("rev_c", 2).over(w).alias("x2"),
    ).where(F.col("x2").isNotNull())
    pat = tri.select(
        (
            4 * (F.col("x0") <= F.col("x1")).cast("int")
            + 2 * (F.col("x0") <= F.col("x2")).cast("int")
            + (F.col("x1") <= F.col("x2")).cast("int")
        ).alias("p")
    )
    cnt = pat.groupBy("p").agg(F.count("*").alias("c"))
    agg = cnt.agg(
        F.sum("c").alias("n"),
        F.count("*").alias("k"),
        F.sort_array(F.collect_list(F.struct("p", "c"))).alias("pcs"),
    )
    ent = -F.aggregate(
        F.col("pcs"),
        F.lit(0.0),
        lambda acc, r: acc
        + r["c"].cast("double") / F.col("n") * F.log2(r["c"].cast("double") / F.col("n")),
    )
    return agg.where(F.col("n") > 0).select(
        F.col("n").cast("long").alias("n_triples"),
        F.col("k").cast("long").alias("n_patterns"),
        # +0.0 pins −0.0 → +0.0 (a constant series has ONE pattern, so
        # the negated zero fold keeps DuckDB's sign bit where Spark
        # normalizes — the degenerate-sweep class)
        (F.round(ent, 6) + F.lit(0.0)).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Cohen's d: effect size between return flags
# ---------------------------------------------------------------------------


@register(
    "cohens_d_returnflag",
    oracle="""
        WITH g AS (
            SELECT l_returnflag AS f,
                   count(*) AS n,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s,
                   sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS q
            FROM lineitem WHERE l_returnflag IN ('A', 'R')
            GROUP BY l_returnflag
        ),
        two AS (
            SELECT a.n AS na, a.s AS sa, a.q AS qa,
                   r.n AS nr, r.s AS sr, r.q AS qr
            FROM (SELECT * FROM g WHERE f = 'A') a,
                 (SELECT * FROM g WHERE f = 'R') r
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
               ROUND(CAST(sa AS DOUBLE) / na / 100.0, 6) AS mean_a,
               ROUND(CAST(sr AS DOUBLE) / nr / 100.0, 6) AS mean_r,
               ROUND((CAST(sa AS DOUBLE) / na - CAST(sr AS DOUBLE) / nr)
                     / sqrt(((CAST(qa AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
                             + (CAST(qr AS DOUBLE)
                                - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nr))
                            / (na + nr - 2)), 6) AS cohens_d
        FROM two
        WHERE na >= 2 AND nr >= 2
          AND (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
            + (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nr)
              > 0
    """,
    tags=("stats", "effect-size", "cohens-d", "extension"),
)
def q_cohens_d_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between returned ('R') and accepted ('A')
    line prices: (x̄_A − x̄_R) / s_pooled with the pooled sample
    variance from exact integer-cent moment sums (Σx BIGINT, Σx²
    decimal-38/HUGEINT). Both the mean difference and the pooled spread
    are in cents, so their ratio is ALREADY scale-free — no unit
    conversion belongs in d (a stray /100 here once reported d/100;
    caught in the round-9 review pass — oracle parity is blind to a
    formula error both engines share, which is why the means are also
    displayed for a dimensional sanity check). Zero-pooled-variance and
    singleton groups emit nothing in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = (
        li.where(F.col("l_returnflag").isin("A", "R"))
        .select(F.col("l_returnflag").alias("f"), cents.alias("x"))
        .groupBy("f")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
        )
    )
    a = g.where(F.col("f") == "A").select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("q").alias("qa")
    )
    r = g.where(F.col("f") == "R").select(
        F.col("n").alias("nr"), F.col("s").alias("sr"), F.col("q").alias("qr")
    )
    two = a.crossJoin(r)
    ssa = F.col("qa").cast("double") - F.col("sa").cast("double") * F.col(
        "sa"
    ).cast("double") / F.col("na")
    ssr = F.col("qr").cast("double") - F.col("sr").cast("double") * F.col(
        "sr"
    ).cast("double") / F.col("nr")
    sp = F.sqrt((ssa + ssr) / (F.col("na") + F.col("nr") - 2))
    return two.where(
        (F.col("na") >= 2) & (F.col("nr") >= 2) & ((ssa + ssr) > 0)
    ).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nr").cast("long").alias("n_r"),
        F.round(F.col("sa").cast("double") / F.col("na") / 100.0, 6).alias("mean_a"),
        F.round(F.col("sr").cast("double") / F.col("nr") / 100.0, 6).alias("mean_r"),
        F.round(
            (F.col("sa").cast("double") / F.col("na") - F.col("sr").cast("double") / F.col("nr"))
            / sp,
            6,
        ).alias("cohens_d"),
    )
