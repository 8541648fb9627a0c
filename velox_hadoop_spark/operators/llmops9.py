"""LLM-pipeline operators, round 10. [extension]

DoReMi-shape mixture reweighting (per-source loss-proxy weight
updates, Xie et al. 2023's excess-loss multiplicative rule in a
deterministic 2-step unroll), MAP@10 / MRR@10 retrieval metrics next
to the nDCG kernel, a silhouette-lite cluster-QA score over the
k-means cells, and the compaction plan→execution twin that verifies
the bin-packing planner's row accounting by actually grouping.

Numeric discipline (the round-9/10 cancellation-class rules): every
cross-group reduction is a sum of exact BIGINT micro-grid terms —
per-token surprisal on a 1e-6 grid, per-term mixture products on a
1e-9/1e-12 grid, AP@k terms as exact integers on the lcm(1..10)=2520
grid, per-member silhouette terms on a 1e-6 grid — so no threshold,
ranking, or weight ever rides a free-order double sum; exp() outputs
are pinned with the sqlbreadth._fix6 convention before reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.clustering import ITERS as KM_ITERS
from velox_hadoop_spark.operators.clustering import K as KM_K
from velox_hadoop_spark.operators.clustering import _duck_kmeans_ctes, kmeans
from velox_hadoop_spark.operators.layout import (
    COMPACT_TARGET_ROWS,
    compaction_plan,
)
from velox_hadoop_spark.operators.retrieval import NDCG_QUERIES
from velox_hadoop_spark.operators.similarity import _DUCK_COS, cosine_pairs
from velox_hadoop_spark.functions.vectors import to_double
from velox_hadoop_spark.plans.registry import register

DOREMI_ETA = 1.0     # multiplicative-update step size
DOREMI_ITERS = 2     # fixed unroll depth (oracle mirrors per-step CTEs)
# Excess-loss clip (nats). DoReMi clips per-step updates; here the clip
# also BOUNDS the integer grids: exp(η·excess) ≤ e^10 ≈ 2.2e4, so the
# 1e-12-grid update mass floor(w·exp·1e12 + 0.5) stays ≤ ~2.2e16 —
# far inside BIGINT for BOTH engines (unclipped, a globally-unique-token
# source in a huge corpus reaches w·exp(20)·1e12 ≈ 1e19: Spark's
# floor→long would saturate silently while DuckDB's CAST raises).
DOREMI_MAX_EXCESS = 10.0
MAP_K = 10
_AP_LCM = 2520       # lcm(1..10): precision@i terms become exact integers

from velox_hadoop_spark.operators.sqlbreadth import _fix6  # noqa: E402  (the ONE home of the transcendental pin)


# ---------------------------------------------------------------------------
# DoReMi-shape mixture reweighting
# ---------------------------------------------------------------------------


# Shared unrolled-CTE body for the DoReMi pipeline (ends at s2 with the
# final 1e-9-grid weight `w`; `base` keeps n_tokens/lq/w0). Both the
# reweight report and the resample composite mirror EXACTLY this chain.
_DOREMI_CTES = f"""
        tok AS (
            SELECT source, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        t AS (SELECT source, tok FROM tok WHERE tok <> ''),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t),
        tc AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
        q AS (
            SELECT t.source,
                   CAST(floor((-ln(CAST(tc.c AS DOUBLE) / n.n_total)) * 1e6
                              + 0.5) AS BIGINT) AS sq
            FROM t JOIN tc USING (tok) CROSS JOIN n
        ),
        src AS (
            SELECT source, count(*) AS ns, sum(sq) AS ls
            FROM q GROUP BY source
        ),
        base AS (
            SELECT source,
                   CAST(ns AS BIGINT) AS n_tokens,
                   CAST(floor(CAST(ls AS DOUBLE) / ns + 0.5) AS BIGINT) AS lq,
                   floor(CAST(ns AS DOUBLE)
                         / (SELECT n_total FROM n) * 1e9 + 0.5) / 1e9 AS w0
            FROM src
        ),
        s0 AS (SELECT source, n_tokens, lq, lq / 1e6 AS l, w0 AS w FROM base),
        b1 AS (
            SELECT CAST(sum(CAST(floor((w * l) * 1e9 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e9 AS b
            FROM s0
        ),
        u1 AS (
            SELECT source, n_tokens, lq, l,
                   CAST(floor((w * (floor(exp({DOREMI_ETA!r}
                        * least(greatest(l - (SELECT b FROM b1), 0.0),
                                {DOREMI_MAX_EXCESS!r})) * 1e6 + 0.5)
                        / 1e6)) * 1e12 + 0.5) AS BIGINT) AS uq
            FROM s0
        ),
        s1 AS (
            SELECT source, n_tokens, lq, l,
                   floor(CAST(uq AS DOUBLE)
                         / CAST((SELECT sum(uq) FROM u1) AS DOUBLE)
                         * 1e9 + 0.5) / 1e9 AS w
            FROM u1
        ),
        b2 AS (
            SELECT CAST(sum(CAST(floor((w * l) * 1e9 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e9 AS b
            FROM s1
        ),
        u2 AS (
            SELECT source, n_tokens, lq, l,
                   CAST(floor((w * (floor(exp({DOREMI_ETA!r}
                        * least(greatest(l - (SELECT b FROM b2), 0.0),
                                {DOREMI_MAX_EXCESS!r})) * 1e6 + 0.5)
                        / 1e6)) * 1e12 + 0.5) AS BIGINT) AS uq
            FROM s1
        ),
        s2 AS (
            SELECT source,
                   floor(CAST(uq AS DOUBLE)
                         / CAST((SELECT sum(uq) FROM u2) AS DOUBLE)
                         * 1e9 + 0.5) / 1e9 AS w
            FROM u2
        )
"""


@register(
    "doremi_mixture_reweight",
    oracle=f"""
        WITH {_DOREMI_CTES}
        SELECT base.source, base.n_tokens,
               ROUND(base.lq / 1e6, 6) AS mean_surprisal,
               ROUND(base.w0, 6) + 0.0 AS w0,
               ROUND(s1.w, 6) + 0.0 AS w1,
               ROUND(s2.w, 6) + 0.0 AS w2
        FROM base
        JOIN s1 USING (source)
        JOIN s2 USING (source)
    """,
    tags=("llm-pipeline", "doremi", "mixture", "extension"),
)
def q_doremi_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-shape domain reweighting: per-source mean token surprisal
    under the corpus unigram LM is the loss proxy; starting from the
    token-share mixture w0, two multiplicative updates
    w ← normalize(w · exp(η · min(max(ℓ_s − Σ w·ℓ, 0), CLIP))) raise
    the weight of sources whose loss exceeds the current-mixture
    average (the excess-loss rule of Xie et al. 2023 with the standard
    update clip — which here also bounds the integer grids, see
    ``DOREMI_MAX_EXCESS``; both steps renormalize, so step 2 genuinely
    depends on step 1's mixture). Deterministic end to end: surprisal
    is summed as exact 1e-6-grid BIGINTs, mixture-average terms as
    1e-9-grid BIGINTs, update masses as 1e-12-grid BIGINTs, and exp()
    is pinned to the 1e-6 grid (sqlbreadth._fix6 convention) — so the clipped
    threshold and both normalizations never ride a free-order double.

    Scale shape: one token explode feeding a token-frequency join
    (1:1 per occurrence), one per-source grouped sum; the iteration
    runs on the |sources|-row frame with scalar aggregates AQE
    broadcasts — no window, no driver loop."""
    base, w_hist = doremi_weight_frames(read_table(spark, sf_dir, "documents"), sf_dir=sf_dir)
    out = base.select(
        "source",
        "n_tokens",
        F.round(F.col("lq") / F.lit(1e6), 6).alias("mean_surprisal"),
        (F.round(F.col("w0"), 6) + F.lit(0.0)).alias("w0"),
    )
    for i, wf in enumerate(w_hist, start=1):
        out = out.join(
            wf.select("source", (F.round(f"w{i}", 6) + F.lit(0.0)).alias(f"w{i}")),
            "source",
        )
    return out


# Session cache for the DoReMi per-source base histogram (r11 verdict
# follow-on #4: doremi_mixture_reweight / doremi_weighted_resample /
# doremi_resample_report each re-ran the corpus-wide token pipeline;
# everything AFTER `base` is |sources|-row arithmetic). Holds
# DRIVER-LOCAL rows only — (source, n_tokens, lq, w0) × |sources|,
# a mixture-domain count (dozens at any SF; the MAX_SOURCES guard
# refuses to cache a pathological million-source corpus rather than
# collect it). Keyed like recall_ground_truth / ivf_codebook on
# (applicationId, sf_dir, documents content fingerprint).
_DOREMI_BASE_CACHE: dict = {}
_DOREMI_BASE_MAX_SOURCES = 10_000


def doremi_weight_frames(docs: DataFrame, sf_dir: str | None = None):
    """The DoReMi pipeline as frames: returns (base, [w1f, w2f]) where
    base carries (source, n_tokens, lq, w0) and each wi frame the
    1e-9-grid post-iteration weight — the ONE home of the update rule,
    shared by the reweight report and the resample composite (both
    oracles mirror the same ``_DOREMI_CTES`` chain).

    With ``sf_dir`` the |sources|-row base histogram is served from a
    driver-local session cache (content-fingerprinted — see
    ``catalog.content_fingerprint``): the corpus-wide token pipeline
    runs once per (session, corpus state) and every later DoReMi query
    or warm re-run replays base as a local relation. The iteration
    arithmetic is identical either way — it only ever reads base.
    PRECONDITION when passing ``sf_dir``: ``docs`` must be the
    canonical documents table of that directory (the cache key covers
    the file state, not the DataFrame — a filtered frame with sf_dir
    set would be served the full corpus's histogram); derived-corpus
    callers pass ``sf_dir=None``.

    Cache lifetime: the persisted intermediates (token explode,
    vocab counts, base) follow the dedup.py contract — a lazy-returning
    helper cannot unpersist before the caller consumes the result, so
    the CALLER owns the cache (bench and the driver gate clearCache
    per query)."""
    import os

    from pyspark.storagelevel import StorageLevel

    from velox_hadoop_spark.catalog import content_fingerprint

    spark = docs.sparkSession
    key = None
    if sf_dir is not None:
        key = (
            spark.sparkContext.applicationId,
            sf_dir,
            content_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        )
        hit = _DOREMI_BASE_CACHE.get(key)
        if hit is not None:
            rows, schema = hit
            return _doremi_iterate(spark.createDataFrame(rows, schema))

    # ONE corpus-proportional shuffle (round 14, guide §2.3/§5): the
    # token explode pre-aggregates to per-(source, token) counts before
    # anything is materialized or joined. The old shape persisted the
    # FULL token explode (|tokens| rows) and joined it row-by-row with
    # the vocab table; every downstream number only needs the counts —
    # a source's surprisal sum is Σ_tok cnt·sq(tok), exactly the same
    # integers (sq is constant per token, and long sums are
    # order-free). Persists drop from three to two, and the persisted
    # frame shrinks from the token multiset to |sources × vocab| rows.
    stc = (
        docs.select("source", F.explode(F.split("text", r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # corpus vocab counts and total both roll up from the persisted
    # per-source counts — no second corpus pass
    tc = stc.groupBy("tok").agg(F.sum("cs").alias("c"))
    n = stc.agg(F.sum("cs").cast("long").alias("n_total"))
    sq = F.floor(
        (-F.log(F.col("c").cast("double") / F.col("n_total"))) * F.lit(1e6)
        + F.lit(0.5)
    )
    src = (
        stc.join(tc, "tok")
        .crossJoin(n)
        .groupBy("source")
        .agg(
            F.sum("cs").alias("ns"),
            F.sum(F.col("cs") * sq).alias("ls"),
        )
    )
    # persist: every iteration scalar (b, z) and the final joins re-read
    # this |sources|-row frame; without a materialization point each
    # branch re-runs the corpus-wide token pipeline above it
    base = src.crossJoin(n).select(
        "source",
        F.col("ns").cast("long").alias("n_tokens"),
        F.floor(F.col("ls").cast("double") / F.col("ns") + F.lit(0.5)).alias("lq"),
        (
            F.floor(
                F.col("ns").cast("double") / F.col("n_total") * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("w0"),
    ).persist()
    if key is not None:
        probe = base.limit(_DOREMI_BASE_MAX_SOURCES + 1).collect()
        if len(probe) <= _DOREMI_BASE_MAX_SOURCES:
            for stale in [
                k for k in _DOREMI_BASE_CACHE if k[:2] == key[:2] and k != key
            ]:
                _DOREMI_BASE_CACHE.pop(stale)
            _DOREMI_BASE_CACHE[key] = (probe, base.schema)
    return _doremi_iterate(base)


def _doremi_iterate(base: DataFrame):
    """The |sources|-row DoReMi iteration arithmetic over a prepared
    base histogram — split from the corpus pipeline so a cached base
    (local relation) and a freshly-derived one run the IDENTICAL
    crossJoin/fold sequence (bit-equal weights either way)."""
    s = base.select(
        "source", "n_tokens", "lq", (F.col("lq") / F.lit(1e6)).alias("l"),
        F.col("w0").alias("w"),
    )
    w_hist = []
    for _ in range(DOREMI_ITERS):
        b = s.agg(
            (
                F.sum(
                    F.floor((F.col("w") * F.col("l")) * F.lit(1e9) + F.lit(0.5))
                ).cast("double")
                / F.lit(1e9)
            ).alias("b")
        )
        u = s.crossJoin(b).select(
            "source",
            "n_tokens",
            "lq",
            "l",
            F.col("w").alias("w_prev"),
            F.floor(
                (
                    F.col("w")
                    * _fix6(
                        F.exp(
                            F.lit(DOREMI_ETA)
                            * F.least(
                                F.greatest(F.col("l") - F.col("b"), F.lit(0.0)),
                                F.lit(DOREMI_MAX_EXCESS),
                            )
                        )
                    )
                )
                * F.lit(1e12)
                + F.lit(0.5)
            ).alias("uq"),
        )
        z = u.agg(F.sum("uq").cast("double").alias("z"))
        s = u.crossJoin(z).select(
            "source",
            "n_tokens",
            "lq",
            "l",
            (
                F.floor(
                    F.col("uq").cast("double") / F.col("z") * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("w"),
        )
        w_hist.append(s.select("source", F.col("w").alias(f"w{len(w_hist) + 1}")))
    return base, w_hist


# ---------------------------------------------------------------------------
# MAP@10 / MRR@10 retrieval metrics (label ground truth)
# ---------------------------------------------------------------------------


@register(
    "retrieval_map_mrr_at_10",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   q.label AS ql, n.label AS nl,
                   {_DUCK_COS} AS cos
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {NDCG_QUERIES}
        ),
        ranked AS (
            SELECT query_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                   ) AS rnk,
                   CASE WHEN ql = nl THEN 1 ELSE 0 END AS rel
            FROM pairs
        ),
        rtot AS (
            SELECT query_id, sum(rel) AS n_rel_total FROM ranked
            GROUP BY query_id
        ),
        cum AS (
            SELECT query_id, rnk, rel,
                   sum(rel) OVER (
                       PARTITION BY query_id ORDER BY rnk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS hits
            FROM ranked WHERE rnk <= {MAP_K}
        ),
        perq AS (
            SELECT query_id,
                   CAST(sum(rel) AS BIGINT) AS n_rel_topk,
                   CAST(sum(rel * hits * ({_AP_LCM} // rnk)) AS BIGINT)
                       AS ap_num,
                   min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
            FROM cum GROUP BY query_id
        )
        SELECT p.query_id,
               CAST(r.n_rel_total AS BIGINT) AS n_rel_total,
               p.n_rel_topk,
               ROUND(CAST(p.ap_num AS DOUBLE)
                     / ({_AP_LCM}.0 * least(r.n_rel_total, {MAP_K})), 6)
                   AS ap_at_10,
               coalesce(ROUND(1.0 / p.first_rel, 6), 0.0) AS rr_at_10
        FROM perq p JOIN rtot r USING (query_id)
        WHERE r.n_rel_total >= 1
    """,
    tags=("retrieval", "evaluation", "map", "mrr", "extension"),
)
def q_retrieval_map_mrr_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 and MRR@10 of the brute-force cosine ranking for the same
    query sample and label ground truth as ``knn_label_ndcg_at_10`` —
    the order-sensitive retrieval scorecard pair (AP punishes late
    relevants, RR reads the first hit).

    Exactness: precision@i terms are rationals with denominators in
    1..10, so AP's numerator is summed as EXACT integers on the
    lcm(1..10)={_AP_LCM} grid (rel·hits·(lcm÷rank) — integer division
    is exact there) and divided once at the end; RR is a single pinned
    division. No free-order double sum anywhere; queries with no
    same-label document are skipped like the nDCG kernel."""
    emb = read_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    scored = cosine_pairs(emb.where(F.col("vec_id") < NDCG_QUERIES), emb)
    ranked = (
        scored.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("neighbor_id")
                )
            )
            .alias("rnk"),
            F.when(F.col("ql") == F.col("nl"), 1).otherwise(0).alias("rel"),
        )
    )
    # persist: rtot and the top-10 cum pass both read the ranked frame
    # (cosine join + per-query sort — the heaviest stage); one
    # materialization instead of two
    ranked = ranked.persist()
    rtot = ranked.groupBy("query_id").agg(F.sum("rel").alias("n_rel_total"))
    wcum = (
        Window.partitionBy("query_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranked.where(F.col("rnk") <= MAP_K).withColumn(
        "hits", F.sum("rel").over(wcum)
    )
    perq = cum.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel_topk"),
        F.sum(
            F.col("rel") * F.col("hits") * (F.lit(_AP_LCM) / F.col("rnk")).cast("long")
        )
        .cast("long")
        .alias("ap_num"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
    )
    return (
        perq.join(rtot, "query_id")
        .where(F.col("n_rel_total") >= 1)
        .select(
            "query_id",
            F.col("n_rel_total").cast("long").alias("n_rel_total"),
            "n_rel_topk",
            F.round(
                F.col("ap_num").cast("double")
                / (
                    F.lit(float(_AP_LCM))
                    * F.least(F.col("n_rel_total"), F.lit(MAP_K))
                ),
                6,
            ).alias("ap_at_10"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("first_rel"), 6), F.lit(0.0)
            ).alias("rr_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# Silhouette-lite cluster QA over the k-means cells
# ---------------------------------------------------------------------------


def _silhouette_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, a_dist, other_cid, o_dist) per (member, other
    centroid): own-centroid distance from the assignment, every
    OTHER-centroid distance via K broadcast arrays with the kmeans
    kernel's exact ROUND-6 formula — the ONE home the per-cluster QA
    means, the worst-member drill-down, AND the round-11 re-assignment
    suggestions (llmops10) all derive from."""
    emb = read_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans(emb, return_centroids=True)
    v = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id", to_double(F.col("embedding")).alias("e")
    )
    o_dist = F.round(
        F.aggregate(
            F.zip_with(F.col("e"), F.col("ce"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        assigned.join(v, "vec_id")
        .crossJoin(F.broadcast(cents))
        .where(F.col("cid") != F.col("cluster"))
        .select(
            "vec_id",
            "cluster",
            F.col("dist").alias("a_dist"),
            F.col("cid").alias("other_cid"),
            o_dist.alias("o_dist"),
        )
    )


def _silhouette_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, a_dist, b_dist) per k-means member — the
    grouped min over ``_silhouette_pairs``."""
    return (
        _silhouette_pairs(spark, sf_dir)
        .groupBy("vec_id", "cluster", "a_dist")
        .agg(F.min("o_dist").alias("b_dist"))
    )


@register(
    "kmeans_silhouette_lite",
    oracle=f"""
        WITH {_duck_kmeans_ctes(KM_K, KM_ITERS)},
        d2 AS (
            SELECT a.vec_id, a.cid AS cluster, a.dist AS a_dist,
                   c.cid AS other_cid,
                   ROUND(list_sum(list_transform(list_zip(v.e, c.ce),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS o_dist
            FROM a{KM_ITERS} a
            JOIN v ON v.vec_id = a.vec_id
            CROSS JOIN c{KM_ITERS - 1} c
            WHERE c.cid <> a.cid
        ),
        member AS (
            SELECT vec_id, cluster, a_dist, min(o_dist) AS b_dist
            FROM d2 GROUP BY vec_id, cluster, a_dist
        ),
        terms AS (
            SELECT cluster,
                   CAST(floor(a_dist * 1e6 + 0.5) AS BIGINT) AS aq,
                   CAST(floor(b_dist * 1e6 + 0.5) AS BIGINT) AS bq,
                   CAST(floor((CASE WHEN greatest(a_dist, b_dist) > 0
                                    THEN (b_dist - a_dist)
                                         / greatest(a_dist, b_dist)
                                    ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT)
                       AS sq
            FROM member
        )
        SELECT cluster,
               CAST(count(*) AS BIGINT) AS n_members,
               ROUND(CAST(sum(aq) AS DOUBLE) / count(*) / 1e6, 6) AS mean_a,
               ROUND(CAST(sum(bq) AS DOUBLE) / count(*) / 1e6, 6) AS mean_b,
               ROUND(CAST(sum(sq) AS DOUBLE) / count(*) / 1e6, 6) + 0.0
                   AS mean_silhouette
        FROM terms GROUP BY cluster
    """,
    tags=("clustering", "quality", "silhouette", "extension"),
)
def q_kmeans_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-lite QA over the k-means cells: per cluster, the mean
    L2² distance to the OWN centroid (a), the mean distance to the
    NEAREST OTHER centroid (b), and the mean simplified silhouette
    (b−a)/max(a,b) — the medoid-free variant whose per-member cost is
    K distances, not |cell|² pair distances (the cluster-QA score that
    completes SemDeDup's cell pipeline).

    Determinism: distances reuse the kmeans kernel's ROUND-6 formula
    against the SAME centroids the final assignment was scored on
    (c_{{iters-1}}); a ≤ b by the argmin assignment, so the silhouette
    is in [0,1]; all three per-cluster means are sums of exact
    1e-6-grid BIGINT terms, divided once — no free-order double sum.
    Scale: K broadcast centroid arrays against the streaming corpus
    (the assignment plan's own shape) and one grouped sum; nothing
    pairwise, nothing driver-side."""
    member = _silhouette_members(spark, sf_dir)
    sil = F.when(
        F.greatest(F.col("a_dist"), F.col("b_dist")) > 0,
        (F.col("b_dist") - F.col("a_dist"))
        / F.greatest(F.col("a_dist"), F.col("b_dist")),
    ).otherwise(F.lit(0.0))
    terms = member.select(
        "cluster",
        F.floor(F.col("a_dist") * F.lit(1e6) + F.lit(0.5)).alias("aq"),
        F.floor(F.col("b_dist") * F.lit(1e6) + F.lit(0.5)).alias("bq"),
        F.floor(sil * F.lit(1e6) + F.lit(0.5)).alias("sq"),
    )
    return terms.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(F.sum("aq").cast("double") / F.count("*") / F.lit(1e6), 6).alias(
            "mean_a"
        ),
        F.round(F.sum("bq").cast("double") / F.count("*") / F.lit(1e6), 6).alias(
            "mean_b"
        ),
        (
            F.round(F.sum("sq").cast("double") / F.count("*") / F.lit(1e6), 6)
            + F.lit(0.0)
        ).alias("mean_silhouette"),
    )


# ---------------------------------------------------------------------------
# Compaction plan -> execution twin
# ---------------------------------------------------------------------------


@register(
    "compaction_bin_execution",
    oracle=f"""
        WITH p AS (
            SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part_month,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1
        ),
        plan AS (
            SELECT part_month, n_rows,
                   CAST(coalesce(sum(n_rows) OVER (
                       ORDER BY part_month
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {COMPACT_TARGET_ROWS} AS BIGINT) AS bin_id
            FROM p
        ),
        executed AS (
            SELECT pl.bin_id, count(*) AS executed_rows
            FROM lineitem l
            JOIN plan pl
              ON CAST(date_trunc('month', l.l_shipdate) AS DATE)
                 = pl.part_month
            GROUP BY pl.bin_id
        )
        SELECT pl.bin_id,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(pl.n_rows) AS BIGINT) AS planned_rows,
               CAST(e.executed_rows AS BIGINT) AS executed_rows,
               (CAST(sum(pl.n_rows) AS BIGINT)
                = CAST(e.executed_rows AS BIGINT)) AS row_accounting_ok
        FROM plan pl JOIN executed e USING (bin_id)
        GROUP BY pl.bin_id, e.executed_rows
    """,
    tags=("layout", "compaction", "maintenance", "extension"),
)
def q_compaction_bin_execution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the compaction plan and audit its row accounting: every
    lineitem row routes to its month's assigned bin (the equi-join a
    real rewrite job performs), and per bin the EXECUTED row count is
    checked against the plan's PLANNED sum — the plan→action parity
    that turns the planner's output from a claim into a verified
    contract (``row_accounting_ok`` must read true on every bin).

    Scale: the plan frame is |months| rows (calendar-bounded) so AQE
    broadcasts it onto the fact scan; the execution pass is one
    grouped count by bin — exactly the shuffle the real rewrite
    (write.partitionBy(bin)) would do."""
    li = read_table(spark, sf_dir, "lineitem")
    plan = compaction_plan(li).select("part_month", "n_rows", "bin_id")
    routed = li.select(
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("part_month")
    ).join(plan, "part_month")
    executed = routed.groupBy("bin_id").agg(
        F.count("*").alias("executed_rows")
    )
    per_bin = plan.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("n_rows").cast("long").alias("planned_rows"),
    )
    return per_bin.join(executed, "bin_id").select(
        "bin_id",
        "n_parts",
        "planned_rows",
        F.col("executed_rows").cast("long").alias("executed_rows"),
        (F.col("planned_rows") == F.col("executed_rows").cast("long")).alias(
            "row_accounting_ok"
        ),
    )


# ---------------------------------------------------------------------------
# DoReMi-weighted corpus resample (the composite that USES the weights)
# ---------------------------------------------------------------------------

DOREMI_RESAMPLE_K = 500  # target sample size in documents


from velox_hadoop_spark.functions.hashing import (  # noqa: E402
    duck_md5_int60,
    seeded,
    spark_md5_int60,
)


@register(
    "doremi_weighted_resample",
    # plain f-string interpolating _DOREMI_CTES directly (round-10
    # ADVICE: the f-string + trailing .format mix breaks module import
    # with a KeyError if the SQL ever grows a literal brace)
    oracle=f"""
        WITH {_DOREMI_CTES},
        caps AS (
            SELECT source,
                   CAST(floor({DOREMI_RESAMPLE_K} * w + 0.5) AS BIGINT) AS cap
            FROM s2
        ),
        ranked AS (
            SELECT d.doc_id, d.source,
                   CAST(row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY {duck_md5_int60(seeded('doc_id', 'doremi'))},
                                d.doc_id
                   ) AS BIGINT) AS rnk
            FROM documents d
        )
        SELECT r.doc_id, r.source, r.rnk
        FROM ranked r JOIN caps c USING (source)
        WHERE r.rnk <= c.cap
    """,
    tags=("llm-pipeline", "doremi", "resample", "extension"),
)
def q_doremi_weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus to the DoReMi step-2 mixture: per source,
    keep the first ⌊K·w2 + ½⌋ documents by seeded-hash order
    (deterministic, unbiased within the source) — the composite that
    turns the weight report into an actual training-mix sample, the
    same weights→selection handoff as ``dsir_importance_resample``.

    Determinism: w2 arrives on the 1e-9 grid from the shared
    ``doremi_weight_frames`` pipeline (its oracle mirrors the same
    ``_DOREMI_CTES`` chain), the per-source cap is one pinned
    floor(K·w + ½), and the keep rank is the staged two-pass top-k
    over the seeded 60-bit hash (no whole-source single-task sort;
    stage caps at K ≥ every per-source cap). At 100 TB the weight
    frame is |sources| rows joined broadcast-style onto the ranked
    scan."""
    from velox_hadoop_spark.functions.staged import staged_topk_per_group

    docs = read_table(spark, sf_dir, "documents")
    _, w_hist = doremi_weight_frames(docs, sf_dir=sf_dir)
    caps = w_hist[-1].select(
        "source",
        F.floor(
            F.lit(DOREMI_RESAMPLE_K) * F.col(f"w{DOREMI_ITERS}") + F.lit(0.5)
        ).alias("cap"),
    )
    ranked = staged_topk_per_group(
        docs.select(
            "doc_id",
            "source",
            F.expr(spark_md5_int60(seeded("doc_id", "doremi"))).alias("__ord"),
        ),
        ["source"],
        ["__ord", "doc_id"],
        DOREMI_RESAMPLE_K,
        rank_name="rnk",
    )
    return (
        ranked.join(caps, "source")
        .where(F.col("rnk") <= F.col("cap"))
        .select("doc_id", "source", F.col("rnk").cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Silhouette drill-down: the worst members per cluster
# ---------------------------------------------------------------------------

SIL_WORST_K = 3


@register(
    "silhouette_worst_members",
    oracle=f"""
        WITH {_duck_kmeans_ctes(KM_K, KM_ITERS)},
        d2 AS (
            SELECT a.vec_id, a.cid AS cluster, a.dist AS a_dist,
                   ROUND(list_sum(list_transform(list_zip(v.e, c.ce),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS o_dist
            FROM a{KM_ITERS} a
            JOIN v ON v.vec_id = a.vec_id
            CROSS JOIN c{KM_ITERS - 1} c
            WHERE c.cid <> a.cid
        ),
        member AS (
            SELECT vec_id, cluster, a_dist, min(o_dist) AS b_dist
            FROM d2 GROUP BY vec_id, cluster, a_dist
        ),
        scored AS (
            SELECT vec_id, cluster, a_dist, b_dist,
                   CAST(floor((CASE WHEN greatest(a_dist, b_dist) > 0
                                    THEN (b_dist - a_dist)
                                         / greatest(a_dist, b_dist)
                                    ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT)
                       AS sq
            FROM member
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY cluster ORDER BY sq ASC, vec_id ASC
            ) AS BIGINT) AS rnk
            FROM scored
        )
        SELECT cluster, vec_id, a_dist, b_dist,
               ROUND(CAST(sq AS DOUBLE) / 1e6, 6) + 0.0 AS silhouette,
               rnk
        FROM ranked WHERE rnk <= {SIL_WORST_K}
    """,
    tags=("clustering", "quality", "silhouette", "extension"),
)
def q_silhouette_worst_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drill-down after ``kmeans_silhouette_lite``'s per-cluster
    means: the 3 (``SIL_WORST_K``) members of each cell with the LOWEST
    simplified silhouette — the borderline points a curator inspects
    first (candidates for re-clustering or near-duplicate spill across
    cell boundaries).

    Ranking key is the exact 1e-6-grid silhouette INTEGER (ties by
    vec_id), so the top-k membership is engine-order-free, and the
    rank runs as the staged two-pass top-k — no whole-cell
    single-task sort. Same centroids, distances, and guards as the
    per-cluster QA kernel."""
    from velox_hadoop_spark.functions.staged import staged_topk_per_group

    member = _silhouette_members(spark, sf_dir)
    sil = F.when(
        F.greatest(F.col("a_dist"), F.col("b_dist")) > 0,
        (F.col("b_dist") - F.col("a_dist"))
        / F.greatest(F.col("a_dist"), F.col("b_dist")),
    ).otherwise(F.lit(0.0))
    scored = member.withColumn(
        "sq", F.floor(sil * F.lit(1e6) + F.lit(0.5))
    )
    ranked = staged_topk_per_group(
        scored, ["cluster"], ["sq", "vec_id"], SIL_WORST_K, rank_name="rnk"
    )
    return ranked.select(
        "cluster",
        "vec_id",
        "a_dist",
        "b_dist",
        (F.round(F.col("sq").cast("double") / F.lit(1e6), 6) + F.lit(0.0)).alias(
            "silhouette"
        ),
        F.col("rnk").cast("long").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Round 11 follow-ons (kept in this module: they build directly on the
# _DOREMI_CTES / _silhouette_pairs homes above, and a separate module
# importing them at module level re-enters this module's import through
# the registry's full load — the llmops10 cycle found in round 11)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# DoReMi resample report: realized vs target mixture share per source
# ---------------------------------------------------------------------------


@register(
    "doremi_resample_report",
    oracle=f"""
        WITH {_DOREMI_CTES},
        caps AS (
            SELECT source,
                   CAST(floor({DOREMI_RESAMPLE_K} * w + 0.5) AS BIGINT) AS cap,
                   w
            FROM s2
        ),
        nd AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        k AS (
            SELECT nd.source, nd.n_docs, c.cap, c.w,
                   CAST(least(c.cap, nd.n_docs) AS BIGINT) AS n_kept
            FROM nd JOIN caps c USING (source)
        ),
        tot AS (SELECT CAST(sum(n_kept) AS BIGINT) AS t FROM k)
        SELECT source, n_docs, cap AS target_cap, n_kept,
               floor(CAST(n_kept AS DOUBLE)
                     / (SELECT CAST(t AS DOUBLE) FROM tot) * 1e6 + 0.5) / 1e6
                   + 0.0 AS kept_share,
               ROUND(w, 6) + 0.0 AS target_share,
               ROUND(floor(CAST(n_kept AS DOUBLE)
                           / (SELECT CAST(t AS DOUBLE) FROM tot) * 1e6 + 0.5)
                     / 1e6 - ROUND(w, 6), 6) + 0.0 AS share_gap
        FROM k
    """,
    tags=("llm-pipeline", "doremi", "resample", "report", "extension"),
)
def q_doremi_resample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source realized-vs-target mixture audit of the DoReMi
    resample: n_docs, the ⌊K·w2+½⌋ target cap, the count actually kept
    (min(cap, n_docs) — the resample cannot keep documents a small
    source does not have), the realized share of the kept corpus, the
    DoReMi target share w2, and the gap. A large positive gap on one
    source means the sampled mix over-represents it because OTHER
    sources ran out of documents — the drift a training run checks
    before trusting the sample.

    Determinism: w2 arrives on the 1e-9 grid from the shared
    ``doremi_weight_frames`` pipeline (oracle mirrors the same
    ``_DOREMI_CTES`` chain); kept_share is an exact integer ratio
    floor-pinned on the 1e-6 grid; the gap subtracts two 6-dp-pinned
    doubles and re-rounds. Scale: everything after the shared token
    pass is |sources| rows; the doc counts are one grouped count."""
    docs = read_table(spark, sf_dir, "documents")
    _, w_hist = doremi_weight_frames(docs, sf_dir=sf_dir)
    caps = w_hist[-1].select(
        "source",
        F.floor(
            F.lit(DOREMI_RESAMPLE_K) * F.col(f"w{DOREMI_ITERS}") + F.lit(0.5)
        ).cast("long").alias("cap"),
        F.col(f"w{DOREMI_ITERS}").alias("w"),
    )
    nd = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    k = nd.join(caps, "source").select(
        "source",
        "n_docs",
        "cap",
        "w",
        F.least(F.col("cap"), F.col("n_docs")).cast("long").alias("n_kept"),
    )
    tot = k.agg(F.sum("n_kept").cast("long").alias("t"))
    kept_share = (
        F.floor(
            F.col("n_kept").cast("double") / F.col("t").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return k.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.col("cap").alias("target_cap"),
        "n_kept",
        (kept_share + F.lit(0.0)).alias("kept_share"),
        (F.round(F.col("w"), 6) + F.lit(0.0)).alias("target_share"),
        (F.round(kept_share - F.round(F.col("w"), 6), 6) + F.lit(0.0)).alias(
            "share_gap"
        ),
    )


# ---------------------------------------------------------------------------
# Mixture-shift report: how far DoReMi moved the mixture
# ---------------------------------------------------------------------------


@register(
    "doremi_mixture_shift_report",
    oracle=f"""
        WITH {_DOREMI_CTES},
        j AS (
            SELECT base.source, base.w0, s2.w AS w2
            FROM base JOIN s2 USING (source)
        ),
        terms AS (
            SELECT
                CASE WHEN w0 > 0 THEN CAST(floor(
                    w0 * (floor(ln(w0) * 1e6 + 0.5) / 1e6) * 1e9 + 0.5
                ) AS BIGINT) ELSE 0 END AS h0,
                CASE WHEN w2 > 0 THEN CAST(floor(
                    w2 * (floor(ln(w2) * 1e6 + 0.5) / 1e6) * 1e9 + 0.5
                ) AS BIGINT) ELSE 0 END AS h2,
                CASE WHEN w2 > 0 AND w0 > 0 THEN CAST(floor(
                    w2 * ((floor(ln(w2) * 1e6 + 0.5)
                           - floor(ln(w0) * 1e6 + 0.5)) / 1e6) * 1e9 + 0.5
                ) AS BIGINT) ELSE 0 END AS klt,
                CAST(floor(abs(w2 - w0) * 1e9 + 0.5) AS BIGINT) AS l1t
            FROM j
        )
        SELECT CAST((SELECT count(*) FROM j) AS BIGINT) AS n_sources,
               ROUND(-CAST(sum(h0) AS DOUBLE) / 1e9, 6) + 0.0 AS entropy_w0,
               ROUND(-CAST(sum(h2) AS DOUBLE) / 1e9, 6) + 0.0 AS entropy_w2,
               ROUND(CAST(sum(klt) AS DOUBLE) / 1e9, 6) + 0.0 AS kl_w2_w0,
               ROUND(CAST(sum(l1t) AS DOUBLE) / 1e9, 6) AS l1_shift
        FROM terms
    """,
    tags=("llm-pipeline", "doremi", "mixture", "report", "extension"),
)
def q_doremi_mixture_shift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row summary of how far the DoReMi update moved the mixture:
    entropy of w0 and w2, KL(w2 ‖ w0), and the L1 shift Σ|w2 − w0| —
    the numbers a mixture owner checks before adopting a reweight (a
    large KL against a flat-entropy w2 means the update concentrated
    mass; L1 near 0 means the reweight was a no-op).

    Numeric discipline: weights arrive on the exact 1e-9 grid from the
    shared ``doremi_weight_frames`` pipeline (cached base histogram —
    this report costs |sources|-row arithmetic on a warm session);
    ln() is pinned to the 1e-6 grid (the sqlbreadth._fix6 convention,
    applied to log), every cross-source term is a BIGINT on the 1e-9
    grid, and the only doubles displayed are final ROUND-6 ratios
    (+0.0 pins the −0.0 class on the negated entropy sums). KL terms
    are defined over the shared support (w2 > 0 AND w0 > 0 — w0 > 0
    always holds for present sources); entropy terms use the x·ln x → 0
    limit at w = 0."""
    base, w_hist = doremi_weight_frames(read_table(spark, sf_dir, "documents"), sf_dir=sf_dir)
    j = base.select("source", "w0").join(
        w_hist[-1].select("source", F.col(f"w{DOREMI_ITERS}").alias("w2")),
        "source",
    )

    def ln6(c):
        # integer 1e-6-grid pin of ln(c); divided back to a double only
        # AFTER differencing so the KL term subtracts exact integers
        return F.floor(F.log(c) * F.lit(1e6) + F.lit(0.5))

    w0, w2 = F.col("w0"), F.col("w2")
    h0 = F.when(
        w0 > 0,
        F.floor(w0 * (ln6(w0) / F.lit(1e6)) * F.lit(1e9) + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long")
    h2 = F.when(
        w2 > 0,
        F.floor(w2 * (ln6(w2) / F.lit(1e6)) * F.lit(1e9) + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long")
    klt = F.when(
        (w2 > 0) & (w0 > 0),
        F.floor(
            w2 * ((ln6(w2) - ln6(w0)) / F.lit(1e6)) * F.lit(1e9) + F.lit(0.5)
        ),
    ).otherwise(F.lit(0)).cast("long")
    l1t = F.floor(F.abs(w2 - w0) * F.lit(1e9) + F.lit(0.5)).cast("long")
    terms = j.select(
        h0.alias("h0"), h2.alias("h2"), klt.alias("klt"), l1t.alias("l1t")
    )
    n = j.agg(F.count("*").alias("n_sources"))
    return terms.agg(
        F.sum("h0").alias("sh0"),
        F.sum("h2").alias("sh2"),
        F.sum("klt").alias("skl"),
        F.sum("l1t").alias("sl1"),
    ).crossJoin(n).select(
        "n_sources",
        (
            F.round(-F.col("sh0").cast("double") / F.lit(1e9), 6) + F.lit(0.0)
        ).alias("entropy_w0"),
        (
            F.round(-F.col("sh2").cast("double") / F.lit(1e9), 6) + F.lit(0.0)
        ).alias("entropy_w2"),
        (
            F.round(F.col("skl").cast("double") / F.lit(1e9), 6) + F.lit(0.0)
        ).alias("kl_w2_w0"),
        F.round(F.col("sl1").cast("double") / F.lit(1e9), 6).alias("l1_shift"),
    )


# ---------------------------------------------------------------------------
# Cluster re-assignment suggestions from the silhouette drill-down
# ---------------------------------------------------------------------------

REASSIGN_N = 25  # globally most ambiguous members to surface


@register(
    "cluster_reassign_suggestions",
    oracle=f"""
        WITH {_duck_kmeans_ctes(KM_K, KM_ITERS)},
        d2 AS (
            SELECT a.vec_id, a.cid AS cluster, a.dist AS a_dist,
                   c.cid AS other_cid,
                   ROUND(list_sum(list_transform(list_zip(v.e, c.ce),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS o_dist
            FROM a{KM_ITERS} a
            JOIN v ON v.vec_id = a.vec_id
            CROSS JOIN c{KM_ITERS - 1} c
            WHERE c.cid <> a.cid
        ),
        member AS (
            SELECT vec_id, cluster, a_dist,
                   o_dist AS b_dist,
                   CAST(other_cid AS BIGINT) AS alt_cluster
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY o_dist ASC, other_cid ASC
                ) AS rn FROM d2
            ) WHERE rn = 1
        ),
        scored AS (
            SELECT m.cluster, m.vec_id, m.alt_cluster, m.a_dist, m.b_dist,
                   CAST(floor((CASE WHEN greatest(m.a_dist, m.b_dist) > 0
                                    THEN (m.b_dist - m.a_dist)
                                         / greatest(m.a_dist, m.b_dist)
                                    ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT)
                       AS sq
            FROM member m
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                ORDER BY sq ASC, vec_id ASC
            ) AS BIGINT) AS rnk
            FROM scored
        )
        SELECT cluster, vec_id, alt_cluster, a_dist, b_dist,
               ROUND(CAST(sq AS DOUBLE) / 1e6, 6) + 0.0 AS silhouette,
               rnk
        FROM ranked WHERE rnk <= {REASSIGN_N}
    """,
    tags=("clustering", "quality", "silhouette", "reassign", "extension"),
)
def q_cluster_reassign_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION list after ``silhouette_worst_members``: the
    ``REASSIGN_N`` globally most ambiguous members (lowest simplified
    silhouette) with the nearest OTHER centroid as the re-assignment
    candidate and both distances as the margin. The assignment is the
    argmin, so nobody strictly improves by moving — a near-zero
    silhouette flags a boundary point whose cell membership is
    arbitrary (re-cluster, or treat as a cross-cell near-duplicate in
    the SemDeDup pipeline).

    Determinism: distances reuse the kmeans kernel's exact ROUND-6
    formula through the shared ``_silhouette_pairs`` home; the
    suggestion is the MIN other_cid among b-distance ties; the global
    rank orders by the exact 1e-6-grid silhouette integer with vec_id
    ties. Scale: K broadcast centroids against the streaming corpus,
    one grouped min, and a global top-``REASSIGN_N``
    (TakeOrderedAndProject — never a full sort)."""
    # ONE pass over the pairs frame: rn = 1 per vec_id by
    # (o_dist, other_cid) yields b_dist AND the min-cid tie-broken
    # suggestion together — no rounded-double equality self-join, no
    # second execution of the kmeans lineage (round-11 review). The
    # window partitions by vec_id (K-1 rows per partition).
    pairs = _silhouette_pairs(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.asc("o_dist"), F.asc("other_cid"))
    member = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "cluster",
            "a_dist",
            F.col("o_dist").alias("b_dist"),
            F.col("other_cid").cast("long").alias("alt_cluster"),
        )
    )
    sil = F.when(
        F.greatest(F.col("a_dist"), F.col("b_dist")) > 0,
        (F.col("b_dist") - F.col("a_dist"))
        / F.greatest(F.col("a_dist"), F.col("b_dist")),
    ).otherwise(F.lit(0.0))
    scored = member.withColumn(
        "sq", F.floor(sil * F.lit(1e6) + F.lit(0.5))
    )
    # the unpartitioned rank runs AFTER limit(REASSIGN_N): its input is
    # a literal-bounded 25-row frame (whitelisted in lint_windows)
    top = (
        scored.orderBy(F.asc("sq"), F.asc("vec_id"))
        .limit(REASSIGN_N)
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.asc("sq"), F.asc("vec_id")))
            .cast("long"),
        )
    )
    return top.select(
        "cluster",
        "vec_id",
        "alt_cluster",
        "a_dist",
        "b_dist",
        (F.round(F.col("sq").cast("double") / F.lit(1e6), 6) + F.lit(0.0)).alias(
            "silhouette"
        ),
        F.col("rnk").cast("long").alias("rnk"),
    )
