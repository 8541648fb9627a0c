"""LLM-data-pipeline operators, round 6. [extension]

Index tuning reports (ANN recall-vs-candidate-budget curve, MinHash
band tuning), first-class connected components over an edge list,
near-dup cluster-size distribution, dedup keep-policy comparison,
quality deciles, classifier diagnostics (language-ID confusion matrix,
histogram-based AUC), corpus statistics (per-user event entropy,
hapax rate, per-dimension embedding stats), spend inequality (Gini),
Benford first-digit audit, a two-sample KS statistic, and a
train/test leakage audit.

Determinism rules as everywhere in the repo: money / time / counts in
exact integers; double math only on top of exact integer sums with
identical expressions in both engines; display-only rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.dedup import (
    _duck_cluster_cte,
    _duck_components,
    _duck_lsh_pairs,
    _duck_minhash_cte,
)
from velox_hadoop_spark.operators.textstats import _duck_lang_sql, duck_quality_select
from velox_hadoop_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Connected components as a first-class query
# ---------------------------------------------------------------------------


@register(
    "connected_components_edges",
    oracle="""
        WITH RECURSIVE grp AS (
            SELECT p_partkey, p_brand, p_size,
                   min(p_partkey) OVER (PARTITION BY p_brand, p_size) AS hub
            FROM part
        ),
        pairs AS (
            SELECT hub AS id_a, p_partkey AS id_b FROM grp WHERE p_partkey <> hub
        )"""
    + _duck_components()
    + """
        SELECT cluster_id, count(*) AS n_nodes FROM comp GROUP BY cluster_id
    """,
    tags=("graph", "connected-components", "extension"),
)
def q_connected_components_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a first-class query over a plain edge
    list (the dedup CC kernel — driver union-find under a bounded pair
    probe, distributed min-label propagation above it — generalized
    away from the LSH pipeline). The edge list links every part to its
    (brand, size) group hub (min partkey): star topology, so label
    propagation converges in one pass at ANY scale (no chain-diameter
    hazard), and the expected components are the multi-part groups —
    verified, not assumed, by the recursive-CTE oracle."""
    from velox_hadoop_spark.operators.dedup import connected_components

    part = read_table(spark, sf_dir, "part")
    grp = part.select(
        "p_partkey",
        F.min("p_partkey")
        .over(Window.partitionBy("p_brand", "p_size"))
        .alias("hub"),
    )
    pairs = grp.where(F.col("p_partkey") != F.col("hub")).select(
        F.col("hub").alias("id_a"), F.col("p_partkey").alias("id_b")
    )
    labels = connected_components(pairs)
    return labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count("*").alias("n_nodes")
    )


@register(
    "near_dup_cluster_size_histogram",
    oracle=_duck_cluster_cte()
    + """,
        assigned AS (
            SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ),
        sizes AS (
            SELECT cluster_id, count(*) AS sz FROM assigned GROUP BY cluster_id
        )
        SELECT CAST(sz AS BIGINT) AS cluster_size, count(*) AS n_clusters
        FROM sizes GROUP BY sz
    """,
    tags=("dedup", "clusters", "histogram", "extension"),
)
def q_near_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the LSH→CC near-dup clustering:
    how many clusters of each size the dedup pass found (size 1 =
    unique documents). The report a dedup operator reads to sanity-
    check banding parameters before committing a keeper pass."""
    from velox_hadoop_spark.operators.dedup import q_dedup_clusters

    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters")
    )


# ---------------------------------------------------------------------------
# ANN recall-vs-candidate-budget curve (IVF, nprobe in {1, 2, 4})
# ---------------------------------------------------------------------------

_PROBES = (1, 2, 4)

# The curve runs THREE budget points against one exact baseline, so it
# uses a smaller fixed query sample than the single-point recall gates
# — the md5-order PREFIX of the shared sample (same derivation, same
# order, LIMIT 400 instead of 1000), keeping the whole 3-point sweep
# at roughly one gate's cost while staying a strict subset of the
# gates' sample.
_CURVE_SAMPLE_N = 400


def _budget_curve_oracle() -> str:
    from velox_hadoop_spark.operators.similarity import (
        _DUCK_COS,
        _DUCK_QS_CTE,
        _RECALL_K,
        _RECALL_SAMPLE_N,
    )

    per_p = []
    for p in _PROBES:
        per_p.append(
            f"""
        ivf_pairs_{p} AS (
            SELECT qa.vec_id AS query_id, na.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM assign qa
            JOIN qs ON qa.vec_id = qs.vec_id
            JOIN assign1 na ON na.centroid_id = qa.centroid_id AND na.vec_id <> qa.vec_id
            JOIN e q ON q.vec_id = qa.vec_id
            JOIN e n ON n.vec_id = na.vec_id
            WHERE qa.probe_rank <= {p}
        ),
        top_{p} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM ivf_pairs_{p}
            ) WHERE rnk <= {_RECALL_K}
        )"""
        )
    rows = " UNION ALL ".join(
        f"""
        SELECT CAST({p} AS BIGINT) AS nprobe,
               (SELECT count(DISTINCT query_id) FROM exact_top) AS n_queries,
               (SELECT count(*) FROM exact_top) AS n_exact,
               (SELECT count(*) FROM exact_top t
                JOIN top_{p} l ON t.query_id = l.query_id
                             AND t.neighbor_id = l.neighbor_id) AS n_hits,
               FLOOR((SELECT count(*) FROM exact_top t
                      JOIN top_{p} l ON t.query_id = l.query_id
                                   AND t.neighbor_id = l.neighbor_id)
                     / CAST((SELECT count(*) FROM exact_top) AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS recall"""
        for p in _PROBES
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        {_DUCK_QS_CTE.replace(f"LIMIT {_RECALL_SAMPLE_N}", f"LIMIT {_CURVE_SAMPLE_N}")},
        cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        scored AS (
            SELECT e.vec_id, c.centroid_id,
                   ROUND(list_dot_product(e.v, c.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
            FROM e CROSS JOIN cents c
        ),
        assign AS (
            SELECT vec_id, centroid_id, probe_rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, centroid_id
                ) AS probe_rank FROM scored
            ) WHERE probe_rank <= {max(_PROBES)}
        ),
        assign1 AS (
            SELECT vec_id, centroid_id FROM assign WHERE probe_rank = 1
        ),
        exact_pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM e q JOIN qs ON q.vec_id = qs.vec_id
            JOIN e n ON n.vec_id <> q.vec_id
        ),
        exact_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM exact_pairs
            ) WHERE rnk <= {_RECALL_K}
        ),
        {",".join(per_p)}
        {rows}
    """


@register(
    "ann_recall_budget_curve",
    oracle=_budget_curve_oracle(),
    tags=("similarity", "ann", "ivf", "tuning-curve", "extension"),
)
def q_ann_recall_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 at three IVF probe widths (nprobe = 1, 2, 4) in ONE
    report — the tuning curve an index operator actually reads: how
    much recall each extra candidate-budget step buys. One corpus
    assignment (nprobe=1 cells), one 4-probe query assignment, ONE
    exact-cosine scoring of the widest candidate set (narrower budgets
    are probe_rank filters over it — candidates nest), one exact
    baseline. Nothing SF-proportional is broadcast or collected.

    Shape (round 14, guide §2.4): the three budget arms ride ONE
    exploded frame — each scored candidate fans out to exactly the
    nprobe budgets that admit it (probe_rank ≤ p; candidates nest, so
    the fanout equals the row volume the old three per-arm windows
    re-read from the persisted scored frame) — then ONE window over
    (nprobe, query_id) ranks all arms together and ONE grouped count
    against the (local-relation) exact baseline yields every arm's hit
    count. Replaces 3 windows + 3 hit aggregates + a 3-branch union
    with 1 window + 1 aggregate. The persist moves from the wide
    scored frame (now single-consumer) to the small candidate frame
    (two consumers: the scorer and the probe_rank re-attach), so the
    ann family leans less on cached-plan partitioning (the r14
    cached-plan-flag A/B measured a 5-15% ann tax from exactly that)."""
    from pyspark.storagelevel import StorageLevel

    from velox_hadoop_spark.operators.similarity import (
        _RECALL_K,
        ivf_assign,
        ivf_assign_probes,
        recall_ground_truth,
        recall_query_sample,
        score_pairs_exact,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # md5-order prefix of the shared gate sample (see _CURVE_SAMPLE_N)
    sample = recall_query_sample(emb).limit(_CURVE_SAMPLE_N)
    qa = (
        ivf_assign_probes(emb, nprobe=max(_PROBES), sf_dir=sf_dir)
        .join(sample.select("vec_id"), "vec_id", "left_semi")
        .select(F.col("vec_id").alias("query_id"), "centroid_id", "probe_rank")
    )
    na = ivf_assign(emb, sf_dir=sf_dir).select(
        F.col("vec_id").alias("neighbor_id"), "centroid_id"
    )
    # persist: the candidate frame feeds the exact scorer's input AND
    # the probe_rank re-attach join below
    cand = (
        qa.join(na, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "probe_rank")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # The session-cached ground truth (recall_ground_truth) supplies the
    # size probe, the (below-budget) normalized-corpus broadcast, AND
    # the exact baseline as a local relation; the curve's narrower
    # sample is a prefix of the shared gate sample (subset property of
    # per-query top-k), carved out with one semi-join.
    n, bc, gt_full, sample_ids = recall_ground_truth(spark, sf_dir, emb)
    curve_ids = spark.createDataFrame(
        [(i,) for i in sample_ids[:_CURVE_SAMPLE_N]], "query_id long"
    )
    scored = score_pairs_exact(
        emb, cand.select("query_id", "neighbor_id"), n=n, bc=bc
    ).join(cand, ["query_id", "neighbor_id"])
    # Fan each candidate out to exactly the budgets that admit it
    # (probe_rank ≤ p) and rank all arms in ONE window — same rows per
    # arm as the old per-p windows over probe_rank filters.
    budgets = F.array(*[F.lit(int(p)) for p in _PROBES])
    fanned = scored.select(
        "query_id",
        "neighbor_id",
        "cos",
        F.explode(
            F.filter(budgets, lambda p: p >= F.col("probe_rank"))
        ).alias("nprobe"),
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    tops = (
        fanned.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _RECALL_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    exact_top = gt_full.join(curve_ids, "query_id", "left_semi")
    # both sides are unique on (query_id, neighbor_id) within an arm,
    # so this semi-joined grouped count equals the old per-arm
    # |exact_top ∩ top_p| counts
    hits = (
        tops.join(exact_top, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    stats = exact_top.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
    )
    # literal arm frame keeps a zero-hit budget's row (a grouped count
    # alone would drop it where the old per-arm agg emitted 0)
    probes = spark.createDataFrame([(int(p),) for p in _PROBES], "nprobe int")
    return (
        probes.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_queries",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            # NULL recall on an empty exact baseline, like the oracle —
            # ANSI double division by zero raises (same guard as
            # _recall_vs_exact / lsh_dedup_recall_gate)
            F.when(
                F.col("n_exact") > 0,
                F.floor(
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    / F.col("n_exact").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6),
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash band tuning report
# ---------------------------------------------------------------------------

_BAND_CONFIGS = ((8, 1), (4, 2), (2, 4))


def _band_tuning_oracle() -> str:
    blocks, rows = [], []
    for b, r in _BAND_CONFIGS:
        keys = " UNION ALL ".join(
            "SELECT doc_id, {band} AS band_id, {key} AS band_key FROM sig".format(
                band=band,
                key=" || '|' || ".join(f"mh{band * r + j}" for j in range(r)),
            )
            for band in range(b)
        )
        blocks.append(_duck_lsh_pairs(f"pairs_{b}x{r}", keys=keys, sfx=f"_{b}x{r}"))
        rows.append(
            f"""
        SELECT '{b}x{r}' AS config, CAST({b} AS BIGINT) AS bands,
               CAST({r} AS BIGINT) AS rows_per_band,
               CAST((SELECT count(*) FROM pairs_{b}x{r}) AS BIGINT) AS n_candidate_pairs"""
        )
    return _duck_minhash_cte() + "".join(blocks) + " UNION ALL ".join(rows)


@register(
    "minhash_band_tuning_report",
    oracle=_band_tuning_oracle(),
    tags=("dedup", "lsh", "tuning-curve", "extension"),
)
def q_minhash_band_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning curve: candidate-pair counts for three
    (bands × rows) layouts of the same 8-hash MinHash signature —
    8×1 (high recall, many candidates), 4×2 (production default),
    2×4 (high precision). ONE pass computes all three: the signature
    frame explodes once into (config, band, key) rows, then the
    PRODUCTION pair pipeline (dedup.lsh_candidate_pairs, config-scoped
    via its extra_group_cols hook — same hot-key cap, same in-row
    upper-triangle pair gen) produces per-config candidates, and a
    literal config dim left-join keeps zero-candidate configs visible —
    never three re-executions of the shingle→signature pipeline, and
    never a second copy of the bucket→pairs plan to drift from the one
    the 4×2 path actually runs."""
    from velox_hadoop_spark.operators.dedup import (
        _docs_par,
        lsh_candidate_pairs,
        minhash_signature_inline,
    )

    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text")
    keys = []
    for b, r in _BAND_CONFIGS:
        for band in range(b):
            keys.append(
                F.struct(
                    F.lit(f"{b}x{r}").alias("config"),
                    F.lit(band).alias("band_id"),
                    F.concat_ws(
                        "|", *[F.col(f"mh{band * r + j}") for j in range(r)]
                    ).alias("band_key"),
                )
            )
    exploded = sig.select(
        "doc_id", F.explode(F.array(*keys)).alias("k")
    ).select("doc_id", "k.config", "k.band_id", "k.band_key")
    pairs = lsh_candidate_pairs(exploded, "doc_id", extra_group_cols=("config",))
    counts = pairs.groupBy("config").agg(F.count("*").alias("n_candidate_pairs"))
    dim = spark.createDataFrame(
        [(f"{b}x{r}", b, r) for b, r in _BAND_CONFIGS],
        "config string, bands long, rows_per_band long",
    )
    return dim.join(counts, "config", "left").select(
        "config",
        "bands",
        "rows_per_band",
        F.coalesce(F.col("n_candidate_pairs"), F.lit(0)).alias("n_candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# Dedup keep-policy comparison
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_policy_matrix",
    oracle="""
        WITH norm AS (
            SELECT doc_id, n_chars,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
            FROM documents
        ),
        grp AS (
            SELECT digest,
                   count(*) AS n_members,
                   min(doc_id) AS keep_min_id,
                   max(doc_id) AS keep_max_id
            FROM norm GROUP BY digest
        ),
        longest AS (
            SELECT digest, doc_id AS keep_longest FROM (
                SELECT digest, doc_id, row_number() OVER (
                    PARTITION BY digest ORDER BY n_chars DESC, doc_id
                ) AS rn FROM norm
            ) WHERE rn = 1
        ),
        grp2 AS (
            SELECT g.*, l.keep_longest FROM grp g JOIN longest l USING (digest)
        ),
        kept AS (
            SELECT 'min_id' AS policy, n.n_chars
            FROM grp2 g JOIN norm n ON n.doc_id = g.keep_min_id
            UNION ALL
            SELECT 'longest', n.n_chars
            FROM grp2 g JOIN norm n ON n.doc_id = g.keep_longest
            UNION ALL
            SELECT 'max_id', n.n_chars
            FROM grp2 g JOIN norm n ON n.doc_id = g.keep_max_id
        )
        SELECT policy, count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars
        FROM kept GROUP BY policy
    """,
    tags=("dedup", "keep-policy", "extension"),
)
def q_dedup_keep_policy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper-policy comparison over normalized-exact duplicate groups
    (digest of lowercased whitespace-collapsed text): keep-lowest-id,
    keep-longest (raw n_chars, tie → lowest id), keep-highest-id.
    n_kept is the group count under every policy; kept_chars is the
    payload each policy retains — the number that actually changes and
    the one a curation owner compares. One digest shuffle; keeper
    selection is max_by/min_by inside the same aggregate (no window,
    no self-join)."""
    docs = read_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("digest"),
    )
    grp = norm.groupBy("digest").agg(
        F.count("*").alias("n_members"),
        F.min("doc_id").alias("keep_min_id"),
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).alias("keep_longest"),
        F.max("doc_id").alias("keep_max_id"),
    )
    # alias the lookup side: grp derives from norm, so an unaliased
    # doc_id would be an ambiguous same-lineage self-join
    n = norm.select(F.col("doc_id").alias("kept_id"), "n_chars")
    kept = None
    for policy, keycol in (
        ("min_id", "keep_min_id"),
        ("longest", "keep_longest"),
        ("max_id", "keep_max_id"),
    ):
        k = grp.join(n, F.col(keycol) == F.col("kept_id")).select(
            F.lit(policy).alias("policy"), "n_chars"
        )
        kept = k if kept is None else kept.unionByName(k)
    return kept.groupBy("policy").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Quality deciles / classifier diagnostics
# ---------------------------------------------------------------------------


@register(
    "doc_quality_deciles",
    oracle=f"""
        WITH q AS ({duck_quality_select()}),
        tiled AS (
            SELECT quality,
                   CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS BIGINT) AS decile
            FROM q
        )
        SELECT decile, count(*) AS n_docs,
               min(quality) AS min_q, max(quality) AS max_q
        FROM tiled GROUP BY decile
    """,
    tags=("quality", "deciles", "extension"),
)
def q_doc_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile report of the composite quality score with per-decile
    count and score range — the cutoffs a quality-gate owner reads
    before picking a filter threshold. NTILE over the full corpus is
    inherently a global order, so instead of a single-partition
    ntile() window this uses the repo's DISTRIBUTED global_rank
    (range-partition + mono-id + offset fold, sort.py) and derives the
    tile with ``sort.ntile_from_rank`` — the exact NTILE distribution
    (first n mod 10 tiles one row larger, front-loaded); the
    (quality, doc_id) order is total, so both engines tile
    identically. The row count comes from the RAW docs frame —
    quality_score is one row per doc, so counting the scored frame
    would re-run the whole text-scoring projection just for a scalar.
    The oracle states the plain ntile() window."""
    from velox_hadoop_spark.operators.sort import global_rank, ntile_from_rank
    from velox_hadoop_spark.operators.textstats import quality_score

    docs = read_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality")
    ranked = global_rank(q, ["quality", "doc_id"])
    n = docs.agg(F.count("*").alias("n_total"))
    tiled = ranked.crossJoin(F.broadcast(n)).select(
        "quality",
        ntile_from_rank(F.col("rank"), F.col("n_total"), 10)
        .cast("long")
        .alias("decile"),
    )
    return tiled.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.min("quality").alias("min_q"),
        F.max("quality").alias("max_q"),
    )


@register(
    "lang_id_confusion_matrix",
    oracle=f"""
        SELECT d.lang AS actual_lang, p.pred_lang, count(*) AS n
        FROM ({_duck_lang_sql()}) p
        JOIN documents d ON p.doc_id = d.doc_id
        GROUP BY d.lang, p.pred_lang
    """,
    tags=("textstats", "langid", "confusion-matrix", "extension"),
)
def q_lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language-ID heuristic against the
    stored lang label: (actual, predicted) → count — the diagnostic
    that turns 'accuracy 0.9' into WHICH languages leak into which."""
    from velox_hadoop_spark.operators.textstats import lang_id

    docs = read_table(spark, sf_dir, "documents")
    pred = lang_id(docs).select("doc_id", "pred_lang")
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("actual_lang"), "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "auc_quality_en_classifier",
    oracle=f"""
        WITH q AS ({duck_quality_select()}),
        scored AS (
            SELECT q.quality, (d.lang = 'en') AS is_pos
            FROM q JOIN documents d ON q.doc_id = d.doc_id
        ),
        grid AS (
            SELECT quality,
                   count(*) AS n_s,
                   count(*) FILTER (WHERE is_pos) AS n_pos_s
            FROM scored GROUP BY quality
        ),
        ranked AS (
            SELECT n_s, n_pos_s,
                   CAST(coalesce(sum(n_s) OVER (
                       ORDER BY quality
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM grid
        ),
        agg AS (
            -- HUGEINT rank sum: the per-score product and the total
            -- 2*R_pos reach ~P*(P+N), past int64 at multi-billion-doc
            -- corpora (round-9 review find, the Kendall overflow class)
            SELECT CAST(sum(CAST(n_pos_s AS HUGEINT)
                            * (2 * cum_before + n_s + 1)) AS HUGEINT)
                       AS two_rank_sum,
                   CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
                   CAST(sum(n_s - n_pos_s) AS BIGINT) AS n_neg
            FROM ranked
        )
        SELECT n_pos, n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                   round((CAST(two_rank_sum AS DOUBLE) / 2.0
                          - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
                         / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
               END AS auc
        FROM agg
    """,
    tags=("stats", "auc", "classifier", "extension"),
)
def q_auc_quality_en_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of 'quality score predicts lang = en', computed the
    scale-safe way: aggregate to the DISTINCT-SCORE grid first (counts
    + positive counts per score — bounded by the score grid, which is
    6-dp-rounded and therefore value-bounded, not row-bounded), then
    tie-corrected Mann-Whitney on exact integer rank sums:
    2·rank_avg(score) = 2·cum_before + n_score + 1, all BIGINT, so the
    rank sum is exact in any order; AUC = (S/2 − P(P+1)/2)/(P·N)
    divides once in double, rounded for display."""
    from velox_hadoop_spark.operators.textstats import quality_score

    docs = read_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality").join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_pos")), "doc_id"
    )
    grid = scored.groupBy("quality").agg(
        F.count("*").alias("n_s"),
        F.count(F.when(F.col("is_pos"), 1)).alias("n_pos_s"),
    )
    w = Window.orderBy("quality").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.select(
        "n_s",
        "n_pos_s",
        F.coalesce(F.sum("n_s").over(w), F.lit(0)).alias("cum_before"),
    )
    agg = ranked.agg(
        # decimal(38,0) rank sum: 2*R_pos ~ P*(P+N) passes int64 at
        # multi-billion-doc corpora (round-9 review find)
        F.sum(
            F.col("n_pos_s").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("n_s") + 1)
        ).alias("two_rank_sum"),
        F.sum("n_pos_s").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("n_pos_s")).alias("n_neg"),
    )
    # Degenerate corpus (all-positive or all-negative): AUC is
    # undefined — report NULL like the DuckDB oracle instead of letting
    # ANSI mode raise DIVIDE_BY_ZERO.
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (
                    F.col("two_rank_sum").cast("double") / 2.0
                    - F.col("n_pos").cast("double")
                    * (F.col("n_pos").cast("double") + 1.0)
                    / 2.0
                )
                / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
                6,
            ),
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics
# ---------------------------------------------------------------------------


@register(
    "event_entropy_by_user",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, count(*) AS c
            FROM events GROUP BY user_id, event_type
        ),
        u AS (
            SELECT user_id,
                   CAST(sum(c) AS BIGINT) AS n,
                   sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc,
                   count(*) AS n_types
            FROM c GROUP BY user_id
        )
        SELECT user_id, n, CAST(n_types AS BIGINT) AS n_types,
               round(ln(CAST(n AS DOUBLE)) - clogc / n, 6) AS entropy
        FROM u
    """,
    tags=("stats", "entropy", "extension"),
)
def q_event_entropy_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix, via the
    ln(n) − Σc·ln(c)/n identity — two keyed aggregates, no per-row
    probability division (c·ln c sums over ≤|event types| terms per
    user, so double rounding at 6 dp is stable)."""
    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    u = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "clogc"
        ),
        F.count("*").alias("n_types"),
    )
    return u.select(
        "user_id",
        "n",
        F.col("n_types").cast("long").alias("n_types"),
        F.round(
            F.log(F.col("n").cast("double")) - F.col("clogc") / F.col("n"), 6
        ).alias("entropy"),
    )


@register(
    "gini_spend_by_nation",
    oracle="""
        WITH spend AS (
            SELECT c.c_nationkey,
                   o.o_custkey,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey, o.o_custkey
        ),
        ranked AS (
            SELECT c_nationkey, cents,
                   row_number() OVER (
                       PARTITION BY c_nationkey ORDER BY cents, o_custkey
                   ) AS i
            FROM spend
        ),
        agg AS (
            SELECT c_nationkey,
                   count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS total,
                   sum(CAST(i AS HUGEINT) * cents) AS isum
            FROM ranked GROUP BY c_nationkey
        )
        SELECT c_nationkey, n,
               round(2.0 * CAST(isum AS DOUBLE) / (n * CAST(total AS DOUBLE))
                     - (n + 1.0) / n, 6) AS gini
        FROM agg WHERE total > 0
    """,
    tags=("stats", "gini", "inequality", "extension"),
)
def q_gini_spend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend within each nation (among
    ordering customers), from the sorted-rank identity
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Spend is exact cents, the rank
    order is totalized by custkey, and Σ(i·x) accumulates in
    decimal(38,0) (DuckDB side in HUGEINT) — i·cents would overflow
    int64 around ~3.5e5 customers per nation (≈ sf60); the decimal
    accumulator is exact to any realistic SF, and the one double
    division happens on exact integers."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    spend = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = spend.select(
        "c_nationkey", "cents", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("isum"),
    )
    return agg.where(F.col("total") > 0).select(
        "c_nationkey",
        "n",
        F.round(
            2.0
            * F.col("isum").cast("double")
            / (F.col("n") * F.col("total").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "benford_first_digit_prices",
    oracle="""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders WHERE o_totalprice > 0
        ),
        tot AS (SELECT count(*) AS n_total FROM d)
        SELECT digit, count(*) AS n,
               round(count(*) / CAST(t.n_total AS DOUBLE), 4) AS pct,
               round(log10(1.0 + 1.0 / digit), 4) AS benford_expected
        FROM d CROSS JOIN tot t
        GROUP BY digit, t.n_total
    """,
    tags=("quality", "benford", "audit", "extension"),
)
def q_benford_first_digit_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals against log10(1+1/d).
    The leading digit comes from the INTEGER cents rendered as a
    string — integer-to-string is identical across engines, where a
    double-to-string cast is not (scientific notation, trailing
    digits). The data-quality smoke test for fabricated numerics."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    tot = d.agg(F.count("*").alias("n_total"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit", "n_total")
        .agg(F.count("*").alias("n"))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total").cast("double"), 4).alias("pct"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4).alias(
                "benford_expected"
            ),
        )
    )


@register(
    "hapax_rate_by_source",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
            FROM documents
        ),
        tstats AS (
            SELECT token, count(*) AS cnt, max(source) AS only_source
            FROM tok GROUP BY token
        ),
        hapax AS (
            SELECT only_source AS source, count(*) AS n_hapax
            FROM tstats WHERE cnt = 1 GROUP BY only_source
        ),
        per_src AS (
            SELECT source, count(*) AS n_tokens FROM tok GROUP BY source
        )
        SELECT p.source, CAST(p.n_tokens AS BIGINT) AS n_tokens,
               CAST(coalesce(h.n_hapax, 0) AS BIGINT) AS n_hapax,
               round(coalesce(h.n_hapax, 0) / CAST(p.n_tokens AS DOUBLE), 6) AS hapax_rate
        FROM per_src p LEFT JOIN hapax h ON p.source = h.source
    """,
    tags=("textstats", "hapax", "extension"),
)
def q_hapax_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena rate per source: share of a source's token
    occurrences that are corpus-wide singletons (a one-count token
    lives in exactly one source, so max(source) IS its source — no
    join back through the token table). High hapax rate flags noisy /
    OCR-damaged sources; the standard text-corpus health metric."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(
            F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
        ).alias("token"),
    )
    tstats = tok.groupBy("token").agg(
        F.count("*").alias("cnt"), F.max("source").alias("only_source")
    )
    hapax = (
        tstats.where(F.col("cnt") == 1)
        .groupBy(F.col("only_source").alias("source"))
        .agg(F.count("*").alias("n_hapax"))
    )
    per_src = tok.groupBy("source").agg(F.count("*").alias("n_tokens"))
    return per_src.join(hapax, "source", "left").select(
        "source",
        "n_tokens",
        F.coalesce(F.col("n_hapax"), F.lit(0)).alias("n_hapax"),
        F.round(
            F.coalesce(F.col("n_hapax"), F.lit(0)) / F.col("n_tokens").cast("double"),
            6,
        ).alias("hapax_rate"),
    )


def _split_leakage_oracle() -> str:
    from velox_hadoop_spark.operators.sampling import _bucket_expr_duck

    return f"""
        WITH tagged AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest,
                   CASE WHEN {_bucket_expr_duck("doc_id")} < 80
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        ),
        per_digest AS (
            SELECT digest,
                   count(*) FILTER (WHERE split = 'train') AS n_train,
                   count(*) FILTER (WHERE split = 'test') AS n_test
            FROM tagged GROUP BY digest
        )
        SELECT count(*) FILTER (WHERE n_train > 0 AND n_test > 0) AS n_leaked_digests,
               CAST(coalesce(sum(n_train) FILTER (WHERE n_train > 0 AND n_test > 0), 0) AS BIGINT) AS n_train_docs_affected,
               CAST(coalesce(sum(n_test) FILTER (WHERE n_train > 0 AND n_test > 0), 0) AS BIGINT) AS n_test_docs_affected
        FROM per_digest
    """


@register(
    "split_leakage_audit",
    oracle=_split_leakage_oracle(),
    tags=("sampling", "leakage", "audit", "extension"),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: after the standard hash split, count
    normalized-content digests that appear on BOTH sides — near-exact
    duplicates straddling the split are the classic eval
    contamination. One digest-keyed aggregate over the tagged corpus;
    the split rule is the same cross-engine hash ``assign_split``
    uses, so this audits the real split, not a simulation."""
    from velox_hadoop_spark.operators.sampling import assign_split

    docs = read_table(spark, sf_dir, "documents")
    tagged = assign_split(docs, "doc_id", 80).select(
        "split",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias(
            "digest"
        ),
    )
    per_digest = tagged.groupBy("digest").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
    )
    leaked = (F.col("n_train") > 0) & (F.col("n_test") > 0)
    return per_digest.agg(
        F.count(F.when(leaked, 1)).alias("n_leaked_digests"),
        F.coalesce(F.sum(F.when(leaked, F.col("n_train"))), F.lit(0))
        .cast("long")
        .alias("n_train_docs_affected"),
        F.coalesce(F.sum(F.when(leaked, F.col("n_test"))), F.lit(0))
        .cast("long")
        .alias("n_test_docs_affected"),
    )


@register(
    "embedding_dim_stats",
    oracle="""
        WITH x AS (
            SELECT CAST(u.d AS BIGINT) AS dim,
                   CAST(round(u.x * 1000000) AS BIGINT) AS fp
            FROM (
                SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       unnest(range(len(embedding))) AS d
                FROM embeddings WHERE embedding IS NOT NULL
            ) u
        ),
        agg AS (
            SELECT dim, count(*) AS n,
                   CAST(sum(fp) AS BIGINT) AS s1,
                   CAST(sum(fp * fp) AS DOUBLE) AS s2
            FROM x GROUP BY dim
        )
        SELECT dim, n,
               round(CAST(s1 AS DOUBLE) / n / 1e6, 6) AS mean_x,
               round(sqrt(greatest(s2 / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0)) / 1e6, 6) AS std_x
        FROM agg
    """,
    tags=("similarity", "feature-stats", "extension"),
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population std of the embedding matrix —
    the normalization-stats pass a feature pipeline runs before
    whitening or quantization. Values snap to 6-dp fixed point so the
    moment sums are EXACT integers (raw double sums would hash-differ
    between engines on summation order); the final double math runs on
    exact operands. The second moment accumulates in DECIMAL(38,0)
    (fp² reaches ~10¹² for unit-scale values, so an int64 Σfp² would
    wrap silently past ~10⁷ rows per dimension — far below the 100 TB
    point; DuckDB's HUGEINT sum is the exact mirror) and both engines
    convert the same exact integer to double once. Σfp stays int64
    (bounded by 10⁶·n — safe beyond 10¹² rows). One posexplode + one
    keyed aggregate, nothing collected."""
    emb = read_table(spark, sf_dir, "embeddings")
    x = emb.where(F.col("embedding").isNotNull()).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim_i", "x")
    ).select(
        F.col("dim_i").cast("long").alias("dim"),
        F.round(F.col("x") * 1000000).cast("long").alias("fp"),
    )
    agg = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("fp").alias("s1"),
        F.sum((F.col("fp") * F.col("fp")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    return agg.select(
        "dim",
        "n",
        F.round(m1 / 1e6, 6).alias("mean_x"),
        F.round(F.sqrt(F.greatest(m2 - m1 * m1, F.lit(0.0))) / 1e6, 6).alias(
            "std_x"
        ),
    )


@register(
    "ks_statistic_order_values",
    oracle="""
        WITH v AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f
            FROM orders WHERE o_orderstatus IN ('O', 'F')
            GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(n_o) AS BIGINT) AS no_tot,
                   CAST(sum(n_f) AS BIGINT) AS nf_tot
            FROM v
        ),
        cum AS (
            SELECT CAST(sum(n_o) OVER (ORDER BY cents) AS BIGINT) AS co,
                   CAST(sum(n_f) OVER (ORDER BY cents) AS BIGINT) AS cf
            FROM v
        )
        SELECT t.no_tot AS n_open, t.nf_tot AS n_finished,
               CASE WHEN t.no_tot > 0 AND t.nf_tot > 0 THEN
                   round(CAST(max(abs(CAST(c.co AS HUGEINT) * t.nf_tot
                                      - CAST(c.cf AS HUGEINT) * t.no_tot))
                              AS DOUBLE)
                         / (t.no_tot * CAST(t.nf_tot AS DOUBLE)), 6)
               END AS ks_stat
        FROM cum c CROSS JOIN tot t
        GROUP BY t.no_tot, t.nf_tot
    """,
    tags=("stats", "ks-test", "extension"),
)
def q_ks_statistic_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between open and
    finished order values: D = max |ECDF_O − ECDF_F|, evaluated on the
    distinct-cents grid with EXACT integer cross-products
    (|cum_O·N_F − cum_F·N_O| — no double ECDFs to wobble), riding
    decimal(38,0)/HUGEINT so the products stay exact past the ~3·10⁹
    rows/side where int64 overflowed (round-9 review find).

    Scale shape: the cumulative counts are a global prefix sum,
    computed with the repo's staged scan — per-bucket partials
    (cents ÷ 10⁶ buckets), an exclusive prefix over the bounded bucket
    list, then a bucket-keyed window — never a single-partition window
    over the full grid. The oracle states the plain global window."""
    orders = read_table(spark, sf_dir, "orders")
    v = (
        orders.where(F.col("o_orderstatus").isin("O", "F"))
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        )
        .withColumn("__bkt", (F.col("cents") / 1_000_000).cast("long"))
    )
    bmax = v.groupBy("__bkt").agg(
        F.sum("n_o").alias("bo"), F.sum("n_f").alias("bf")
    )
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    prior = bmax.select(
        "__bkt",
        F.coalesce(F.sum("bo").over(wb), F.lit(0)).alias("po"),
        F.coalesce(F.sum("bf").over(wb), F.lit(0)).alias("pf"),
    )
    wi = (
        Window.partitionBy("__bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = v.join(F.broadcast(prior), "__bkt").select(
        (F.sum("n_o").over(wi) + F.col("po")).alias("co"),
        (F.sum("n_f").over(wi) + F.col("pf")).alias("cf"),
    )
    tot = v.agg(
        F.sum("n_o").alias("no_tot"), F.sum("n_f").alias("nf_tot")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("no_tot", "nf_tot")
        .agg(
            # decimal(38,0) cross-products: cum*N reaches ~(rows/2)^2,
            # past int64 at the 100 TB target where each side holds
            # ~7e10 orders (round-9 review find — Spark wrapped,
            # DuckDB threw; the argmax stays exact in 128-bit)
            F.max(
                F.abs(
                    F.col("co").cast("decimal(38,0)") * F.col("nf_tot")
                    - F.col("cf").cast("decimal(38,0)") * F.col("no_tot")
                )
            ).alias("max_diff")
        )
        .select(
            F.col("no_tot").alias("n_open"),
            F.col("nf_tot").alias("n_finished"),
            # one-class input (no 'O' or no 'F' orders): the KS
            # statistic is undefined — NULL like the oracle, not an
            # ANSI DIVIDE_BY_ZERO (same guard class as AUC / lift)
            F.when(
                (F.col("no_tot") > 0) & (F.col("nf_tot") > 0),
                F.round(
                    F.col("max_diff").cast("double")
                    / (F.col("no_tot") * F.col("nf_tot").cast("double")),
                    6,
                ),
            ).alias("ks_stat"),
        )
    )
