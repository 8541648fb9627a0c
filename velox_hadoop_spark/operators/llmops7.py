"""LLM-curation analytics, round 9 second wave. [extension]

The QA layer around the round's span-removal and dedup additions: a
one-pass savings curve over the repeated-span threshold, the corpus
bigram conditional entropy (the redundancy number a curation owner
tracks release over release), and a MinHash-estimate error audit that
scores the signature-agreement estimator against exact Jaccard on the
same candidate pairs — the calibration table that justifies
thresholding on signatures WITHOUT re-reading text at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.contamination import positioned_shingles
from velox_hadoop_spark.operators.dedup import (
    _DUCK_MH_ESTIMATE,
    _duck_cand_overlap,
    _duck_lsh_pairs,
    _duck_minhash_cte,
)
from velox_hadoop_spark.operators.spanremoval import SPANREM_K
from velox_hadoop_spark.plans.registry import register

SAVINGS_THRESHOLDS = (2, 3, 5)  # min distinct docs for a gram to count


# ---------------------------------------------------------------------------
# Repeated-span removal savings curve (one shingle pass, 3 thresholds)
# ---------------------------------------------------------------------------


def _duck_savings_branch(t: int, k: int = SPANREM_K) -> str:
    """One threshold's island merge + rollup over the shared hit CTE."""
    return f"""
        SELECT CAST({t} AS BIGINT) AS min_docs,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
               CAST(coalesce(sum(e - s + 1), 0) AS BIGINT) AS removed_tokens
        FROM (
            SELECT doc_id, island, min(pos) AS s, max(pos) + {k - 1} AS e
            FROM (
                SELECT doc_id, pos,
                       sum(is_start) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS island
                FROM (
                    SELECT doc_id, pos,
                           CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                                         + {k}
                                  OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                                THEN 1 ELSE 0 END AS is_start
                    FROM (SELECT DISTINCT doc_id, pos FROM hd WHERE df >= {t})
                )
            ) GROUP BY doc_id, island
        )
    """


@register(
    "repeated_span_savings_curve",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
        ),
        sh AS (
            SELECT doc_id, i AS pos,
                   array_to_string(w[i:i+{SPANREM_K - 1}], ' ') AS g
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - {SPANREM_K - 1})) AS t(i)
            WHERE len(w) >= {SPANREM_K}
        ),
        gdf AS (
            SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2
        ),
        hd AS (SELECT s.doc_id, s.pos, gdf.df FROM sh s JOIN gdf USING (g)),
        tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS total_tokens FROM w)
        SELECT b.min_docs, b.n_docs_affected, b.removed_tokens,
               ROUND(b.removed_tokens / CAST(t.total_tokens AS DOUBLE), 6)
                   AS removed_frac
        FROM ({" UNION ALL ".join(_duck_savings_branch(t) for t in SAVINGS_THRESHOLDS)}) b
        CROSS JOIN tot t
    """,
    tags=("curation", "dedup", "span-removal", "sweep", "extension"),
)
def q_repeated_span_savings_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-savings curve over the repeated-span min-docs threshold
    (2, 3, 5): how many tokens a span-removal pass would excise if a
    gram must appear in at least t distinct documents to count. ONE
    shingle pass and one gram doc-frequency aggregate feed all three
    thresholds — the hit table (already restricted to df ≥ 2, a tiny
    fraction of the corpus) is PERSISTED and each threshold runs its
    own cheap island merge over its df-filtered slice (the
    dedup_threshold_sweep discipline: never re-execute the expensive
    front end per threshold)."""
    docs = read_table(spark, sf_dir, "documents")
    sh = positioned_shingles(docs, SPANREM_K)
    gdf = (
        sh.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("g", "df")
    )
    hd = sh.join(gdf, "g").select("doc_id", "pos", "df").persist()
    tot = docs.select(
        F.size(F.split("text", r"\s+")).alias("nt")
    ).agg(F.sum("nt").alias("total_tokens"))
    branches = []
    for t in SAVINGS_THRESHOLDS:
        hits = hd.where(F.col("df") >= t).select("doc_id", "pos").distinct()
        w = Window.partitionBy("doc_id").orderBy("pos")
        ordered = hits.select(
            "doc_id",
            "pos",
            F.when(
                F.lag("pos").over(w).isNull()
                # adjacency merges (> prev + k, not k−1) — the uniform
                # island rule across spanremoval/contamination/here
                | (F.col("pos") > F.lag("pos").over(w) + SPANREM_K),
                1,
            )
            .otherwise(0)
            .alias("is_start"),
        )
        wc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        merged = (
            ordered.select(
                "doc_id", "pos", F.sum("is_start").over(wc).alias("island")
            )
            .groupBy("doc_id", "island")
            .agg(F.min("pos").alias("s"), (F.max("pos") + (SPANREM_K - 1)).alias("e"))
        )
        branches.append(
            merged.agg(
                F.lit(t).cast("long").alias("min_docs"),
                F.countDistinct("doc_id").cast("long").alias("n_docs_affected"),
                # a threshold with no repeated grams saves ZERO tokens,
                # not NULL (empty-aggregate parity, both engines)
                F.coalesce(F.sum(F.col("e") - F.col("s") + 1), F.lit(0))
                .cast("long")
                .alias("removed_tokens"),
            )
        )
    curve = branches[0]
    for b in branches[1:]:
        curve = curve.unionAll(b)
    return curve.crossJoin(tot).select(
        "min_docs",
        "n_docs_affected",
        "removed_tokens",
        F.round(
            F.col("removed_tokens") / F.col("total_tokens").cast("double"), 6
        ).alias("removed_frac"),
    )


# ---------------------------------------------------------------------------
# Bigram conditional entropy of the corpus
# ---------------------------------------------------------------------------


@register(
    "bigram_conditional_entropy",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
        ),
        bg AS (
            SELECT w[i] AS w1, w[i+1] AS w2
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ),
        bgc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        ugc AS (SELECT w1, sum(c) AS c1 FROM bgc GROUP BY w1),
        q AS (
            SELECT b.c,
                   CAST(round(log2(b.c / CAST(u.c1 AS DOUBLE)) * 1000000)
                        AS BIGINT) AS qlog
            FROM bgc b JOIN ugc u ON b.w1 = u.w1
        )
        SELECT CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
               ROUND(-CAST(sum(CAST(c AS HUGEINT) * qlog) AS DOUBLE)
                     / 1000000.0 / sum(c), 6) + 0.0 AS cond_entropy
        FROM q
        HAVING sum(c) > 0
    """,
    tags=("textstats", "entropy", "language-model", "extension"),
)
def q_bigram_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy H(W₂|W₁) = −Σ p(w₁,w₂)
    log₂ p(w₂|w₁) — the redundancy metric that falls when boilerplate
    floods a release. The per-bigram log ratios are quantized to
    integer MICRO-UNITS (the embedding-correlation precedent) so the
    vocabulary²-sized reduction is an EXACT integer sum in both engines
    — an ordered fold is infeasible at this domain size and a
    free-order double sum is the r8 rounding-flip class. All counts
    are vocabulary-bounded aggregates."""
    w = read_table(spark, sf_dir, "documents").select("doc_id", F.split("text", r"\s+").alias("w"))
    bg = (
        w.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS w1,"
                    " element_at(w, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    ugc = bgc.groupBy("w1").agg(F.sum("c").alias("c1"))
    q = bgc.join(ugc, "w1").select(
        "c",
        F.round(F.log2(F.col("c") / F.col("c1").cast("double")) * 1000000)
        .cast("long")
        .alias("qlog"),
    )
    agg = q.agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("qlog")).alias("sq"),
    )
    return agg.where(F.col("n_bigrams") > 0).select(
        "n_bigrams",
        "n_distinct_bigrams",
        (
            F.round(
                -F.col("sq").cast("double") / 1000000.0 / F.col("n_bigrams"), 6
            )
            # IEEE −0.0 + 0.0 = +0.0: an all-deterministic bigram table
            # (every w1 has ONE successor) yields sq = 0 and DuckDB's
            # ROUND keeps the sign of −0.0 where Spark normalizes it —
            # caught by the degenerate-corpus sweep; the +0.0 pins both
            # engines to +0.0 and is exact for every other value.
            + F.lit(0.0)
        ).alias("cond_entropy"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration audit
# ---------------------------------------------------------------------------


def _duck_estimate_error_sql() -> str:
    # exact jaccard for the SAME candidates: the verified-pairs chain
    # minus its >= tau filter
    exact = (
        _duck_minhash_cte()
        + _duck_lsh_pairs()
        + _duck_cand_overlap()
        + """
        SELECT c.id_a, c.id_b,
               CASE WHEN sa.n IS NULL OR sb.n IS NULL THEN 0.0
                    ELSE ROUND(coalesce(i.n_shared, 0)
                               / (sa.n + sb.n - coalesce(i.n_shared, 0)), 6)
               END AS jaccard
        FROM cand c
        LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
        LEFT JOIN sizes sa ON c.id_a = sa.doc_id
        LEFT JOIN sizes sb ON c.id_b = sb.doc_id
    """
    )
    return f"""
        WITH est AS ({_DUCK_MH_ESTIMATE}),
        exact AS ({exact}),
        err AS (
            SELECT CAST(round(abs(e.jaccard_est - x.jaccard) * 1000000)
                        AS BIGINT) AS err_u
            FROM est e JOIN exact x
              ON e.id_a = x.id_a AND e.id_b = x.id_b
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               ROUND(CAST(sum(err_u) AS DOUBLE) / 1000000.0 / count(*), 6)
                   AS mean_abs_err,
               ROUND(max(err_u) / 1000000.0, 6) AS max_abs_err,
               CAST(count(*) FILTER (WHERE err_u <= 100000) AS BIGINT)
                   AS n_within_01
        FROM err
        HAVING count(*) > 0
    """


@register(
    "minhash_estimate_error_audit",
    oracle=_duck_estimate_error_sql(),
    tags=("dedup", "minhash", "calibration", "extension"),
)
def q_minhash_estimate_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the MinHash signature-agreement estimator against
    exact shingle Jaccard over the SAME candidate pairs: pair count,
    mean/max absolute error, and how many pairs land within 0.1 — the
    evidence table behind thresholding on signatures without re-reading
    text. Candidates without any surviving shared shingle score exact
    Jaccard 0 (LEFT join, the LSH false-positive case the estimator
    must be audited against). Errors are micro-unit quantized before
    the mean so the reduction is an exact integer sum.

    Shape (round 14): ONE signature pipeline and ONE LSH candidate
    frame feed BOTH sides — the estimator reads (cand, sig) through
    the shared ``minhash_estimate`` kernel, the exact side reads the
    same ``cand`` through ``verify_candidate_jaccard``. The previous
    form called the registered ``minhash_jaccard_estimate`` query AND
    re-derived sig/cand locally, running the 8-seed MinHash over every
    shingle and the band self-join twice per audit (guide §1.2/§2.4:
    don't compute the same thing twice; the estimator values are
    bit-equal — same kernel expressions, same inputs)."""
    from pyspark.storagelevel import StorageLevel

    from velox_hadoop_spark.operators.dedup import (
        _docs_par,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_estimate,
        minhash_signature_inline,
        shingle_set,
        verify_candidate_jaccard,
    )

    docs = _docs_par(spark, sf_dir)
    # persist: the signature table feeds the band explode AND both
    # per-side probes of the estimator join
    sig = minhash_signature_inline(docs, "doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # persist: the candidate frame feeds the estimator join, the exact
    # verification, and the zero-overlap restoration below (the bands
    # derive from the persisted sig, so the hot-key guard skips its own
    # input cache)
    cand = lsh_candidate_pairs(
        lsh_bands(sig, "doc_id"), "doc_id", persist_guard_input=False
    ).persist(StorageLevel.MEMORY_AND_DISK)
    est = minhash_estimate(cand, sig).select("id_a", "id_b", "jaccard_est")
    sh = shingle_set(docs, "doc_id", "text")
    exact = verify_candidate_jaccard(cand, sh, "doc_id")
    # verify_candidate_jaccard inner-joins through shared shingles, so
    # candidates with zero surviving overlap drop out; restore them as
    # exact-0 rows (the false-positive candidates the audit exists for)
    full = cand.join(exact, ["id_a", "id_b"], "left").select(
        "id_a", "id_b", F.coalesce("jaccard", F.lit(0.0)).alias("jaccard")
    )
    err = est.join(full, ["id_a", "id_b"]).select(
        F.round(F.abs(F.col("jaccard_est") - F.col("jaccard")) * 1000000)
        .cast("long")
        .alias("err_u")
    )
    agg = err.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("err_u").alias("se"),
        F.max("err_u").alias("mx"),
        F.count(F.when(F.col("err_u") <= 100000, 1)).cast("long").alias("n_within_01"),
    )
    return agg.where(F.col("n_pairs") > 0).select(
        "n_pairs",
        F.round(F.col("se").cast("double") / 1000000.0 / F.col("n_pairs"), 6).alias(
            "mean_abs_err"
        ),
        F.round(F.col("mx") / 1000000.0, 6).alias("max_abs_err"),
        "n_within_01",
    )
