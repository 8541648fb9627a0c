"""Lexical retrieval & behavioral-similarity operators. [extension]

BM25 document scoring and user-profile cosine similarity — the two
retrieval primitives a training-data pipeline uses to (a) pull
topically relevant documents out of a crawl for targeted mixes and
(b) group users/sessions by behavioral signature. Not present in the
reference (its text surface stops at grep/wordcount,
reference: src/main/java/org/dicl/velox/benchmark/Grep.java,
WordCount.java); both are first-class here.

Scale notes:

* BM25: the corpus-sized stream (tokens) is aggregated twice — once
  for per-doc length, once for per-doc query-term frequency — and the
  query-term side is FILTERED before its groupBy, so the expensive
  shuffle carries only rows matching the (tiny) query vocabulary. The
  collection statistics (N, avgdl, per-term df/idf) are 1-row /
  |query|-row aggregates broadcast back onto the doc stream: no
  second corpus shuffle. Top-k lands in TakeOrderedAndProject — no
  total sort.
* Profile cosine: the all-pairs self-join on event_type is quadratic
  in users per type, so the candidate set is first capped to the
  ``ACTIVE_CAP`` most-active users (deterministic tiebreak) — the
  bounded-candidate regime. At real scale the unbounded variant
  routes through hyperplane LSH bucketing exactly like the embedding
  stack (operators/similarity.py:139).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.dedup import (
    MAX_KEY_DOC_FREQ,
    _DUCK_VERIFIED_PAIRS,
    _VERIFY_JACC_T,
    _duck_cand_overlap,
    _duck_lsh_pairs,
    _duck_minhash_cte,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature_inline,
    shingle_set,
    verify_candidate_jaccard,
)
from velox_hadoop_spark.operators.similarity import _DUCK_COS, cosine_pairs
from velox_hadoop_spark.operators.sort import top_k
from velox_hadoop_spark.plans.registry import register

# BM25 constants (standard Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
QUERY_TERMS = ("spark", "sort", "hash")
TOP_DOCS = 20

ACTIVE_CAP = 200  # max users entering the all-pairs profile join
TOP_PAIRS = 20


def bm25_scores(
    docs: DataFrame,
    query_terms: tuple[str, ...] = QUERY_TERMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document BM25 score for a bag of query terms.

    idf uses the +1-smoothed Robertson form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (non-negative for any df).
    Returns (id, score) for every document containing >=1 query term.
    """
    tokens = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    dl = tokens.groupBy(id_col).agg(F.count("*").alias("dl"))
    # Collection stats: one row (N docs, mean doc length) — broadcast.
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtok = tokens.where(F.col("term").isin(*query_terms))
    qtf = qtok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = qtok.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = df_.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "term",
        F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    per_term = (
        qtf.join(dl, id_col)
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .join(F.broadcast(idf), "term")
        .select(
            F.col(id_col),
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    return per_term.groupBy(id_col).agg(F.sum("s").alias("score"))


@register(
    "bm25_top_docs",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
                FROM documents
            ) WHERE t <> ''
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
        ),
        qtok AS (SELECT * FROM tok WHERE term IN ('spark', 'sort', 'hash')),
        qtf AS (
            SELECT doc_id, term, count(*) AS tf FROM qtok GROUP BY doc_id, term
        ),
        idf AS (
            SELECT term,
                   ln(1.0 + ((SELECT n_docs FROM stats) - count(DISTINCT doc_id) + 0.5)
                          / (count(DISTINCT doc_id) + 0.5)) AS idf
            FROM qtok GROUP BY term
        ),
        scored AS (
            SELECT q.doc_id,
                   sum(idf.idf * (q.tf * {BM25_K1 + 1.0})
                       / (q.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl
                                              / (SELECT avgdl FROM stats)))) AS score
            FROM qtf q
            JOIN dl ON q.doc_id = dl.doc_id
            JOIN idf ON q.term = idf.term
            GROUP BY q.doc_id
        )
        SELECT doc_id, ROUND(score, 6) AS bm25
        FROM scored ORDER BY score DESC, doc_id LIMIT {TOP_DOCS}
    """,
    tags=("retrieval", "bm25", "extension"),
)
def q_bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the query {spark, sort, hash}."""
    docs = read_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs)
    ranked = top_k(scored, TOP_DOCS, F.desc("score"), F.asc("doc_id"))
    return ranked.select("doc_id", F.round("score", 6).alias("bm25"))


def user_profile_cosine(
    events: DataFrame,
    user_col: str = "user_id",
    feature_col: str = "event_type",
    active_cap: int = ACTIVE_CAP,
) -> DataFrame:
    """Cosine similarity between users' event-type count vectors.

    Profiles are sparse count vectors over the feature column; the dot
    product is an equi-join on the feature. The candidate set is the
    ``active_cap`` most-active users (deterministic tiebreak on user
    id), bounding the self-join fanout at cap^2 per feature.
    """
    active = top_k(
        events.groupBy(user_col).agg(F.count("*").alias("n")),
        active_cap,
        F.desc("n"),
        F.asc(user_col),
    ).select(user_col)
    prof = (
        events.join(F.broadcast(active), user_col)
        .groupBy(user_col, feature_col)
        .agg(F.count("*").alias("c"))
    )
    nrm = prof.groupBy(user_col).agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nv")
    )
    a = prof.select(
        F.col(user_col).alias("user_a"), F.col(feature_col).alias("f"), F.col("c").alias("ca")
    )
    b = prof.select(
        F.col(user_col).alias("user_b"), F.col(feature_col).alias("f"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "f")
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        dots.join(nrm.select(F.col(user_col).alias("user_a"), F.col("nv").alias("na")), "user_a")
        .join(nrm.select(F.col(user_col).alias("user_b"), F.col("nv").alias("nb")), "user_b")
        .select(
            "user_a",
            "user_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )


@register(
    "user_profile_cosine",
    oracle=f"""
        WITH active AS (
            SELECT user_id FROM events GROUP BY user_id
            ORDER BY count(*) DESC, user_id LIMIT {ACTIVE_CAP}
        ),
        prof AS (
            SELECT e.user_id, e.event_type, count(*) AS c
            FROM events e JOIN active a ON e.user_id = a.user_id
            GROUP BY e.user_id, e.event_type
        ),
        nrm AS (SELECT user_id, sqrt(sum(c * c)) AS nv FROM prof GROUP BY user_id),
        dots AS (
            SELECT a.user_id AS user_a, b.user_id AS user_b, sum(a.c * b.c) AS dot
            FROM prof a
            JOIN prof b ON a.event_type = b.event_type AND a.user_id < b.user_id
            GROUP BY a.user_id, b.user_id
        )
        SELECT user_a, user_b,
               ROUND(dot / (na.nv * nb.nv), 6) AS cos_sim
        FROM dots
        JOIN nrm na ON dots.user_a = na.user_id
        JOIN nrm nb ON dots.user_b = nb.user_id
        ORDER BY dot / (na.nv * nb.nv) DESC, user_a, user_b
        LIMIT {TOP_PAIRS}
    """,
    tags=("retrieval", "similarity", "extension"),
)
def q_user_profile_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most behaviorally similar user pairs (event-type count
    vectors, cosine)."""
    ev = read_table(spark, sf_dir, "events")
    sims = user_profile_cosine(ev)
    ranked = top_k(sims, TOP_PAIRS, F.desc("cos"), F.asc("user_a"), F.asc("user_b"))
    return ranked.select("user_a", "user_b", F.round("cos", 6).alias("cos_sim"))


# ---------------------------------------------------------------------------
# Retrieval evaluation + asymmetric dedup analytics.
#
# nDCG@k over the embedding kNN ranking (label ground truth), MinHash-
# candidate containment similarity (the asymmetric near-dup measure that
# catches subset documents a symmetric Jaccard threshold misses), the
# cross-source near-dup pair matrix, and a Zipf rank-frequency slope —
# all assembled from existing kernels (``similarity.cosine_pairs``,
# ``dedup``'s LSH candidate + shingle machinery) without modifying them.
#
# Numeric discipline: every DCG/IDCG reduction is an ORDERED fold over a
# rank-sorted list in both engines (free-order sums of 1/log2 terms are
# the r8 rounding-flip class); the Zipf OLS folds from integer
# micro-unit quantized logs (the embedding-correlation precedent), so no
# membership or hash decision ever rides a free-order double.
# ---------------------------------------------------------------------------


NDCG_K = 10
NDCG_QUERIES = 10  # vec_id < 10, the ann_bruteforce_topk convention
CONTAIN_T = 0.5  # containment threshold for the report
ZIPF_TOP = 100


# ---------------------------------------------------------------------------
# nDCG@10 of the cosine kNN ranking against label ground truth
# ---------------------------------------------------------------------------


@register(
    "knn_label_ndcg_at_10",
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
        top AS (
            SELECT query_id,
                   CAST(sum(rel) AS BIGINT) AS n_rel_topk,
                   list({{'r': rnk, 'rel': rel}} ORDER BY rnk) AS rr
            FROM ranked WHERE rnk <= {NDCG_K}
            GROUP BY query_id
        ),
        folded AS (
            SELECT t.query_id, t.n_rel_topk,
                   CAST(r.n_rel_total AS BIGINT) AS n_rel_total,
                   list_sum(list_transform(
                       t.rr, s -> CAST(s.rel AS DOUBLE) / log2(s.r + 1))) AS dcg,
                   list_sum(list_transform(
                       generate_series(1, CAST(least(r.n_rel_total, {NDCG_K})
                                                AS INTEGER)),
                       i -> 1.0 / log2(i + 1))) AS idcg
            FROM top t JOIN rtot r USING (query_id)
            WHERE r.n_rel_total >= 1
        )
        SELECT query_id, n_rel_total, n_rel_topk,
               ROUND(dcg, 6) AS dcg,
               ROUND(dcg / idcg, 6) AS ndcg
        FROM folded
    """,
    tags=("retrieval", "evaluation", "ndcg", "extension"),
)
def q_knn_label_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the brute-force cosine ranking for the first 10 query
    vectors, with binary relevance = same label — the retrieval-quality
    scorecard an embedding pipeline publishes next to its recall gates.
    DCG and the ideal DCG are ORDERED folds over rank-sorted lists in
    both engines (rel/log2(rank+1) terms are irrational; a free-order
    sum is the r8 rounding-flip class). Queries with no same-label
    document are skipped in both engines (ideal DCG is 0)."""
    emb = read_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    scored = cosine_pairs(emb.where(F.col("vec_id") < NDCG_QUERIES), emb)
    ranked = (
        scored.join(
            labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql")),
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
    rtot = ranked.groupBy("query_id").agg(F.sum("rel").alias("n_rel_total"))
    top = (
        ranked.where(F.col("rnk") <= NDCG_K)
        .groupBy("query_id")
        .agg(
            F.sum("rel").cast("long").alias("n_rel_topk"),
            F.sort_array(F.collect_list(F.struct(F.col("rnk").alias("r"), "rel"))).alias(
                "rr"
            ),
        )
    )
    dcg = F.aggregate(
        F.col("rr"),
        F.lit(0.0),
        lambda acc, s: acc + s["rel"].cast("double") / F.log2(s["r"] + 1),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel_total"), F.lit(NDCG_K)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + 1),
    )
    return (
        top.join(rtot, "query_id")
        .where(F.col("n_rel_total") >= 1)
        .select(
            "query_id",
            F.col("n_rel_total").cast("long").alias("n_rel_total"),
            "n_rel_topk",
            F.round(dcg, 6).alias("dcg"),
            F.round(dcg / idcg, 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# Containment similarity for LSH candidate pairs
# ---------------------------------------------------------------------------


def _cand_with_shingles(spark: SparkSession, sf_dir: str):
    """LSH candidates + capped shingle table + sizes — the shared front
    end of the two-stage near-dup pipeline, reused unmodified."""
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    sh_all = shingle_set(docs, "doc_id", "text")
    df_cap = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= MAX_KEY_DOC_FREQ)
        .select("shingle")
    )
    sh = sh_all.join(df_cap, "shingle", "left_semi").persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return cand, sh, sizes


def _duck_containment_sql() -> str:
    return (
        _duck_minhash_cte()
        + _duck_lsh_pairs()
        + _duck_cand_overlap()
        + f"""
        SELECT i.id_a, i.id_b,
               CAST(i.n_shared AS BIGINT) AS n_shared,
               CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
               ROUND(i.n_shared / CAST(sa.n AS DOUBLE), 6) AS contain_ab,
               ROUND(i.n_shared / CAST(sb.n AS DOUBLE), 6) AS contain_ba
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.doc_id
        JOIN sizes sb ON i.id_b = sb.doc_id
        WHERE ROUND(i.n_shared / CAST(sa.n AS DOUBLE), 6) >= {CONTAIN_T}
           OR ROUND(i.n_shared / CAST(sb.n AS DOUBLE), 6) >= {CONTAIN_T}
    """
    )


@register(
    "minhash_containment_pairs",
    oracle=_duck_containment_sql(),
    tags=("dedup", "minhash", "containment", "extension"),
)
def q_minhash_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment similarity C(A→B) = |A∩B| / |A| for LSH candidate
    pairs — the ASYMMETRIC near-dup measure: a short doc fully embedded
    in a long one scores contain ≈ 1 while its Jaccard stays far below
    any symmetric threshold, so this is the query that catches subset/
    quote duplication. Emits pairs where either direction clears τ =
    0.5, with both directions and the exact intersection reported.
    Same scale shape as the verified-pairs pipeline: candidate-bounded,
    one capped-shingle universe, membership on 6-dp ROUNDED ratios in
    both engines."""
    cand, sh, sizes = _cand_with_shingles(spark, sf_dir)
    a_sh = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cand.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_shared") / F.col("n_a").cast("double"), 6).alias(
                "contain_ab"
            ),
            F.round(F.col("n_shared") / F.col("n_b").cast("double"), 6).alias(
                "contain_ba"
            ),
        )
    )
    return out.where(
        (F.col("contain_ab") >= CONTAIN_T) | (F.col("contain_ba") >= CONTAIN_T)
    )


# ---------------------------------------------------------------------------
# Cross-source near-dup pair matrix
# ---------------------------------------------------------------------------


def _duck_cross_source_sql() -> str:
    return f"""
        WITH vp AS ({_DUCK_VERIFIED_PAIRS}),
        lab AS (
            SELECT v.id_a, v.id_b, da.source AS src_a, db.source AS src_b
            FROM vp v
            JOIN documents da ON da.doc_id = v.id_a
            JOIN documents db ON db.doc_id = v.id_b
        )
        SELECT least(src_a, src_b) AS source_1,
               greatest(src_a, src_b) AS source_2,
               count(*) AS n_pairs
        FROM lab GROUP BY 1, 2
    """


@register(
    "cross_source_neardup_matrix",
    oracle=_duck_cross_source_sql(),
    tags=("dedup", "provenance", "report", "extension"),
)
def q_cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (the two-stage MinHash→exact-Jaccard
    pipeline, τ = 0.5) rolled up by unordered source pair — the
    provenance matrix that tells a curation owner WHICH feeds duplicate
    each other (mirror sites show up as hot off-diagonal cells). Source
    labels re-attach by two id equi-joins; the matrix is
    source²-bounded."""
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    sh = shingle_set(docs, "doc_id", "text")
    verified = verify_candidate_jaccard(cand, sh, "doc_id").where(
        F.col("jaccard") >= _VERIFY_JACC_T
    )
    src = docs.select("doc_id", "source")
    lab = (
        verified.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")),
            "id_b",
        )
    )
    return lab.groupBy(
        F.least("src_a", "src_b").alias("source_1"),
        F.greatest("src_a", "src_b").alias("source_2"),
    ).agg(F.count("*").alias("n_pairs"))


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope
# ---------------------------------------------------------------------------


@register(
    "zipf_slope_top_tokens",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split_regex(text, '\\s+')) AS t
            FROM documents
        ),
        cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        top AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r
            FROM cnt QUALIFY r <= {ZIPF_TOP}
        ),
        q AS (
            SELECT CAST(round(log2(r) * 1000000) AS BIGINT) AS x,
                   CAST(round(log2(c) * 1000000) AS BIGINT) AS y
            FROM top
        ),
        s AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM q
        )
        SELECT CAST(n AS BIGINT) AS n_tokens,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx),
                     6) AS zipf_slope
        FROM s
        WHERE n >= 2 AND CAST(n AS HUGEINT) * sxx > CAST(sx AS HUGEINT) * sx
    """,
    tags=("textstats", "zipf", "regression", "extension"),
)
def q_zipf_slope_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope: OLS of log2(frequency) on log2(rank) over the
    top-100 corpus tokens (a healthy natural-language corpus sits near
    −1; boilerplate/code-heavy corpora flatten). The rank window runs
    over the vocabulary-bounded count table. Both log coordinates are
    quantized to integer MICRO-UNITS before the moment sums (the
    embedding-correlation precedent) so the slope folds from exact
    integers and no free-order double sum exists; the zero-variance
    guard compares exact wide integers."""
    tok = read_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", r"\s+")).alias("t")
    )
    cnt = tok.groupBy("t").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("t"))
    top = (
        cnt.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= ZIPF_TOP)
        .select(
            F.round(F.log2("r") * 1000000).cast("long").alias("x"),
            F.round(F.log2("c") * 1000000).cast("long").alias("y"),
        )
    )
    s = top.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return s.where(
        (F.col("n") >= 2)
        & (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            > F.col("sx").cast("decimal(38,0)") * F.col("sx")
        )
    ).select(
        F.col("n").cast("long").alias("n_tokens"),
        F.round(
            (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.col("n") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            ),
            6,
        ).alias("zipf_slope"),
    )

