"""LLM-curation analytics, round 9 third wave. [extension]

The split/vocabulary/geometry QA a curation owner runs before a
training release: a dedup-cluster-aware train/val/test split (the
leakage-safe split — near-duplicate documents must land in the SAME
split, or eval is contaminated by construction), boilerplate prefix
detection (shared document headers are the classic crawl artifact),
per-source OOV rate against the corpus top-V vocabulary (the tokenizer
coverage number), and the top embedding dimension covariances (the
redundancy check before PCA/quantization decisions).

Scale notes: the split rides the same LSH→CC machinery as
``dedup_clusters`` (band-bounded candidate generation, O(log n)
label-propagation passes — never n² pairs); prefix grouping is one
hash-groupBy on a 16-token prefix; the OOV join broadcasts a top-V
vocabulary (V fixed, never SF-proportional); the covariance reduction
is dim²-bounded (4,096 cells at d=64) regardless of row count, with
int128/decimal(38,0) sums so the exact integer moments survive
petabyte-scale row counts (the Kendall/Jarque-Bera overflow
discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.hashing import duck_bucket, spark_bucket
from velox_hadoop_spark.operators.dedup import (
    _docs_par,
    _duck_cluster_cte,
    connected_components,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature_inline,
)
from velox_hadoop_spark.plans.registry import register

SPLIT_SEED = "split9"     # bucket seed for the cluster-aware split
PREFIX_WORDS = 16         # boilerplate prefix length (whitespace tokens)
VOCAB_TOP = 16            # top-V vocabulary for the OOV rate
COV_TOPK = 20             # covariance pairs reported
COV_QSCALE = 1_000_000    # micro-unit quantization of embedding values


# ---------------------------------------------------------------------------
# Dedup-cluster-aware train/val/test split (leakage-safe by construction)
# ---------------------------------------------------------------------------

_DUCK_CLUSTERS = (
    _duck_cluster_cte()
    + """,
        assigned AS (
            SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        )
    """
)

_SPLIT_CASE_DUCK = f"""CASE WHEN {duck_bucket("CAST(cluster_id AS VARCHAR)", SPLIT_SEED, 10)} < 8
                 THEN 'train'
                 WHEN {duck_bucket("CAST(cluster_id AS VARCHAR)", SPLIT_SEED, 10)} = 8
                 THEN 'val' ELSE 'test' END"""


@register(
    "cluster_split_assign",
    oracle=_DUCK_CLUSTERS
    + f""",
        sized AS (
            SELECT doc_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS csize,
                   {_SPLIT_CASE_DUCK} AS split
            FROM assigned
        ),
        leak AS (
            SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS leaky_clusters
            FROM (
                SELECT cluster_id, count(DISTINCT split) AS ns
                FROM sized GROUP BY cluster_id
            )
        )
        SELECT s.split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT s.cluster_id) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN s.csize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neardup_docs,
               l.leaky_clusters
        FROM sized s CROSS JOIN leak l
        GROUP BY s.split, l.leaky_clusters
    """,
    tags=("llmops", "dedup", "split", "leakage", "extension"),
)
def q_cluster_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: documents are bucketed by the
    hash of their NEAR-DUP CLUSTER id (LSH→connected-components roots,
    the ``dedup_clusters`` fixed point), never their own id — so two
    near-duplicate documents can never straddle a split boundary and
    contaminate eval. 80/10/10 by cross-engine md5 bucket. The output
    reports per-split doc/cluster counts, how many docs ride in
    multi-doc clusters, and a genuinely recomputed leakage audit
    (clusters spanning >1 split — 0 by construction, but COUNTED, not
    assumed: the audit is the regression alarm if anyone reintroduces
    a doc-keyed split upstream).

    Scale: candidate pairs are LSH-band-bounded, CC is O(log n)
    label-propagation passes, the split is a hash expression, and the
    audit is one extra grouped aggregate over (cluster, split) —
    nothing here is quadratic in corpus size."""
    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs)
    bucket = F.expr(spark_bucket("CAST(cluster_id AS STRING)", SPLIT_SEED, 10))
    assigned = (
        docs.select("doc_id")
        .join(labels.select(F.col("node").alias("doc_id"), "lbl"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    sized = assigned.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(Window.partitionBy("cluster_id")).alias("csize"),
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    leak = (
        sized.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("leaky_clusters")
        )
    )
    per_split = sized.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("csize") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_neardup_docs"),
    )
    return per_split.crossJoin(F.broadcast(leak))


# ---------------------------------------------------------------------------
# Boilerplate prefix groups (shared document headers)
# ---------------------------------------------------------------------------


@register(
    "prefix_boilerplate_groups",
    oracle=rf"""
        WITH pre AS (
            SELECT doc_id, source,
                   array_to_string(
                       (string_split_regex(text, '\s+'))[1:{PREFIX_WORDS}],
                       ' ') AS prefix
            FROM documents
            WHERE len(string_split_regex(text, '\s+')) >= {PREFIX_WORDS}
        )
        SELECT prefix,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(min(doc_id) AS BIGINT) AS min_doc_id
        FROM pre
        GROUP BY prefix
        HAVING count(*) >= 2
    """,
    tags=("llmops", "boilerplate", "dedup", "extension"),
)
def q_prefix_boilerplate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-header detection: documents whose first 16 whitespace
    tokens are IDENTICAL form a boilerplate group (the crawl artifact —
    navigation chrome, license headers, template intros — that survives
    near-dup dedup because the document TAILS differ). One projection +
    one hash-groupBy on the prefix string; groups of ≥2 are reported
    with their source spread so the curation owner can decide between
    prefix-stripping and doc-dropping.

    Scale: the prefix is a bounded-width key (16 tokens), so the
    groupBy state per key is constant and the aggregate is an ordinary
    partial+final hash aggregate — no text re-scan, no pair join."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    pre = docs.where(F.size(words) >= PREFIX_WORDS).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(words, 1, PREFIX_WORDS)).alias("prefix"),
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# OOV rate by source vs the corpus top-V vocabulary
# ---------------------------------------------------------------------------


@register(
    "oov_rate_by_source",
    oracle=rf"""
        WITH toks AS (
            SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
            FROM documents
        ),
        clean AS (SELECT source, tok FROM toks WHERE tok <> ''),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, count(*) AS cnt FROM clean GROUP BY tok
                ORDER BY cnt DESC, tok
                LIMIT {VOCAB_TOP}
            )
        ),
        st AS (
            SELECT source, tok, count(*) AS c FROM clean GROUP BY source, tok
        )
        SELECT st.source,
               CAST(sum(st.c) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN v.tok IS NULL THEN st.c ELSE 0 END)
                    AS BIGINT) AS oov_tokens,
               ROUND(sum(CASE WHEN v.tok IS NULL THEN st.c ELSE 0 END)
                     / CAST(sum(st.c) AS DOUBLE), 6) AS oov_rate
        FROM st LEFT JOIN vocab v ON st.tok = v.tok
        GROUP BY st.source
    """,
    tags=("llmops", "vocabulary", "tokenizer", "extension"),
)
def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-V
    vocabulary (V={VOCAB_TOP} here; the shape is identical at a 50k-BPE
    vocabulary): the tokenizer-coverage number that flags a source
    whose token distribution the vocabulary underserves before those
    tokens explode into UNK-heavy training batches.

    Plan: tokens aggregate once to (source, token) counts; the top-V
    vocabulary is a TakeOrdered over the token counts (deterministic
    tie-break: count desc, token asc) and is BROADCAST to the
    (source, token) side — V is fixed by the tokenizer, never
    SF-proportional, so the broadcast is scale-safe."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_TOP)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    joined = st.join(F.broadcast(vocab), "tok", "left")
    return joined.groupBy("source").agg(
        F.sum("c").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(0))
            / F.sum("c").cast("double"),
            6,
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Top embedding-dimension covariances (exact integer moments, dim²-bounded)
# ---------------------------------------------------------------------------


@register(
    "embedding_covariance_topk",
    oracle=f"""
        WITH ex AS (
            SELECT vec_id, i,
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * {COV_QSCALE} + 0.5)
                        AS BIGINT) AS q
            FROM embeddings,
                 UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
        dim AS (SELECT i, CAST(sum(q) AS HUGEINT) AS s FROM ex GROUP BY i),
        pr AS (
            SELECT a.i AS i, b.i AS j,
                   CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS sij
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i < b.i
            GROUP BY a.i, b.i
        ),
        num AS (
            SELECT pr.i, pr.j,
                   nn.n * pr.sij - da.s * db.s AS num, nn.n AS n
            FROM pr CROSS JOIN nn
            JOIN dim da ON pr.i = da.i
            JOIN dim db ON pr.j = db.i
        )
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               -- single 1e12 constant, not 1e6 * 1e6: two successive
               -- multiplies round twice where Spark's prefolded
               -- constant rounds once (the pinned-op-sequence rule)
               ROUND(CAST(num AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * {COV_QSCALE * COV_QSCALE}.0), 8) AS cov
        FROM num
        ORDER BY abs(CAST(num AS DOUBLE)) DESC, i, j
        LIMIT {COV_TOPK}
    """,
    tags=("llmops", "embeddings", "covariance", "extension"),
)
def q_embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COV_TOPK} |covariance| embedding dimension pairs: the
    redundancy screen before PCA / product quantization — two highly
    covarying dimensions carry near-duplicate signal, so they're the
    first candidates for projection. Values are micro-unit quantized
    (×1e6, floor+0.5) so every moment is an EXACT integer: sums ride
    decimal(38,0) (Spark) / HUGEINT (DuckDB), the ranking key
    n·Sij − Si·Sj is exact (no free-order double sum can flip the
    top-k boundary), and only the final reported covariance divides
    to double. The Kendall/Jarque-Bera overflow discipline: int64
    would overflow these sums near ~1e9 vectors; 128-bit headroom is
    ~1e38.

    Plan shape: one posexplode, one dim-keyed aggregate (d rows), one
    vec-keyed self-join producing d(d−1)/2 grouped cells — the shuffle
    is dim²-bounded (2,016 cells at d=64) regardless of corpus row
    count, then a TakeOrdered top-k. Nothing driver-side."""
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "v")
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("i"),
        F.floor(F.col("v").cast("double") * COV_QSCALE + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    n = emb.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    dim = ex.groupBy("i").agg(F.sum(F.col("q").cast("decimal(38,0)")).alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    pr = (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(
                F.col("a.q").cast("decimal(38,0)") * F.col("b.q").cast("decimal(38,0)")
            ).alias("sij")
        )
    )
    da = dim.select(F.col("i").alias("i"), F.col("s").alias("si"))
    db = dim.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    num = (
        pr.crossJoin(F.broadcast(n))
        .join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .select(
            "i",
            "j",
            (F.col("n") * F.col("sij") - F.col("si") * F.col("sj")).alias("num"),
            "n",
        )
    )
    scale = float(COV_QSCALE) * float(COV_QSCALE)
    return (
        num.select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.round(
                F.col("num").cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double") * F.lit(scale)),
                8,
            ).alias("cov"),
            F.abs(F.col("num").cast("double")).alias("_ord"),
        )
        .orderBy(F.desc("_ord"), "i", "j")
        .limit(COV_TOPK)
        .drop("_ord")
    )


# ---------------------------------------------------------------------------
# Split × label balance audit (stratification chi-squared)
# ---------------------------------------------------------------------------

_SPLIT_CASE_VEC_DUCK = f"""CASE WHEN {duck_bucket("CAST(vec_id AS VARCHAR)", SPLIT_SEED, 10)} < 8
                 THEN 'train'
                 WHEN {duck_bucket("CAST(vec_id AS VARCHAR)", SPLIT_SEED, 10)} = 8
                 THEN 'val' ELSE 'test' END"""


@register(
    "split_label_balance_audit",
    oracle=f"""
        WITH a AS (
            SELECT label, {_SPLIT_CASE_VEC_DUCK} AS split FROM embeddings
        ),
        cells AS (SELECT split, label, count(*) AS obs FROM a GROUP BY 1, 2),
        ms AS (SELECT split, count(*) AS ns FROM a GROUP BY 1),
        ml AS (SELECT label, count(*) AS nl FROM a GROUP BY 1),
        t AS (SELECT count(*) AS n FROM a),
        grid AS (
            SELECT ms.split, ml.label, coalesce(c.obs, 0) AS obs,
                   CAST(ms.ns AS DOUBLE) * ml.nl / t.n AS exp
            FROM ms CROSS JOIN ml CROSS JOIN t
            LEFT JOIN cells c ON ms.split = c.split AND ml.label = c.label
        ),
        cu AS (
            SELECT split, label, obs, exp,
                   CAST(floor(1000000.0 * (obs - exp) * (obs - exp) / exp + 0.5)
                        AS BIGINT) AS cell_u
            FROM grid
        ),
        chi AS (SELECT CAST(sum(cell_u) AS BIGINT) AS c FROM cu)
        SELECT split, label,
               CAST(obs AS BIGINT) AS n_rows,
               ROUND(exp, 6) AS expected,
               ROUND(chi.c / 1000000.0, 6) AS chi2
        FROM cu CROSS JOIN chi
    """,
    tags=("llmops", "split", "stratification", "extension"),
)
def q_split_label_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit of a hash split: observed vs expected label
    counts per (split, label) cell, plus the chi-squared independence
    statistic — the check that a supposedly-uniform 80/10/10 split did
    not concentrate any label (a skewed val set silently mis-ranks
    checkpoints). The full split×label grid is generated from the
    margins (missing cells count as 0, not dropped); expected counts
    cast a margin to double BEFORE the product (the Cramér's-V int64
    overflow fix, applied from birth); each cell's chi² term is
    quantized to integer micro-units before the cross-cell sum, so both
    engines sum exact BIGINTs over the domain-bounded grid (3 × labels)
    and the statistic has no free-order float accumulation."""
    emb = read_table(spark, sf_dir, "embeddings")
    bucket = F.expr(spark_bucket("CAST(vec_id AS STRING)", SPLIT_SEED, 10))
    a = emb.select(
        "label",
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    cells = a.groupBy("split", "label").agg(F.count("*").alias("obs"))
    ms = a.groupBy("split").agg(F.count("*").alias("ns"))
    ml = a.groupBy("label").agg(F.count("*").alias("nl"))
    t = a.agg(F.count("*").alias("n"))
    grid = (
        ms.crossJoin(F.broadcast(ml))
        .crossJoin(F.broadcast(t))
        .join(cells, ["split", "label"], "left")
        .select(
            "split",
            "label",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            (F.col("ns").cast("double") * F.col("nl") / F.col("n")).alias("exp"),
        )
    )
    cu = grid.select(
        "split",
        "label",
        "obs",
        "exp",
        F.floor(
            1000000.0 * (F.col("obs") - F.col("exp")) * (F.col("obs") - F.col("exp"))
            / F.col("exp")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cell_u"),
    ).persist()
    chi = cu.agg(F.sum("cell_u").cast("long").alias("c"))
    return cu.crossJoin(F.broadcast(chi)).select(
        "split",
        "label",
        F.col("obs").cast("long").alias("n_rows"),
        F.round("exp", 6).alias("expected"),
        F.round(F.col("c") / 1000000.0, 6).alias("chi2"),
    )
